"""Fixed-point PageRank (linkgraph.pagerank_fixedpoint): hand-computed
one-iteration ranks on a 3-node graph with a dangling node, exact
determinism across reruns, partitionings and join strategies; connected
components; and cache hygiene of every fixpoint operator."""

from __future__ import annotations

import pytest

from crawler_spark import linkgraph
from crawler_spark.fixpoint import checkpoint, release


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_pagerank_one_iteration_hand_values(spark):
    """A->B, A->C, B->A; C dangles.  N=3, r0 = 333_333_333 each.

    D = 333_333_333 (C), D div N = 111_111_111; contribs: A sends
    166_666_666 to each of B,C; B sends 333_333_333 to A.
    r1(A) = 50e6 + (85e7 * 444_444_444) div 1e9 = 427_777_777
    r1(B) = r1(C) = 50e6 + (85e7 * 277_777_777) div 1e9 = 286_111_110
    """
    e = _edges(spark, [("A", "B"), ("A", "C"), ("B", "A")])
    out = linkgraph.pagerank_fixedpoint(e, iters=1)
    got = {r["node"]: (r["out_deg"], r["rank_ppb"]) for r in out.collect()}
    release(out)
    assert got == {
        "A": (2, 427_777_777),
        "B": (1, 286_111_110),
        "C": (0, 286_111_110),
    }


def test_pagerank_deterministic_across_partitionings(spark):
    """Integer arithmetic makes ranks EXACTLY partitioning-invariant —
    the property that lets the same job produce the same bytes at N and
    4N executors (floats would differ in summation order).  The same
    holds when the rank side is too big to broadcast: with
    autoBroadcastJoinThreshold=-1 Spark shuffles it instead."""
    rows = [
        (f"h{i % 7}", f"h{(i * 3 + 1) % 7}") for i in range(40)
    ] + [("h0", "leaf"), ("h3", "leaf")]
    rows = [r for r in rows if r[0] != r[1]]

    def ranks(parts):
        out = linkgraph.pagerank_fixedpoint(
            _edges(spark, rows).repartition(parts), iters=4
        )
        got = sorted((r["node"], r["rank_ppb"]) for r in out.collect())
        release(out)
        return got

    ra, rb = ranks(1), ranks(8)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        rc = ranks(8)
    finally:
        spark.conf.set(key, prior)
    assert ra == rb == rc
    # total mass stays ~PPB (truncation loses < 1 ppb per node per iter)
    total = sum(v for _, v in ra)
    assert abs(total - linkgraph.PPB) < 10 * len(ra)


def test_rank_priority_feeds_scheduler_order(spark):
    """rank_priority maps ranks to frontier priority tiers (top-ranked
    host -> tier 0) and the politeness ranker consumes them: the
    high-rank host's URL schedules ahead of the low-rank host's within
    a budget of 1 per host... and unranked hosts keep their prior."""
    from crawler_spark import linkgraph

    # star graph: everyone links to 'big'; 'small' links out only
    edges = _edges(
        spark, [("small", "big"), ("h2", "big"), ("h3", "big"), ("big", "h2")]
    )
    ranks = linkgraph.pagerank_fixedpoint(edges, iters=3)
    fr = spark.createDataFrame(
        [("big", "u1", 5), ("small", "u2", 5), ("unranked", "u3", 2)],
        "host string, url string, priority int",
    )
    out = {
        r["host"]: r["priority"]
        for r in linkgraph.rank_priority(fr, ranks, n_tiers=4).collect()
    }
    release(ranks)
    assert out["big"] == 0                      # highest rank -> tier 0
    assert out["big"] < out["small"]
    assert out["unranked"] == 2                 # untouched


def _ledges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_components_two_clusters_min_label(spark):
    """Two disjoint clusters each converge to the MINIMUM node id:
    {1,5,9} via 1-5, 5-9 and {2,7} via 7-2 (direction irrelevant)."""
    e = _ledges(spark, [(5, 1), (5, 9), (7, 2)])
    got = {
        r["node"]: r["component"]
        for r in linkgraph.connected_components(e).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1, 2: 2, 7: 2}


def test_components_transitive_chain_pointer_doubling(spark):
    """A 40-node path converges inside max_rounds=8: pure min
    propagation needs 39 rounds, the hop (pointer-doubling) shortcut
    needs ~log2(40) ≈ 6 — this test fails if the shortcut is dropped."""
    e = _ledges(spark, [(i, i + 1) for i in range(100, 139)])
    out = linkgraph.connected_components(e, max_rounds=8).collect()
    assert {r["component"] for r in out} == {100}
    assert len(out) == 40
    # two rounds cannot settle it: raise, never return over-split labels
    with pytest.raises(RuntimeError, match="no fixpoint within 2"):
        linkgraph.connected_components(e, max_rounds=2)


def test_components_deterministic_across_partitionings(spark):
    """min is exactly associative: the labeling is identical at any
    shuffle width (the property the dedup resolver relies on)."""
    rows = [(i, (i * 7) % 23) for i in range(23)]
    a = sorted(
        map(tuple, linkgraph.connected_components(
            _ledges(spark, rows).repartition(1)).collect())
    )
    b = sorted(
        map(tuple, linkgraph.connected_components(
            _ledges(spark, rows).repartition(13)).collect())
    )
    assert a == b


def _pinned(spark) -> set[int]:
    keys = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in keys}


def _redirects(spark):
    from crawler_spark.urls import resolve_redirects

    d = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("y", "x")], "src string, dst string"
    )
    return resolve_redirects(d, max_doublings=2)


def _kmeans(spark):
    from crawler_spark.similarity import kmeans_lloyd

    emb = spark.createDataFrame(
        [(i, [float(i % 2), float(i)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    return kmeans_lloyd(emb, centroid_ids=(0, 1), iters=2)


FIXPOINT_OPERATORS = {
    "pagerank": lambda spark: linkgraph.pagerank_fixedpoint(
        _edges(spark, [("A", "B"), ("B", "A"), ("B", "C")]), iters=2
    ),
    "components": lambda spark: linkgraph.connected_components(
        _ledges(spark, [(1, 2), (3, 4), (4, 5)])
    ),
    "kmeans": _kmeans,
    "redirects": _redirects,
}


@pytest.mark.parametrize("op", sorted(FIXPOINT_OPERATORS))
def test_fixpoint_operators_release_exactly_their_blocks(spark, op):
    """Every intermediate state is released inside the call, the result
    is one checkpoint that release() drops, and a frame another caller
    checkpointed beforehand stays pinned and readable throughout.
    (Unreachable frames left by earlier tests may be reclaimed by
    Spark's ContextCleaner meanwhile, so 'before' bounds the set from
    above.)"""
    other = checkpoint(spark.range(7).selectExpr("id * 3 AS x"))
    other_id = other._jdf.queryExecution().analyzed().rdd().id()
    before = _pinned(spark)
    out = FIXPOINT_OPERATORS[op](spark)
    assert out.count() > 0
    assert len(_pinned(spark) - before) == 1
    release(out)
    after = _pinned(spark)
    assert after <= before and other_id in after
    assert sorted(r["x"] for r in other.collect()) == [3 * i for i in range(7)]
    release(other)


def test_anchor_texts_normalize_rank_and_drop(spark):
    """Whitespace/case variants merge into one normalized anchor,
    counts rank the top-k with (n desc, anchor asc) tie-break, and
    empty anchors / self-links are dropped."""
    rows = [
        ("s1", "t", "  Read   More "),
        ("s2", "t", "read more"),
        ("s3", "t", "READ MORE"),
        ("s1", "t", "home"),
        ("s2", "t", "apple"),       # ties 'home' at n=1 -> apple first
        ("s4", "t", "zebra"),
        ("s5", "t", ""),            # dropped
        ("t", "t", "self"),         # self-link dropped
    ]
    df = spark.createDataFrame(rows, "src string, dst string, anchor string")
    out = [
        (r["anchor"], r["n_links"], r["n_srcs"], r["rank"])
        for r in linkgraph.anchor_texts(df, topk=3)
        .orderBy("rank").collect()
    ]
    assert out == [
        ("read more", 3, 3, 1),
        ("apple", 1, 1, 2),
        ("home", 1, 1, 3),          # 'zebra' pruned at topk=3
    ]
