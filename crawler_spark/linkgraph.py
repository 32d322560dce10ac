"""Host-level link-graph analytics for frontier prioritization.

The reference crawler's notion of source priority is the human operator
choosing which DPA to crawl (``gdprCrawler.py:123-145`` — one
country/DPA per invocation, hard-coded dispatch); a web-scale frontier
has ~10^8 hosts and must derive per-source priority from the link graph
itself.  This module provides the canonical primitive — PageRank over
the host graph — in a deliberately *deterministic fixed-point integer*
formulation:

- every rank is a 64-bit integer in parts-per-billion (ppb);
- per-edge contributions use integer division ``rank div out_degree``;
- integer addition is associative/commutative *exactly*, so the same
  ranks come out at 1 executor or 1000, at any shuffle partitioning,
  and on any engine — which is what makes the DuckDB oracle value-hash
  byte-exact, and at fleet scale makes reruns/audits reproducible
  (IEEE-double PageRank wobbles in the last ulp with summation order).

Scale shape (100 TB / 10^8 hosts): the edges table is the big side and
is NEVER shuffled — each iteration joins edges to the (hosts-sized)
rank table and aggregates contributions by dst with map-side partial
aggregation, so the only full shuffle per iteration carries one partial
row per (partition, dst-host).  Spark broadcasts the rank side below
``spark.sql.autoBroadcastJoinThreshold`` and shuffles it above; with
edges bucketed by src that is still edges-shuffle-free (see
BENCH/bucketed_join_demo.py).  Dangling mass is a 1-row aggregate
collected per iteration (a bounded driver probe, same convention as the
engine's round metrics).  Both iterative operators here run on
:func:`crawler_spark.fixpoint.fixpoint`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import checkpoint, fixpoint, release

PPB = 1_000_000_000


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = 5,
    damping_ppb: int = 850_000_000,
) -> DataFrame:
    """Fixed-point integer PageRank over ``edges(src, dst)``.

    Per iteration (all 64-bit integer arithmetic, ppb scale)::

        contrib(e)  = rank(src) div out_deg(src)          # per edge
        S(v)        = sum of contrib over in-edges of v
        D           = sum of rank over dangling nodes (out_deg = 0)
        rank'(v)    = (PPB - d) div N  +  (d * (S(v) + D div N)) div PPB

    which is the standard damped PageRank with redistributed dangling
    mass, truncated (floor) at each division.  Overflow-safe: total
    rank mass <= PPB + N (one ulp of truncation per node), so
    ``d * (S + D div N) < 8.5e8 * ~1e9 << 2^63``.

    Returns (node: string, out_deg: bigint, rank_ppb: bigint),
    checkpointed; release it with :func:`crawler_spark.fixpoint.release`.
    """
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    nd = nodes.join(deg, "node", "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg")
    )
    n_nodes = nd.count()  # bounded driver probe
    base = (PPB - damping_ppb) // n_nodes

    def step(ranks: DataFrame) -> DataFrame:
        d_mass = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank_ppb"), F.lit(0)).alias("d")
        ).first()["d"]
        contribs = (
            e.join(
                ranks.filter(F.col("out_deg") > 0).select(
                    F.col("node").alias("src"),
                    F.expr("rank_ppb div out_deg").alias("contrib"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("s"))
        )
        return ranks.select("node", "out_deg").join(contribs, "node", "left").select(
            "node",
            "out_deg",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_ppb} * (coalesce(s, 0) + {d_mass // n_nodes}))"
                    f" div {PPB}"
                )
            ).cast("long").alias("rank_ppb"),
        )

    init = nd.withColumn("rank_ppb", F.lit(PPB // n_nodes).cast("long"))
    return fixpoint(step, init, iters)


def rank_priority(frontier: DataFrame, ranks: DataFrame, n_tiers: int = 8) -> DataFrame:
    """Map host PageRank into the frontier's ``priority`` column (lower
    = sooner, matching the scheduler's ``ORDER BY priority, seq`` in
    ``frontier.rank_budget``): hosts are bucketed into ``n_tiers``
    priority tiers by rank, highest-ranked hosts -> tier 0.

    Tiering (ntile over rank_ppb desc, host tie-break) rather than raw
    rank keeps the frontier's priority small-cardinality — the
    politeness window sorts (priority, seq) inside salted host
    partitions, and a per-host-unique priority would defeat the
    pre-prune's margin arithmetic.  ``ranks`` is hosts-sized ->
    broadcast; unranked hosts (not yet in the graph) keep their
    existing priority.  The ntile window is global over the RANKS dim
    (not the frontier); at 10^8 hosts swap it for fixed rank_ppb
    thresholds (approx quantiles computed once) to avoid the
    single-partition sort — the frontier-side plan is unchanged.

    Output: frontier with ``priority`` replaced where a rank exists.
    """
    w = Window.orderBy(F.desc("rank_ppb"), "node")
    tiers = ranks.select(
        F.col("node").alias("host"),
        (F.ntile(n_tiers).over(w) - 1).alias("__rank_tier"),
    )
    return (
        frontier.join(F.broadcast(tiers), "host", "left")
        .withColumn(
            "priority",
            F.coalesce("__rank_tier", F.col("priority")).cast(
                frontier.schema["priority"].dataType.simpleString()
            ),
        )
        .drop("__rank_tier")
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components by min-label propagation with
    pointer-doubling shortcuts: every node's label converges to the
    MINIMUM node id in its component — a deterministic canonical
    cluster id at any parallelism and on any engine (min is
    associative/commutative exactly, like the integer PageRank above).

    The cluster-resolution step the dedup family needs: MinHash /
    SimHash / embedding near-dup emit PAIRS; picking one canonical doc
    per near-dup *cluster* is exactly components over the pair graph
    (transitively: A~B, B~C => one cluster even when A,C never pair).

    Per round (all joins on slim (node:long, label:long) frames)::

        nbr(v)   = min label over v's neighbors          # edges join
        hop(v)   = label(label(v))                       # labels self-join
        label'(v)= min(label(v), nbr(v), hop(v))

    The ``hop`` term is the pointer-doubling shortcut: label chains
    halve every round, so convergence is O(log diameter) rounds, not
    O(diameter) — the difference between ~40 and ~12 rounds on a
    10^10-node web graph.  Each round's (node, label, changed) frame is
    checkpointed once and serves as both the next state and the
    convergence probe (one ``changed`` row or none).  ``edges`` is
    often an EXPENSIVE lazy plan (here: the MinHash + SimHash banded
    near-dup pipelines), so it is checkpointed once up front and every
    round's neighbor join reads materialized (u, v) longs.

    Output: (node, component) for every distinct endpoint, checkpointed
    (see :func:`crawler_spark.fixpoint.release`).  Raises
    ``RuntimeError`` if labels still change after ``max_rounds``.
    """
    # both directions of every edge from ONE read of ``edges`` (a union
    # would plan the upstream pipeline twice)
    src, dst = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    sym = checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(src.alias("u"), dst.alias("v")),
                    F.struct(dst.alias("u"), src.alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(sym["u"].alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        l2 = labels.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        hop = labels.join(
            l2, labels["label"] == l2["l_node"], "left"
        ).select("node", "label", F.col("l_label").alias("hlabel"))
        new = F.least(
            F.col("label"),
            F.coalesce(F.col("hlabel"), F.col("label")),
            F.coalesce(F.col("nlabel"), F.col("label")),
        )
        return hop.join(nbr, "node", "left").select(
            "node", new.alias("label"), (new != F.col("label")).alias("changed")
        )

    init = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"), F.lit(True).alias("changed"))
    )
    try:
        labels = fixpoint(
            step, init, max_rounds, done=lambda s: s.filter("changed").isEmpty()
        )
    finally:
        release(sym)
    try:
        return checkpoint(labels.select("node", F.col("label").alias("component")))
    finally:
        release(labels)


def anchor_texts(
    edges: DataFrame,
    topk: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text aggregation: the top-k most frequent
    normalized link texts pointing AT each URL, plus its in-link
    counts — the web-graph rollup corpora ship beside the page text
    (anchor text describes the TARGET better than the target's own
    boilerplate; retrieval/QA training sets are built from it).

    Normalization: lowercase, trim, collapse internal whitespace;
    empty anchors and self-links dropped.  Ranking inside a target is
    (count desc, anchor asc) — fully deterministic.

    Scale shape: one partial-agg groupBy on (dst, anchor) — the only
    full-width shuffle — then a row_number window on dst whose
    ``rank <= k`` predicate triggers WindowGroupLimit, so map tasks
    pre-prune each target's tail before the second (dst-keyed,
    count-sized) exchange.  A mega-inlink target (every page links
    "home") is bounded by its DISTINCT anchor count after the first
    agg, not its in-link count.

    Output: (dst, anchor, n_links, n_srcs, rank) — topk rows per dst.
    """
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(anchor_col))), r"\s+", " "
    )
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            norm.alias("anchor"),
        )
        .filter((F.col("anchor") != "") & (F.col("src") != F.col("dst")))
    )
    agg = e.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("src").alias("n_srcs"),
    )
    w = Window.partitionBy("dst").orderBy(
        F.col("n_links").desc(), F.col("anchor")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )
