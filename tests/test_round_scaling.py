"""Round cost is O(round), not O(frontier) (VERDICT round 1, finding 4),
and retry semantics are bounded (R4, MaxRetriesError pattern,
pygdpr/models/dpa/__init__.py:450-452).
"""

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from crawler_spark import extract as X
from crawler_spark.fixtures import AS_OF, doc_url, fixture_dir, generate
from crawler_spark.rounds import CrawlRun


def _mk(spark, state_dir, fix, **kw):
    return CrawlRun(
        spark,
        state_dir=str(state_dir),
        pages_path=os.path.join(fix, "pages.parquet"),
        seeds_path=os.path.join(fix, "seeds.parquet"),
        robots_path=os.path.join(fix, "robots.parquet"),
        as_of=AS_OF,
        **kw,
    )


def _fake_history(spark, n):
    """n synthetic terminal frontier rows (prior crawl history)."""
    return spark.range(0, n).select(
        F.concat(F.lit("https://history.example.eu/p/"), F.col("id")).alias("url"),
        F.xxhash64(F.concat(F.lit("h"), F.col("id"))).alias("url_hash"),
        F.lit("austria").alias("authority"),
        F.lit("Decisions").alias("doc_type"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("priority"),
        F.lit("history.example.eu").alias("host"),
        (F.col("id") + F.lit(1 << 50)).alias("seq"),
        F.lit("fetched").alias("state"),
        F.lit(0).alias("retry_count"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("date").alias("release_date"),
        F.lit(None).cast("string").alias("doc_hash"),
        F.lit(None).cast("string").alias("raw_hash"),
    )


def test_round_writes_are_o_round(spark, tmp_path):
    """A round must commit only delta parts: the pending base parts from
    the previous round survive untouched (no full-table rewrite), and a
    100x-pre-grown done log does not change what the round writes."""
    fix = fixture_dir("sf0.001")
    run = _mk(spark, tmp_path / "s", fix)
    run.init()
    run.round(1)
    parts_before = set(run.pending.base_parts())

    # pre-grow the frontier history ~100x the fixture's size
    run.done.append(_fake_history(spark, 100_000), note="synthetic-history")

    st = run.round(2)
    assert st is not None and st["scheduled"] > 0
    parts_after = set(run.pending.base_parts())
    # old base parts are still part of the snapshot (merge-on-read: the
    # round appended one add part + one tombstone part, rewrote nothing)
    assert parts_before <= parts_after
    assert len(parts_after) == len(parts_before) + 1


def test_round_wall_time_unaffected_by_history(spark, tmp_path):
    """Same round, with and without a 100x-grown done log: wall time must
    not scale with history size (generous 3x bound for JVM noise)."""
    fix = fixture_dir("sf0.001")
    a = _mk(spark, tmp_path / "a", fix)
    a.init()
    a.round(1)
    base = a.round(2)["wall_s"]

    b = _mk(spark, tmp_path / "b", fix)
    b.init()
    b.round(1)
    b.done.append(_fake_history(spark, 100_000), note="synthetic-history")
    grown = b.round(2)["wall_s"]
    assert grown < 3 * base + 1.0, f"round slowed {base:.2f}s -> {grown:.2f}s"
    # and the round's outputs are identical despite the history
    da = a.documents.read(spark).select("doc_hash", "url", "seq")
    db = b.documents.read(spark).select("doc_hash", "url", "seq")
    assert sorted(map(tuple, da.collect())) == sorted(map(tuple, db.collect()))


@pytest.fixture()
def flaky_fix(tmp_path):
    """austria-only fixture where one retained docpage 404s forever."""
    fixdir = str(tmp_path / "flaky")
    generate(
        fixdir, n_pages=1, n_items=4, n_files=0, authorities=("austria",)
    )
    from crawler_spark.fixtures import _doc_date

    gone = None
    for i in range(1, 5):
        if X.retained("austria", _doc_date("austria", 1, i), AS_OF):
            gone = doc_url("austria", 1, i)
            break
    assert gone is not None, "fixture has no retained item to drop"
    t = pq.read_table(os.path.join(fixdir, "pages.parquet"))
    pq.write_table(
        t.filter(pc.field("url") != gone),
        os.path.join(fixdir, "pages.parquet"),
    )
    return fixdir, gone


def test_retry_bounded_attempts_then_terminal(spark, tmp_path, flaky_fix):
    fixdir, gone = flaky_fix
    run = _mk(spark, tmp_path / "r", fixdir, max_attempts=3)
    run.run(max_rounds=20)

    log = (
        run.fetch_log.read(spark)
        .filter(F.col("url") == gone)
        .select("batch_id", "status")
        .collect()
    )
    assert len(log) == 3, f"expected 3 attempts, got {log}"
    assert all(r["status"] == "miss" for r in log)
    assert len({r["batch_id"] for r in log}) == 3  # one attempt per round

    final = (
        run.frontier_view().filter(F.col("url") == gone).collect()
    )
    assert len(final) == 1
    assert final[0]["state"] == "failed"
    assert final[0]["retry_count"] == 2  # two re-pends after the first miss
    assert run.pending.read(spark).count() == 0  # crawl drained
    assert (
        run.documents.read(spark).filter(F.col("url") == gone).count() == 0
    )


def test_retry_disabled_is_single_attempt(spark, tmp_path, flaky_fix):
    fixdir, gone = flaky_fix
    run = _mk(spark, tmp_path / "r1", fixdir, max_attempts=1)
    run.run(max_rounds=20)
    log = run.fetch_log.read(spark).filter(F.col("url") == gone).collect()
    assert len(log) == 1 and log[0]["status"] == "miss"
    final = run.frontier_view().filter(F.col("url") == gone).collect()
    assert final[0]["state"] == "failed" and final[0]["retry_count"] == 0


def test_quota_gate_enforced_per_round(spark, tmp_path):
    """R3 wired into the engine (round-2 ADVICE: quota_gate existed but
    was never called): a per-authority fetch quota caps every round's
    fetches for that authority, deferred rows surface in later rounds,
    and the final crawl state is unchanged."""
    fix = fixture_dir("sf0.001")
    plain = _mk(spark, tmp_path / "nq", fix)
    plain.run(max_rounds=40)
    quota = _mk(spark, tmp_path / "q", fix, quota_budgets={"austria": 2})
    quota.run(max_rounds=40)

    per_round = (
        quota.fetch_log.read(spark)
        .filter(F.col("url").contains("dsb.gv.at"))
        .groupBy("batch_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert per_round and all(r["n"] <= 2 for r in per_round)
    # quota slowed austria down but the final state is identical
    da = sorted(
        map(tuple, plain.documents.read(spark).select("seq", "url", "doc_hash").collect())
    )
    db = sorted(
        map(tuple, quota.documents.read(spark).select("seq", "url", "doc_hash").collect())
    )
    assert da == db and len(da) > 0


def test_bloom_path_equals_exact_path(spark, tmp_path):
    """bloom_min_rows=0 forces the sharded-Bloom membership path; the
    final crawl state must be identical to the default run's exact
    probe-join path (sf0.001 stays far below the default threshold),
    and the URL Bloom must actually exist (consulted, not vestigial)."""
    fix = fixture_dir("sf0.001")
    a = _mk(spark, tmp_path / "nb", fix)
    a.run(max_rounds=30)
    b = _mk(spark, tmp_path / "wb", fix, bloom_min_rows=0)
    b.run(max_rounds=30)

    def state(run):
        docs = sorted(
            (r["seq"], r["url"], r["doc_hash"])
            for r in run.documents.read(spark)
            .select("seq", "url", "doc_hash")
            .collect()
        )
        seen = sorted(
            r["doc_hash"] for r in run.seen.read(spark).select("doc_hash").collect()
        )
        return docs, seen

    assert state(a) == state(b)
    assert b.url_bloom.current_snapshot_id() is not None
    assert a.url_bloom.current_snapshot_id() is None  # exact path built none


def test_fetch_join_shuffle_fallback_equals_broadcast(spark, tmp_path):
    """broadcast_rows_max=0 forces the fetch join off the broadcast hint
    (the oversized-round degradation path); results must be identical."""
    fix = fixture_dir("sf0.001")
    a = _mk(spark, tmp_path / "bc", fix)
    a.run(max_rounds=30)
    b = _mk(spark, tmp_path / "sh", fix, broadcast_rows_max=0)
    b.run(max_rounds=30)
    da = sorted(
        map(tuple, a.documents.read(spark).select("seq", "url", "doc_hash").collect())
    )
    db = sorted(
        map(tuple, b.documents.read(spark).select("seq", "url", "doc_hash").collect())
    )
    assert da == db and len(da) > 0
