"""Checkpoint/resume: kill after round k (+ partial commit), resume from
lineage, final state identical to an uninterrupted run (SURVEY.md §5.4).

The reference loses its whole run delta on crash (seen-set flushed only
at end, gdprCrawler.py:292-301); the engine's per-round lineage commit
makes any crash replay idempotent.  The crash-point cases raise right
after each commit of round 3 (or just before its lineage row) and
require all six round tables — row counts included — to come out equal
to an uninterrupted run, with resume touching manifests only.  The URL
Bloom is not rolled back: the case that crashes after its overwrite
checks that a Bloom ahead of its base table only adds false positives.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.fixtures import AS_OF, fixture_dir
from crawler_spark.rounds import CrawlRun

CRASH_ROUND = 3
ROUND_TABLES = ("pending", "done", "seen", "documents", "fetch_log", "metrics")


class Crash(RuntimeError):
    pass


def _mk(spark, state_dir, **kw):
    fix = fixture_dir("sf0.001")
    return CrawlRun(
        spark,
        state_dir=state_dir,
        pages_path=os.path.join(fix, "pages.parquet"),
        seeds_path=os.path.join(fix, "seeds.parquet"),
        robots_path=os.path.join(fix, "robots.parquet"),
        as_of=AS_OF,
        **kw,
    )


def _table_rows(table, spark):
    """A table's rows as a sorted multiset; wall-clock columns dropped."""
    df = table.read(spark)
    cols = [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, T.TimestampType) and f.name != "wall_ms"
    ]
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


def _final_state(run):
    return {name: _table_rows(getattr(run, name), run.spark) for name in ROUND_TABLES}


def _run_to_end(run, start):
    for r in range(start, start + 50):
        if run.round(r) is None:
            return
    raise AssertionError("crawl did not drain in 50 rounds")


def _data_dirs(state_dir):
    return {
        (name, part)
        for name in os.listdir(state_dir)
        if os.path.isdir(os.path.join(state_dir, name, "data"))
        for part in os.listdir(os.path.join(state_dir, name, "data"))
    }


def _assert_pending_parts_carry_seq(pending):
    m = pending._manifest()
    for key, col in (("parts", "__seq"), ("delete_parts", "__tseq")):
        for e in m[key]:
            files = glob.glob(os.path.join(pending.root, e["path"], "*.parquet"))
            assert files, e
            assert all(col in pq.read_schema(f).names for f in files), e


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    full = _mk(spark, str(tmp_path_factory.mktemp("full")))
    full.run(max_rounds=50)
    return _final_state(full)


def test_resume_after_partial_commit(spark, tmp_path, uninterrupted):
    # interrupted run: 2 rounds, then a simulated crash mid-round-3 —
    # documents got appended but lineage (the commit point) did not
    part = _mk(spark, str(tmp_path / "part"))
    part.init()
    part.round(1)
    part.round(2)
    junk = part.documents.read(spark).limit(3).withColumn(
        "doc_hash", F.lit("junk-partial-commit")
    )
    part.documents.append(junk, note="simulated-crash-partial")
    assert (
        part.documents.read(spark)
        .filter(F.col("doc_hash") == "junk-partial-commit")
        .count()
        == 3
    )

    # resume: rolls documents back to round-2 snapshot, junk gone
    resumed = _mk(spark, str(tmp_path / "part"))
    next_round = resumed.resume()
    assert next_round == 3
    assert (
        resumed.documents.read(spark)
        .filter(F.col("doc_hash") == "junk-partial-commit")
        .count()
        == 0
    )
    _run_to_end(resumed, next_round)
    assert _final_state(resumed) == uninterrupted


@pytest.mark.parametrize(
    "table,method,kw",
    [
        ("pending", "commit_delta", {}),
        ("fetch_log", "append", {}),
        ("metrics", "append", {}),
        ("documents", "adopt_part", {}),
        (None, "_commit_lineage", {}),
        ("seen", "append", {}),
        ("done", "append", {}),
        # the Bloom path on: the replayed round reads a Bloom that
        # already holds the crashed round's adds
        ("url_bloom", "overwrite", {"bloom_min_rows": 0}),
    ],
    ids=[
        "after_pending_commit_delta",
        "after_fetch_log_append",
        "after_metrics_append",
        "after_documents_adopt_part",
        "before_commit_lineage",
        "after_seen_append",
        "after_done_append",
        "after_url_bloom_overwrite",
    ],
)
def test_crash_point_resumes_to_uninterrupted_state(
    spark, tmp_path, monkeypatch, uninterrupted, table, method, kw
):
    state = str(tmp_path / "crash")
    run = _mk(spark, state, **kw)
    run.init()
    for r in range(1, CRASH_ROUND):
        run.round(r)

    # the commit at the crash point lands (table methods), or the round
    # dies just before its lineage row — either way lineage is not written
    target = run if table is None else getattr(run, table)
    orig = getattr(target, method)

    def crashing(*args, **kwargs):
        if table is not None:
            orig(*args, **kwargs)
        raise Crash(method)

    monkeypatch.setattr(target, method, crashing)
    with pytest.raises(Crash):
        run.round(CRASH_ROUND)

    # a fresh CrawlRun on the same state dir: rollback re-commits
    # manifests only — no table gains a data directory
    resumed = _mk(spark, state, **kw)
    before = _data_dirs(state)
    assert resumed.resume() == CRASH_ROUND
    assert _data_dirs(state) == before
    _assert_pending_parts_carry_seq(resumed.pending)

    _run_to_end(resumed, CRASH_ROUND)
    assert _final_state(resumed) == uninterrupted
    _assert_pending_parts_carry_seq(resumed.pending)


def test_time_travel_reads(spark, tmp_path):
    run = _mk(spark, str(tmp_path / "tt"))
    run.init()
    run.round(1)
    snap1 = run.documents.current_snapshot_id()
    run.round(2)
    n_at_1 = run.documents.read(spark, snap1).count()
    n_at_2 = run.documents.read(spark).count()
    assert n_at_2 >= n_at_1
    assert run.documents.read(spark, snap1).count() == n_at_1  # stable


def test_resume_rejects_lineage_without_table_snapshots(spark, tmp_path):
    """A lineage row that names fewer tables (an older state layout)
    must stop resume, not roll the unnamed tables back to empty."""
    state = str(tmp_path / "old")
    run = _mk(spark, state)
    run.init()
    old = run.lineage.read(spark).drop("fetch_log_snapshot", "metrics_snapshot")
    part = os.path.join("data", "old-layout")
    old.write.parquet(os.path.join(run.lineage.root, part))
    run.lineage._commit([{"path": part, "seq": 0, "rows": 1}], "old-layout")
    with pytest.raises(ValueError, match="predates"):
        _mk(spark, state).resume()
