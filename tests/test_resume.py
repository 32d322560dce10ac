"""Checkpoint/resume: kill after round k (+ partial commit), restart on
the same state dir, final state identical to an uninterrupted run
(SURVEY.md §5.4).

The reference loses its whole run delta on crash (seen-set flushed only
at end, gdprCrawler.py:292-301); the engine's per-round catalog commit
makes any crash replay idempotent.  The crash-point cases raise in
round 3 after its one slim write but before any table adopts its part,
right after each table stages its part (by rename from that write, the
URL Bloom write, or the driver-side lineage part), between pending's
add and tombstone renames, just before its lineage row, after the
lineage append but before the catalog write, or inside ``init()``
after the seed delta or after its lineage part — and require all six
round tables, row counts included, to come out equal to an
uninterrupted run.  Each case restarts two ways:
``resume()`` then rounds, and a plain ``run()`` (what the bench and the
spark-submit driver call).  Opening and resuming the state dir touch no
file under any table directory, and every table's manifest chain from
the catalog head carries consecutive sequence numbers.
"""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.fixtures import AS_OF, fixture_dir
from crawler_spark.rounds import CATALOG, CrawlRun

CRASH_ROUND = 3
ROUND_TABLES = ("pending", "done", "seen", "documents", "fetch_log", "metrics")
RESTARTS = ("resume", "run")


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


def _table_files(state_dir):
    """Every file under every table directory, with size and mtime."""
    out = {}
    for name in os.listdir(state_dir):
        top = os.path.join(state_dir, name)
        if name == "scratch" or not os.path.isdir(top):
            continue
        for root, _, files in os.walk(top):
            for f in files:
                st = os.stat(os.path.join(root, f))
                out[os.path.relpath(os.path.join(root, f), state_dir)] = (
                    st.st_size,
                    st.st_mtime_ns,
                )
    return out


def _assert_seq_chains(run):
    """Walking each table's parents from the committed catalog head,
    every manifest's seq is its parent's plus 1 (0 at the root), and
    every pending part stores its entry's seq in ``__seq``/``__tseq``."""
    with open(os.path.join(run.state_dir, CATALOG)) as f:
        heads = json.load(f)["snapshots"]
    for name, table in run._catalog_tables():
        chain, sid = [], heads[name]
        while sid:
            chain.append(table._read_manifest(sid))
            sid = chain[-1]["parent"]
        assert [m["seq"] for m in chain] == list(range(len(chain)))[::-1], name
        for m in chain:
            assert m["snapshot_id"].startswith(f"s{m['seq']:08d}-"), m
            assert all(e["seq"] <= m["seq"] for e in m["parts"]), m
    m = run.pending._read_manifest(heads["frontier"])
    for key, col in (("parts", "__seq"), ("delete_parts", "__tseq")):
        for e in m[key]:
            files = glob.glob(os.path.join(run.pending.root, e["path"], "*.parquet"))
            assert files, e
            for f in files:
                seqs = set(pq.read_table(f, columns=[col])[col].to_pylist())
                assert seqs <= {e["seq"]}, e


def _restart(spark, state, restart, start, **kw):
    """A new CrawlRun on a crashed state dir, driven to the end by
    ``resume()`` + rounds or by a plain ``run()``.  Opening and resuming
    must leave every table file as it was."""
    before = _table_files(state)
    run = _mk(spark, state, **kw)
    if restart == "resume":
        assert run.resume() == start
    assert _table_files(state) == before
    if restart == "resume":
        run.init()  # a no-op once round 0 is committed
        _run_to_end(run, start)
    else:
        run.run(max_rounds=50)
    _assert_seq_chains(run)
    return run


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    full = _mk(spark, str(tmp_path_factory.mktemp("full")))
    full.run(max_rounds=50)
    return _final_state(full)


def test_resume_after_partial_commit(spark, tmp_path, uninterrupted):
    # interrupted run: 2 rounds, then a simulated crash mid-round-3 —
    # documents got a junk append staged, but no catalog commit followed
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

    # a new CrawlRun opens the round-2 catalog commit: the staged junk
    # snapshot is never visible to it
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


# (id, table attribute or None for the CrawlRun, method, CrawlRun
# options, crash before the call instead of after it), in the order
# round 3 makes the calls.  A round table's part joins it by
# ``adopt_part`` (pending: ``commit_delta`` of two adopted parts); the
# ``after_<table>_append`` ids name that snapshot operation (Iceberg's
# ``append``), whichever method performs it.
CRASH_POINTS = [
    # the slim write has landed, no table has adopted its partition
    ("after_slim_write", "seen", "adopt_part", {}, True),
    ("after_seen_append", "seen", "adopt_part", {}, False),
    ("after_fetch_log_append", "fetch_log", "adopt_part", {}, False),
    ("after_done_append", "done", "adopt_part", {}, False),
    ("after_metrics_append", "metrics", "adopt_part", {}, False),
    # pending has renamed its add part, not its tombstone part
    ("mid_pending_commit_delta", "pending", "_adopt", {}, False),
    ("after_pending_commit_delta", "pending", "commit_delta", {}, False),
    ("after_documents_adopt_part", "documents", "adopt_part", {}, False),
    # the Bloom path on: the crashed round staged a Bloom holding its
    # adds, which the replay must not read
    ("after_url_bloom_overwrite", "url_bloom", "overwrite", {"bloom_min_rows": 0}, False),
    ("before_commit_lineage", None, "_commit_lineage", {}, True),
    # the lineage part is staged, the catalog is not written
    ("after_lineage_append", "lineage", "append", {}, False),
]


# the resume() restart keeps the bare crash-point id; run() adds "-run"
@pytest.mark.parametrize(
    "table,method,kw,before,restart",
    [
        pytest.param(table, method, kw, before, restart,
                     id=name if restart == "resume" else f"{name}-{restart}")
        for name, table, method, kw, before in CRASH_POINTS
        for restart in RESTARTS
    ],
)
def test_crash_point_resumes_to_uninterrupted_state(
    spark, tmp_path, monkeypatch, uninterrupted, table, method, kw, before, restart
):
    state = str(tmp_path / "crash")
    run = _mk(spark, state, **kw)
    run.init()
    for r in range(1, CRASH_ROUND):
        run.round(r)

    # the round dies just before or just after the call — either way
    # no catalog commit
    target = run if table is None else getattr(run, table)
    orig = getattr(target, method)

    def crashing(*args, **kwargs):
        if not before:
            orig(*args, **kwargs)
        raise Crash(method)

    monkeypatch.setattr(target, method, crashing)
    with pytest.raises(Crash):
        run.round(CRASH_ROUND)

    resumed = _restart(spark, state, restart, CRASH_ROUND, **kw)
    assert _final_state(resumed) == uninterrupted


def _crash_in_init(spark, tmp_path, monkeypatch, uninterrupted, restart, table, method):
    """``init()`` dies right after ``table.method`` stages its snapshot,
    before round 0's catalog is written: the restart sees an empty state
    dir, seeds again and reaches the uninterrupted state."""
    state = str(tmp_path / "crash")
    run = _mk(spark, state)
    target = getattr(run, table)
    orig = getattr(target, method)

    def crashing(*args, **kwargs):
        orig(*args, **kwargs)
        raise Crash(method)

    monkeypatch.setattr(target, method, crashing)
    with pytest.raises(Crash):
        run.init()
    assert target.head is not None
    assert not os.path.exists(os.path.join(state, CATALOG))

    resumed = _restart(spark, state, restart, 1)
    assert _final_state(resumed) == uninterrupted


@pytest.mark.parametrize("restart", RESTARTS)
def test_crash_in_init_replays_the_seed(
    spark, tmp_path, monkeypatch, uninterrupted, restart
):
    """The seed delta is staged, its lineage row is not."""
    _crash_in_init(spark, tmp_path, monkeypatch, uninterrupted, restart,
                   "pending", "commit_delta")


@pytest.mark.parametrize("restart", RESTARTS)
def test_crash_in_init_after_lineage(
    spark, tmp_path, monkeypatch, uninterrupted, restart
):
    """The seed delta and round 0's driver-written lineage part are
    staged; only the catalog is missing."""
    _crash_in_init(spark, tmp_path, monkeypatch, uninterrupted, restart,
                   "lineage", "append")


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
