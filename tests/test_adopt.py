"""Adopted-part commits: a round runs two Spark writes — the extract
scratch and one slim write partitioned by sink — and every round table
takes its part from one of those writes by RENAME (tables.adopt_part)
instead of a write of its own (Iceberg's add_files shape); the lineage
rows, which the driver holds, are a pyarrow part.  The documents table
adopts the ``sink=doc`` extract partition (and the post-fetch-keyed
documents, written in the same layout), so the payload is never read
back and re-written.

The reference writes each document's bytes exactly once too
(pygdpr/models/dpa/austria/__init__.py:127-148); byte-identity of the
adopted rows against the sequential oracle is enforced by the e2e
suites — this file pins the *mechanics*: one Spark write in ``init()``
and two per round, no table write of its own in a round, the lineage
part's schema, few files per slim sink, layout-tagged manifest entries,
one multi-path scan per layout, time travel across adopted snapshots, and
mixed plain+adopted manifests (plain parts come only from direct
appends outside the round) reading as one frame.
"""

import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.readwriter import DataFrameWriter

from crawler_spark import schema as S
from crawler_spark.fixtures import AS_OF, fixture_dir
from crawler_spark.rounds import CrawlRun
from crawler_spark.tables import SnapshotTable, _part_files


def _mk(spark, state_dir):
    fix = fixture_dir("sf0.001")
    return CrawlRun(
        spark,
        state_dir=state_dir,
        pages_path=os.path.join(fix, "pages.parquet"),
        seeds_path=os.path.join(fix, "seeds.parquet"),
        robots_path=os.path.join(fix, "robots.parquet"),
        as_of=AS_OF,
    )


def test_documents_parts_are_adopted_not_rewritten(spark, tmp_path):
    run = _mk(spark, str(tmp_path / "run"))
    run.run(max_rounds=50)

    sid = run.documents.current_snapshot_id()
    parts = run.documents._read_manifest(sid)["parts"]
    adopted = [p for p in parts if p.get("layout")]
    assert adopted, "doc rounds should commit adopted scratch partitions"
    # the round has no plain documents write: the post-fetch-keyed docs
    # (slovenia) are adopted in the extract layout too
    assert adopted == parts
    assert all(p["layout"] == "extract_v1" for p in adopted)
    # manifest row statistics survive adoption (footer counts)
    n = run.documents.read(spark).count()
    assert sum(p["rows"] for p in adopted) == n > 0
    # adopted files live under the table root (renamed, not referenced
    # in the deleted scratch dir) and keep their producer's layout
    for p in adopted:
        d = os.path.join(run.documents.root, p["path"])
        assert os.path.isdir(d)
        assert any(f.endswith(".parquet") for f in os.listdir(d))
    scratch = os.path.join(str(tmp_path / "run"), "scratch")
    assert not os.path.isdir(scratch) or not os.listdir(scratch)


def test_adopted_reads_one_scan_per_layout(spark, tmp_path):
    run = _mk(spark, str(tmp_path / "scan"))
    run.run(max_rounds=50)
    sid = run.documents.current_snapshot_id()
    n_adopted = sum(
        1 for p in run.documents._read_manifest(sid)["parts"] if p.get("layout")
    )
    assert n_adopted >= 2  # multi-round crawl -> several adopted parts
    plan = run.documents.read(spark)._jdf.queryExecution().optimizedPlan().toString()
    # the plan stays O(layouts), not O(rounds): one union at most
    assert plan.count("Union") <= 1


def test_mixed_plain_and_adopted_manifest(spark, tmp_path):
    run = _mk(spark, str(tmp_path / "mix"))
    run.run(max_rounds=50)
    docs = run.documents.read(spark)
    before = sorted(
        (r["doc_hash"], r["url"], r["batch_id"])
        for r in docs.select("doc_hash", "url", "batch_id").collect()
    )
    # a plain append (documents schema) lands next to adopted parts
    extra = docs.limit(2).withColumn("doc_hash", F.concat(F.lit("x-"), "doc_hash"))
    run.documents.append(extra, note="plain-next-to-adopted")
    after = run.documents.read(spark)
    assert after.count() == len(before) + 2
    # time travel back across the mixed manifest reproduces the old rows
    sid_now = run.documents.current_snapshot_id()
    parent = run.documents._read_manifest(sid_now)["parent"]
    again = sorted(
        (r["doc_hash"], r["url"], r["batch_id"])
        for r in run.documents.read(spark, parent)
        .select("doc_hash", "url", "batch_id")
        .collect()
    )
    assert again == before


SLIM_TABLES = ("seen", "fetch_log", "done", "metrics")


def test_round_stages_every_part_from_one_slim_write(spark, tmp_path, monkeypatch):
    """During a round, ``_write_part`` runs for no table (no Bloom is
    active, no compaction fires here and lineage is a driver-side
    pyarrow part); every seen,
    fetch_log, done, metrics and pending part of the round is a renamed
    ``sink=<table>`` partition of the round's one slim write, and the
    round's ``seen_delta`` is its seen part's row count (0 with none)."""
    state = str(tmp_path / "slim")
    run = _mk(spark, state)
    run.init()
    writes, adopts = [], {}
    orig_write, orig_adopt = SnapshotTable._write_part, SnapshotTable._adopt

    def write_part(self, df):
        writes.append(os.path.basename(self.root))
        return orig_write(self, df)

    def adopt(self, src):
        part = orig_adopt(self, src)
        adopts[(os.path.basename(self.root), part)] = src
        return part

    monkeypatch.setattr(SnapshotTable, "_write_part", write_part)
    monkeypatch.setattr(SnapshotTable, "_adopt", adopt)

    def parts(table, key="parts"):
        return {e["path"]: e for e in table._manifest()[key]}

    post_docs = no_seen = 0
    for r in range(1, 50):
        before = {t: parts(getattr(run, t)) for t in SLIM_TABLES}
        before["pending"] = parts(run.pending)
        before["tombstones"] = parts(run.pending, "delete_parts")
        writes.clear()
        adopts.clear()
        st = run.round(r)
        if st is None:
            break
        assert writes == [], (r, writes)
        slim = os.path.join(state, "scratch", f"round-{r}", "slim")
        new = {t: {p: e for p, e in parts(getattr(run, t)).items() if p not in before[t]}
               for t in SLIM_TABLES}
        new["pending"] = {p: e for p, e in parts(run.pending).items()
                          if p not in before["pending"]}
        new["tombstones"] = {p: e for p, e in parts(run.pending, "delete_parts").items()
                             if p not in before["tombstones"]}
        sinks = dict(zip(SLIM_TABLES, SLIM_TABLES), pending="pending_add",
                     tombstones="pending_del")
        dirs = {"pending": "frontier", "tombstones": "frontier"}
        for t, sink in sinks.items():
            assert len(new[t]) <= 1, (r, t, new[t])
            for p in new[t]:
                assert adopts[(dirs.get(t, t), p)] == os.path.join(slim, f"sink={sink}")
        assert st["seen_delta"] == sum(e["rows"] for e in new["seen"].values())
        # a round with no seen partition reports 0 (round 1 fetches
        # listings only) and stages no seen snapshot
        no_seen += not new["seen"]
        assert new["metrics"] and new["fetch_log"]
        # documents: the extract's sink=doc partition, plus the
        # post-fetch-keyed docs from the slim write
        for (t, p), src in adopts.items():
            if t == "documents":
                assert src in (os.path.join(slim, "sink=doc"),
                               os.path.join(state, "scratch", f"round-{r}",
                                            "extract", "sink=doc"))
                post_docs += src.startswith(slim)
    assert r > 2
    assert post_docs, "the fixture's post-fetch-keyed docs were adopted"
    assert no_seen


def test_round_runs_no_schedule_action(spark, tmp_path, monkeypatch):
    """Scheduling runs no Spark action of its own: with ``count`` and
    ``collect`` raising, rounds 1 and 2 still complete (the persisted
    frames materialize inside the extract write, the broadcast gate
    reads the manifest's pending bound, and ``_has_postfetch`` reads
    the seeds with pyarrow).  The round's fetch count is its fetch_log
    part's rows, and lineage records the same number."""
    run = _mk(spark, str(tmp_path / "noaction"))
    run.init()

    def no_action(self, *args, **kwargs):
        raise AssertionError("the round ran a DataFrame action")

    with monkeypatch.context() as m:
        frame = type(spark.range(1))
        m.setattr(frame, "count", no_action)
        m.setattr(frame, "collect", no_action)
        assert run.round(1) is not None
        st = run.round(2)
    assert st is not None and st["scheduled"] > 0
    assert "schedule_count" not in st["phases"]
    assert st["scheduled"] == run.fetch_log.last_part()["rows"]
    fetched = {
        r["fetched"]
        for r in run.lineage.read(spark).filter("round_id = 2").collect()
    }
    assert fetched == {st["scheduled"]}


@pytest.fixture(scope="module")
def counted_crawl(spark, tmp_path_factory):
    """A full crawl with every Spark parquet write counted per step:
    ``init()``, then each ``round()`` call up to the drained one."""
    run = _mk(spark, str(tmp_path_factory.mktemp("counted")))
    writes = []
    orig = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        writes[-1] += 1
        return orig(self, *args, **kwargs)

    t0 = time.time()
    with pytest.MonkeyPatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        writes.append(0)
        run.init()
        for r in range(1, 50):
            writes.append(0)
            if run.round(r) is None:
                break
    return run, writes, (t0, time.time())


def test_init_runs_one_spark_write_and_a_round_two(counted_crawl):
    """The seed delta is init()'s only Spark write; a round's are the
    extract scratch and the slim write.  Lineage rows are written by the
    driver, and the drained round() call writes nothing."""
    run, writes, _ = counted_crawl
    n_rounds = run.last_committed_round()
    assert n_rounds > 2
    assert writes == [1] + [2] * n_rounds + [0]


def test_lineage_part_keeps_its_schema(spark, counted_crawl):
    """Every lineage part is a driver-written file in ``S.LINEAGE``'s
    Arrow schema and reads back with its names and types; committed_ts
    never decreases from round to round, and the latest round's offsets
    sum to the catalog's enqueued total."""
    run, _, (t0, t1) = counted_crawl
    parts = run.lineage._manifest()["parts"]
    assert len(parts) == run.last_committed_round() + 1
    for e in parts:
        (f,) = _part_files(run.lineage.part_dir(e))
        assert pq.read_schema(f).remove_metadata() == to_arrow_schema(S.LINEAGE)
    lin = run.lineage.read(spark)
    assert [(f.name, f.dataType) for f in lin.schema.fields] == [
        (f.name, f.dataType) for f in S.LINEAGE.fields
    ]
    rows = lin.orderBy("round_id", "partition_id").collect()
    assert sum(e["rows"] for e in parts) == len(rows)
    ts = {}
    for r in rows:
        ts.setdefault(r["round_id"], set()).add(r["committed_ts"])
    assert sorted(ts) == list(range(run.last_committed_round() + 1))
    assert all(len(v) == 1 for v in ts.values()), "one committed_ts per round"
    stamps = [min(ts[k]) for k in sorted(ts)]
    assert stamps == sorted(stamps)
    assert t0 - 1 <= stamps[0].timestamp() <= stamps[-1].timestamp() <= t1 + 1
    last = max(ts)
    offsets = [r["frontier_offset"] for r in rows if r["round_id"] == last]
    assert sum(offsets) == run._enqueued_total() > 0


def test_slim_sinks_are_coalesced(spark, counted_crawl):
    """AQE coalesces the persisted schedule's rank shuffle too, so no
    round's done or fetch_log part holds one file per shuffle
    partition."""
    run, _, _ = counted_crawl
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert partitions == 8
    for table in (run.done, run.fetch_log):
        parts = table._manifest()["parts"]
        assert len(parts) > 2
        for e in parts:
            n = len(_part_files(table.part_dir(e)))
            assert 1 <= n < partitions, (table.root, e, n)
