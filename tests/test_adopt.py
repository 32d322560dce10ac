"""Adopted-part commits: the documents table takes the round's
``sink=doc`` scratch partition by RENAME (tables.adopt_part) instead of
reading the payload back and re-writing it — the round's one heavy
write doubles as the table part (Iceberg's add_files shape).

The reference writes each document's bytes exactly once too
(pygdpr/models/dpa/austria/__init__.py:127-148); byte-identity of the
adopted rows against the sequential oracle is enforced by the e2e
suites — this file pins the *mechanics*: layout-tagged manifest
entries, one multi-path scan per layout, time travel across adopted
snapshots, and mixed plain+adopted manifests (plain parts come only from
direct appends, such as the post-fetch-keyed documents) reading as one
frame.
"""

import os

from pyspark.sql import functions as F

from crawler_spark.fixtures import AS_OF, fixture_dir
from crawler_spark.rounds import CrawlRun


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
    assert all(p["layout"] == "extract_v1" for p in adopted)
    # manifest row statistics survive adoption (footer counts); the
    # post-fetch-keyed docs (slovenia) are the only plain-part rows
    n = run.documents.read(spark).count()
    plain_rows = sum(p["rows"] for p in parts if not p.get("layout"))
    assert sum(p["rows"] for p in adopted) + plain_rows == n > 0
    assert sum(p["rows"] for p in adopted) > plain_rows
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
    # a plain append (documents schema) lands next to adopted parts —
    # the shape the post-fetch-keyed documents append produces
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
