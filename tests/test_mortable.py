"""MorTable commit-sequence semantics + compaction triggers.

Round-2 ADVICE (medium): equality tombstones without sequence numbers
permanently shadow any later re-add of the same key — a URL fetched and
tombstoned in round k, then re-listed with a new title, would be
silently deleted where the reference fetches it again.  Parts now carry
their commit sequence (Iceberg's data-sequence-number) and a tombstone
only deletes rows from strictly earlier commits.
"""

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.types as T
from pyspark.sql import functions as F

from crawler_spark.tables import MorTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("retry", T.IntegerType()),
        T.StructField("v", T.StringType()),
    ]
)


def _mk(tmp_path, **kw):
    return MorTable(str(tmp_path / "t"), SCHEMA, delete_keys=["k", "retry"], **kw)


def _rows(spark, t):
    return sorted(map(tuple, t.read(spark).select("k", "retry", "v").collect()))


def test_tombstone_only_shadows_earlier_commits(spark, tmp_path):
    t = _mk(tmp_path)
    df = lambda rows: spark.createDataFrame(rows, SCHEMA)
    t.commit_delta(spark, adds=df([(1, 0, "a"), (2, 0, "b")]))
    # delete (1,0), then RE-ADD the exact same key tuple in a later commit
    t.commit_delta(spark, deletes=df([(1, 0, "x")]).select("k", "retry"))
    assert _rows(spark, t) == [(2, 0, "b")]
    t.commit_delta(spark, adds=df([(1, 0, "a2")]))
    # the stale tombstone must NOT shadow the newer add
    assert _rows(spark, t) == [(1, 0, "a2"), (2, 0, "b")]


def test_same_commit_adds_survive_their_own_tombstones(spark, tmp_path):
    t = _mk(tmp_path)
    df = lambda rows: spark.createDataFrame(rows, SCHEMA)
    t.commit_delta(spark, adds=df([(1, 0, "a")]))
    # one commit that both removes the old row and re-adds the key
    t.commit_delta(
        spark,
        adds=df([(1, 0, "new")]),
        deletes=df([(1, 0, "_")]).select("k", "retry"),
    )
    assert _rows(spark, t) == [(1, 0, "new")]


def test_row_volume_compaction_trigger(spark, tmp_path):
    """Tombstoned row volume >= frac * base rows folds the table — the
    manifest-statistics trigger (VERDICT round 2, next #10)."""
    t = _mk(tmp_path, compact_after=1000, compact_rows_frac=0.25, compact_min_rows=10)
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(0).alias("retry"),
        F.col("id").cast("string").alias("v"),
    )
    t.commit_delta(spark, adds=base)
    assert len(t.base_parts()) == 1
    # 10 tombstones: 10 < 0.25*100 -> no compaction
    t.commit_delta(
        spark, deletes=spark.range(0, 10).select(F.col("id").alias("k"), F.lit(0).alias("retry"))
    )
    assert len(t._manifest()["delete_parts"]) == 1
    # 20 more (30 total >= 25) -> row trigger fires, tombstones fold away
    t.commit_delta(
        spark, deletes=spark.range(10, 30).select(F.col("id").alias("k"), F.lit(0).alias("retry"))
    )
    assert t._manifest()["delete_parts"] == []
    assert len(t.base_parts()) == 1
    assert t.read(spark).count() == 70


def test_min_rows_floor_blocks_toy_compaction(spark, tmp_path):
    t = _mk(tmp_path, compact_after=1000, compact_rows_frac=0.25, compact_min_rows=100_000)
    df = lambda rows: spark.createDataFrame(rows, SCHEMA)
    t.commit_delta(spark, adds=df([(i, 0, "x") for i in range(20)]))
    t.commit_delta(spark, deletes=df([(i, 0, "_") for i in range(19)]).select("k", "retry"))
    # 19/20 deleted but floor not met -> tombstones stay merge-on-read
    assert len(t._manifest()["delete_parts"]) == 1
    assert t.read(spark).count() == 1


def test_part_count_backstop_still_compacts(spark, tmp_path):
    t = _mk(tmp_path, compact_after=4, compact_min_rows=1 << 40)
    df = lambda rows: spark.createDataFrame(rows, SCHEMA)
    for i in range(4):
        t.commit_delta(
            spark,
            adds=df([(100 + i, 0, "a")]),
            deletes=df([(i, 0, "_")]).select("k", "retry"),
        )
    assert t._manifest()["delete_parts"] == []  # folded at the 4th commit
    assert t.read(spark).count() == 4


def test_overwrite_writes_a_seq_part(spark, tmp_path):
    """overwrite goes through the compaction writer: the one base part
    carries __seq, so tombstones from later commits still apply."""
    t = _mk(tmp_path)
    df = lambda rows: spark.createDataFrame(rows, SCHEMA)
    t.commit_delta(spark, adds=df([(9, 0, "old")]))
    t.overwrite(df([(1, 0, "a"), (2, 0, "b")]))
    (part,) = t.base_parts()
    files = glob.glob(os.path.join(t.root, part, "*.parquet"))
    assert files and all("__seq" in pq.read_schema(f).names for f in files)
    t.commit_delta(spark, deletes=df([(1, 0, "_")]).select("k", "retry"))
    assert _rows(spark, t) == [(2, 0, "b")]


def test_rows_bound_covers_visible_rows(spark, tmp_path):
    """rows_bound() reads only manifest statistics, and the round gates
    its fetch-join broadcast on it without a count, so it must never
    under-count: adds, tombstones, a re-add of a tombstoned key, then a
    compaction (after which it is exact)."""
    t = _mk(tmp_path, compact_after=3, compact_min_rows=1 << 40)
    df = lambda rows: spark.createDataFrame(rows, SCHEMA)
    keys = lambda ks: df([(k, 0, "_") for k in ks]).select("k", "retry")
    steps = [
        dict(adds=df([(i, 0, "a") for i in range(5)])),
        dict(deletes=keys([0, 1])),
        dict(adds=df([(0, 0, "re-added")])),
        dict(adds=df([(9, 0, "b")]), deletes=keys([2])),
        dict(deletes=keys([0])),  # third tombstone part: compacts
    ]
    for step in steps:
        t.commit_delta(spark, **step)
        assert t.rows_bound() >= t.read(spark).count()
    assert t._manifest()["delete_parts"] == []
    assert t.rows_bound() == t.read(spark).count() == 3
