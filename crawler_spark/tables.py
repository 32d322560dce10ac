"""Snapshot tables: parquet + JSON manifests with Iceberg-style discipline.

The north rule calls for Iceberg tables with snapshot commits and
time-travel.  The sandbox has no iceberg-spark-runtime jar, so this module
implements the same *discipline* over plain parquet: every write lands an
immutable data directory plus an immutable manifest JSON listing the
directories that make up the new snapshot, and moves the table's
in-memory ``head`` to it.  A part is written by the table (in the
declared schema) or adopted by RENAME from a directory an upstream
write produced (``adopt_part``, Iceberg's ``add_files``) — the way
``rounds.CrawlRun`` stages every round table's part.  The table writes
a DataFrame with Spark, and a ``pyarrow.Table`` (rows the driver
already holds, such as the lineage rows) with pyarrow and no Spark job,
the way Iceberg's committer writes its own commit metadata.  Readers
resolve a snapshot (the head or one by id) to a list of parquet paths
and hand them to ``spark.read.parquet`` — so predicate pushdown, column
pruning and partition-parallel scans all still apply.

A write only *stages* its snapshot: nothing on disk points at it until
the owner commits.  ``rounds.CrawlRun`` commits all of its tables at once
by an atomic replace of one catalog file naming every table's snapshot
(Iceberg's multi-table catalog commit), and sets each table's head from
that catalog when it opens a state dir — so a crash between two writes
leaves no half-committed state to roll back.

Every manifest carries its sequence number, ``seq = parent.seq + 1``
(0 for a table's first snapshot; Iceberg's ``last-sequence-number``), and
the snapshot id is ``s{seq:08d}-{uuid8}``.  Every part entry has one
shape, ``{path, seq, rows[, layout]}``: the sequence number of the
snapshot that wrote it, its footer row count, and — for adopted parts —
the layout tag its reader is keyed by.

On a real cluster, swap ``SnapshotTable`` for ``spark.table(...)`` +
``df.writeTo(...).append()`` against an Iceberg catalog — the engine only
uses read / stage (append, overwrite, adopt, merge-on-read delta) / time
travel, and commits through the catalog, all of which Iceberg provides
natively.

Reference behavior replaced: the crawler's only "commit" is an
end-of-run append+flush of visitedDocs.txt (``gdprCrawler.py:292-301``) —
a crash loses the whole run's seen-set delta.  Per-round snapshot commits
fix that (SURVEY.md §3.1 note 5).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# the manifest of a table with no snapshot: the first commit gets seq 0
_EMPTY = {"seq": -1, "parts": [], "delete_parts": []}


def _part_files(part_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(part_dir, "*.parquet")))


def read_part(part_dir: str, columns: list[str]) -> pa.Table:
    """``columns`` of a round-sized part, read on the driver (no job)."""
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in _part_files(part_dir)])


class SnapshotTable:
    """An append-mostly table with staged snapshot commits + time travel."""

    def __init__(self, root: str, schema: T.StructType):
        self.root = root
        self.schema = schema
        # adopted-part readers: layout tag -> fn(spark, [abs_paths])
        # returning a DataFrame in ``schema``.  Lets a part written by an
        # upstream stage in its own physical layout join the table by
        # RENAME instead of a full rewrite (Iceberg's add_files shape);
        # the owner registers the projection for each layout it adopts.
        self.layout_readers: dict = {}
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        # the snapshot reads resolve to and the next write's parent; the
        # owner sets it from its catalog (None: the table is empty)
        self.head: str | None = None

    # -- snapshot bookkeeping -------------------------------------------------

    def current_snapshot_id(self) -> str | None:
        return self.head

    def _manifest_path(self, snapshot_id: str) -> str:
        return os.path.join(self.root, "snapshots", snapshot_id + ".json")

    def _read_manifest(self, snapshot_id: str) -> dict:
        with open(self._manifest_path(snapshot_id)) as f:
            return json.load(f)

    def _manifest(self, snapshot_id: str | None = None) -> dict:
        """Manifest of ``snapshot_id`` (default: the head); an empty one
        when the table has no snapshot yet."""
        sid = snapshot_id or self.head
        return _EMPTY if sid is None else self._read_manifest(sid)

    def _commit(
        self, seq: int, parts: list, note: str, delete_parts: list | None = None
    ) -> str:
        """Write the manifest of a new snapshot (sequence ``seq``, parent
        the head) and move the head to it — staged until the owner's
        catalog names it."""
        snapshot_id = f"s{seq:08d}-{uuid.uuid4().hex[:8]}"
        manifest = {
            "snapshot_id": snapshot_id,
            "parent": self.head,
            "seq": seq,
            "parts": parts,
            "delete_parts": delete_parts or [],
            "note": note,
            "committed_at": time.time(),
        }
        with open(self._manifest_path(snapshot_id), "w") as f:
            json.dump(manifest, f)
        self.head = snapshot_id
        return snapshot_id

    def next_seq(self) -> int:
        """Sequence number the next staged snapshot gets."""
        return self._manifest()["seq"] + 1

    # -- writes ---------------------------------------------------------------

    def project(self, df: DataFrame, schema: T.StructType | None = None) -> DataFrame:
        """``df`` in the declared schema (name + type; default the table's):
        the boundary check every part passes, written here or adopted.  One
        SQL select is one call into the JVM where column objects cost
        several per column (~0.2 s a round on a cold JVM)."""
        cast = "CAST(`{0}` AS {1}) AS `{0}`"
        sch = schema if schema is not None else self.schema
        return df.selectExpr(*[cast.format(f.name, f.dataType.simpleString()) for f in sch.fields])

    def _write_part(self, df: DataFrame) -> str:
        """Write an already-projected frame as a new part directory."""
        part = os.path.join("data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(os.path.join(self.root, part))
        return part

    def _part_rows(self, part: str) -> int:
        """Exact row count of a written part from the parquet footers —
        driver-side metadata reads, no Spark job (the manifest statistic
        Iceberg keeps natively)."""
        files = _part_files(os.path.join(self.root, part))
        return sum(pq.read_metadata(f).num_rows for f in files)

    def _new_entry(self, part: str, seq: int) -> dict:
        return {"path": part, "seq": seq, "rows": self._part_rows(part)}

    def _add_part(self, part: str, note: str, layout: str | None = None) -> str:
        m = self._manifest()
        seq = m["seq"] + 1
        entry = self._new_entry(part, seq)
        if layout is not None:
            entry["layout"] = layout
        return self._commit(seq, m["parts"] + [entry], note)

    def append(self, df: DataFrame | pa.Table, note: str = "append") -> str:
        """Stage ``df`` as a new part: a DataFrame is written by Spark, a
        ``pyarrow.Table`` (rows the driver already holds, e.g. a lineage
        row per shard) by the driver with no Spark job."""
        if not isinstance(df, pa.Table):
            return self._add_part(self._write_part(self.project(df)), note)
        part = os.path.join("data", uuid.uuid4().hex)
        os.makedirs(os.path.join(self.root, part))
        # the cast is project()'s boundary check: names, types, nullability
        pq.write_table(
            df.cast(to_arrow_schema(self.schema)),
            os.path.join(self.root, part, "part-00000.parquet"),
        )
        return self._add_part(part, note)

    def append_read(self, spark: SparkSession, df: DataFrame, note: str = "append"):
        """Append ``df`` and return (snapshot_id, re-read of the part just
        written).  The re-read is a plain parquet scan of the delta —
        a caller that needs the delta again reuses the materialized
        bytes instead of recomputing the delta's whole upstream DAG."""
        new_part = self._write_part(self.project(df))
        sid = self._add_part(new_part, note)
        return sid, spark.read.schema(self.schema).parquet(
            os.path.join(self.root, new_part)
        )

    def overwrite(self, df: DataFrame, note: str = "overwrite") -> str:
        seq = self.next_seq()
        part = self._write_part(self.project(df))
        return self._commit(seq, [self._new_entry(part, seq)], note)

    def _adopt(self, src_dir: str) -> str:
        """Move an already-written parquet directory under ``data/``."""
        part = os.path.join("data", uuid.uuid4().hex)
        dst = os.path.join(self.root, part)
        try:
            os.rename(src_dir, dst)
        except OSError:  # cross-device state layouts: fall back to copy
            shutil.move(src_dir, dst)
        return part

    def adopt_part(self, src_dir: str, note: str, layout: str | None = None) -> str:
        """Commit an already-materialized parquet directory as a new part
        by RENAME — zero data movement (Iceberg's ``add_files`` shape).

        With ``layout=None`` the files hold the table's columns (extra
        columns are ignored by the schema'd scan); otherwise ``read()``
        maps them into the table schema through the registered
        ``layout_readers[layout]`` projection.  This lets the round's two
        writes double as every table's parts instead of being read back
        and re-written (the reference writes each document's files
        exactly once too — pygdpr/models/dpa/austria/__init__.py:127-148)."""
        return self._add_part(self._adopt(src_dir), note, layout)

    def last_part(self) -> dict:
        """The head manifest's most recently added part entry."""
        return self._manifest()["parts"][-1]

    def part_dir(self, entry: dict) -> str:
        return os.path.join(self.root, entry["path"])

    # -- reads ----------------------------------------------------------------

    def _paths(self, parts: list) -> list[str]:
        return [self.part_dir(e) for e in parts]

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        """Read latest snapshot, or time-travel to ``snapshot_id``."""
        parts = self._manifest(snapshot_id)["parts"]
        if not parts:
            return spark.createDataFrame([], self.schema)
        # all parts of one layout read as ONE multi-path scan — the plan
        # stays O(layouts), not O(rounds); plain parts are layout None
        by_layout: dict[str | None, list] = {}
        for e in parts:
            by_layout.setdefault(e.get("layout"), []).append(e)
        scans = [
            spark.read.schema(self.schema).parquet(*self._paths(ps))
            if layout is None
            else self.layout_readers[layout](spark, self._paths(ps))
            for layout, ps in by_layout.items()
        ]
        df = scans[0]
        for s in scans[1:]:
            df = df.unionByName(s)
        return df


class MorTable(SnapshotTable):
    """Merge-on-read table: add parts + equality-delete (tombstone) parts,
    the shape of Iceberg v2 row-level deletes.

    Every part carries the **commit sequence number** it was written at
    (Iceberg's data-sequence-number), and a row is visible iff no
    tombstone from a LATER commit carries its ``delete_keys`` tuple.
    That makes re-admission safe without key games: a URL fetched and
    tombstoned in round k can be re-added verbatim in round k+n — the
    stale tombstone no longer shadows it (round-2 ADVICE: a re-listed
    URL with a new title would otherwise be silently deleted where the
    reference fetches it again).

    Compaction folds tombstones into one fresh base part when EITHER
    trigger fires:

    - part count ≥ ``compact_after`` (manifest growth backstop), or
    - tombstoned row volume ≥ ``compact_rows_frac`` of base row volume
      AND ≥ ``compact_min_rows`` (the row-count trigger from manifest
      part statistics — 16 huge deltas compact as eagerly as 16 tiny
      ones don't; the floor keeps toy tables from compacting every
      commit, where folding buys nothing).

    Row counts come from the parquet footers at write time and live in
    the manifest, so the trigger costs zero Spark jobs.

    This is what replaces the per-round full frontier overwrite
    (VERDICT round 1, finding 4): a round commits only its own adds and
    tombstones, never a rewrite of the 10^10-row pending set.  On a
    real cluster this maps 1:1 onto Iceberg MERGE with merge-on-read
    equality deletes, both sides bucketed by url_hash so the anti-join
    is a storage-partitioned join (no shuffle).
    """

    def __init__(
        self,
        root: str,
        schema: T.StructType,
        delete_keys: list[str],
        compact_after: int = 16,
        compact_rows_frac: float = 0.25,
        compact_min_rows: int = 100_000,
    ):
        super().__init__(root, schema)
        self.delete_keys = list(delete_keys)
        self.delete_schema = T.StructType(
            [f for f in schema.fields if f.name in self.delete_keys]
        )
        self.compact_after = compact_after
        self.compact_rows_frac = compact_rows_frac
        self.compact_min_rows = compact_min_rows

    def _add_schema(self) -> T.StructType:
        return T.StructType(
            list(self.schema.fields) + [T.StructField("__seq", T.LongType())]
        )

    def _del_schema(self) -> T.StructType:
        return T.StructType(
            list(self.delete_schema.fields) + [T.StructField("__tseq", T.LongType())]
        )

    def stamp(self, df: DataFrame, seq: int, tomb: bool = False) -> DataFrame:
        """``df`` as an add (or tombstone) part of commit ``seq``: projected
        to the part schema with ``__seq`` (``__tseq``) set to ``seq``."""
        col, sch = ("__tseq", self._del_schema()) if tomb else ("__seq", self._add_schema())
        return self.project(df.withColumn(col, F.lit(seq).cast("long")), sch)

    def _seq_entry(self, src: DataFrame | str, seq: int, tomb: bool = False) -> dict:
        """An add (tombstone) part of commit ``seq``: a frame is stamped and
        written, a directory written as ``stamp(df, seq, tomb)`` adopted."""
        if isinstance(src, str):
            return self._new_entry(self._adopt(src), seq)
        return self._new_entry(self._write_part(self.stamp(src, seq, tomb)), seq)

    def _read_from(
        self, spark: SparkSession, parts: list, delete_parts: list
    ) -> DataFrame:
        if not parts:
            return spark.createDataFrame([], self.schema)
        # every part stores its commit sequence number as a column, so
        # the whole table is ONE multi-path parquet scan instead of an
        # N-part union plan — the read cost stays O(1) in plan size as
        # parts accumulate between compactions (the per-round MoR read is
        # on the crawl's fixed-cost path).  Iceberg equivalent:
        # data-sequence-number file metadata.
        adds = spark.read.schema(self._add_schema()).parquet(*self._paths(parts))
        if delete_parts:
            tomb = spark.read.schema(self._del_schema()).parquet(
                *self._paths(delete_parts)
            )
            r, t = adds.alias("r"), tomb.alias("t")
            cond = F.col("t.__tseq") > F.col("r.__seq")
            for k in self.delete_keys:
                cond = cond & (F.col(f"r.{k}") == F.col(f"t.{k}"))
            adds = r.join(t, cond, "left_anti")
        return adds.drop("__seq")

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        m = self._manifest(snapshot_id)
        return self._read_from(spark, m["parts"], m["delete_parts"])

    def overwrite(self, df: DataFrame, note: str = "overwrite") -> str:
        """Replace the table with ``df`` as one base part — the
        compaction writer's shape, so every part keeps ``__seq``."""
        seq = self.next_seq()
        return self._commit(seq, [self._seq_entry(df, seq)], note)

    def commit_delta(
        self,
        spark: SparkSession,
        adds: DataFrame | str | None = None,
        deletes: DataFrame | str | None = None,
        note: str = "delta",
    ) -> str | None:
        """One snapshot commit of (adds, tombstones), each a frame to write
        or a directory written as ``stamp(df, next_seq(), tomb)`` to adopt
        by rename.  Returns the add part's directory (None if no adds) —
        it stays on disk even when this commit compacts it away, so
        callers can read the round-sized delta back."""
        m = self._manifest()
        parts, dels = list(m["parts"]), list(m["delete_parts"])
        seq = m["seq"] + 1  # this commit's sequence number
        add = None
        if adds is not None:
            add = self._seq_entry(adds, seq)
            parts.append(add)
        if deletes is not None:
            dels.append(self._seq_entry(deletes, seq, tomb=True))
        base_rows = sum(e["rows"] for e in parts)
        tomb_rows = sum(e["rows"] for e in dels)
        row_trigger = (
            tomb_rows >= self.compact_min_rows
            and base_rows > 0
            and tomb_rows >= self.compact_rows_frac * base_rows
        )
        if len(dels) >= self.compact_after or row_trigger:
            parts = [self._seq_entry(self._read_from(spark, parts, dels), seq)]
            dels = []
            note += "+compact"
        self._commit(seq, parts, note, delete_parts=dels)
        return None if add is None else self.part_dir(add)

    def rows_bound(self) -> int:
        """Upper bound on visible rows, no Spark job: manifest add rows
        minus tombstone rows — valid while each tombstone keys a distinct
        row visible when it was written; exact after a compaction."""
        m = self._manifest()
        return sum(e["rows"] for e in m["parts"]) - sum(
            e["rows"] for e in m["delete_parts"]
        )

    def base_parts(self) -> list[str]:
        """Current data part paths (introspection for O(round) tests)."""
        return [e["path"] for e in self._manifest()["parts"]]
