"""URL-seen filter: one sharded Bloom over frontier URL hashes +
authoritative exact anti-joins.

Reference behavior re-expressed (SURVEY.md §2.1 S2/S6, §2.3 P3/P4):
``visitedDocs.txt`` is read fully into a Python list at startup
(``gdprCrawler.py:103-121``) and membership is ``hash in existing_docs``
— an O(n) list scan per candidate (!) — with the delta appended+flushed
only at end of run (``gdprCrawler.py:292-301``).

At 10^10 URLs the seen sets cannot live on one node.  Design:

- authoritative membership = **probe-shaped left-anti join**
  (:func:`anti_join_probe`): the big side is scanned, never shuffled.
  The document-key check (P3, prior-run ``seen`` keys) is this exact
  join alone — in a single-run crawl its prior-run side is empty, and
  in a re-crawl every re-listed document is a true member, so a Bloom
  in front of it would filter nothing.
- the frontier URL check (P5) puts a **sharded Bloom filter** (one
  bitset row per ``pmod(url_hash, SHARDS)`` shard, binary column) in
  front: rows the Bloom says are definitely-new skip membership checking
  entirely; only the (true-dup + false-positive) residue is probed
  against pending ∪ done.
- Bloom state is built/merged per shard with **cogrouped
  applyInPandas** (numpy-vectorized bit ops; no per-row Python), stored
  as rows so it snapshots/travels with the same table discipline as
  everything else (per-partition lineage, north_rule).

No false negatives by construction; FP rate bounded in
tests/test_seen.py with hypothesis.

Bloom over cuckoo (the north rule allows either): the URL-seen set is
append-only — a crawl never *unsees* a URL — so cuckoo's one advantage
(deletion) buys nothing here, while its insert path (displacement
chains, stash overflow) does not vectorize into the numpy bitset ops
the sharded builder runs per cogroup batch.  A cuckoo shard would slot
into the same (shard_id, binary state) row contract if a future table
needed deletes (e.g. retention-expired seen entries).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import BLOOM

SHARDS = 32
DEFAULT_K = 7
DEFAULT_M_BITS = 1 << 20
# auto-sizing: with k=7 double-hashed probes, m/n ≈ 14 bits/item keeps the
# false-positive rate under ~1%; resize rebuilds are geometric (amortized
# O(1) per item) — see bloom_target_bits + tests/test_seen.py
BITS_PER_ITEM = 16


def bloom_target_bits(max_items_per_shard: int, floor_bits: int = DEFAULT_M_BITS) -> int:
    """Next power-of-two bitset size that keeps FP < ~1% at the given
    per-shard cardinality (ROADMAP #7: fixed 1<<20 capped capacity)."""
    need = max(floor_bits, BITS_PER_ITEM * max(int(max_items_per_shard), 1))
    m = floor_bits
    while m < need:
        m <<= 1
    return m


def anti_join_probe(small: DataFrame, big: DataFrame, key: str) -> DataFrame:
    """``small LEFT ANTI big ON key`` shaped so ``big`` is *scanned* but
    never shuffled.

    A plain left-anti can only broadcast its right (build) side — with a
    10^10-row seen/frontier table on the right that degrades to a full
    sort-merge shuffle of the big table every round.  Instead: probe big
    with a broadcast LEFT SEMI to pull out just the matching key rows
    (bounded by |small|), then broadcast-anti that tiny result back
    against small.  Big moves through a column-pruned scan only; with
    the table bucketed/sorted by ``key`` (Iceberg), the scan additionally
    prunes to matching buckets via min/max stats.
    """
    present = big.select(key).join(
        F.broadcast(small.select(key).distinct()), key, "left_semi"
    )
    return small.join(F.broadcast(present), key, "left_anti")


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mixer (public splitmix64 constants)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return x ^ (x >> np.uint64(31))


def _bit_indexes(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) array of bit positions for each hash (double hashing)."""
    h1 = hashes.astype(np.uint64)
    h2 = _splitmix64(h1) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


def _set_bits(bits: np.ndarray, idx: np.ndarray) -> None:
    np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """row-wise AND over k probes -> boolean 'maybe member' per row."""
    probes = (bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
    return probes.all(axis=1)


def shard_of(hash_col):
    return F.pmod(hash_col, F.lit(SHARDS)).cast("int")


def bloom_build(
    spark: SparkSession,
    new_hashes: DataFrame,
    prior_state: DataFrame | None = None,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge new url_hashes into per-shard Bloom bitsets.

    ``new_hashes`` needs a ``url_hash`` column; returns BLOOM rows.
    Incremental: prior shard bitsets are OR-merged with the new hashes'
    bits inside one cogrouped applyInPandas (one pass, no collect).
    ``m_bits`` only sizes *fresh* shards; existing shards keep their own
    bitset size (derived from the stored bytes), so a caller can grow the
    filter by rebuilding from the full hash set with a larger m_bits.
    """
    if prior_state is None:
        prior_state = spark.createDataFrame([], BLOOM)

    hashed = new_hashes.select(
        shard_of(F.col("url_hash")).alias("shard"),
        F.col("url_hash"),
    )

    def merge(key, new_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        if len(state_pdf):
            bits = np.frombuffer(state_pdf["bits"].iloc[0], dtype=np.uint8).copy()
            n_items = int(state_pdf["n_items"].iloc[0])
            m = len(bits) << 3  # shard's own size wins over the param
        else:
            bits = np.zeros(m_bits >> 3, dtype=np.uint8)
            n_items = 0
            m = m_bits
        if len(new_pdf):
            idx = _bit_indexes(new_pdf["url_hash"].to_numpy(np.int64), m, k)
            _set_bits(bits, idx.ravel())
            n_items += len(new_pdf)
        return pd.DataFrame(
            {"shard": [shard], "bits": [bits.tobytes()], "n_items": [n_items]}
        )

    return (
        hashed.groupBy("shard")
        .cogroup(prior_state.groupBy("shard"))
        .applyInPandas(merge, schema=BLOOM)
    )


def bloom_flag(
    candidates: DataFrame,
    state: DataFrame,
    hash_col: str = "url_hash",
    k: int = DEFAULT_K,
) -> DataFrame:
    """Add ``maybe_seen boolean`` to candidates via the sharded Bloom.

    Cogrouped by shard so each group sees exactly one bitset copy (the
    bitset is never replicated per row, only per shard-group).  Each
    shard's m_bits is derived from its stored bitset length, so shards
    resized at different times still probe correctly.
    """
    from pyspark.sql import types as T

    cols = list(candidates.columns)
    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    cand = candidates.withColumn("__shard", shard_of(F.col(hash_col)))

    def flag(key, cand_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf[cols].copy()
        if not len(cand_pdf):
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        if not len(state_pdf):
            out["maybe_seen"] = False
            return out
        bits = np.frombuffer(state_pdf["bits"].iloc[0], dtype=np.uint8)
        idx = _bit_indexes(cand_pdf[hash_col].to_numpy(np.int64), len(bits) << 3, k)
        out["maybe_seen"] = _test_bits(bits, idx)
        return out

    return (
        cand.groupBy("__shard")
        .cogroup(state.groupBy("shard"))
        .applyInPandas(flag, schema=out_schema)
    )


def dedupe_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | None = None,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Rows of ``candidates`` whose ``url_hash`` is not in ``seen``.

    With ``bloom`` state: definitely-new rows bypass membership checking
    entirely; only the (true-dup + false-positive) residue is verified
    exactly — via :func:`anti_join_probe`, so the big ``seen`` side is
    scanned, never shuffled.  Without Bloom: the probe-shaped anti-join
    alone (still the authoritative path — Bloom is an optimization,
    never the truth).
    """
    if bloom is None:
        return anti_join_probe(candidates, seen, hash_col)
    flagged = bloom_flag(candidates, bloom, hash_col=hash_col)
    fresh = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspected = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    survived = anti_join_probe(suspected, seen, hash_col)
    return fresh.unionByName(survived)
