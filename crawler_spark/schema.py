"""Declared schemas for every engine table (FIXTURES.md / SURVEY.md §1.3).

The reference's schema is fixed-by-convention, never declared (every
scraper emits the same record shape — e.g. the per-doc folder written at
``pygdpr/models/dpa/austria/__init__.py:127-148``).  Here it is declared
once and enforced at every table boundary.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The simulated web (BASELINE.json input_hint — authoritative shape).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Seed list (crawler-ref.csv:1-116 shape + per-scraper source dicts,
# e.g. pygdpr/models/dpa/austria/__init__.py:30-33).
SEEDS = T.StructType(
    [
        T.StructField("authority", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("politeness_delay_s", T.DoubleType(), False),
    ]
)

# robots.txt bodies per host (north_rule requirement; absent in reference).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("robots_txt", T.StringType(), True),
    ]
)

# URL frontier (reference: Pagination append-only list + cursor,
# pygdpr/models/common/pagination/__init__.py:1-33).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("authority", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),  # 0 listing, 1 doc, 2 file
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),  # deterministic crawl-order key
        T.StructField("state", T.StringType(), False),  # pending|scheduled|fetched|failed
        T.StructField("retry_count", T.IntegerType(), False),
        # carried metadata harvested at expansion time (title/date found on
        # the listing page — the reference carries these in loop locals).
        T.StructField("title", T.StringType(), True),
        T.StructField("release_date", T.DateType(), True),
        # final document key decided at expansion time (P4 — the
        # reference sets dict_hashcode before fetching,
        # pygdpr/models/dpa/denmark/__init__.py:135-140)
        T.StructField("doc_hash", T.StringType(), True),
        T.StructField("raw_hash", T.StringType(), True),
    ]
)

# Persistent URL-seen set (reference: visitedDocs.txt md5-per-line,
# gdprCrawler.py:103-121 read / 292-301 append).
SEEN = T.StructType(
    [
        T.StructField("doc_hash", T.StringType(), False),  # final key
        T.StructField("raw_hash", T.StringType(), False),  # md5(title), pre-suffix
        T.StructField("release_date", T.DateType(), True),
        T.StructField("seq", T.LongType(), False),
        T.StructField("run_id", T.LongType(), False),  # P3 = rows with run_id < cur
        T.StructField("first_seen_ts", T.TimestampType(), True),
    ]
)

# Sharded Bloom pre-filter state over frontier url_hashes (binary
# bitsets, one row per shard).
BLOOM = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)

# Extracted output (reference: per-doc folder + metadata.json,
# pygdpr/models/dpa/austria/__init__.py:127-148).
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_hash", T.StringType(), False),
        T.StructField("authority", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("release_date", T.DateType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)

# Fetch log (reference swallows HTTP errors -> None,
# pygdpr/models/dpa/austria/__init__.py:55-65; we record them).
FETCH_LOG = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # ok|miss(404)|robots_denied
        T.StructField("bytes", T.LongType(), True),
    ]
)

# Checkpoint lineage: one row per (round, partition) — north_rule.
# One ``<table>_snapshot`` id per table a round commits ("" = none yet);
# frontier_snapshot points at the *pending* MoR table, done_snapshot at
# the append-only terminal-row log (together they are "the frontier").
LINEAGE = T.StructType(
    [
        T.StructField("round_id", T.LongType(), False),
        T.StructField("frontier_snapshot", T.StringType(), False),
        T.StructField("done_snapshot", T.StringType(), False),
        T.StructField("seen_snapshot", T.StringType(), False),
        T.StructField("documents_snapshot", T.StringType(), False),
        T.StructField("fetch_log_snapshot", T.StringType(), False),
        T.StructField("metrics_snapshot", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("frontier_offset", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("extracted", T.LongType(), False),
        T.StructField("committed_ts", T.TimestampType(), False),
    ]
)

# Per-round per-host metrics.
METRICS = T.StructType(
    [
        T.StructField("round_id", T.LongType(), False),
        T.StructField("authority", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("expanded", T.LongType(), False),
        T.StructField("deduped", T.LongType(), False),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("bytes_extracted", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)
