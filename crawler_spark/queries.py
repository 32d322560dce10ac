"""Query registry: every operator family from SURVEY.md §2 (plus the
training-data pack) as a (Spark callable, DuckDB oracle SQL) pair.

The Spark side is the engine's idiom — DataFrame API, broadcast hints,
anti-joins, windows, higher-order functions, Arrow UDF stages — while
each oracle is plain ANSI-ish SQL DuckDB runs on the same parquet to
cross-check row count, schema, and an order-insensitive value hash.
Numeric discipline that makes the hashes byte-stable across engines:

- money/value sums run in DECIMAL (exact), surfaced as rounded doubles;
- every hash derives from md5 (identical bytes on both engines); 60-bit
  integer hashes are ``int(md5_hex[:15], 16)`` on both sides;
- similarities are rounded to 6 decimals BEFORE ranking; all ranking
  orders carry a unique tie-break column;
- timestamps compare in integer microseconds (unix_micros/epoch_us).

Relational crawl-pattern queries run over the driver's TPC-H-ish tables
and mirror the crawl engine's plan shapes one-to-one: the anti-join is
P3's seen-filter (frontier.py admit_candidates), the per-key top-k
window is R1's politeness token bucket (frontier.py schedule), the
union+distinct is F1-F4 frontier expansion, the date filter is P1
retention, the global row_number is the ORDER BY seq crawl replay
(SURVEY.md §3.3).
"""

from __future__ import annotations

import tempfile
from datetime import date

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import corpus, linkgraph, metadata, multimodal, similarity, streaming
from . import frontier as frontier_mod
from . import urls as urls_mod

# -- DuckDB-side twins of the Spark expression fragments --------------------

DUCK_TOKENS = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"
)


def duck_h64(x: str) -> str:
    return f"cast(('0x' || substr(md5({x}), 1, 15)) as bigint)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # the test tables are single-row-group parquet files -> one input
    # split -> every downstream stage runs on ONE core.  Real corpus
    # tables have thousands of splits; emulate that here so UDF stages
    # and joins actually parallelize.
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# ===========================================================================
# Relational crawl-pattern queries (TPC-H-ish tables)
# ===========================================================================


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shape scan+agg: partial/final hash aggregate, pushdown."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(dec("l_quantity")).cast("double") / F.count("*"), 4
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
  cast(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) AS sum_disc_price,
  round(cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_seen_antijoin(spark, sf_dir):
    """P3 seen-filter shape: left-anti join (customers with no recent order)."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return cust.join(
        recent.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


ORACLE_SEEN_ANTIJOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= timestamp '2001-01-01')
"""


def q_politeness_topk(spark, sf_dir):
    """R1 token-bucket shape: top-3 rows per key by (date, key) window."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


ORACLE_POLITENESS = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
    cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) as bigint) AS rnk
  FROM orders) WHERE rnk <= 3
"""


def q_retention_window(spark, sf_dir):
    """P1 date-window retention + per-month metrics rollup."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    return (
        orders.groupBy(
            F.date_format(
                F.trunc(F.col("o_orderdate").cast("date"), "month"), "yyyy-MM"
            ).alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


ORACLE_RETENTION = """
SELECT strftime(date_trunc('month', cast(o_orderdate as date)), '%Y-%m') AS month,
  count(*) AS n_orders,
  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue
FROM orders
WHERE o_orderdate >= timestamp '1997-01-01' AND o_orderdate < timestamp '1999-01-01'
GROUP BY 1
"""


def q_dup_key_suffix(spark, sf_dir):
    """P4 duplicate-key suffixing: row_number over the raw key (documents)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("raw_hash").orderBy("doc_id")
    return (
        docs.select("doc_id", F.md5("text").alias("raw_hash"))
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "raw_hash",
            F.when(F.col("rn") == 1, F.col("raw_hash"))
            .otherwise(F.concat("raw_hash", F.lit("-"), F.col("rn").cast("string")))
            .alias("final_key"),
        )
    )


ORACLE_DUP_KEY = """
SELECT doc_id, raw_hash,
  CASE WHEN rn = 1 THEN raw_hash
       ELSE raw_hash || '-' || cast(rn as varchar) END AS final_key
FROM (SELECT doc_id, md5(text) AS raw_hash,
        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents)
"""


def q_frontier_union_dedupe(spark, sf_dir):
    """F1-F4 expansion shape: union of candidate sets + exact dedupe."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    b = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    return a.unionByName(b).distinct()


ORACLE_UNION = """
SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION
SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
"""


def q_broadcast_dim_metrics(spark, sf_dir):
    """Authority-dim shape: broadcast dim join + grouped metrics."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dim = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name", "r_name")
    return (
        cust.join(F.broadcast(dim), cust["c_nationkey"] == dim["n_nationkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_acctbal"),
        )
    )


ORACLE_BROADCAST_DIM = """
SELECT r_name, n_name, count(*) AS n_customers,
  round(cast(sum(cast(c_acctbal as decimal(18,2))) as double) / count(*), 4) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_crawl_order_replay(spark, sf_dir):
    """ORDER BY seq replay (SURVEY.md §3.3): total order over events.

    At engine scale seq is *assigned* arithmetically at expansion time
    (frontier.py) so no global sort is ever needed to define the order —
    this query is the replay/verification view of that order.
    """
    ev = _t(spark, sf_dir, "events")
    # distributed total order (zipWithIndex shape): range-partition by the
    # sort key, count per partition, prefix-sum the (tiny, P-row) counts
    # into offsets, then rank WITHIN partitions and add the offset.  No
    # single-reducer global window ever sees the data; the only
    # unpartitioned window below runs over P rows (one per partition).
    P = spark.sparkContext.defaultParallelism
    # persist the range-partitioned frame: the per-partition offsets and
    # the rank join below BOTH consume it, and correctness of the
    # __pid->offset alignment requires them to see the SAME physical
    # partitioning — range boundaries are re-sampled per exchange, so
    # relying on Spark's exchange reuse is fragile (round-2 ADVICE).
    # The persist pins one materialization; the context cleaner reclaims
    # it when the frame is garbage collected.
    parts = (
        ev.repartitionByRange(P, "ts", "event_id")
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parts.groupBy("__pid")
        .count()
        .withColumn("__off", F.coalesce(F.sum("count").over(w_off), F.lit(0)))
        .drop("count")
    )
    w_in = Window.partitionBy("__pid").orderBy("ts", "event_id")
    return (
        parts.join(F.broadcast(offsets), "__pid")
        .select(
            "event_id",
            (F.row_number().over(w_in) + F.col("__off")).cast("bigint").alias("seq"),
        )
    )


ORACLE_REPLAY = """
SELECT event_id, cast(row_number() OVER (ORDER BY ts, event_id) as bigint) AS seq
FROM events
"""


def q_skew_salted_agg(spark, sf_dir):
    """Hot-key skew kill: salted two-stage aggregation (SURVEY.md §4.1).

    Same result as a plain groupBy — the salt only splits reducer load;
    the oracle is the unsalted SQL.
    """
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(8)))
        .groupBy("user_id", "salt")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
    )
    return partial.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.round(F.sum("s").cast("double"), 2).alias("sum_value"),
    )


ORACLE_SALTED = """
SELECT user_id, cast(count(*) as bigint) AS n_events,
  round(cast(sum(cast(value as decimal(18,2))) as double), 2) AS sum_value
FROM events GROUP BY user_id
"""


def q_windowed_agg(spark, sf_dir):
    """Streaming twin: tumbling 1h windowed aggregation (streaming.py)."""
    out = streaming.windowed_counts_batch(_t(spark, sf_dir, "events"))
    return out.select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n_events",
        "sum_value",
    )


ORACLE_WINDOWED = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
  count(*) AS n_events,
  round(cast(sum(cast(value as decimal(18,2))) as double), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (streaming.py batch twin)."""
    out = streaming.sessionize_batch(_t(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        F.unix_micros(F.col("session_start").cast("timestamp_ltz")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp_ltz")).alias("end_us"),
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
    cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) as bigint) AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*) AS n_events,
  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
FROM sess GROUP BY user_id, session_id
"""


def q_frontier_schedule_sim(spark, sf_dir):
    """FLAGSHIP: the crawl scheduler's full plan shape on public tables.

    pending (P1 retention filter) -> anti-join vs seen (P3) -> per-host
    politeness top-k (R1 token bucket) — the exact stage order
    rounds.py runs, with customers standing in for hosts.
    """
    orders = _t(spark, sf_dir, "orders")
    pending = orders.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    seen = (
        orders.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        pending.join(seen, "o_custkey", "left_anti")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 2)
        .select(
            F.col("o_custkey").alias("host"),
            "o_orderkey",
            "rnk",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("scheduled_at"),
        )
    )


ORACLE_SCHEDULE_SIM = """
WITH pending AS (
  SELECT * FROM orders WHERE o_orderdate >= timestamp '1999-01-01'
), seen AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < timestamp '1996-01-01'
), sched AS (
  SELECT p.o_custkey, p.o_orderkey, p.o_orderdate,
    cast(row_number() OVER (PARTITION BY p.o_custkey ORDER BY p.o_orderdate, p.o_orderkey) as bigint) AS rnk
  FROM pending p WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.o_custkey = p.o_custkey))
SELECT o_custkey AS host, o_orderkey, rnk,
  strftime(cast(o_orderdate as date), '%Y-%m-%d') AS scheduled_at
FROM sched WHERE rnk <= 2
"""


# ===========================================================================
# Training-data pack: documents
# ===========================================================================


def q_dedup_exact(spark, sf_dir):
    return corpus.exact_dedup(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
WITH h AS (SELECT doc_id, md5(text) AS raw_hash FROM documents),
g AS (SELECT raw_hash, min(doc_id) AS canonical_id, count(*) AS group_size
      FROM h GROUP BY raw_hash)
SELECT h.doc_id, h.raw_hash, g.canonical_id, g.group_size
FROM h JOIN g USING (raw_hash)
"""

_DUCK_SHINGLES3 = (
    "list_distinct(list_transform(generate_series(1, greatest(len(tokens) - 2, 0)),"
    " i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))"
)


def q_dedup_ngram_jaccard(spark, sf_dir):
    return corpus.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


ORACLE_NGRAM_JACCARD = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
s AS (SELECT doc_id, {_DUCK_SHINGLES3} AS sh FROM t),
s2 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s2),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
    round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
  FROM common
  JOIN s2 sa ON sa.doc_id = doc_a
  JOIN s2 sb ON sb.doc_id = doc_b)
WHERE jaccard >= 0.5
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """Registered scale path runs with the band-bucket cap ON (VERDICT
    round 2: a boilerplate bucket goes quadratic at 100 TB without it).
    The cap is sized far above any honest fixture bucket (max observed 13
    at sf0.1) so the DuckDB oracle — the uncapped twin — stays
    hash-identical; the planted-cluster skew tests exercise the tripped
    path (tests/test_skew_cap.py)."""
    return corpus.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=3, n_hashes=16, n_bands=8,
        threshold=0.5, max_bucket=256,
    )


# DuckDB list literals of the md5-derived permutation coefficients —
# the same constants the Arrow UDF uses (corpus.minhash_coeffs), so the
# two engines compute identical signatures
_MINHASH_A_SQL, _MINHASH_B_SQL = (
    "[" + ", ".join(str(c) for c in cs) + "]"
    for cs in corpus.minhash_coeffs(16)
)

ORACLE_MINHASH = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
s AS (SELECT doc_id, {_DUCK_SHINGLES3} AS sh FROM t),
s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
h AS (SELECT doc_id, sh,
    list_transform(sh, x -> {duck_h64('x')} % {corpus.MINHASH_P}) AS hs
  FROM s2),
sig AS (
  SELECT doc_id, sh,
    list_transform(generate_series(0, 15), i ->
      list_aggregate(list_transform(hs, hx ->
        ({_MINHASH_A_SQL}[i + 1] * hx + {_MINHASH_B_SQL}[i + 1])
        % {corpus.MINHASH_P}), 'min')) AS sig
  FROM h),
bands AS (
  SELECT doc_id, g.b AS band_idx,
    md5(array_to_string(list_slice(sig, g.b * 2 + 1, g.b * 2 + 2), '|')) AS band_key
  FROM sig, generate_series(0, 7) AS g(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id),
j AS (
  SELECT doc_a, doc_b,
    len(list_intersect(sa.sh, sb.sh)) AS n_common,
    len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand JOIN s2 sa ON sa.doc_id = doc_a JOIN s2 sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b, round(n_common / (na + nb - n_common), 4) AS jaccard FROM j)
WHERE jaccard >= 0.5
"""


def q_dedup_simhash(spark, sf_dir):
    """Cap ON for the registered scale path (see q_dedup_minhash_lsh).
    SimHash buckets concentrate harder than MinHash bands (random text
    hashes near the mean vector: max bucket 86 at sf0.01, 748 at sf0.1),
    so the cap is sized ABOVE the largest honest bucket at every scale
    the engine is correctness- or bench-checked at (round-3 ADVICE: the
    old 512 silently dropped sf0.1 buckets the uncapped oracle keeps) —
    parity with the DuckDB twin holds at both sf0.01 and sf0.1, while a
    planted boilerplate mega-cluster still trips the cap
    (tests/test_skew_cap.py)."""
    return corpus.simhash_pairs(
        _t(spark, sf_dir, "documents"), bits=32, n_bands=4, max_hamming=3,
        max_bucket=1024,
    )


ORACLE_SIMHASH = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
h AS (SELECT doc_id, list_transform(tokens, w -> {duck_h64('w')}) AS hs
      FROM t WHERE len(tokens) > 0),
sh AS (
  SELECT doc_id, cast(list_aggregate(list_transform(generate_series(0, 31), b ->
    CASE WHEN list_aggregate(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1), 'sum') > 0
         THEN (cast(1 as bigint) << b) ELSE cast(0 as bigint) END), 'sum') as bigint) AS simhash
  FROM h),
bands AS (
  SELECT doc_id, simhash, g.b AS band_idx, (simhash >> (g.b * 8)) & 255 AS band_val
  FROM sh, generate_series(0, 3) AS g(b))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming
FROM bands a JOIN bands b USING (band_idx, band_val)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_components(spark, sf_dir):
    """Near-dup CLUSTER resolution: MinHash + SimHash emit pairwise
    evidence; the canonical doc per cluster is connected components
    over the union of both pair graphs (transitive: A~B by minhash and
    B~C by simhash put A and C in one cluster even though no operator
    ever paired them).  linkgraph.connected_components is min-label
    propagation with pointer-doubling shortcuts — O(log diameter)
    rounds, deterministic at any parallelism because min is exactly
    associative.  The DuckDB twin is the same fixpoint as a recursive
    CTE (transitive closure then min per node — tractable at oracle
    scale, quadratic at 100 TB, which is why the engine ships the
    log-round propagation instead)."""
    docs = _t(spark, sf_dir, "documents")
    mh = corpus.minhash_lsh_pairs(
        docs, k=3, n_hashes=16, n_bands=8, threshold=0.5, max_bucket=256,
    ).select("doc_a", "doc_b")
    sh = corpus.simhash_pairs(
        docs, bits=32, n_bands=4, max_hamming=3, max_bucket=1024,
    ).select("doc_a", "doc_b")
    return linkgraph.connected_components(
        mh.unionByName(sh), src_col="doc_a", dst_col="doc_b",
    )


ORACLE_COMPONENTS = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLE_MINHASH}) mh
  UNION
  SELECT doc_a, doc_b FROM ({ORACLE_SIMHASH}) sh
),
sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT u AS node, u AS r FROM sym
  UNION
  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.node
)
SELECT cast(node as bigint) AS node, cast(min(r) as bigint) AS component
FROM reach GROUP BY node
"""


def q_fingerprints(spark, sf_dir):
    return corpus.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=5, w=4)


_DUCK_KGRAM5 = (
    "tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' || "
    "tokens[i+3] || ' ' || tokens[i+4]"
)

ORACLE_FINGERPRINTS = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
h AS (SELECT doc_id,
        list_transform(generate_series(1, greatest(len(tokens) - 4, 0)),
          i -> {duck_h64(_DUCK_KGRAM5)}) AS hs
      FROM t),
f AS (SELECT doc_id,
        list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
          i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))) AS fps
      FROM h WHERE len(hs) > 0)
SELECT doc_id, unnest(fps) AS fp FROM f
"""


def q_text_langid(spark, sf_dir):
    return corpus.lang_id(_t(spark, sf_dir, "documents"))


def _duck_stop(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in corpus.STOPWORDS[lang])
    return (
        f"cast(len(list_filter(tokens, x -> list_contains([{words}], x))) as bigint)"
    )


ORACLE_LANGID = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
s AS (SELECT doc_id, {_duck_stop('en')} AS s_en, {_duck_stop('de')} AS s_de,
        {_duck_stop('fr')} AS s_fr FROM t)
SELECT doc_id,
  CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_pred,
  greatest(s_en, s_de, s_fr) AS score
FROM s
"""


def q_text_quality(spark, sf_dir):
    return corpus.quality(_t(spark, sf_dir, "documents"))


_DUCK_EN = ", ".join(f"'{w}'" for w in corpus.STOPWORDS["en"])

ORACLE_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {DUCK_TOKENS} AS tokens FROM documents),
q AS (
  SELECT doc_id,
    cast(length(text) as bigint) AS n_chars,
    cast(len(tokens) as bigint) AS n_tokens,
    round(list_aggregate(list_transform(tokens, x -> length(x)), 'sum') / len(tokens), 4) AS avg_token_len,
    round((length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) / length(text), 4) AS punct_ratio,
    round(len(list_filter(tokens, x -> list_contains([{_DUCK_EN}], x))) / len(tokens), 4) AS stopword_ratio
  FROM t WHERE len(tokens) > 0)
SELECT doc_id, n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
  round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio), 4) AS quality_score
FROM q
"""


def q_text_tokens(spark, sf_dir):
    return corpus.token_stats(_t(spark, sf_dir, "documents"))


ORACLE_TOKENS = f"""
SELECT doc_id,
  cast(len({DUCK_TOKENS}) as bigint) AS ws_tokens,
  cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as bigint) AS bpe_tokens
FROM documents
"""


def _gopher_augmented(spark, sf_dir):
    """documents with deterministic structure planted per doc_id % 6 so
    every Gopher rule exercises both branches (the synthetic corpus has
    no newlines/bullets/symbols): 0 -> bullet lines past the 0.9 cap,
    1 -> ellipsis lines past 0.3, 2 -> '#' symbols past the 0.1 ratio,
    3 -> all 8 required stopwords (keeps), 4 -> 60 numeric words
    (frac_alpha below 0.8), 5 -> untouched.  Same CASE in the oracle."""
    aug = F.expr(
        "case cast(doc_id % 6 as int) "
        "when 0 then concat(text,"
        " '\n- one\n- two\n- three\n- four\n- five"
        "\n- six\n- seven\n- eight\n- nine\n- ten') "
        "when 1 then concat(text, '\nwait...\nmore...') "
        "when 2 then concat(text, ' ', repeat('# ', 20)) "
        "when 3 then concat(text, ' the be to of and that have with') "
        "when 4 then concat(text, ' ', repeat('0 ', 60)) "
        "else text end"
    )
    return _t(spark, sf_dir, "documents").select("doc_id", aug.alias("text"))


_DUCK_GOPHER_AUG = (
    "SELECT doc_id, CASE cast(doc_id % 6 as int)"
    " WHEN 0 THEN text || chr(10) || '- one' || chr(10) || '- two'"
    "   || chr(10) || '- three' || chr(10) || '- four' || chr(10) || '- five'"
    "   || chr(10) || '- six' || chr(10) || '- seven' || chr(10) || '- eight'"
    "   || chr(10) || '- nine' || chr(10) || '- ten'"
    " WHEN 1 THEN text || chr(10) || 'wait...' || chr(10) || 'more...'"
    " WHEN 2 THEN text || ' ' || repeat('# ', 20)"
    " WHEN 3 THEN text || ' the be to of and that have with'"
    " WHEN 4 THEN text || ' ' || repeat('0 ', 60)"
    " ELSE text END AS text FROM documents"
)


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule webtext quality gate (corpus.gopher_quality): the 7
    per-document signals + the combined keep verdict, thresholds applied
    to 4-place-rounded ratios so the verdict is engine-exact."""
    return corpus.gopher_quality(_gopher_augmented(spark, sf_dir))


_DUCK_GOPHER_STOPS = ", ".join(f"'{w}'" for w in corpus.GOPHER_STOPWORDS)

ORACLE_GOPHER = f"""
WITH a AS ({_DUCK_GOPHER_AUG}),
t AS (SELECT doc_id, text, {DUCK_TOKENS} AS tokens,
        str_split(text, chr(10)) AS lines
      FROM a WHERE trim(text) <> ''),
q AS (SELECT doc_id,
    cast(len(tokens) as bigint) AS n_words,
    round(list_aggregate(list_transform(tokens, x -> length(x)), 'sum') / len(tokens), 4) AS mean_word_len,
    round(len(list_filter(tokens, x -> regexp_matches(x, '[A-Za-z]'))) / len(tokens), 4) AS frac_alpha_words,
    round(len(regexp_extract_all(text, '#|\\.\\.\\.')) / len(tokens), 4) AS sym_ratio,
    cast(len(list_filter([{_DUCK_GOPHER_STOPS}], w -> list_contains(tokens, w))) as bigint) AS n_stop_hits,
    round(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) / len(lines), 4) AS frac_bullet_lines,
    round(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) / len(lines), 4) AS frac_ellipsis_lines
  FROM t)
SELECT *,
  (n_words >= 50 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND sym_ratio <= 0.1 AND frac_alpha_words >= 0.8
   AND n_stop_hits >= 2 AND frac_bullet_lines <= 0.9
   AND frac_ellipsis_lines <= 0.3) AS keep
FROM q
"""


def _c4_augmented(spark, sf_dir):
    """documents with line structure planted per doc_id % 6 so every C4
    rule exercises both branches (the synthetic corpus is single-line):
    0 -> a javascript boilerplate line between two good sentences,
    1 -> a 'Lorem Ipsum' phrase PLUS five good sentences (so the page
    drop is attributable to the phrase rule alone), 2 -> a curly-brace
    code line plus the same five (brace rule alone), 3 -> lines
    without terminal punctuation, 4 -> under-3-word lines, 5 -> the
    five surviving sentences (page keep).  Same CASE in the oracle."""
    good5 = (
        "\nOne good sentence stands right here."
        "\nAnother good sentence stands right here."
        "\nA third good sentence stands right here."
        "\nA fourth good sentence stands right here."
        "\nA fifth good sentence stands right here."
    )
    aug = F.expr(
        "case cast(doc_id % 6 as int) "
        "when 0 then concat(text,"
        " '\nPlease enable JavaScript to view the comments."
        "\nThis perfectly ordinary sentence should survive the filter.') "
        "when 1 then concat(text,"
        f" '\nThe Lorem Ipsum dolor sit amet passage continues here.{good5}') "
        f"when 2 then concat(text, '\nfunction f() {{ return 1; }}{good5}') "
        "when 3 then concat(text,"
        " '\nA line with no terminal punctuation at all"
        "\nAnother dangling line without an ending') "
        "when 4 then concat(text, '\nToo short.\nNo. Way.') "
        f"when 5 then concat(text, '{good5}') "
        "else text end"
    )
    return _t(spark, sf_dir, "documents").select("doc_id", aug.alias("text"))


_DUCK_GOOD5 = (
    "chr(10) || 'One good sentence stands right here.'"
    " || chr(10) || 'Another good sentence stands right here.'"
    " || chr(10) || 'A third good sentence stands right here.'"
    " || chr(10) || 'A fourth good sentence stands right here.'"
    " || chr(10) || 'A fifth good sentence stands right here.'"
)

_DUCK_C4_AUG = (
    "SELECT doc_id, CASE cast(doc_id % 6 as int)"
    " WHEN 0 THEN text || chr(10) ||"
    "   'Please enable JavaScript to view the comments.' || chr(10) ||"
    "   'This perfectly ordinary sentence should survive the filter.'"
    " WHEN 1 THEN text || chr(10) ||"
    "   'The Lorem Ipsum dolor sit amet passage continues here.' || "
    + _DUCK_GOOD5
    + " WHEN 2 THEN text || chr(10) || 'function f() { return 1; }' || "
    + _DUCK_GOOD5
    + " WHEN 3 THEN text || chr(10) ||"
    "   'A line with no terminal punctuation at all' || chr(10) ||"
    "   'Another dangling line without an ending'"
    " WHEN 4 THEN text || chr(10) || 'Too short.' || chr(10) || 'No. Way.'"
    " WHEN 5 THEN text || " + _DUCK_GOOD5 + " ELSE text END AS text FROM documents"
)


def q_c4_filter(spark, sf_dir):
    """C4 line-level cleaning filter (corpus.c4_line_filter): per-line
    terminal-punctuation / 3-word / javascript rules + the page-level
    lorem-ipsum / curly-brace / 5-surviving-lines gates; the md5 of the
    surviving lines makes one wrongly kept/dropped line fail the hash
    gate."""
    return corpus.c4_line_filter(_c4_augmented(spark, sf_dir))


ORACLE_C4 = f"""
WITH a AS ({_DUCK_C4_AUG}),
t AS (SELECT doc_id, text, str_split(text, chr(10)) AS lines FROM a),
k AS (SELECT doc_id, text, lines,
        list_filter(lines, l -> regexp_matches(trim(l), '[.!?"'']$')
          AND len(string_split_regex(trim(l), ' +')) >= 3
          AND NOT regexp_matches(lower(l), 'javascript')) AS kept
      FROM t)
SELECT doc_id,
  cast(len(lines) as bigint) AS n_lines,
  cast(len(kept) as bigint) AS n_kept,
  (len(kept) >= 5 AND NOT contains(lower(text), 'lorem ipsum')
   AND NOT contains(text, '{{')) AS page_keep,
  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
FROM k
"""


def q_unigram_nll(spark, sf_dir):
    """CCNet-style unigram-LM perplexity signal (corpus.unigram_nll):
    per-doc mean token negative log-likelihood under the corpus's own
    unigram distribution, keep threshold 3.41 nats (the fixture corpus
    median, so both verdict branches carry weight)."""
    return corpus.unigram_nll(_t(spark, sf_dir, "documents"), nll_threshold=3.41)


ORACLE_UNIGRAM_NLL = f"""
WITH d AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
t AS (SELECT doc_id, unnest(tokens) AS tok FROM d),
v AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
tot AS (SELECT sum(c) AS T FROM v),
s AS (SELECT doc_id, -ln(c / T) AS nll FROM t JOIN v USING (tok), tot)
SELECT doc_id, cast(count(*) as bigint) AS n_tokens,
  round(avg(nll), 4) AS mean_nll,
  round(avg(nll), 4) <= 3.41 AS keep
FROM s GROUP BY doc_id
"""


def q_text_repetition(spark, sf_dir):
    """Gopher repetition signals over word bigrams
    (corpus.ngram_repetition, n=2)."""
    return corpus.ngram_repetition(_t(spark, sf_dir, "documents"), n=2)


ORACLE_REPETITION = f"""
WITH t AS (SELECT doc_id, cast(length(text) as bigint) AS n_chars,
             {DUCK_TOKENS} AS tokens FROM documents),
g0 AS (SELECT doc_id, n_chars,
         unnest(list_transform(generate_series(1, greatest(len(tokens) - 1, 0)),
                               i -> tokens[i] || ' ' || tokens[i+1])) AS gram
       FROM t),
g AS (SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g0 GROUP BY 1, 2, 3),
m AS (SELECT doc_id, n_chars, sum(cnt) AS n_grams, count(*) AS n_distinct,
        max(cnt) AS mx FROM g GROUP BY 1, 2),
top AS (SELECT g.doc_id, min(gram) AS top_gram
        FROM g JOIN m USING (doc_id) WHERE g.cnt = m.mx GROUP BY 1)
SELECT m.doc_id,
  cast(n_grams as bigint) AS n_grams,
  cast(n_distinct as bigint) AS n_distinct,
  round(1.0 - n_distinct / n_grams, 4) AS dup_frac,
  top_gram,
  round(mx * length(top_gram) / n_chars, 4) AS top_frac
FROM m JOIN top ON m.doc_id = top.doc_id
"""


def q_span_dedup(spark, sf_dir):
    """C4-style corpus-level span dedup (corpus.span_dedup, 10-token
    windows); the md5 of each doc's deduplicated text makes one
    wrongly-kept/dropped span fail the hash gate."""
    return corpus.span_dedup(_t(spark, sf_dir, "documents"), span=10)


ORACLE_SPAN_DEDUP = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
s AS (SELECT doc_id, i AS idx,
        array_to_string(tokens[(i-1)*10+1:i*10], ' ') AS span_text
      FROM t, UNNEST(generate_series(1, cast(ceil(len(tokens)/10.0) as int))) AS u(i)),
r AS (SELECT doc_id, idx, span_text,
        row_number() OVER (PARTITION BY span_text ORDER BY doc_id, idx) AS rn
      FROM s)
SELECT doc_id,
  cast(count(*) as bigint) AS n_spans,
  cast(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_spans,
  md5(coalesce(string_agg(span_text, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '')) AS clean_md5
FROM r GROUP BY doc_id
"""


def q_url_frontier_filter(spark, sf_dir):
    """Frontier-side URL hygiene gate (urls.url_quality_filter): URLs
    synthesized from orders keys so every reject rule fires, including
    the first-match precedence (class 3 is both too_long AND too_deep;
    the reason must be too_long)."""
    k = F.col("o_orderkey")
    url = (
        F.when(k % 7 == 0, F.lit("ftp://host.example.com/doc"))
        .when(k % 7 == 1, F.lit("https://bad.example.com/page"))
        .when(
            k % 7 == 2,
            F.concat(
                F.lit("https://h"), (k % 50).cast("string"),
                F.lit(".example.com/img.png"),
            ),
        )
        .when(
            k % 7 == 3,
            F.concat(F.lit("https://h.example.com/"), F.expr("repeat('p/', 130)")),
        )
        .when(k % 7 == 4, F.lit("https://h.example.com/a/b/c/d/e/f/g/h/i/x"))
        .when(k % 7 == 5, F.lit("https://h.example.com/p?a=1&b=2&c=3&d=4&e=5"))
        .otherwise(
            F.concat(
                F.lit("https://h"), (k % 50).cast("string"),
                F.lit(".example.com/docs/page-"), k.cast("string"),
                F.lit(".html"),
            )
        )
    )
    frontier = _t(spark, sf_dir, "orders").select(
        k.alias("url_id"), url.alias("url")
    )
    return urls_mod.url_quality_filter(
        frontier, blocked_hosts=("bad.example.com",)
    ).select("url_id", "url", "reject_reason", "keep")


ORACLE_URL_FILTER = """
WITH f AS (
  SELECT o_orderkey AS url_id,
    CASE cast(o_orderkey % 7 as int)
      WHEN 0 THEN 'ftp://host.example.com/doc'
      WHEN 1 THEN 'https://bad.example.com/page'
      WHEN 2 THEN 'https://h' || cast(o_orderkey % 50 as varchar) || '.example.com/img.png'
      WHEN 3 THEN 'https://h.example.com/' || repeat('p/', 130)
      WHEN 4 THEN 'https://h.example.com/a/b/c/d/e/f/g/h/i/x'
      WHEN 5 THEN 'https://h.example.com/p?a=1&b=2&c=3&d=4&e=5'
      ELSE 'https://h' || cast(o_orderkey % 50 as varchar)
        || '.example.com/docs/page-' || cast(o_orderkey as varchar) || '.html'
    END AS url
  FROM orders),
p AS (
  SELECT url_id, url,
    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)) AS host,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM f),
e AS (
  SELECT *,
    lower(regexp_extract(path, '\\.([A-Za-z0-9]+)$', 1)) AS ext,
    length(path) - length(replace(path, '/', '')) AS depth,
    CASE WHEN query = '' THEN 0
         ELSE length(query) - length(replace(query, '&', '')) + 1 END AS n_params
  FROM p)
SELECT url_id, url,
  CASE
    WHEN NOT regexp_matches(url, '^https?://') THEN 'scheme'
    WHEN list_contains(['bad.example.com'], host) THEN 'blocked_host'
    WHEN list_contains(['jpg','jpeg','png','gif','svg','ico','css','js',
                        'woff','woff2','ttf','mp3','mp4','avi','exe','dmg'], ext)
      THEN 'bad_ext'
    WHEN length(url) > 256 THEN 'too_long'
    WHEN depth > 8 THEN 'too_deep'
    WHEN n_params > 4 THEN 'too_many_params'
  END AS reject_reason,
  (CASE
    WHEN NOT regexp_matches(url, '^https?://') THEN 'scheme'
    WHEN list_contains(['bad.example.com'], host) THEN 'blocked_host'
    WHEN list_contains(['jpg','jpeg','png','gif','svg','ico','css','js',
                        'woff','woff2','ttf','mp3','mp4','avi','exe','dmg'], ext)
      THEN 'bad_ext'
    WHEN length(url) > 256 THEN 'too_long'
    WHEN depth > 8 THEN 'too_deep'
    WHEN n_params > 4 THEN 'too_many_params'
  END) IS NULL AS keep
FROM e
"""


def _pii_augmented(spark, sf_dir):
    """documents with deterministic PII planted per doc (the synthetic
    corpus has none): an email, an intl phone and an IPv4, all derived
    from doc_id with the SAME arithmetic in the DuckDB oracle."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org or +43 1 "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" 555 at 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("text"),
    )


def q_pii_scrub(spark, sf_dir):
    """Training-data hygiene pass: count + redact emails/phones/IPs in
    one whole-stage-codegen projection (corpus.pii_scrub); the oracle
    recomputes counts, the scrubbed length AND the scrubbed md5, so a
    single mis-redacted byte fails the gate."""
    return corpus.pii_scrub(_pii_augmented(spark, sf_dir))


_DUCK_PII_AUG = (
    "SELECT doc_id, text || ' Contact: user' || cast(doc_id as varchar)"
    " || '@example.org or +43 1 '"
    " || lpad(cast(doc_id % 10000 as varchar), 4, '0')"
    " || ' 555 at 192.168.' || cast(doc_id % 256 as varchar)"
    " || '.' || cast((doc_id * 7) % 256 as varchar) AS text"
    " FROM documents"
)

# counts mirror corpus.pii_scrub's chain: each pattern counted on the
# text its replacement actually sees (email on raw, phone on
# email-scrubbed, ip on phone-scrubbed) so nested matches stay
# consistent (round-4 ADVICE)
ORACLE_PII_SCRUB = (
    "WITH aug AS (" + _DUCK_PII_AUG + "),\n"
    "s AS (SELECT doc_id, text,\n"
    "  regexp_replace(text, '" + corpus.PII_EMAIL_RE + "', '[EMAIL]', 'g') AS s1 FROM aug),\n"
    "s2 AS (SELECT doc_id, text, s1,\n"
    "  regexp_replace(s1, '" + corpus.PII_PHONE_RE + "', '[PHONE]', 'g') AS s2 FROM s),\n"
    "s3 AS (SELECT doc_id, text, s1, s2,\n"
    "  regexp_replace(s2, '" + corpus.PII_IP_RE + "', '[IP]', 'g') AS scrubbed FROM s2)\n"
    "SELECT doc_id,\n"
    "  cast(len(regexp_extract_all(text, '" + corpus.PII_EMAIL_RE + "')) as bigint) AS n_emails,\n"
    "  cast(len(regexp_extract_all(s1, '" + corpus.PII_PHONE_RE + "')) as bigint) AS n_phones,\n"
    "  cast(len(regexp_extract_all(s2, '" + corpus.PII_IP_RE + "')) as bigint) AS n_ips,\n"
    "  cast(length(scrubbed) as bigint) AS scrubbed_len,\n"
    "  md5(scrubbed) AS scrubbed_md5\n"
    "FROM s3"
)


def q_contamination(spark, sf_dir):
    """Benchmark-contamination sweep: distinct 3-gram overlap of every
    doc against an explicit benchmark DataFrame (here the doc_id%7==0
    slice — the fixture lives in the QUERY, not the operator), benchmark
    side broadcast only under the operator's size gate (eval suites are
    KB-MB at any corpus scale; an oversized bench falls back to a
    shuffle hash join).  k=3 because the synthetic corpus draws from a
    ~30-word vocabulary; production sweeps use k=8-13 via the same
    operator."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return corpus.contamination(docs, bench, k=3)


ORACLE_CONTAMINATION = f"""
WITH tok AS (SELECT doc_id, {DUCK_TOKENS} AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id,
    array_to_string(list_slice(w, k, k + 2), ' ') AS gram
  FROM tok, unnest(generate_series(1, len(w) - 2)) AS t(k)
  WHERE len(w) >= 3
),
ng AS (SELECT doc_id, {duck_h64("gram")} AS gram_h FROM g),
bench AS (
  SELECT gram_h, count(DISTINCT doc_id) AS n_b, min(doc_id) AS b0
  FROM ng WHERE doc_id % 7 = 0 GROUP BY gram_h
)
SELECT ng.doc_id,
  cast(count(*) as bigint) AS n_ngrams,
  cast(sum(CASE WHEN b.gram_h IS NOT NULL
                 AND (b.n_b > 1 OR b.b0 <> ng.doc_id)
            THEN 1 ELSE 0 END) as bigint) AS n_contaminated,
  round(cast(sum(CASE WHEN b.gram_h IS NOT NULL
                       AND (b.n_b > 1 OR b.b0 <> ng.doc_id)
                  THEN 1 ELSE 0 END) as double) / count(*), 4)
    AS contamination_ratio
FROM ng LEFT JOIN bench b USING (gram_h)
GROUP BY ng.doc_id
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic exact-k-per-stratum sample over documents.lang
    (corpus.sample_stratified): hash-ranked so re-runs reproduce the
    same sample; rank<=k triggers Catalyst's window-group-limit so map
    tasks pre-prune to their local top-k before the shuffle."""
    return corpus.sample_stratified(
        _t(spark, sf_dir, "documents"), k=10, strata_col="lang"
    )


ORACLE_SAMPLE_STRATIFIED = f"""
WITH r AS (
  SELECT lang AS strata, doc_id,
    cast(row_number() OVER (
      PARTITION BY lang
      ORDER BY {duck_h64("cast(doc_id as varchar)")}, doc_id
    ) as bigint) AS sample_rank
  FROM documents)
SELECT strata, doc_id, sample_rank FROM r WHERE sample_rank <= 10
"""


def q_shard_pack(spark, sf_dir):
    """Token-budget shard packing via a distributed prefix sum
    (corpus.shard_pack) — no single-reducer global window; the oracle
    is the plain ordered running sum."""
    return corpus.shard_pack(
        _t(spark, sf_dir, "documents"), tokens_per_shard=4096
    )


ORACLE_SHARD_PACK = f"""
WITH t AS (
  SELECT doc_id, cast(len({DUCK_TOKENS}) as bigint) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      - n_tokens AS prev
  FROM t)
SELECT doc_id, n_tokens,
  cast(prev // 4096 as bigint) AS shard_id,
  cast(prev % 4096 as bigint) AS shard_offset
FROM c
"""


def q_doc_statistics(spark, sf_dir):
    """A1 statistics + A8 read time (SURVEY.md §2.5), pure projection."""
    docs = corpus.with_tokens(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size("tokens").cast("bigint").alias("n_words"),
        F.round(F.size("tokens") / F.lit(265.0), 4).alias("est_read_time_min"),
        F.expr("cast(ceil(length(text) / 3000.0) as bigint)").alias("page_count"),
    )


ORACLE_DOC_STATS = f"""
SELECT doc_id, cast(length(text) as bigint) AS n_chars,
  cast(len({DUCK_TOKENS}) as bigint) AS n_words,
  round(len({DUCK_TOKENS}) / 265.0, 4) AS est_read_time_min,
  cast(ceil(length(text) / 3000.0) as bigint) AS page_count
FROM documents
"""


def q_stopword_topk(spark, sf_dir):
    """A9 stopword induction: per-source word counts -> top-5 window."""
    docs = _t(spark, sf_dir, "documents")
    words = corpus.with_tokens(docs).select(
        "source", F.explode("tokens").alias("word")
    )
    counts = words.groupBy("source", "word").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("word"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("source", "word", "n", "rnk")
    )


ORACLE_STOPWORDS = f"""
WITH t AS (SELECT source, {DUCK_TOKENS} AS tokens FROM documents),
w AS (SELECT source, unnest(tokens) AS word FROM t),
c AS (SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2)
SELECT source, word, n, rnk FROM (
  SELECT source, word, n,
    cast(row_number() OVER (PARTITION BY source ORDER BY n DESC, word) as bigint) AS rnk
  FROM c) WHERE rnk <= 5
"""


# ===========================================================================
# Metadata-extraction analytics (SURVEY.md §2.5; metadata.py)
# ===========================================================================


def q_citations(spark, sf_dir):
    return metadata.citations(_t(spark, sf_dir, "documents"))


ORACLE_CITATIONS = f"""
WITH d AS (SELECT doc_id, {metadata.DUCK_CITATION_TEXT} AS text FROM documents),
m AS (SELECT doc_id, unnest(regexp_extract_all(text,
        'article ([0-9]{{1,3}})(\\(([0-9]{{1,3}})\\))?', 0)) AS m FROM d)
SELECT doc_id,
  cast(regexp_extract(m, 'article ([0-9]{{1,3}})', 1) as int) AS article,
  cast(nullif(regexp_extract(m, '\\(([0-9]{{1,3}})\\)', 1), '') as int) AS paragraph
FROM m
"""


def q_citations_full(spark, sf_dir):
    """A2 full semantics: sentence gate -> refs with paragraph/letter ->
    validation-tree broadcast join -> chapter/section attach
    (citations_metadata_service/__init__.py:38-191)."""
    return metadata.citations_full(_t(spark, sf_dir, "documents"))


def _oracle_citations_full() -> str:
    span_pat = metadata.CITE_SPAN_RE.replace("\\\\", "\\")
    item_pat = metadata.CITE_ITEM_RE.replace("\\\\", "\\")
    tree_vals = ", ".join(
        f"({a}, {p}, '{l}')" for a, p, l in metadata.gdpr_tree_rows()
    )
    chap_vals = ", ".join(
        f"({c}, {'NULL' if s is None else s}, {lo}, {hi})"
        for c, s, lo, hi in metadata.GDPR_CHAPTERS
    )
    return f"""
WITH d AS (SELECT doc_id, {metadata.DUCK_CITATION_FULL_TEXT} AS text FROM documents),
sent AS (SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?] ')) AS sent FROM d),
gated AS (SELECT * FROM sent
  WHERE contains(lower(sent), 'articl')
    AND (contains(sent, '2016/679') OR contains(lower(sent), 'gdpr'))),
spans AS (SELECT doc_id, unnest(regexp_extract_all(sent, '{span_pat}', 0)) AS span FROM gated),
m AS (SELECT doc_id, unnest(regexp_extract_all(span, '{item_pat}', 0)) AS m FROM spans),
refs AS (SELECT doc_id,
    cast(regexp_extract(m, '^([0-9]{{1,3}})', 1) as int) AS article,
    cast(nullif(regexp_extract(m, '\\(([0-9]{{1,2}})\\)', 1), '') as int) AS paragraph,
    nullif(regexp_extract(m, '\\(([a-z])\\)', 1), '') AS letter
  FROM m),
tree(article, par0, let0) AS (VALUES {tree_vals}),
chap(chapter, section, min_art, max_art) AS (VALUES {chap_vals}),
valid AS (SELECT r.* FROM refs r WHERE EXISTS (
    SELECT 1 FROM tree t
    WHERE t.article = r.article
      AND t.par0 = coalesce(r.paragraph, -1)
      AND t.let0 = coalesce(r.letter, '-')))
SELECT v.doc_id, v.article, v.paragraph, v.letter,
  c.chapter, cast(c.section as int) AS section,
  cast(count(*) as bigint) AS n_refs
FROM valid v LEFT JOIN chap c ON v.article BETWEEN c.min_art AND c.max_art
GROUP BY v.doc_id, v.article, v.paragraph, v.letter, c.chapter, c.section
"""


ORACLE_CITATIONS_FULL = _oracle_citations_full()


def q_citation_count(spark, sf_dir):
    return metadata.citation_count(_t(spark, sf_dir, "documents"))


ORACLE_CITATION_COUNT = f"""
WITH d AS (SELECT doc_id, {metadata.DUCK_CITATION_TEXT} AS text FROM documents)
SELECT doc_id,
  cast(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
    w -> list_contains(['gdpr', 'rgpd', '2016/679'], w))) as bigint) AS n_citations
FROM d
"""


def q_keywords_topk(spark, sf_dir):
    return metadata.keywords_topk(_t(spark, sf_dir, "documents"), n=2, k=5)


ORACLE_KEYWORDS = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents),
g AS (SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(tokens) - 1, 0)),
        i -> tokens[i] || ' ' || tokens[i+1])) AS gram FROM t),
c AS (SELECT doc_id, gram, count(*) AS n_occ FROM g GROUP BY 1, 2)
SELECT doc_id, gram, n_occ, rnk FROM (
  SELECT doc_id, gram, n_occ,
    cast(row_number() OVER (PARTITION BY doc_id ORDER BY n_occ DESC, gram) as bigint) AS rnk
  FROM c) WHERE rnk <= 5
"""


#: irregular forms planted into every doc so the lemma exception table
#: is exercised by the driver gate (round-4 VERDICT next #5): the
#: noun-exception words must come out as their WordNet lemmas, while
#: 'better'/'ran' are identity under the reference's default pos='n'
#: (keywords_metadata_service/__init__.py:23) and 'ladies' exercises
#: the regular ies->y rule.  Each word repeats so the lemmas reach the
#: per-doc top-20 window.
KW_PLANT_WORDS = (
    "better", "ran", "children", "men", "women", "feet", "teeth",
    "geese", "mice", "criteria", "analyses", "ladies",
)
_KW_PLANT = " " + " ".join(w for w in KW_PLANT_WORDS for _ in range(8))


def q_keywords_full(spark, sf_dir):
    """A4 full pipeline shape: clean -> stopword filter -> (1,3)-gram
    CountVectorizer frequencies -> top-20 per doc
    (keywords_metadata_service/__init__.py:14-35), with irregular noun
    forms planted so the WordNet exception table is oracle-checked."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(_KW_PLANT))
    )
    return metadata.keywords_full(docs)


def _oracle_keywords_full() -> str:
    stop = ", ".join(f"'{w}'" for w in metadata.EN_STOPWORDS)
    gram_selects = []
    for n in (1, 2, 3):
        concat = " || ' ' || ".join(f"tokens[i+{d}]" for d in range(n))
        gram_selects.append(
            f"SELECT doc_id, unnest(list_transform("
            f"generate_series(1, greatest(len(tokens) - {n - 1}, 0)), "
            f"i -> {concat})) AS gram FROM t"
        )
    union = " UNION ALL ".join(gram_selects)
    return f"""
WITH t AS (SELECT doc_id,
    list_transform(list_transform(
      list_filter(regexp_split_to_array(lower(regexp_replace(text, '[^a-zA-Z]', ' ', 'g')), ' +'),
                  w -> w <> '' AND NOT list_contains([{stop}], w)
                       AND {metadata.ADVERB_SQL}),
      w -> regexp_replace(w, 'ies$', 'y')),
      w -> {metadata.LEMMA_SQL}) AS tokens
  FROM (SELECT doc_id, text || '{_KW_PLANT}' AS text FROM documents)),
g AS ({union}),
c AS (SELECT doc_id, gram, cast(count(*) as bigint) AS n_occ FROM g GROUP BY 1, 2)
SELECT doc_id, gram, n_occ, rnk FROM (
  SELECT doc_id, gram, n_occ,
    cast(row_number() OVER (PARTITION BY doc_id ORDER BY n_occ DESC, gram) as bigint) AS rnk
  FROM c) WHERE rnk <= 20
"""


ORACLE_KEYWORDS_FULL = _oracle_keywords_full()


def q_timeline(spark, sf_dir):
    return metadata.timeline(_t(spark, sf_dir, "documents"))


ORACLE_TIMELINE = f"""
WITH d AS (SELECT doc_id, {metadata.DUCK_CITATION_TEXT} AS text FROM documents)
SELECT doc_id, unnest(regexp_extract_all(text,
  '[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}', 0)) AS event_date
FROM d
"""


def q_monetary_penalties(spark, sf_dir):
    return metadata.monetary_penalties(_t(spark, sf_dir, "documents"))


ORACLE_PENALTIES = f"""
WITH d AS (SELECT doc_id, {metadata.DUCK_CITATION_TEXT} AS text FROM documents)
SELECT doc_id, cast(unnest(regexp_extract_all(text, 'EUR ([0-9]+)', 1)) as bigint) AS amount,
  'EUR' AS currency
FROM d
"""


def q_timeline_full(spark, sf_dir):
    """A5 full semantics: per-sentence absolute-date search (day+month+
    year all present; seven concrete forms — incl. ordinal/"of"/slash
    free-forms like "the 3rd of may, 2021" — replacing dateparser's fuzzy
    search), dd/MM/yyyy output
    (timeline_metadata_service/__init__.py:8-41)."""
    return metadata.timeline_full(_t(spark, sf_dir, "documents"))


def _oracle_timeline_full() -> str:
    months = "[" + ", ".join(f"'{m}'" for m in metadata.EN_MONTHS) + "]"
    form_selects = []
    for pat, gd, gm, gmn, gy, mtab in metadata.TIMELINE_FORMS:
        p = pat.replace("'", "''")
        mlist = (
            "[" + ", ".join(f"'{m}'" for m in mtab) + "]"
            if mtab is not None
            else None
        )
        month = (
            f"cast(regexp_extract(m, '{p}', {gm}) as int)"
            if gm is not None
            else f"cast(list_position({mlist}, regexp_extract(m, '{p}', {gmn})) as int)"
        )
        form_selects.append(
            f"SELECT doc_id, lpad(cast(cast(regexp_extract(m, '{p}', {gd}) as int) as varchar), 2, '0')"
            f" || '/' || lpad(cast({month} as varchar), 2, '0')"
            f" || '/' || regexp_extract(m, '{p}', {gy}) AS date_str"
            f" FROM (SELECT doc_id, unnest(regexp_extract_all(sent, '{p}', 0)) AS m FROM sents)"
        )
    # slash-numeric flex form: MDY unless the first number exceeds 12
    # (dateparser's English resolution) — mirrors metadata.timeline_full
    fp = metadata.TIMELINE_FLEX_FORM.replace("'", "''")
    form_selects.append(
        f"SELECT doc_id,"
        f" lpad(cast(CASE WHEN n1 <= 12 THEN n2 ELSE n1 END as varchar), 2, '0')"
        f" || '/' || lpad(cast(CASE WHEN n1 <= 12 THEN n1 ELSE n2 END as varchar), 2, '0')"
        f" || '/' || yr AS date_str"
        f" FROM (SELECT doc_id,"
        f"   cast(regexp_extract(m, '{fp}', 1) as int) AS n1,"
        f"   cast(regexp_extract(m, '{fp}', 2) as int) AS n2,"
        f"   regexp_extract(m, '{fp}', 3) AS yr"
        f"  FROM (SELECT doc_id, unnest(regexp_extract_all(sent, '{fp}', 0)) AS m FROM sents))"
    )
    # lang-gated locale month-name forms + the zh numeric form — the
    # exact twins of metadata.timeline_full's locale parts
    for lc in sorted(metadata.TIMELINE_LOCALE_MONTHS):
        lp = rf"\b([0-9]{{1,2}}) ({metadata._locale_alt(lc)}) ([0-9]{{4}})\b".replace("'", "''")
        lmonths = metadata._duck_month_list(lc)
        form_selects.append(
            f"SELECT doc_id, lpad(cast(cast(regexp_extract(m, '{lp}', 1) as int) as varchar), 2, '0')"
            f" || '/' || lpad(cast(list_position({lmonths}, regexp_extract(m, '{lp}', 2)) as varchar), 2, '0')"
            f" || '/' || regexp_extract(m, '{lp}', 3) AS date_str"
            f" FROM (SELECT doc_id, unnest(regexp_extract_all(sent, '{lp}', 0)) AS m"
            f"       FROM sents WHERE lang = '{lc}')"
        )
    zp = metadata.TIMELINE_ZH_FORM.replace("'", "''")
    form_selects.append(
        f"SELECT doc_id, lpad(cast(cast(regexp_extract(m, '{zp}', 3) as int) as varchar), 2, '0')"
        f" || '/' || lpad(cast(cast(regexp_extract(m, '{zp}', 2) as int) as varchar), 2, '0')"
        f" || '/' || regexp_extract(m, '{zp}', 1) AS date_str"
        f" FROM (SELECT doc_id, unnest(regexp_extract_all(sent, '{zp}', 0)) AS m"
        f"       FROM sents WHERE lang = 'zh')"
    )
    union = " UNION ALL ".join(form_selects)
    return f"""
WITH base AS (
  SELECT doc_id, cast(doc_id % 2000 as int) AS n FROM documents),
parts AS (
  SELECT d.doc_id, d.text, {metadata.DUCK_TIMELINE_LANG} AS lang, b.n,
    cast(2018 + b.n // 365 as int) AS yy,
    cast(b.n % 12 + 1 as int) AS mm,
    cast(b.n % 28 + 1 as int) AS dd,
    list_extract({months}, cast(b.n % 12 + 1 as int)) AS mname
  FROM documents d JOIN base b USING (doc_id)),
aug AS (SELECT doc_id, lang, {metadata.DUCK_TIMELINE_TEXT} AS text FROM parts),
sents AS (SELECT doc_id, lang, unnest(regexp_split_to_array(lower(text), '[.!?] ')) AS sent FROM aug),
dates AS ({union})
SELECT doc_id, date_str, cast(count(*) as bigint) AS n
FROM dates GROUP BY doc_id, date_str
"""


ORACLE_TIMELINE_FULL = _oracle_timeline_full()


def q_monetary_penalties_full(spark, sf_dir):
    """A6 full semantics: penalty/fine gate -> numeric-word join ->
    currency-dimension match (code/plural/symbol forms,
    eu-currencies.json shape) -> (doc_id, currency_code, amount, n)
    (monetary_penalties_metadata_service/__init__.py:6-79)."""
    return metadata.monetary_penalties_full(_t(spark, sf_dir, "documents"))


def _oracle_monetary_full() -> str:
    form_selects = []
    for code, pat in metadata._currency_patterns():
        p = pat.replace("'", "''")
        form_selects.append(
            f"SELECT doc_id, '{code}' AS currency_code,"
            f" cast(unnest(regexp_extract_all(sent, '{p}', 1)) as double) AS amount"
            f" FROM joined"
        )
    union = " UNION ALL ".join(form_selects)
    return f"""
WITH aug AS (SELECT doc_id, {metadata.DUCK_PENALTY_TEXT} AS text FROM documents),
sents AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[.!?] ')) AS sent FROM aug),
gated AS (SELECT * FROM sents WHERE regexp_matches(sent, '\\b(penalty|fine)\\b')),
joined AS (SELECT doc_id,
    regexp_replace(regexp_replace(sent, '([0-9]) ([0-9])', '\\1\\2', 'g'),
                   '([0-9]) ([0-9])', '\\1\\2', 'g') AS sent
  FROM gated),
matches AS ({union})
SELECT doc_id, currency_code, amount, cast(count(*) as bigint) AS n
FROM matches GROUP BY doc_id, currency_code, amount
"""


ORACLE_MONETARY_FULL = _oracle_monetary_full()


def q_join_lines(spark, sf_dir):
    """X8 over a multi-line variant of the corpus (deterministic line
    breaks injected after words ending in 'e', both engines)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.expr("replace(text, 'e ', concat('e', '\\n'))")
    )
    return metadata.join_lines(docs)


ORACLE_JOIN_LINES = """
WITH d AS (SELECT doc_id, replace(text, 'e ', 'e' || chr(10)) AS text FROM documents),
l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM d)
SELECT doc_id,
  CASE WHEN len(lines) <= 1 THEN text
       ELSE list_reduce(lines, (x, y) -> x ||
         CASE WHEN regexp_matches(x, '[.!?:;]$') THEN chr(10)
              WHEN regexp_matches(y, '^[a-z]') THEN ' '
              ELSE chr(10) END || y)
  END AS joined_text
FROM l
"""


def q_doc_keys(spark, sf_dir):
    return metadata.doc_keys(_t(spark, sf_dir, "documents"))


def _duck_keychar(i: int) -> str:
    return (
        f"substr('{metadata.DOC_KEY_ALPHABET}', "
        f"cast(cast(('0x' || substr(md5(text || ':{i}'), 1, 7)) as bigint) "
        f"% {len(metadata.DOC_KEY_ALPHABET)} + 1 as int), 1)"
    )


ORACLE_DOC_KEYS = f"""
SELECT doc_id, 'K ' || {_duck_keychar(0)} || {_duck_keychar(1)}
  || {_duck_keychar(2)} || {_duck_keychar(3)} AS doc_key
FROM documents
"""


def q_word_preprocess(spark, sf_dir):
    """X9: keep isalpha, lowercase, drop stopwords (preprocess_words)."""
    en = ", ".join(f"'{w}'" for w in corpus.STOPWORDS["en"])
    return corpus.with_tokens(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.explode(
            F.expr(
                f"filter(tokens, w -> w rlike '^[a-z]+$' "
                f"and not array_contains(array({en}), w))"
            )
        ).alias("word"),
    )


ORACLE_WORD_PREPROCESS = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents)
SELECT doc_id, unnest(list_filter(tokens,
  w -> regexp_matches(w, '^[a-z]+$') AND NOT list_contains([{_DUCK_EN}], w))) AS word
FROM t
"""


def q_filename_extract(spark, sf_dir):
    """X11 filename-from-path (filename_from_path_service.py:1-4):
    ``path.split('/')[-1].split('.')[0]`` as one regexp_extract over a
    deterministic per-doc path."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "path",
        F.concat(
            F.lit("/corpus/"), F.col("source"), F.lit("/doc-"),
            F.col("doc_id").cast("string"), F.lit(".txt"),
        ),
    )
    return docs.select(
        "doc_id",
        "path",
        F.regexp_extract("path", "([^/]+?)(\\.[^./]*)?$", 1).alias("filename"),
    )


ORACLE_FILENAME = """
WITH d AS (SELECT doc_id,
  '/corpus/' || source || '/doc-' || cast(doc_id as varchar) || '.txt' AS path
  FROM documents)
SELECT doc_id, path, regexp_extract(path, '([^/]+?)(\\.[^./]*)?$', 1) AS filename
FROM d
"""


def q_json_props(spark, sf_dir):
    """Semi-structured scan: JSON props column -> typed agg per type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        )
    )


ORACLE_JSON_PROPS = """
SELECT event_type, count(*) AS n,
  cast(sum(cast(json_extract_string(props, '$.k') as int)) as bigint) AS sum_k
FROM events GROUP BY event_type
"""


#: frozen centroid seeds + iteration count shared by the Spark queries
#: and the unrolled DuckDB oracle below
KMEANS_SEED_IDS = (0, 100, 200, 300)
KMEANS_ITERS = 3


def q_kmeans_clusters(spark, sf_dir):
    """A10 corpus clustering, now DETERMINISTIC and oracle-paired
    (round-4 VERDICT next #7): Lloyd iterations over DataFrames with
    centroids frozen by vec_id, bounded iterations, round-before-rank
    ties — hash-checkable against the unrolled SQL twin (the old
    pyspark.ml KMeans ran rows-only because its labels were arbitrary).
    Mirrors gdpr clustering (pygdpr/models/gdpr/__init__.py:190-270).
    """
    from . import similarity

    return similarity.kmeans_lloyd(
        _t(spark, sf_dir, "embeddings"),
        centroid_ids=KMEANS_SEED_IDS,
        iters=KMEANS_ITERS,
    )


def q_cluster_assign(spark, sf_dir):
    """Single assignment pass against frozen centroids (the
    oracle-paired clustering primitive: broadcast k centroids, one
    corpus scan, per-vector argmin window)."""
    from . import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_assign(
        emb, similarity.frozen_centroids(emb, KMEANS_SEED_IDS)
    )


def _duck_kmeans(iters: int) -> str:
    """Unrolled DuckDB twin of similarity.kmeans_lloyd: same frozen
    seeds, same float->double index-order distance fold, same
    round(d2,6)/cid tie-break, same round(mean,9) centroid update."""
    ids = ", ".join(str(i) for i in KMEANS_SEED_IDS)
    d2 = (
        "list_aggregate(list_transform(generate_series(1, len(e.v)), "
        "i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])), 'sum')"
    )
    assign = (
        "SELECT vec_id, cid, d2 FROM ("
        " SELECT e.vec_id, c.cid, round({d2}, 6) AS d2,"
        " row_number() OVER (PARTITION BY e.vec_id"
        "   ORDER BY round({d2}, 6), c.cid) AS rnk"
        " FROM e, {cents} c) WHERE rnk = 1"
    )
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v"
        " FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id IN ({ids}))",
    ]
    for t in range(iters):
        ctes.append(f"a{t} AS ({assign.format(d2=d2, cents=f'c{t}')})")
        ctes.append(
            f"c{t + 1} AS (SELECT cid, list(m ORDER BY i) AS cvec FROM ("
            f" SELECT a.cid, t.i, round(avg(e.v[t.i]), 9) AS m"
            f" FROM a{t} a JOIN e USING (vec_id),"
            f" unnest(generate_series(1, len(e.v))) AS t(i)"
            f" GROUP BY a.cid, t.i) GROUP BY cid)"
        )
    final = assign.format(d2=d2, cents=f"c{iters}")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, cast(cid as bigint) AS cluster, d2 FROM ({final})"
    )


ORACLE_KMEANS = _duck_kmeans(KMEANS_ITERS)

ORACLE_CLUSTER_ASSIGN = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cvec FROM e
  WHERE vec_id IN ({", ".join(str(i) for i in KMEANS_SEED_IDS)}))
SELECT vec_id, cast(cid as bigint) AS cluster_id, d2 FROM (
  SELECT e.vec_id, c.cid,
    round(list_aggregate(list_transform(generate_series(1, len(e.v)),
      i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])), 'sum'), 6) AS d2,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY round(list_aggregate(list_transform(generate_series(1, len(e.v)),
        i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])), 'sum'), 6), c.cid) AS rnk
  FROM e, c) WHERE rnk = 1
"""


# ===========================================================================
# Training-data pack: embeddings
# ===========================================================================

_DUCK_NORM = (
    "sqrt(list_aggregate(list_transform(generate_series(1, len({v})), "
    "i -> {v}[i]::DOUBLE * {v}[i]::DOUBLE), 'sum'))"
)
_DUCK_DOT = (
    "list_aggregate(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
)


def q_ann_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


ORACLE_ANN_BRUTE = f"""
WITH base AS (
  SELECT vec_id, embedding, {_DUCK_NORM.format(v='embedding')} AS norm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, norm AS qnorm
      FROM base WHERE vec_id < 5),
c AS (SELECT * FROM base WHERE vec_id >= 5),
scored AS (
  SELECT query_id, vec_id,
    round({_DUCK_DOT.format(a='qvec', b='embedding')} / (qnorm * norm), 6) AS cosine
  FROM c CROSS JOIN q)
SELECT query_id, vec_id, rank, cosine FROM (
  SELECT query_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) as bigint) AS rank
  FROM scored) WHERE rank <= 10
"""


def q_ann_lsh(spark, sf_dir):
    return similarity.lsh_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=5, k=5, n_bits=8
    )


_DUCK_BUCKET = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
)

ORACLE_ANN_LSH = f"""
WITH base AS (
  SELECT vec_id, embedding, {_DUCK_NORM.format(v='embedding')} AS norm,
    cast({_DUCK_BUCKET} as bigint) AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, norm AS qnorm, bucket AS qbucket
      FROM base WHERE vec_id < 5),
c AS (SELECT * FROM base WHERE vec_id >= 5),
scored AS (
  SELECT query_id, vec_id,
    round({_DUCK_DOT.format(a='qvec', b='embedding')} / (qnorm * norm), 6) AS cosine
  FROM c JOIN q ON c.bucket = q.qbucket)
SELECT query_id, vec_id, rank, cosine FROM (
  SELECT query_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) as bigint) AS rank
  FROM scored) WHERE rank <= 5
"""


def q_ann_ivf(spark, sf_dir):
    """IVF ANN (KMeans coarse quantizer + multi-probe) — the similarity
    scale path; rows-only check (centroids are data-dependent), recall
    vs brute force asserted in tests/test_similarity.py.

    The fit-sample sizing hint comes from the parquet footers (a
    driver-side metadata read), so the physical plan runs NO pre-fit
    candidate-side job (round-3 VERDICT what's-wrong #2)."""
    n_rows = similarity.parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return similarity.ivf_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=5, k=5, n_lists=8,
        n_probe=4, n_cand_hint=max(n_rows - 5, 1),
    )


#: one exemplar per embedding label at the fixture scales — a
#: spread quantizer that exists at every sf (all ids < 500)
IVF_FROZEN_IDS = (5, 6, 7, 10, 11, 18, 21, 23, 30, 42)


def q_ann_ivf_frozen(spark, sf_dir):
    """IVF with a frozen coarse quantizer (similarity.ivf_topk_frozen):
    the hash-checkable member of the IVF family — same probe/rank
    dataflow as q_ann_ivf, but centroids are fixed ids so the DuckDB
    oracle reproduces the full answer, not just the row count."""
    return similarity.ivf_topk_frozen(
        _t(spark, sf_dir, "embeddings"), centroid_ids=IVF_FROZEN_IDS,
        n_queries=5, k=5, n_probe=4,
    )


def _oracle_ivf_frozen() -> str:
    ids = ", ".join(str(i) for i in IVF_FROZEN_IDS)
    d2 = (
        "round(list_aggregate(list_transform(generate_series(1, len({v})), "
        "i -> ({v}[i] - c.cvec[i]) * ({v}[i] - c.cvec[i])), 'sum'), 6)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding,
    list_transform(embedding, x -> x::DOUBLE) AS v,
    {_DUCK_NORM.format(v='embedding')} AS norm
  FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id IN ({ids})),
cand AS (SELECT vec_id, embedding, v, norm, cell FROM (
    SELECT e.vec_id, e.embedding, e.v, e.norm, c.cid AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {d2.format(v='e.v')}, c.cid) AS rnk
    FROM e, c WHERE e.vec_id >= 5) WHERE rnk = 1),
probes AS (SELECT query_id, qvec, qnorm, cell FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qvec, e.norm AS qnorm,
      c.cid AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {d2.format(v='e.v')}, c.cid) AS rnk
    FROM e, c WHERE e.vec_id < 5) WHERE rnk <= 4),
scored AS (
  SELECT query_id, vec_id,
    round({_DUCK_DOT.format(a='qvec', b='embedding')} / (qnorm * norm), 6) AS cosine
  FROM cand JOIN probes USING (cell))
SELECT query_id, vec_id, rank, cosine FROM (
  SELECT query_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, vec_id) as bigint) AS rank
  FROM scored) WHERE rank <= 5
"""


ORACLE_ANN_IVF_FROZEN = _oracle_ivf_frozen()


def q_emb_neardup(spark, sf_dir):
    return similarity.neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


ORACLE_EMB_NEARDUP = f"""
WITH base AS (
  SELECT vec_id, embedding, {_DUCK_NORM.format(v='embedding')} AS norm
  FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm), 6) AS cosine
  FROM base a JOIN base b ON a.vec_id < b.vec_id)
WHERE cosine >= 0.4
"""


def q_emb_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: sign-bucket equi-join with
    hamming-1 hypercube probing — shuffle O(N * n_bits), never O(N^2).
    The exact all-pairs variant (q_emb_neardup) stays registered as the
    recall baseline."""
    return similarity.neardup_pairs_bucketed(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_bits=8
    )


ORACLE_EMB_NEARDUP_LSH = f"""
WITH base AS (
  SELECT vec_id, embedding, {_DUCK_NORM.format(v='embedding')} AS norm,
    cast({_DUCK_BUCKET} as bigint) AS bucket
  FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm), 6) AS cosine
  FROM base a JOIN base b
    ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1)
WHERE cosine >= 0.4
"""


def q_locale_dates(spark, sf_dir):
    """X7 locale branch (dateparser stand-in): deterministic Croatian
    date strings are built from event_id arithmetic (no timezone
    dependence), then parsed back through the engine's locale parser
    (extract.parse_date_str, the pandas-UDF path used by the croatia
    profile); the oracle builds the same strings and computes the true
    date with make_date — equality proves the parser."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DateType

    from . import extract as X

    # no type hints on the function: `from __future__ import
    # annotations` stringifies them, which pandas_udf cannot resolve
    def _parse_hr(s):
        return s.map(lambda v: X.parse_date_str("croatia", v))

    parse_hr = pandas_udf(_parse_hr, DateType())

    months = F.array(*[F.lit(m) for m in X.HR_MONTHS])
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 28 + 1).alias("dd"),
        (F.col("event_id") % 12 + 1).cast("int").alias("mm"),
        (F.col("event_id") % 6 + 2018).cast("int").alias("yy"),
    )
    ev = ev.withColumn(
        "date_str",
        F.concat(
            F.col("dd").cast("string"), F.lit(". "),
            F.element_at(months, F.col("mm")), F.lit(" "),
            F.col("yy").cast("string"), F.lit("."),
        ),
    )
    return ev.select(
        "event_id",
        "date_str",
        F.date_format(parse_hr(F.col("date_str")), "yyyy-MM-dd").alias(
            "parsed_date"
        ),
    )


_HR_CASE = " ".join(
    f"WHEN {i + 1} THEN '{m}'"
    for i, m in enumerate(
        ("siječnja", "veljače", "ožujka", "travnja", "svibnja", "lipnja",
         "srpnja", "kolovoza", "rujna", "listopada", "studenoga", "prosinca")
    )
)

ORACLE_LOCALE_DATES = f"""
WITH base AS (
  SELECT event_id,
    event_id % 28 + 1 AS dd,
    cast(event_id % 12 + 1 as int) AS mm,
    cast(event_id % 6 + 2018 as int) AS yy
  FROM events)
SELECT event_id,
  cast(dd as varchar) || '. ' || (CASE mm {_HR_CASE} END) || ' ' ||
    cast(yy as varchar) || '.' AS date_str,
  strftime(make_date(yy, mm, dd), '%Y-%m-%d') AS parsed_date
FROM base
"""


# ===========================================================================
# Multimodal plumbing + crawl end-to-end (pandas-UDF stages)
# ===========================================================================


def q_multimodal_decode(spark, sf_dir):
    """Arrow-batched binary decode plumbing (deterministic fake geometry)."""
    media = multimodal.docs_as_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_stats(media)


def q_multimodal_png(spark, sf_dir):
    """REAL image codec round-trip: synthesize genuine PNGs (one per doc,
    doc_id-derived geometry + constant color), then decode them with the
    stdlib PNG decoder (zlib inflate + filter reconstruction).  The
    oracle recomputes the expected geometry/means arithmetically — a
    wrong decoder cannot pass."""
    media = multimodal.synth_png_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_image_stats(media)


ORACLE_MULTIMODAL_PNG = """
SELECT doc_id AS media_id,
  cast(doc_id % 32 + 9 as bigint) AS width,
  cast(doc_id % 24 + 7 as bigint) AS height,
  round(cast(doc_id % 256 as double), 4) AS mean_r,
  round(cast(doc_id * 3 % 256 as double), 4) AS mean_g,
  round(cast(doc_id * 7 % 256 as double), 4) AS mean_b
FROM documents
"""


def q_multimodal_jpeg(spark, sf_dir):
    """REAL baseline-JPEG codec round-trip: synthesize genuine baseline
    grayscale JPEGs (forward DCT + Annex-K Huffman entropy coding; one
    per doc, doc_id-derived geometry + constant luma), then decode them
    with the stdlib decoder (in-file Huffman/quant tables, entropy
    decode, IDCT).  With quant step 8 a constant image reconstructs
    exactly, so the oracle recomputes geometry/mean arithmetically — a
    wrong decoder cannot pass."""
    media = multimodal.synth_jpeg_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_jpeg_stats(media)


ORACLE_MULTIMODAL_JPEG = """
SELECT doc_id AS media_id,
  cast(doc_id % 24 + 8 as bigint) AS width,
  cast(doc_id % 16 + 8 as bigint) AS height,
  round(cast(doc_id % 256 as double), 4) AS mean_luma
FROM documents
"""


def q_multimodal_wav(spark, sf_dir):
    """REAL audio codec round-trip: mono 16-bit WAVs of constant
    amplitude, decoded via stdlib ``wave``; RMS of a constant signal
    equals the amplitude, so decode correctness is arithmetic."""
    media = multimodal.synth_wav_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_audio_stats(media)


ORACLE_MULTIMODAL_WAV = """
SELECT doc_id AS media_id,
  cast(doc_id % 100 + 10 as bigint) AS n_frames,
  cast(8000 as bigint) AS framerate,
  round(cast(doc_id % 1000 as double), 4) AS rms
FROM documents
"""


def q_multimodal_video(spark, sf_dir):
    """REAL video codec round-trip: synthesize genuine AVI/MJPEG files
    (RIFF container, doc_id%6+2 constant-luma baseline-JPEG frames, one
    per doc), then decode them — RIFF chunk walk, per-frame Huffman
    entropy decode + IDCT — with the stdlib decoder.  Constant frames
    reconstruct exactly under quant step 8, so the oracle recomputes
    geometry, frame count, fps and the across-frames mean luma
    arithmetically — a wrong container walk or frame decode cannot
    pass."""
    media = multimodal.synth_avi_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_video_stats(media)


ORACLE_MULTIMODAL_VIDEO = """
WITH fr AS (
  SELECT doc_id, unnest(generate_series(0, doc_id % 6 + 1)) AS k
  FROM documents
)
SELECT doc_id AS media_id,
  cast(doc_id % 24 + 8 as bigint) AS width,
  cast(doc_id % 16 + 8 as bigint) AS height,
  cast(doc_id % 6 + 2 as bigint) AS n_frames,
  cast(doc_id % 5 + 5 as bigint) AS fps,
  round(avg(cast((doc_id * 7 + 37 * k) % 256 as double)), 4) AS mean_luma
FROM fr
GROUP BY doc_id
"""


def q_video_frame_sample(spark, sf_dir):
    """REAL frame sampling over the AVI corpus: 1 video row in -> one
    row per kept frame (every 2nd), each carrying the frame's REAL
    decoded mean luma — the timestamp-stride sampling stage a training
    pipeline runs over video, exercising the 1->N mapInPandas shape on
    genuine pixel decode."""
    media = multimodal.synth_avi_media(_t(spark, sf_dir, "documents"))
    return multimodal.sample_video_frames(media, every_n=2)


ORACLE_VIDEO_FRAME_SAMPLE = """
WITH fr AS (
  SELECT doc_id, unnest(generate_series(0, doc_id % 6 + 1, 2)) AS k
  FROM documents
)
SELECT doc_id AS media_id, cast(k as bigint) AS frame_idx,
  round(cast((doc_id * 7 + 37 * k) % 256 as double), 4) AS frame_mean
FROM fr
"""


ORACLE_MULTIMODAL = """
SELECT doc_id AS media_id, 'doc' AS kind,
  cast(octet_length(encode(text)) as bigint) AS n_bytes,
  md5(text) AS checksum,
  cast(('0x' || substr(md5(text), 1, 15)) as bigint) % 640 + 1 AS width,
  cast(('0x' || substr(reverse(md5(text)), 1, 15)) as bigint) % 480 + 1 AS height
FROM documents
"""


def q_reachability(spark, sf_dir):
    """S7 reachability report over the deterministic fixture web
    (rows-only: CSS probing of html snapshots is not SQL-expressible;
    tests/test_reachability.py asserts the expected colors, including a
    planted drifted-selector case)."""
    from . import fixtures
    from . import schema as S
    from .reachability import reachability_report

    fix = fixtures.fixture_dir("sf0.001")
    pages = spark.read.schema(S.PAGES).parquet(f"{fix}/pages.parquet")
    seeds = spark.read.schema(S.SEEDS).parquet(f"{fix}/seeds.parquet")
    return reachability_report(pages, seeds).orderBy("authority", "probe")


def q_crawl_mini(spark, sf_dir):
    """End-to-end mini crawl over deterministic fixtures (rows-only check).

    Runs the full engine loop (expand -> dedupe -> schedule ->
    fetch/extract -> append) on the sf0.001 fixture web; the pytest
    suite separately asserts this equals the sequential oracle
    byte-for-byte (tests/test_e2e_crawl.py).
    """
    from . import fixtures
    from .rounds import CrawlRun

    import shutil

    fix = fixtures.fixture_dir("sf0.001")
    state = tempfile.mkdtemp(prefix="crawl_mini_")
    try:
        run = CrawlRun(
            spark,
            state_dir=state,
            pages_path=f"{fix}/pages.parquet",
            seeds_path=f"{fix}/seeds.parquet",
            robots_path=f"{fix}/robots.parquet",
            as_of=fixtures.AS_OF,
        )
        run.run(max_rounds=12)
        # materialize driver-side (tiny: mini fixture) so the crawl state
        # dir can be deleted before the DataFrame is consumed (ADVICE:
        # q_crawl_mini leaked a full crawl state per invocation)
        rows = (
            run.documents.read(spark)
            .select("doc_hash", "authority", "url", "seq")
            .orderBy("seq")
            .collect()
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_hash string, authority string, url string, seq long"
    )


def q_robots_crawl_delay(spark, sf_dir):
    """Crawl-delay extraction (frontier.robots_crawl_delay_sql): the
    '*' group declares delay 1+n%7 (with a duplicate higher value —
    min wins) and a decoy 'bot' group declares 99 which must be
    ignored; budget = floor(60s round / delay) is the politeness
    token-bucket tie-in (the reference's time.sleep(5) ==
    'Crawl-delay: 5', gdprCrawler.py:303)."""
    k = F.col("o_orderkey")
    host = F.concat(
        F.lit("h"), (k % 50).cast("string"), F.lit(".example.com")
    )
    d = ((k % 50) % 7 + 1).cast("string")
    d2 = ((k % 50) % 7 + 3).cast("string")
    robots = (
        _t(spark, sf_dir, "orders")
        .select(host.alias("host"), d.alias("d"), d2.alias("d2"))
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("User-agent: bot\nCrawl-delay: 99\nDisallow: /\n\n"
                      "User-agent: *\nCrawl-delay: "),
                F.col("d"),
                F.lit("\nDisallow: /private\nCrawl-delay: "),
                F.col("d2"),
                F.lit("\n"),
            ).alias("robots_txt"),
        )
    )
    out = frontier_mod.robots_crawl_delay_sql(robots)
    return out.select(
        "host",
        "crawl_delay",
        F.expr("cast(floor(60 / crawl_delay) as bigint)").alias(
            "budget_per_round"
        ),
    )


ORACLE_CRAWL_DELAY = r"""
WITH o AS (SELECT DISTINCT
             'h' || cast(o_orderkey % 50 as varchar) || '.example.com' AS host,
             cast((o_orderkey % 50) % 7 + 1 as varchar) AS d,
             cast((o_orderkey % 50) % 7 + 3 as varchar) AS d2
           FROM orders),
robots AS (SELECT host,
             'User-agent: bot' || chr(10) || 'Crawl-delay: 99' || chr(10) ||
             'Disallow: /' || chr(10) || chr(10) ||
             'User-agent: *' || chr(10) || 'Crawl-delay: ' || d || chr(10) ||
             'Disallow: /private' || chr(10) || 'Crawl-delay: ' || d2 || chr(10)
             AS robots_txt
           FROM o),
lin0 AS (SELECT host, regexp_split_to_array(robots_txt, '\r?\n') AS arr
         FROM robots),
lin AS (SELECT host, i AS pos,
          trim(regexp_replace(arr[i], '#.*', '')) AS l
        FROM lin0, UNNEST(generate_series(1, len(arr))) AS g(i)),
m0 AS (SELECT host, pos, l,
    regexp_matches(l, '(?i)^user-agent:') AS is_ua,
    regexp_extract(l, '(?i)^user-agent:\s*(\S+)', 1) AS agent,
    regexp_extract(l, '(?i)^crawl-delay:\s*([0-9]+)', 1) AS delay_pat
  FROM lin),
m1 AS (SELECT *,
    coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY pos), false)
      AS prev_ua
  FROM m0),
m2 AS (SELECT *,
    sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
      OVER (PARTITION BY host ORDER BY pos) AS run_id
  FROM m1),
star AS (SELECT DISTINCT host, run_id FROM m2 WHERE is_ua AND agent = '*'),
delays AS (SELECT m2.host,
             min(cast(delay_pat as bigint)) AS crawl_delay
           FROM m2 JOIN star USING (host, run_id)
           WHERE delay_pat <> '' GROUP BY 1)
SELECT host, crawl_delay,
  cast(floor(60 / crawl_delay) as bigint) AS budget_per_round
FROM delays
"""


def _redirect_edges(spark, sf_dir):
    """Redirect 3xx edges synthesized from orders: per-key chains of
    length k%5 (0..4 hops ending at /final-k) plus a planted 3-cycle
    every 31st key — both resolver verdict branches carry weight."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = F.concat(
        F.lit("https://h"), (k % 50).cast("string"), F.lit(".example.com")
    )
    ks = k.cast("string")
    parts = []
    for j in range(4):
        src = F.concat(base, F.lit(f"/r"), ks, F.lit(f"-{j}"))
        dst = F.when(
            (k % 5) == j + 1, F.concat(base, F.lit("/final-"), ks)
        ).otherwise(F.concat(base, F.lit(f"/r"), ks, F.lit(f"-{j + 1}")))
        parts.append(
            o.filter(k % 5 > j).select(src.alias("src"), dst.alias("dst"))
        )
    for a, b in ((0, 1), (1, 2), (2, 0)):
        parts.append(
            o.filter(k % 31 == 0).select(
                F.concat(base, F.lit(f"/c"), ks, F.lit(f"-{a}")).alias("src"),
                F.concat(base, F.lit(f"/c"), ks, F.lit(f"-{b}")).alias("dst"),
            )
        )
    e = parts[0]
    for p in parts[1:]:
        e = e.union(p)
    return e


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling
    (urls.resolve_redirects, 4 doublings -> chains to 16 hops): chain
    members resolve to their terminal with exact hop counts; cycle
    members come back status='loop'."""
    return urls_mod.resolve_redirects(
        _redirect_edges(spark, sf_dir), max_doublings=4
    )


def _oracle_redirect(doublings: int = 4) -> str:
    chain = []
    for j in range(4):
        chain.append(
            f"SELECT base || '/r' || ks || '-{j}' AS src,"
            f" CASE WHEN L = {j + 1} THEN base || '/final-' || ks"
            f" ELSE base || '/r' || ks || '-{j + 1}' END AS dst"
            f" FROM o WHERE L > {j}"
        )
    for a, b in ((0, 1), (1, 2), (2, 0)):
        chain.append(
            f"SELECT base || '/c' || ks || '-{a}',"
            f" base || '/c' || ks || '-{b}' FROM o WHERE k % 31 = 0"
        )
    cte = [
        "o AS (SELECT o_orderkey AS k, cast(o_orderkey as varchar) AS ks,"
        " cast(o_orderkey % 5 as int) AS L,"
        " 'https://h' || cast(o_orderkey % 50 as varchar) || '.example.com'"
        " AS base FROM orders)",
        "e AS (" + "\nUNION ALL ".join(chain) + ")",
        "p0 AS (SELECT src AS url, dst AS p, 1::BIGINT AS hops FROM e)",
    ]
    for i in range(1, doublings + 1):
        cte.append(
            f"p{i} AS (SELECT a.url, coalesce(b.p, a.p) AS p,"
            f" a.hops + coalesce(b.hops, 0) AS hops"
            f" FROM p{i - 1} a LEFT JOIN p{i - 1} b ON a.p = b.url)"
        )
    return (
        "WITH " + ",\n".join(cte)
        + f"""
SELECT a.url, a.p AS final_url, a.hops,
  CASE WHEN s.src IS NOT NULL THEN 'loop' ELSE 'ok' END AS status
FROM p{doublings} a LEFT JOIN (SELECT DISTINCT src FROM e) s ON a.p = s.src
"""
    )


ORACLE_REDIRECT = _oracle_redirect(4)


def q_dsir_weight(spark, sf_dir):
    """DSIR importance-resampling weights (corpus.dsir_weight): hashed
    unigram log-likelihood ratio of an English target model over the
    raw corpus, B=1024 buckets, keep at logratio >= 0 (the en/non-en
    fixture split puts both verdict branches in play)."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.dsir_weight(
        docs, docs.filter(F.col("lang") == "en"),
        n_buckets=1024, keep_threshold=0.0,
    )


ORACLE_DSIR = f"""
WITH d AS (SELECT doc_id, lang, {DUCK_TOKENS} AS tokens FROM documents),
t AS (SELECT doc_id, lang, unnest(tokens) AS tok FROM d),
tb AS (SELECT doc_id, lang, {duck_h64('tok')} % 1024 AS b FROM t),
cr AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
ct AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
tot AS (SELECT (SELECT coalesce(sum(cr), 0) FROM cr) AS tr,
               (SELECT coalesce(sum(ct), 0) FROM ct) AS tt),
dim AS (SELECT b,
          ln((coalesce(ct, 0) + 1) / (tt + 1024))
          - ln((coalesce(cr, 0) + 1) / (tr + 1024)) AS lr
        FROM cr FULL OUTER JOIN ct USING (b), tot)
SELECT doc_id, cast(count(*) as bigint) AS n_tokens,
  round(sum(lr), 4) AS logratio,
  round(sum(lr), 4) >= 0.0 AS keep
FROM tb JOIN dim USING (b) GROUP BY doc_id
"""


# Host-graph edges synthesized deterministically from orders keys: 37
# ordinary hosts, one hub that only receives links (k%5), three pure
# sinks (k%11) — so the dangling-mass path and the skewed-in-degree
# path both carry weight.  The SQL twin below must stay in lockstep.
def _pagerank_edges(spark, sf_dir):
    k = F.col("o_orderkey")
    c = F.col("o_custkey")
    src = F.concat(F.lit("h"), (k % 37).cast("string"))
    dst = (
        F.when(k % 5 == 0, F.lit("hub"))
        .when(k % 11 == 0, F.concat(F.lit("sink"), (k % 3).cast("string")))
        .otherwise(F.concat(F.lit("h"), ((k * 7 + c) % 37).cast("string")))
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_hostgraph_pagerank(spark, sf_dir):
    """Frontier source-priority from the link graph
    (linkgraph.pagerank_fixedpoint, 5 iterations): deterministic
    fixed-point integer PageRank, value-hash-exact on any engine or
    cluster size because every rank is a 64-bit ppb integer."""
    return linkgraph.pagerank_fixedpoint(
        _pagerank_edges(spark, sf_dir), iters=5
    )


def _oracle_pagerank(iters: int = 5, damping_ppb: int = 850_000_000) -> str:
    ppb = 1_000_000_000
    cte = [
        """e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'h' || cast(o_orderkey % 37 as varchar) AS src,
      CASE WHEN o_orderkey % 5 = 0 THEN 'hub'
           WHEN o_orderkey % 11 = 0 THEN 'sink' || cast(o_orderkey % 3 as varchar)
           ELSE 'h' || cast((o_orderkey * 7 + o_custkey) % 37 as varchar)
      END AS dst
    FROM orders) WHERE src <> dst)""",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src AS node, count(*) AS od FROM e GROUP BY 1)",
        "nd AS (SELECT node, cast(coalesce(od, 0) as bigint) AS out_deg"
        " FROM nodes LEFT JOIN deg USING (node))",
        "nn AS (SELECT count(*) AS n FROM nd)",
        f"r0 AS (SELECT node, out_deg, cast({ppb} // n as bigint) AS r"
        " FROM nd, nn)",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        cte.append(
            f"d{i} AS (SELECT coalesce(sum(CASE WHEN out_deg = 0 THEN r END), 0)"
            f" AS dm FROM {p})"
        )
        cte.append(
            f"s{i} AS (SELECT e.dst AS node, sum(p.r // p.out_deg) AS s"
            f" FROM e JOIN {p} p ON e.src = p.node WHERE p.out_deg > 0"
            " GROUP BY 1)"
        )
        cte.append(
            f"r{i} AS (SELECT nd.node, nd.out_deg,"
            f" cast(({ppb} - {damping_ppb}) // n"
            f" + ({damping_ppb} * (coalesce(s.s, 0) + dm // n)) // {ppb}"
            f" as bigint) AS r"
            f" FROM nd CROSS JOIN nn CROSS JOIN d{i}"
            f" LEFT JOIN s{i} s ON nd.node = s.node)"
        )
    return (
        "WITH " + ",\n".join(cte)
        + f"\nSELECT node, out_deg, r AS rank_ppb FROM r{iters}"
    )


ORACLE_PAGERANK = _oracle_pagerank(5)


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-token estimate per source
    (corpus.hll_distinct, p=9 -> 512 integer registers): the sketch a
    100 TB pipeline uses instead of count(distinct token); n_exact is
    the expensive comparison column it replaces."""
    return corpus.hll_distinct(
        _t(spark, sf_dir, "documents"), group_col="source", p=9
    )


def _oracle_hll(p: int = 9) -> str:
    m = 1 << p
    q = 60 - p
    two_q = 1 << q
    alpha = 0.7213 / (1 + 1.079 / m)
    amm = repr(alpha * float(m * m * (1 << (q + 1))))
    lc_cut = repr(2.5 * m)
    return f"""
WITH d AS (SELECT source, {DUCK_TOKENS} AS tokens FROM documents),
t AS (SELECT source, unnest(tokens) AS tok FROM d),
hw AS (SELECT source, {duck_h64('tok')} // {two_q} AS b,
              {duck_h64('tok')} % {two_q} AS w FROM t),
r AS (SELECT source, b,
        max(CASE WHEN w = 0 THEN {q + 1}
                 ELSE {q + 1} - length(bin(w)) END) AS M
      FROM hw GROUP BY 1, 2),
g AS (SELECT source, count(*) AS present,
        sum(1::BIGINT << ({q + 1} - M)) AS sp FROM r GROUP BY 1),
x AS (SELECT source, cast(count(DISTINCT tok) as bigint) AS n_exact
      FROM t GROUP BY 1),
e AS (SELECT source, n_exact,
        sp + ({m} - present) * (1::BIGINT << {q + 1}) AS s,
        {m} - present AS v
      FROM g JOIN x USING (source)),
f AS (SELECT source, n_exact,
        CASE WHEN v > 0 AND {amm} / s <= {lc_cut}
             THEN round({m} * ln({m} / cast(v as double)), 4)
             ELSE round({amm} / s, 4) END AS n_est
      FROM e)
SELECT source, n_exact, n_est,
  round(abs(n_est - n_exact) / n_exact, 4) AS rel_err
FROM f
"""


ORACLE_HLL = _oracle_hll(9)


def q_countmin_topk(spark, sf_dir):
    """Count-min heavy hitters (corpus.countmin_topk, d=4 x w=1024):
    integer counters, integer min — bit-deterministic; top-20 tokens
    with the exact count alongside and the one-sided overcount."""
    return corpus.countmin_topk(
        _t(spark, sf_dir, "documents"), d=4, w=1024, k=20
    )


def _oracle_countmin(d: int = 4, w: int = 1024, k: int = 20) -> str:
    probes = ",\n    ".join(
        f"({i}, {duck_h64(chr(39) + f'cm{i}|' + chr(39) + ' || tok')} % {w})"
        for i in range(d)
    )
    return f"""
WITH docs_t AS (SELECT {DUCK_TOKENS} AS tokens FROM documents),
t AS (SELECT unnest(tokens) AS tok FROM docs_t),
pr AS (SELECT tok, p.* FROM t, LATERAL (VALUES
    {probes}) AS p(r, b)),
cms AS (SELECT r, b, count(*) AS cnt FROM pr GROUP BY 1, 2),
toks AS (SELECT tok, cast(count(*) as bigint) AS n_exact FROM t GROUP BY 1),
probes AS (SELECT DISTINCT tok, r, b FROM pr),
est AS (SELECT p.tok, min(cms.cnt) AS n_est
        FROM probes p JOIN cms USING (r, b) GROUP BY 1)
SELECT t.tok AS tok, t.n_exact, cast(e.n_est as bigint) AS n_est,
  cast(e.n_est - t.n_exact as bigint) AS overcount
FROM toks t JOIN est e ON t.tok = e.tok
ORDER BY n_est DESC, t.tok LIMIT {k}
"""


ORACLE_COUNTMIN = _oracle_countmin(4, 1024, 20)


def q_sitemap_extract(spark, sf_dir):
    """Sitemap XML ingestion (urls.sitemap_expand): synthesized
    sitemaps with 3 url entries each — lastmod optional on a (k+i)%3
    cycle so loc/lastmod pairing is actually exercised — plus a
    sitemapindex child every 13th host page; keep = fresh-or-unknown
    lastmod (a crawler must fetch unknown-freshness URLs)."""
    k = F.col("o_orderkey")
    host = F.concat(F.lit("h"), (k % 50).cast("string"), F.lit(".example.com"))

    def ent(i: int):
        lm = (
            F.when(
                ((k + i) % 3) != 0,
                F.concat(
                    F.lit("<lastmod>2024-0"),
                    (((k + i) % 9) + 1).cast("string"),
                    F.lit(f"-1{i}</lastmod>"),
                ),
            ).otherwise(F.lit(""))
        )
        return F.concat(
            F.lit("<url><loc>https://"), host, F.lit("/p"),
            k.cast("string"), F.lit(f"-{i}.html</loc>"), lm, F.lit("</url>"),
        )

    child = (
        F.when(
            k % 13 == 0,
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>https://"), host,
                F.lit("/sitemap-"), k.cast("string"),
                F.lit(".xml</loc></sitemap></sitemapindex>"),
            ),
        ).otherwise(F.lit(""))
    )
    xml = F.concat(
        F.lit("<urlset>"), ent(0), ent(1), ent(2), F.lit("</urlset>"), child
    )
    pages = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("https://"), host, F.lit("/sitemap.xml")).alias(
            "page_url"
        ),
        xml.alias("xml"),
    )
    return urls_mod.sitemap_expand(pages).withColumn(
        "keep", (F.col("lastmod") == "") | (F.col("lastmod") >= "2024-04-01")
    )


def _oracle_sitemap() -> str:
    ents = []
    for i in range(3):
        ents.append(
            f"'<url><loc>https://' || host || '/p' || ks || '-{i}.html</loc>'"
            f" || CASE WHEN (k + {i}) % 3 <> 0"
            f" THEN '<lastmod>2024-0' || cast((k + {i}) % 9 + 1 as varchar)"
            f" || '-1{i}</lastmod>' ELSE '' END || '</url>'"
        )
    xml = "'<urlset>' || " + " || ".join(ents) + (
        " || '</urlset>' || CASE WHEN k % 13 = 0 THEN"
        " '<sitemapindex><sitemap><loc>https://' || host || '/sitemap-'"
        " || ks || '.xml</loc></sitemap></sitemapindex>' ELSE '' END"
    )
    return f"""
WITH o AS (SELECT o_orderkey AS k, cast(o_orderkey as varchar) AS ks,
             'h' || cast(o_orderkey % 50 as varchar) || '.example.com' AS host
           FROM orders),
t AS (SELECT 'https://' || host || '/sitemap.xml' AS page_url, {xml} AS xml
      FROM o),
b AS (SELECT page_url,
        unnest(regexp_extract_all(xml, '<url>([\\s\\S]*?)</url>', 1)) AS blk,
        'url' AS kind FROM t
      UNION ALL
      SELECT page_url,
        unnest(regexp_extract_all(xml, '<sitemap>([\\s\\S]*?)</sitemap>', 1)),
        'sitemap' FROM t),
s AS (SELECT page_url,
        regexp_extract(blk, '<loc>([^<]+)</loc>', 1) AS loc,
        regexp_extract(blk, '<lastmod>([^<]+)</lastmod>', 1) AS lastmod,
        kind FROM b)
SELECT page_url, loc, lastmod, kind,
  (lastmod = '' OR lastmod >= '2024-04-01') AS keep
FROM s WHERE loc <> ''
"""


ORACLE_SITEMAP = _oracle_sitemap()


def q_recrawl_schedule(spark, sf_dir):
    """Adaptive recrawl scheduling (frontier.recrawl_schedule — Cho &
    Garcia-Molina change-rate estimator): events become a revisit log
    with three planted populations — multi-visit URLs with changes
    (estimable: lambda > 0, clamped interval), multi-visit URLs that
    never change (parked at max interval), and single-visit URLs
    (parked: no estimate from one observation).  Timestamps enter as
    exact integer micros so both engines do identical double math."""
    e = F.col("event_id")
    uid = e % 499
    url = F.concat(
        F.lit("https://h"), (uid % 20).cast("string"), F.lit(".example.com/"),
        F.when(e % 7 == 0, F.concat(F.lit("s"), e.cast("string"))).otherwise(
            F.concat(F.lit("p"), uid.cast("string"))
        ),
    )
    log = _t(spark, sf_dir, "events").select(
        url.alias("url"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        ((e % 3 == 0) & (uid >= 50)).alias("changed"),
    )
    return frontier_mod.recrawl_schedule(log)


ORACLE_RECRAWL = """
WITH log AS (SELECT
    'https://h' || cast((event_id % 499) % 20 as varchar) || '.example.com/'
      || CASE WHEN event_id % 7 = 0 THEN 's' || cast(event_id as varchar)
              ELSE 'p' || cast(event_id % 499 as varchar) END AS url,
    epoch_us(ts) AS ts_us,
    (event_id % 3 = 0 AND event_id % 499 >= 50) AS changed
  FROM events),
a AS (SELECT url, count(*) AS n_visits,
        cast(sum(cast(changed as bigint)) as bigint) AS n_changed,
        min(ts_us) AS t0, max(ts_us) AS t1
      FROM log GROUP BY 1),
f AS (SELECT url, n_visits, n_changed,
        cast(t1 - t0 as double) / 86400000000.0 AS span_days,
        cast(n_visits as double) AS n, cast(n_changed as double) AS x
      FROM a),
g AS (SELECT url, n_visits, n_changed, span_days,
        -ln((n - x + 0.5) / (n + 0.5)) * (n - 1.0) / span_days AS lam,
        (n_visits > 1 AND n_changed > 0 AND span_days > 0) AS est
      FROM f)
SELECT url, n_visits, n_changed,
  CASE WHEN est THEN round(lam, 6) ELSE 0.0 END AS lambda_per_day,
  CASE WHEN est THEN round(least(greatest(1.0 / lam, 0.25), 30.0), 6)
       ELSE 30.0 END AS interval_days
FROM g
"""


def q_trap_detect(spark, sf_dir):
    """Crawler-trap detection (urls.trap_patterns): five synthesized
    URL populations — a calendar grid, a session-id query space, a
    hex-object store (all three collapse to one exploding shape each
    and must flag), and two per-host document families spread over
    prime host moduli (997/991 — coprime with the 32-periodic sparse
    TPC-H orderkeys, so per-host counts stay under threshold) —
    grouped by (host, shape) with the trap verdict."""
    k = F.col("o_orderkey")
    ks = k.cast("string")
    url = (
        F.when(
            k % 5 == 0,
            F.concat(
                F.lit("https://trap.example.com/cal/2024/"),
                ((k % 12) + 1).cast("string"), F.lit("/"),
                ((k % 28) + 1).cast("string"),
            ),
        )
        .when(
            k % 5 == 1,
            F.concat(
                F.lit("https://shop.example.com/item?sid="),
                F.md5(F.encode(ks, "UTF-8")), F.lit("&page="),
                (k % 7).cast("string"),
            ),
        )
        .when(
            k % 5 == 2,
            F.concat(
                F.lit("https://h"), (k % 997).cast("string"),
                F.lit(".example.com/doc/"), ks, F.lit(".html"),
            ),
        )
        .when(
            k % 5 == 3,
            F.concat(
                F.lit("https://cdn.example.com/obj/"),
                F.md5(F.encode(F.concat(F.lit("o"), ks), "UTF-8")),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://h"), (k % 991).cast("string"),
                F.lit(".example.com/page-"), ks,
            )
        )
    )
    frontier = _t(spark, sf_dir, "orders").select(url.alias("url"))
    return urls_mod.trap_patterns(frontier, threshold=100)


ORACLE_TRAP = """
WITH o AS (SELECT o_orderkey AS k, cast(o_orderkey as varchar) AS ks FROM orders),
u AS (SELECT
    CASE
      WHEN k % 5 = 0 THEN 'https://trap.example.com/cal/2024/'
        || cast(k % 12 + 1 as varchar) || '/' || cast(k % 28 + 1 as varchar)
      WHEN k % 5 = 1 THEN 'https://shop.example.com/item?sid='
        || md5(ks) || '&page=' || cast(k % 7 as varchar)
      WHEN k % 5 = 2 THEN 'https://h' || cast(k % 997 as varchar)
        || '.example.com/doc/' || ks || '.html'
      WHEN k % 5 = 3 THEN 'https://cdn.example.com/obj/' || md5('o' || ks)
      ELSE 'https://h' || cast(k % 991 as varchar) || '.example.com/page-' || ks
    END AS url
  FROM o),
s AS (SELECT
    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)) AS host,
    regexp_replace(regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1)),
      '[0-9a-f]{8,}', 'h', 'g'), '[0-9]+', '0', 'g'), '=[^&#]*', '=*', 'g')
      AS pattern
  FROM u)
SELECT host, CASE WHEN pattern = '' THEN '/' ELSE pattern END AS pattern,
  count(*) AS n_urls, count(*) > 100 AS trap
FROM s GROUP BY 1, 2
"""


def q_warc_roundtrip(spark, sf_dir):
    """WARC container round trip (warc.warc_pack / warc.warc_scan —
    the Common-Crawl ``.warc.gz`` layout the reference's loose-file
    docstore becomes at web scale, ``pygdpr/models/dpa/belgium/
    __init__.py:175-183``): orders become (url, WARC-Date, html
    payload) rows, pack into 24 per-record-gzip-member WARC files
    (one inherent shuffle on the file key), scan back with mapInArrow,
    and emit SQL-recomputable per-record columns — the md5 proves the
    payload survived HTTP-block framing + gzip byte-exactly, and
    ``digest_ok`` proves the stored sha1 payload digest verifies."""
    from . import warc as warc_mod

    k = F.col("o_orderkey")
    rows = _t(spark, sf_dir, "orders").select(
        (k % 24).alias("file_key"),
        F.concat(
            F.lit("https://h"), (k % 50).cast("string"),
            F.lit(".example.com/doc"), k.cast("string"), F.lit(".html"),
        ).alias("url"),
        F.concat(
            F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("T"),
            F.lpad((k % 24).cast("string"), 2, "0"), F.lit(":00:00Z"),
        ).alias("warc_date"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>Order "), k.cast("string"),
                F.lit("</title></head><body>"), F.col("o_orderpriority"),
                F.lit(" status "), F.col("o_orderstatus"),
                F.lit("</body></html>"),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    recs = warc_mod.warc_scan(warc_mod.warc_pack(rows))
    return recs.select(
        "url",
        "warc_date",
        "rec_type",
        "http_status",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.col("digest_ok").cast("int").alias("digest_ok"),
    )


def q_url_surt(spark, sf_dir):
    """SURT urlkey (urls.surt_key — pure codegen CDX sort key): messy
    URLs synthesized with mixed-case hosts, WWW. prefixes, default and
    non-default ports, missing paths, and unsorted query params; the
    oracle does NOT re-implement the parser — it constructs the
    expected key directly from the same components, so the generic
    Spark expression is checked against an independent derivation."""
    k = F.col("o_orderkey")
    n = (k % 50).cast("string")
    scheme = F.when(k % 2 == 0, F.lit("http://")).otherwise(F.lit("https://"))
    www = F.when(k % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    port = (
        F.when(k % 5 == 0, F.lit(":8080"))
        .when(k % 5 == 1, F.lit(":443"))
        .otherwise(F.lit(""))
    )
    path = F.when(k % 7 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("/Dir"), (k % 9).cast("string"), F.lit("/Page"),
            k.cast("string"), F.lit(".HTML"),
        )
    )
    query = (
        F.when(
            k % 4 == 0,
            F.concat(
                F.lit("?b="), k.cast("string"), F.lit("&a="),
                (k % 9).cast("string"),
            ),
        )
        .when(k % 4 == 1, F.lit("?z=1"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        scheme, www, F.lit("H"), n, F.lit(".Example.COM"), port, path, query
    )
    return _t(spark, sf_dir, "orders").select(
        url.alias("url"), urls_mod.surt_key(url).alias("surt")
    )


ORACLE_URL_SURT = """
WITH o AS (SELECT o_orderkey AS k, cast(o_orderkey % 50 as varchar) AS n,
                  cast(o_orderkey % 9 as varchar) AS d,
                  cast(o_orderkey as varchar) AS ks
           FROM orders),
c AS (SELECT k, n, d, ks,
    CASE WHEN k % 2 = 0 THEN 'http://' ELSE 'https://' END AS scheme,
    CASE WHEN k % 3 = 0 THEN 'WWW.' ELSE '' END AS www,
    CASE WHEN k % 5 = 0 THEN ':8080'
         WHEN k % 5 = 1 THEN ':443' ELSE '' END AS port,
    CASE WHEN k % 7 = 0 THEN ''
         ELSE '/Dir' || d || '/Page' || ks || '.HTML' END AS path,
    CASE WHEN k % 4 = 0 THEN '?b=' || ks || '&a=' || d
         WHEN k % 4 = 1 THEN '?z=1' ELSE '' END AS query
  FROM o)
SELECT
  scheme || www || 'H' || n || '.Example.COM' || port || path || query AS url,
  'com,example,h' || n
    || CASE WHEN k % 5 = 0 THEN ':8080' ELSE '' END
    || ')'
    || CASE WHEN k % 7 = 0 THEN '/'
            ELSE '/dir' || d || '/page' || ks || '.html' END
    || CASE WHEN k % 4 = 0 THEN '?a=' || d || '&b=' || ks
            WHEN k % 4 = 1 THEN '?z=1' ELSE '' END AS surt
FROM c
"""


def q_url_etld1(spark, sf_dir):
    """Registrable domain (eTLD+1) per the publicsuffix.org algorithm
    (urls.registrable_domain — K broadcast lookups + greatest(), zero
    shuffle): hosts synthesized to hit every rule class — plain TLD,
    multi-label rule (co.uk, k12.ma.us), wildcard (*.ck,
    *.kawasaki.jp), exception (!www.ck, !city.kawasaki.jp), unknown
    TLD (prevailing '*'), host==public-suffix (NULL etld1), and mixed
    case.  Like ORACLE_URL_SURT the oracle does NOT re-run the
    algorithm: it constructs the expected suffix/domain per case
    directly, so the generic engine path is checked against an
    independent derivation."""
    k = F.col("o_orderkey")
    n = (k % 50).cast("string")
    m = k % 12
    host = (
        F.when(m == 0, F.concat(F.lit("H"), n, F.lit(".Example.COM")))
        .when(m == 1, F.concat(F.lit("deep.h"), n, F.lit(".example.com")))
        .when(m == 2, F.concat(F.lit("h"), n, F.lit(".example.co.uk")))
        .when(m == 3, F.lit("co.uk"))
        .when(m == 4, F.concat(F.lit("h"), n, F.lit(".test.ck")))
        .when(m == 5, F.lit("www.ck"))
        .when(m == 6, F.lit("a.www.ck"))
        .when(m == 7, F.concat(F.lit("x.h"), n, F.lit(".k12.ma.us")))
        .when(m == 8, F.concat(F.lit("h"), n, F.lit(".unknowntld")))
        .when(m == 9, F.lit("sub.city.kawasaki.jp"))
        .when(m == 10, F.concat(F.lit("foo.h"), n, F.lit(".kawasaki.jp")))
        .otherwise(F.concat(F.lit("u"), n, F.lit(".github.io")))
    )
    df = _t(spark, sf_dir, "orders").select(host.alias("host"))
    return urls_mod.registrable_domain(df).select(
        "host", "public_suffix", "etld1"
    )


ORACLE_URL_ETLD1 = """
WITH o AS (SELECT o_orderkey % 12 AS m,
                  cast(o_orderkey % 50 as varchar) AS n
           FROM orders)
SELECT
  CASE m WHEN 0 THEN 'H' || n || '.Example.COM'
         WHEN 1 THEN 'deep.h' || n || '.example.com'
         WHEN 2 THEN 'h' || n || '.example.co.uk'
         WHEN 3 THEN 'co.uk'
         WHEN 4 THEN 'h' || n || '.test.ck'
         WHEN 5 THEN 'www.ck'
         WHEN 6 THEN 'a.www.ck'
         WHEN 7 THEN 'x.h' || n || '.k12.ma.us'
         WHEN 8 THEN 'h' || n || '.unknowntld'
         WHEN 9 THEN 'sub.city.kawasaki.jp'
         WHEN 10 THEN 'foo.h' || n || '.kawasaki.jp'
         ELSE 'u' || n || '.github.io' END AS host,
  CASE m WHEN 0 THEN 'com'
         WHEN 1 THEN 'com'
         WHEN 2 THEN 'co.uk'
         WHEN 3 THEN 'co.uk'
         WHEN 4 THEN 'test.ck'
         WHEN 5 THEN 'ck'
         WHEN 6 THEN 'ck'
         WHEN 7 THEN 'k12.ma.us'
         WHEN 8 THEN 'unknowntld'
         WHEN 9 THEN 'kawasaki.jp'
         WHEN 10 THEN 'h' || n || '.kawasaki.jp'
         ELSE 'github.io' END AS public_suffix,
  CASE m WHEN 0 THEN 'example.com'
         WHEN 1 THEN 'example.com'
         WHEN 2 THEN 'example.co.uk'
         WHEN 3 THEN NULL
         WHEN 4 THEN 'h' || n || '.test.ck'
         WHEN 5 THEN 'www.ck'
         WHEN 6 THEN 'www.ck'
         WHEN 7 THEN 'h' || n || '.k12.ma.us'
         WHEN 8 THEN 'h' || n || '.unknowntld'
         WHEN 9 THEN 'city.kawasaki.jp'
         WHEN 10 THEN 'foo.h' || n || '.kawasaki.jp'
         ELSE 'u' || n || '.github.io' END AS etld1
FROM o
"""


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap discovery from robots.txt (frontier.robots_sitemaps):
    bodies plant a canonical 'Sitemap:' line, a lowercase cross-host
    'sitemap:' line (key case-insensitivity), a commented-out decoy, a
    relative URL (both dropped), and an exact duplicate (distinct) —
    the oracle constructs the two expected survivors per host
    directly."""
    k = F.col("o_orderkey")
    host = F.concat(
        F.lit("h"), (k % 50).cast("string"), F.lit(".example.com")
    )
    robots = (
        _t(spark, sf_dir, "orders")
        .select(host.alias("host"), (k % 50).cast("string").alias("n"))
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("User-agent: *\nDisallow: /private\nSitemap: https://h"),
                F.col("n"),
                F.lit(
                    ".example.com/sitemap.xml\n"
                    "sitemap:   https://cdn.example.net/s"
                ),
                F.col("n"),
                F.lit(
                    ".xml.gz\n"
                    "# Sitemap: https://commented.example.com/x.xml\n"
                    "Sitemap: /relative/sitemap.xml\n"
                    "Sitemap: https://h"
                ),
                F.col("n"),
                F.lit(".example.com/sitemap.xml\n"),
            ).alias("robots_txt"),
        )
    )
    return frontier_mod.robots_sitemaps(robots)


ORACLE_ROBOTS_SITEMAPS = """
WITH n AS (SELECT DISTINCT cast(o_orderkey % 50 as varchar) AS n FROM orders)
SELECT 'h' || n || '.example.com' AS host,
       'https://h' || n || '.example.com/sitemap.xml' AS sitemap_url FROM n
UNION ALL
SELECT 'h' || n || '.example.com',
       'https://cdn.example.net/s' || n || '.xml.gz' FROM n
"""


def q_anchor_texts(spark, sf_dir):
    """Per-target anchor-text rollup (linkgraph.anchor_texts): edges
    synthesized with whitespace/case noise ('  Read   More ' vs 'read
    more', 'Home' vs 'HOME ') so normalization is load-bearing, empty
    anchors planted to exercise the drop, and a shared 'home'-like
    anchor concentrating on few targets to exercise the (count desc,
    anchor asc) deterministic top-k."""
    k = F.col("o_orderkey")
    src = F.concat(
        F.lit("https://h"), (k % 50).cast("string"),
        F.lit(".example.com/p"), k.cast("string"),
    )
    dst = F.concat(
        F.lit("https://d"), (k % 11).cast("string"),
        F.lit(".example.org/doc"), (k % 40).cast("string"),
    )
    anchor = (
        F.when(k % 8 == 0, F.lit("  Read   More "))
        .when(k % 8 == 1, F.lit("read more"))
        .when(k % 8 == 2, F.lit("Home"))
        .when(k % 8 == 3, F.lit("HOME "))
        .when(k % 8 == 4, F.concat(F.lit("doc "), (k % 40).cast("string")))
        .when(k % 8 == 5, F.lit(""))
        .when(k % 8 == 6, F.lit("details"))
        .otherwise(F.lit("Click  Here"))
    )
    edges = _t(spark, sf_dir, "orders").select(
        src.alias("src"), dst.alias("dst"), anchor.alias("anchor")
    )
    return linkgraph.anchor_texts(edges, topk=3)


ORACLE_ANCHOR_TEXTS = """
WITH e AS (
  SELECT 'https://h' || cast(k % 50 as varchar) || '.example.com/p'
           || cast(k as varchar) AS src,
         'https://d' || cast(k % 11 as varchar) || '.example.org/doc'
           || cast(k % 40 as varchar) AS dst,
         CASE k % 8 WHEN 0 THEN '  Read   More '
                    WHEN 1 THEN 'read more'
                    WHEN 2 THEN 'Home'
                    WHEN 3 THEN 'HOME '
                    WHEN 4 THEN 'doc ' || cast(k % 40 as varchar)
                    WHEN 5 THEN ''
                    WHEN 6 THEN 'details'
                    ELSE 'Click  Here' END AS anchor
  FROM (SELECT o_orderkey AS k FROM orders)),
n AS (SELECT src, dst,
             regexp_replace(lower(trim(anchor)), '\\s+', ' ', 'g') AS anchor
      FROM e),
f AS (SELECT * FROM n WHERE anchor <> '' AND src <> dst),
a AS (SELECT dst, anchor,
             cast(count(*) as bigint) AS n_links,
             cast(count(DISTINCT src) as bigint) AS n_srcs
      FROM f GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (
        PARTITION BY dst ORDER BY n_links DESC, anchor) AS rk FROM a)
SELECT dst, anchor, n_links, n_srcs, cast(rk as int) AS rank
FROM r WHERE rk <= 3
"""


BM25_QUERY = ["spark", "hash", "window", "merge"]


def q_bm25_topk(spark, sf_dir):
    """Ranked retrieval over the corpus (corpus.bm25_topk): rational-idf
    BM25 — (N-df+0.5)/(df+0.5) without the ln(), the one BM25 term
    whose last ulp differs across math libraries; everything else is
    IEEE +,*,/ in a FIXED association order mirrored 1:1 in the SQL
    below (term filter pushed under the postings groupBy, q-row df
    broadcast, 1-row stats cross join, fixed-order pivot sum, global
    top-k as TakeOrdered with doc_id tie-break) so scores hash
    bit-identically on both engines."""
    return corpus.bm25_topk(
        _t(spark, sf_dir, "documents"), BM25_QUERY, topk=20
    )


_BM25_IN = ", ".join(f"'{t}'" for t in BM25_QUERY)
_BM25_PIVOT = ",\n        ".join(
    f"coalesce(max(CASE WHEN token = '{t}' THEN sc END), 0.0) AS s{i}"
    for i, t in enumerate(BM25_QUERY)
)
_BM25_SUM = " + ".join(f"s{i}" for i in range(len(BM25_QUERY)))

ORACLE_BM25 = f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS tokens FROM documents
           WHERE trim(text) <> ''),
st AS (SELECT cast(count(*) as double) AS n_docs,
              cast(sum(len(tokens)) as double) AS n_tokens FROM t),
d AS (SELECT doc_id, cast(len(tokens) as bigint) AS dl,
             unnest(tokens) AS token FROM t),
p AS (SELECT token, doc_id, dl, count(*) AS tf FROM d
      WHERE token IN ({_BM25_IN}) GROUP BY 1, 2, 3),
f AS (SELECT token, cast(count(*) as double) AS df FROM p GROUP BY 1),
s AS (SELECT p.doc_id, p.dl, p.token,
        ((st.n_docs - f.df + 0.5) / (f.df + 0.5))
          * (cast(p.tf as double) * (1.2 + 1.0))
          / (cast(p.tf as double)
             + 1.2 * (1.0 - 0.75
                      + 0.75 * cast(p.dl as double)
                        / (st.n_tokens / st.n_docs))) AS sc
      FROM p JOIN f USING (token) CROSS JOIN st),
a AS (SELECT doc_id, dl,
        {_BM25_PIVOT}
      FROM s GROUP BY 1, 2)
SELECT doc_id, dl, round({_BM25_SUM}, 4) AS score
FROM a ORDER BY score DESC, doc_id LIMIT 20
"""


def q_domain_quality_rollup(spark, sf_dir):
    """Per-registrable-domain quality rollup — the composition
    registrable_domain is FOR: a training pipeline scores quality per
    doc but curates per DOMAIN (domain reputation: how many docs, what
    share passes, how good on average, how many languages).  Hosts are
    synthesized deterministically from documents.source across three
    suffix classes (multi-label co.uk, plain com, wildcard *.ck) so
    the rollup key is the OUTPUT of the PSL algorithm, not a given
    column; aggregates are integer-exact (sum of 1e4-scaled scores,
    pass counts) so the hash check is float-safe.  Scale: one slim
    doc_id equi-join (16 B + domain per row) + one bounded-key
    groupBy; co-partitioning docs on doc_id makes the join
    exchange-free on a real layout."""
    docs = _t(spark, sf_dir, "documents")
    s = F.regexp_extract("source", r"(\d+)", 1).cast("long")
    tld = (
        F.when(s % 3 == 0, F.lit(".co.uk"))
        .when(s % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".test.ck"))
    )
    host = F.concat(
        F.col("source"), F.lit(".d"), (s % 7).cast("string"), tld
    )
    dom = urls_mod.registrable_domain(
        docs.select("doc_id", "lang", host.alias("host"))
    ).select("doc_id", "lang", "etld1")
    q = corpus.quality(docs).select("doc_id", "quality_score")
    return (
        dom.join(q, "doc_id")
        .groupBy("etld1")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.round(F.col("quality_score") * 10000).cast("bigint")
            ).alias("sum_q4"),
            F.sum(
                F.when(F.col("quality_score") >= 0.5, F.lit(1)).otherwise(
                    F.lit(0)
                ).cast("bigint")
            ).alias("n_pass"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


ORACLE_DOMAIN_ROLLUP = f"""
WITH h AS (
  SELECT doc_id, lang,
    'd' || cast(cast(regexp_extract(source, '(\\d+)', 1) as bigint) % 7 as varchar)
      || CASE cast(regexp_extract(source, '(\\d+)', 1) as bigint) % 3
           WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com' ELSE '.test.ck' END AS etld1
  FROM documents),
q AS ({ORACLE_QUALITY})
SELECT h.etld1,
  count(*) AS n_docs,
  cast(sum(cast(round(q.quality_score * 10000) as bigint)) as bigint) AS sum_q4,
  cast(sum(CASE WHEN q.quality_score >= 0.5 THEN 1 ELSE 0 END) as bigint) AS n_pass,
  count(DISTINCT h.lang) AS n_langs
FROM h JOIN q USING (doc_id)
GROUP BY h.etld1
"""


def q_warc_cdx(spark, sf_dir):
    """CDX index over the WARC files of q_warc_roundtrip
    (warc.warc_cdx): the oracle re-derives (urlkey, ts14, url,
    payload_md5) from the orders table; the gzip-member (offset,
    length) columns are not SQL-derivable and are pinned instead by
    tests/test_warc.py's ranged-read reconstruction, so this query
    projects the oracle-checkable columns plus a per-file record count
    cross-check."""
    from . import warc as warc_mod

    k = F.col("o_orderkey")
    rows = _t(spark, sf_dir, "orders").select(
        (k % 24).alias("file_key"),
        F.concat(
            F.lit("https://h"), (k % 50).cast("string"),
            F.lit(".example.com/doc"), k.cast("string"), F.lit(".html"),
        ).alias("url"),
        F.concat(
            F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("T"),
            F.lpad((k % 24).cast("string"), 2, "0"), F.lit(":00:00Z"),
        ).alias("warc_date"),
        F.encode(
            F.concat(F.lit("doc "), k.cast("string"), F.lit(" body")), "UTF-8"
        ).alias("payload"),
    )
    cdx = warc_mod.warc_cdx(warc_mod.warc_pack(rows))
    return cdx.select("urlkey", "ts14", "url", "payload_md5")


ORACLE_WARC_CDX = """
SELECT
  'com,example,h' || cast(o_orderkey % 50 as varchar) || ')/doc'
    || cast(o_orderkey as varchar) || '.html' AS urlkey,
  strftime(o_orderdate, '%Y%m%d')
    || lpad(cast(o_orderkey % 24 as varchar), 2, '0') || '0000' AS ts14,
  'https://h' || cast(o_orderkey % 50 as varchar) || '.example.com/doc'
    || cast(o_orderkey as varchar) || '.html' AS url,
  md5('doc ' || cast(o_orderkey as varchar) || ' body') AS payload_md5
FROM orders
"""


ORACLE_WARC = """
WITH p AS (SELECT
    'https://h' || cast(o_orderkey % 50 as varchar) || '.example.com/doc'
      || cast(o_orderkey as varchar) || '.html' AS url,
    strftime(o_orderdate, '%Y-%m-%d') || 'T'
      || lpad(cast(o_orderkey % 24 as varchar), 2, '0') || ':00:00Z' AS warc_date,
    '<html><head><title>Order ' || cast(o_orderkey as varchar)
      || '</title></head><body>' || o_orderpriority || ' status '
      || o_orderstatus || '</body></html>' AS body
  FROM orders)
SELECT url, warc_date, 'response' AS rec_type, 200 AS http_status,
  md5(body) AS payload_md5,
  cast(octet_length(cast(body as blob)) as bigint) AS n_bytes,
  1 AS digest_ok
FROM p
"""


def q_robots_sql_gate(spark, sf_dir):
    """RFC 9309 longest-match robots gate in pure SQL
    (frontier.robots_match_sql — the JVM scale twin of the urllib
    Arrow-UDF gate): 50 synthesized hosts with a decoy bot group,
    comments, blanks, Allow-overrides-Disallow nesting; 6 path shapes
    per order hit allow/deny/longest-match/no-match branches."""
    k = F.col("o_orderkey")
    n = (k % 50).cast("string")
    m = (k % 5).cast("string")
    host = F.concat(F.lit("h"), n, F.lit(".example.com"))
    robots = (
        _t(spark, sf_dir, "orders")
        .select(host.alias("host"), m.alias("m"))
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("# synthetic\nUser-agent: bot\nDisallow: /\n\n"
                      "User-agent: *\nAllow: /d"),
                F.col("m"),
                F.lit("/ok\nDisallow: /d"),
                F.col("m"),
                F.lit("/\nDisallow: /tmp\n"),
            ).alias("robots_txt"),
        )
    )
    path = (
        F.when(k % 6 == 0, F.concat(F.lit("/d"), m, F.lit("/x")))
        .when(k % 6 == 1, F.concat(F.lit("/d"), m, F.lit("/ok/page")))
        .when(k % 6 == 2, F.lit("/tmp/file"))
        .when(k % 6 == 3, F.concat(F.lit("/public/p"), k.cast("string")))
        .when(k % 6 == 4, F.concat(F.lit("/e"), m, F.lit("/x")))
        .otherwise(F.concat(F.lit("/d"), m, F.lit("/okay")))
    )
    fr = _t(spark, sf_dir, "orders").select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url"),
    )
    return frontier_mod.robots_match_sql(fr, robots).select(
        "host", "url", "allowed", "rule"
    )


ORACLE_ROBOTS_SQL = r"""
WITH o AS (SELECT o_orderkey AS k,
             'h' || cast(o_orderkey % 50 as varchar) || '.example.com' AS host,
             cast(o_orderkey % 5 as varchar) AS m
           FROM orders),
robots AS (SELECT DISTINCT host,
             '# synthetic' || chr(10) || 'User-agent: bot' || chr(10) ||
             'Disallow: /' || chr(10) || chr(10) ||
             'User-agent: *' || chr(10) ||
             'Allow: /d' || m || '/ok' || chr(10) ||
             'Disallow: /d' || m || '/' || chr(10) ||
             'Disallow: /tmp' || chr(10) AS robots_txt
           FROM o),
fr AS (SELECT host,
         'https://' || host ||
         CASE cast(k % 6 as int)
           WHEN 0 THEN '/d' || m || '/x'
           WHEN 1 THEN '/d' || m || '/ok/page'
           WHEN 2 THEN '/tmp/file'
           WHEN 3 THEN '/public/p' || cast(k as varchar)
           WHEN 4 THEN '/e' || m || '/x'
           ELSE '/d' || m || '/okay'
         END AS url
       FROM o),
lin0 AS (SELECT host, regexp_split_to_array(robots_txt, '\r?\n') AS arr
         FROM robots),
lin AS (SELECT host, i AS pos,
          trim(regexp_replace(arr[i], '#.*', '')) AS l
        FROM lin0, UNNEST(generate_series(1, len(arr))) AS g(i)),
marked0 AS (SELECT host, pos, l,
    regexp_matches(l, '(?i)^user-agent:') AS is_ua,
    regexp_extract(l, '(?i)^user-agent:\s*(\S+)', 1) AS agent,
    regexp_extract(l, '(?i)^allow:\s*(\S*)', 1) AS allow_pat,
    regexp_extract(l, '(?i)^disallow:\s*(\S*)', 1) AS dis_pat
  FROM lin),
marked1 AS (SELECT *,
    coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY pos), false)
      AS prev_ua
  FROM marked0),
marked AS (SELECT *,
    sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
      OVER (PARTITION BY host ORDER BY pos) AS run_id
  FROM marked1),
star_runs AS (SELECT DISTINCT host, run_id FROM marked
              WHERE is_ua AND agent = '*'),
rules AS (SELECT m.host,
            CASE WHEN allow_pat <> '' THEN allow_pat ELSE dis_pat END AS pattern,
            allow_pat <> '' AS is_allow
          FROM marked m JOIN star_runs USING (host, run_id)
          WHERE allow_pat <> '' OR dis_pat <> ''),
r2 AS (SELECT host, pattern, is_allow, length(pattern) AS plen FROM rules),
cand AS (SELECT host, url,
           coalesce(nullif(regexp_extract(url, '^[a-z]+://[^/]*(/[^#?]*)', 1), ''), '/') AS path
         FROM fr),
mm AS (SELECT c.host, c.url,
         r2.pattern, r2.is_allow, r2.plen,
         r2.pattern IS NOT NULL
           AND substr(c.path, 1, r2.plen) = r2.pattern AS hit
       FROM cand c LEFT JOIN r2 ON c.host = r2.host),
best AS (SELECT host, url, pattern, is_allow, hit,
           row_number() OVER (PARTITION BY url
             ORDER BY hit DESC, plen DESC, is_allow DESC, pattern) AS rn
         FROM mm)
SELECT host, url,
  CASE WHEN hit THEN is_allow ELSE true END AS allowed,
  CASE WHEN hit THEN pattern ELSE '' END AS rule
FROM best WHERE rn = 1
"""


# ===========================================================================
# Registry
# ===========================================================================

# Registry order = driver sweep order, and a sweep cut by a time or
# count budget only checks a prefix (the round-4 driver run covered only
# the first 50 entries — VERDICT What's-wrong #1).  So the six
# oracle-paired queries that no driver correctness sweep has ever
# reached go FIRST, whatever their cost; the rest follow CHEAPEST-FIRST
# with the oracle-paired queries ahead of the justified rows-only ones,
# so any cut lands on the most expensive / weakest-checked tail.
QUERIES = {
    # -- oracle-paired, never yet checked by a driver sweep -----------------
    "ann_ivf_frozen": q_ann_ivf_frozen,
    "cluster_assign": q_cluster_assign,
    "dedup_components": q_dedup_components,
    "dedup_span": q_span_dedup,
    "hostgraph_pagerank": q_hostgraph_pagerank,
    "text_repetition": q_text_repetition,
    # -- cheap single-projection scalar queries -----------------------------
    "text_tokens": q_text_tokens,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_pii_scrub": q_pii_scrub,
    "text_quality_gopher": q_gopher_quality,
    "text_c4_filter": q_c4_filter,
    "text_unigram_nll": q_unigram_nll,
    "text_dsir_weight": q_dsir_weight,
    "sketch_hll_distinct": q_hll_distinct,
    "sketch_countmin_topk": q_countmin_topk,
    "sitemap_extract": q_sitemap_extract,
    "url_surt": q_url_surt,
    "url_etld1": q_url_etld1,
    "domain_quality_rollup": q_domain_quality_rollup,
    "bm25_topk": q_bm25_topk,
    "anchor_texts": q_anchor_texts,
    "robots_sitemaps": q_robots_sitemaps,
    "trap_detect": q_trap_detect,
    "recrawl_schedule": q_recrawl_schedule,
    "warc_roundtrip": q_warc_roundtrip,
    "warc_cdx": q_warc_cdx,
    "robots_sql_gate": q_robots_sql_gate,
    "robots_crawl_delay": q_robots_crawl_delay,
    "redirect_resolve": q_redirect_resolve,
    "url_frontier_filter": q_url_frontier_filter,
    "doc_statistics": q_doc_statistics,
    "doc_keys": q_doc_keys,
    "join_lines": q_join_lines,
    "word_preprocess": q_word_preprocess,
    "filename_extract": q_filename_extract,
    "json_props": q_json_props,
    "citations": q_citations,
    "citation_count": q_citation_count,
    "citations_full": q_citations_full,
    "monetary_penalties": q_monetary_penalties,
    "monetary_penalties_full": q_monetary_penalties_full,
    "timeline": q_timeline,
    "locale_dates": q_locale_dates,
    # -- slim joins / windows / multimodal decodes --------------------------
    "seen_antijoin": q_seen_antijoin,
    "retention_window": q_retention_window,
    "dup_key_suffix": q_dup_key_suffix,
    "broadcast_dim_metrics": q_broadcast_dim_metrics,
    "sample_stratified": q_sample_stratified,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_png": q_multimodal_png,
    "multimodal_jpeg": q_multimodal_jpeg,
    "multimodal_wav": q_multimodal_wav,
    "multimodal_video": q_multimodal_video,
    "video_frame_sample": q_video_frame_sample,
    "dedup_exact": q_dedup_exact,
    "fingerprints": q_fingerprints,
    "emb_neardup": q_emb_neardup,
    "emb_neardup_lsh": q_emb_neardup_lsh,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh": q_ann_lsh,
    "stopword_topk": q_stopword_topk,
    "politeness_topk": q_politeness_topk,
    "windowed_agg": q_windowed_agg,
    "sessionize": q_sessionize,
    "skew_salted_agg": q_skew_salted_agg,
    # -- heavier shuffles / n-gram explodes / simulations --------------------
    "keywords_topk": q_keywords_topk,
    "keywords_full": q_keywords_full,
    "timeline_full": q_timeline_full,
    "shard_pack": q_shard_pack,
    "crawl_order_replay": q_crawl_order_replay,
    "frontier_union_dedupe": q_frontier_union_dedupe,
    "pricing_summary": q_pricing_summary,
    "frontier_schedule_sim": q_frontier_schedule_sim,
    "contamination_check": q_contamination,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "kmeans_clusters": q_kmeans_clusters,
    # -- justified rows-only checks last ------------------------------------
    "ann_ivf": q_ann_ivf,
    "reachability": q_reachability,
    "crawl_mini": q_crawl_mini,
}

ORACLES = {
    "frontier_schedule_sim": ORACLE_SCHEDULE_SIM,
    "pricing_summary": ORACLE_PRICING,
    "seen_antijoin": ORACLE_SEEN_ANTIJOIN,
    "politeness_topk": ORACLE_POLITENESS,
    "retention_window": ORACLE_RETENTION,
    "dup_key_suffix": ORACLE_DUP_KEY,
    "frontier_union_dedupe": ORACLE_UNION,
    "broadcast_dim_metrics": ORACLE_BROADCAST_DIM,
    "crawl_order_replay": ORACLE_REPLAY,
    "skew_salted_agg": ORACLE_SALTED,
    "windowed_agg": ORACLE_WINDOWED,
    "sessionize": ORACLE_SESSIONIZE,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_simhash": ORACLE_SIMHASH,
    "dedup_components": ORACLE_COMPONENTS,
    "fingerprints": ORACLE_FINGERPRINTS,
    "text_langid": ORACLE_LANGID,
    "text_quality": ORACLE_QUALITY,
    "text_tokens": ORACLE_TOKENS,
    "text_pii_scrub": ORACLE_PII_SCRUB,
    "text_quality_gopher": ORACLE_GOPHER,
    "text_c4_filter": ORACLE_C4,
    "text_unigram_nll": ORACLE_UNIGRAM_NLL,
    "text_dsir_weight": ORACLE_DSIR,
    "hostgraph_pagerank": ORACLE_PAGERANK,
    "sketch_hll_distinct": ORACLE_HLL,
    "sketch_countmin_topk": ORACLE_COUNTMIN,
    "sitemap_extract": ORACLE_SITEMAP,
    "url_surt": ORACLE_URL_SURT,
    "url_etld1": ORACLE_URL_ETLD1,
    "domain_quality_rollup": ORACLE_DOMAIN_ROLLUP,
    "bm25_topk": ORACLE_BM25,
    "anchor_texts": ORACLE_ANCHOR_TEXTS,
    "robots_sitemaps": ORACLE_ROBOTS_SITEMAPS,
    "trap_detect": ORACLE_TRAP,
    "recrawl_schedule": ORACLE_RECRAWL,
    "warc_roundtrip": ORACLE_WARC,
    "warc_cdx": ORACLE_WARC_CDX,
    "robots_sql_gate": ORACLE_ROBOTS_SQL,
    "robots_crawl_delay": ORACLE_CRAWL_DELAY,
    "redirect_resolve": ORACLE_REDIRECT,
    "text_repetition": ORACLE_REPETITION,
    "dedup_span": ORACLE_SPAN_DEDUP,
    "url_frontier_filter": ORACLE_URL_FILTER,
    "contamination_check": ORACLE_CONTAMINATION,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "shard_pack": ORACLE_SHARD_PACK,
    "doc_statistics": ORACLE_DOC_STATS,
    "stopword_topk": ORACLE_STOPWORDS,
    "ann_cosine_topk": ORACLE_ANN_BRUTE,
    "ann_lsh": ORACLE_ANN_LSH,
    "ann_ivf_frozen": ORACLE_ANN_IVF_FROZEN,
    "emb_neardup": ORACLE_EMB_NEARDUP,
    "emb_neardup_lsh": ORACLE_EMB_NEARDUP_LSH,
    "locale_dates": ORACLE_LOCALE_DATES,
    "multimodal_decode": ORACLE_MULTIMODAL,
    "multimodal_png": ORACLE_MULTIMODAL_PNG,
    "multimodal_jpeg": ORACLE_MULTIMODAL_JPEG,
    "multimodal_wav": ORACLE_MULTIMODAL_WAV,
    "multimodal_video": ORACLE_MULTIMODAL_VIDEO,
    "video_frame_sample": ORACLE_VIDEO_FRAME_SAMPLE,
    "citations": ORACLE_CITATIONS,
    "citations_full": ORACLE_CITATIONS_FULL,
    "citation_count": ORACLE_CITATION_COUNT,
    "keywords_topk": ORACLE_KEYWORDS,
    "keywords_full": ORACLE_KEYWORDS_FULL,
    "timeline": ORACLE_TIMELINE,
    "timeline_full": ORACLE_TIMELINE_FULL,
    "monetary_penalties": ORACLE_PENALTIES,
    "monetary_penalties_full": ORACLE_MONETARY_FULL,
    "join_lines": ORACLE_JOIN_LINES,
    "doc_keys": ORACLE_DOC_KEYS,
    "word_preprocess": ORACLE_WORD_PREPROCESS,
    "filename_extract": ORACLE_FILENAME,
    "json_props": ORACLE_JSON_PROPS,
    "cluster_assign": ORACLE_CLUSTER_ASSIGN,
    "kmeans_clusters": ORACLE_KMEANS,
    # crawl_mini: intentionally no oracle (fixtures are not DuckDB
    # views; its ground truth is the sequential oracle in
    # tests/test_e2e_crawl.py).  ann_ivf / reachability: justified
    # rows-only (recall/CSS probing not SQL-expressible).
}
