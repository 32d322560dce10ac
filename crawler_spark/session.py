"""SparkSession factory with scale-oriented defaults.

The reference is a single-threaded CLI (``gdprCrawler.py:303-304`` — one
URL in flight, no threading anywhere).  This engine is built for a
multi-executor cluster reading a 10^10-row frontier, so the session is
configured for that shape even when tests run on ``local[N]``:

- AQE on (coalesce shuffle partitions, skew-join splitting, dynamic
  broadcast) — runtime re-planning matters when the frontier's host
  distribution is Zipfian.
- Arrow execution on — every Python stage in the engine is a
  ``pandas_udf`` / ``mapInPandas`` / ``applyInPandas``; there are no
  per-row Python UDFs anywhere (BASELINE.json input_hint).
- shuffle partitions sized by the caller (tests use 32 = local cores;
  a real cluster would use 2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the crawl workload."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffles of persisted plans too: the round's
        # cached schedule comes out of the rank window's shuffle, and
        # without this every slim sink derived from it writes
        # spark.sql.shuffle.partitions files a round
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html payloads are large; keep Arrow batches bounded so the
        # fetch/extract mapInPandas stage stays within executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # broadcast dims (authorities, robots, seeds) freely; the big
        # frontier x pages join is left to sort-merge / AQE.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # a round's writes are partitioned by sink: concurrent writers keep
        # the payload write (doc|rest) sort-free — the fallback re-sorts
        # ~12 KB payload rows by the key on the hot stage — and each slim
        # write task is one union branch, so it writes a single sink
        .config("spark.sql.maxConcurrentOutputFileWriters", "4")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
