#!/usr/bin/env python
"""Single-level crawl timing probe (diagnosis tool for run_scaling.py).

Usage: python BENCH/one_level.py <repo> <cpus> <profile> [fixture_root]

Runs the same child job as BENCH/run_scaling.py at ONE parallelism
level on the checkout given by <repo> (so a git worktree of an older
commit can be timed against HEAD on the same box), printing the
per-round stats JSON (each round's ``phases`` timings included when the
checkout's ``CrawlRun.round`` reports them).
"""

import json
import os
import shutil
import sys
import tempfile
import time

repo, cpus, profile = sys.argv[1], int(sys.argv[2]), sys.argv[3]
froot = sys.argv[4] if len(sys.argv) > 4 else "/tmp/crawler_spark_fixtures"
sys.path.insert(0, repo)

from crawler_spark.session import get_spark  # noqa: E402
from crawler_spark.fixtures import AS_OF, fixture_dir  # noqa: E402
from crawler_spark.rounds import CrawlRun  # noqa: E402

SHM = os.environ.get("SPARK_GRAFT_SCALE_STORAGE") == "shm"
STATE_ROOT = "/dev/shm" if SHM else None
spark = get_spark(f"onelevel{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=2 * cpus,
                  extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
                              "spark.sql.files.maxPartitionBytes": "8m",
                              "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
                              "spark.sql.inMemoryColumnarStorage.batchSize": "500",
                              "spark.sql.parquet.compression.codec": "zstd",
                              **({"spark.local.dir": "/dev/shm/spark_local"}
                                 if SHM else {}),
                              "spark.driver.memory": "24g",
                              "spark.driver.extraJavaOptions":
                                  "-Xms20g -XX:+AlwaysPreTouch"})
spark.sparkContext.setLogLevel("ERROR")


def crawl(fixdir):
    state = tempfile.mkdtemp(prefix=f"onelevel_{cpus}_", dir=STATE_ROOT)
    run = CrawlRun(spark, state_dir=state,
                   pages_path=f"{fixdir}/pages.parquet",
                   seeds_path=f"{fixdir}/seeds.parquet",
                   robots_path=f"{fixdir}/robots.parquet", as_of=AS_OF,
                   round_seconds=3600.0, store_content=False)
    t0 = time.time()
    stats = run.run(max_rounds=10)
    wall = time.time() - t0
    fetched = run.fetch_log.read(spark).count()
    return wall, fetched, stats, state


w_wall, _, _, w_state = crawl(fixture_dir("scale_small", root=froot))
shutil.rmtree(w_state, ignore_errors=True)
os.sync()
wall, fetched, stats, state = crawl(fixture_dir(profile, root=froot))
shutil.rmtree(state, ignore_errors=True)
print(json.dumps({"cpus": cpus, "profile": profile,
                  "wall_s": round(wall, 2), "fetched": fetched,
                  "urls_per_sec": round(fetched / wall, 2),
                  "warmup_wall_s": round(w_wall, 2),
                  "rounds": stats}, default=str))
