"""analytics_fixpoint: the four oracle-paired iterative registry queries
(redirect_resolve, dedup_components, hostgraph_pagerank,
kmeans_clusters) over seeded tables, each forced through the noop sink.

A pass is one closed loop over the four queries: the registry call
(which runs the eager part of each fixpoint — checkpoints, driver
probes) and then the noop write of the returned DataFrame.  Outputs are
checked against DuckDB: the registry's own oracle SQL for three
queries; for dedup_components the registry's MinHash and SimHash pair
oracles feed a union-find here, because the recursive-CTE closure is
quadratic in component size.
"""

from __future__ import annotations

import math
import os
import time
from collections import Counter

from perfbench import inputs
from perfbench.trace import EventLog, Tracer, log, median, noop_write, plan_counts

QUERIES = ("redirect_resolve", "dedup_components", "hostgraph_pagerank",
           "kmeans_clusters")


def prepare(work: str, seed: int) -> dict:
    """Untimed, before Spark starts: seeded tables and their DuckDB
    reference rows."""
    data = os.path.join(work, "tables")
    inputs.analytics_tables(data, seed)
    return {"data": data, "oracle": oracle_rows(data)}


def _canon(df) -> Counter:
    df = df[sorted(df.columns)]

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        return repr(v) if isinstance(v, float) else str(v)

    return Counter(tuple(cell(v) for v in row) for row in df.itertuples(index=False))


def _components(pairs) -> "pd.DataFrame":
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    return pd.DataFrame({"node": nodes, "component": [find(n) for n in nodes]},
                        dtype="int64")


def oracle_rows(data: str) -> dict[str, Counter]:
    import duckdb

    from crawler_spark import queries as Q

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in ("orders", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {n: _canon(con.execute(Q.ORACLES[n]).df())
               for n in QUERIES if n != "dedup_components"}
        pairs = set()
        for sql in (Q.ORACLE_MINHASH, Q.ORACLE_SIMHASH):
            pairs |= set(con.execute(f"SELECT doc_a, doc_b FROM ({sql})").fetchall())
        out["dedup_components"] = _canon(_components(sorted(pairs)))
        return out
    finally:
        con.close()


def share(got: Counter, want: Counter) -> float:
    """Multiset rows matched over the union of produced and expected."""
    union = sum((got | want).values())
    return sum((got & want).values()) / union if union else 1.0


def one_pass(spark, data: str,
             tracer: Tracer | None = None) -> tuple[float, float, dict]:
    """Returns (wall_s, setup_s, per-query detail).  ``setup_s`` is the
    summed registry-call time: program work before the writes."""
    from crawler_spark import queries as Q

    detail, setup = {}, 0.0
    t0 = time.time()
    for name in QUERIES:
        q0 = time.time()
        df = Q.QUERIES[name](spark, data)
        q1 = time.time()
        noop_write(df)
        q2 = time.time()
        setup += q1 - q0
        detail[name] = {"start": q0, "end": q2, "df": df}
        if tracer is not None:
            tracer.spans.append({"name": "query", "trace_id": name,
                                 "parent": None, "start": q0, "end": q2})
            tracer.spans.append({"name": "query.call", "trace_id": name,
                                 "parent": "query", "start": q0, "end": q1})
    wall = time.time() - t0
    return wall, setup, detail


def check(prep: dict, detail: dict) -> dict[str, float]:
    """Rows of each query's DataFrame from the pass against DuckDB."""
    return {n: share(_canon(d["df"].toPandas()), prep["oracle"][n])
            for n, d in detail.items()}


def timed(spark, prep: dict, work: str, seconds: float) -> dict:
    """Passes until ``seconds`` of pass time are measured (at least one);
    every pass's outputs are checked."""
    walls, setups, shares = [], [], []
    while not walls or sum(walls) < seconds:
        wall, setup, detail = one_pass(spark, prep["data"])
        log(f"pass {wall:.2f} s (calls {setup:.2f} s)")
        shares.extend(check(prep, detail).values())
        spark.catalog.clearCache()
        walls.append(wall)
        setups.append(setup)
    return {"wall_s": median(walls), "setup_s": median(setups), "shares": shares}


def traced(spark, prep: dict, work: str, tracer: Tracer, untraced_first: bool) -> dict:
    """One traced pass (after an untraced one with ``untraced_first``,
    the base for the tracing overhead)."""
    out = {}
    if untraced_first:
        out["untraced_wall_s"], _, _ = one_pass(spark, prep["data"])
        spark.catalog.clearCache()
    wall, _, detail = one_pass(spark, prep["data"], tracer)
    metrics, windows = {}, {}
    for name, d in detail.items():
        scans, exchanges = plan_counts(d["df"])
        metrics[f"queries.{name}.s"] = d["end"] - d["start"]
        metrics[f"queries.{name}.plan_scans"] = float(scans)
        metrics[f"queries.{name}.plan_exchanges"] = float(exchanges)
        windows[name] = (d["start"], d["end"])

    def job_metrics(ev: EventLog) -> dict:
        jm = {f"queries.{n}.jobs": float(len(ev.within([w])))
              for n, w in windows.items()}
        return {**jm, **EventLog.rollup(ev.within(list(windows.values())))}

    out.update(wall_s=wall, shares=list(check(prep, detail).values()),
               metrics=metrics, job_metrics=job_metrics)
    spark.catalog.clearCache()
    return out
