"""crawl_polite: a politeness-bound crawl driven round by round through
``rounds.CrawlRun``, checked against ``fixtures.sequential_oracle``.

Timed pass: ``CrawlRun(...)`` + ``init()`` (set-up, several times), then
``round()`` in a closed loop until the frontier drains.  Traced pass:
the same crawl with the table commit calls wrapped, then replays of the
schedule, extract and dedupe layers from the crawl's own durable state
(per-round pending snapshots found through the lineage table).
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import inputs
from perfbench.trace import (EventLog, TableCalls, Tracer, dir_bytes, log,
                             median, noop_write, union_s)

SETUP_REPS = 3


def _new_run(spark, web: dict, state_dir: str):
    from crawler_spark import fixtures
    from crawler_spark.rounds import CrawlRun

    return CrawlRun(
        spark,
        state_dir=state_dir,
        pages_path=web["pages"],
        seeds_path=web["seeds"],
        robots_path=web["robots"],
        as_of=fixtures.AS_OF,
        round_seconds=inputs.POLITE_ROUND_SECONDS,
    )


def prepare(work: str, seed: int) -> dict:
    """Untimed, before Spark starts: the seeded web and its oracle."""
    from crawler_spark import fixtures

    web = fixtures.generate(os.path.join(work, "web"),
                            authorities=inputs.polite_authorities(seed),
                            **inputs.POLITE_SHAPE)
    return {"web": web,
            "oracle": fixtures.sequential_oracle(os.path.dirname(web["pages"]))}


def setup(spark, prep: dict, work: str) -> tuple[object, list[float]]:
    """CrawlRun(...) + init() SETUP_REPS times on fresh state dirs; the
    last run is kept for the crawl."""
    times, run = [], None
    for i in range(SETUP_REPS):
        if run is not None:
            shutil.rmtree(run.state_dir, ignore_errors=True)
        t0 = time.time()
        run = _new_run(spark, prep["web"], os.path.join(work, f"state{i}"))
        run.init()
        times.append(time.time() - t0)
    return run, times


def crawl(run, tracer: Tracer | None = None) -> tuple[float, list[dict]]:
    """round() until drained; returns (wall_s, per-round stats)."""
    stats, r = [], 1
    t0 = time.time()
    while True:
        if tracer is None:
            st = run.round(r)
        else:
            with tracer.span("round", f"round-{r}"):
                st = run.round(r)
        if st is None:
            break
        stats.append(st)
        r += 1
    return time.time() - t0, stats


def check(spark, run, oracle: dict) -> float:
    """Share of matched items over the union of oracle and produced
    items: documents by key (url and text must be byte-identical), the
    fetched-URL set and the final seen set."""
    docs = {r["doc_hash"]: (r["url"], r["text"]) for r in
            run.documents.read(spark).select("doc_hash", "url", "text").collect()}
    want = {d["doc_hash"]: (d["url"], d["text"]) for d in oracle["documents"]}
    fetched = {r["url"] for r in run.fetch_log.read(spark).select("url").distinct().collect()}
    seen = {r["doc_hash"] for r in run.seen.read(spark).select("doc_hash").collect()}
    matched = sum(1 for k, v in want.items() if docs.get(k) == v)
    checked = len(want.keys() | docs.keys())
    for got, exp in ((fetched, set(oracle["fetch_order"])), (seen, set(oracle["seen"]))):
        matched += len(got & exp)
        checked += len(got | exp)
    return matched / checked


def state_mb(run) -> float:
    return dir_bytes(run.state_dir, skip=("scratch",)) / (1024.0 * 1024.0)


def timed(spark, prep: dict, work: str, seconds: float) -> dict:
    """One timed run.  The crawl is the closed-loop unit; crawls repeat
    on fresh state until ``seconds`` of crawl time have been measured."""
    setups, walls, shares = [], [], []
    while not walls or sum(walls) < seconds:
        run, times = setup(spark, prep, work)
        setups.extend(times)
        try:
            wall, stats = crawl(run)
            log(f"crawl {wall:.2f} s, rounds " + " ".join(f"{st['wall_s']:.2f}" for st in stats))
            walls.append(wall)
            shares.append(check(spark, run, prep["oracle"]))
        finally:
            shutil.rmtree(run.state_dir, ignore_errors=True)
    return {"wall_s": median(walls), "setup_s": median(setups),
            "shares": shares}


# -- traced pass + layer replays ---------------------------------------------------


def traced(spark, prep: dict, work: str, tracer: Tracer, untraced_first: bool) -> dict:
    """One traced crawl, then the layer replays over its state.  With
    ``untraced_first`` an untraced crawl runs first, as the base for the
    tracing overhead."""
    out = {}
    if untraced_first:
        run, _ = setup(spark, prep, work)
        out["untraced_wall_s"], _ = crawl(run)
        shutil.rmtree(run.state_dir, ignore_errors=True)
    run, _ = setup(spark, prep, work)
    try:
        with TableCalls() as tc:
            wall, stats = crawl(run, tracer)
        rounds = tracer.windows("round")[: len(stats)]

        def job_metrics(ev: EventLog) -> dict:
            jobs = ev.within(rounds)
            return {"rounds.jobs_per_round": len(jobs) / len(rounds),
                    **EventLog.rollup(jobs)}

        out.update(wall_s=wall, shares=[check(spark, run, prep["oracle"])],
                   job_metrics=job_metrics,
                   metrics={**_round_metrics(run, stats, tracer, tc),
                            **replay(spark, run, tracer)})
        return out
    finally:
        shutil.rmtree(run.state_dir, ignore_errors=True)


def _round_metrics(run, stats, tracer: Tracer, tc: TableCalls) -> dict:
    n = len(stats)
    fetches = run.fetch_log.read(run.spark).count()
    per_round = []
    for sp in [sp for sp in tracer.spans if sp["name"] == "round"][:n]:
        calls = tc.within(sp["start"], sp["end"])
        for c in calls:
            tracer.spans.append({"name": f"table.{c['method']}",
                                 "trace_id": sp["trace_id"], "parent": "round",
                                 "start": c["start"], "end": c["end"],
                                 "table": c["table"]})
        per_round.append((len(calls), union_s([(c["start"], c["end"]) for c in calls]),
                          sum(c["end"] - c["start"] for c in calls),
                          sum(c["bytes"] for c in calls)))
    return {
        "rounds.count": float(n),
        "rounds.p50_s": median(st["wall_s"] for st in stats),
        "rounds.scheduled_per_round": sum(st["scheduled"] for st in stats) / n,
        "crawl.urls_per_s": fetches / sum(st["wall_s"] for st in stats),
        "tables.calls_per_round": sum(p[0] for p in per_round) / n,
        "tables.busy_s_per_round": sum(p[1] for p in per_round) / n,
        "tables.sum_s_per_round": sum(p[2] for p in per_round) / n,
        "tables.bytes_per_round": sum(p[3] for p in per_round) / n,
        "tables.state_mb": state_mb(run),
    }


def _lineage(spark, run) -> dict[int, dict]:
    rows = (run.lineage.read(spark)
            .select("round_id", "frontier_snapshot", "done_snapshot",
                    "fetched", "extracted")
            .distinct().collect())
    return {int(r["round_id"]): r.asDict() for r in rows}


def replay(spark, run, tracer: Tracer) -> dict:
    """Re-run the schedule, extract and dedupe layers for every round
    from that round's pending snapshot; asserts that the replays
    reproduce the crawl's own scheduled and extracted counts."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from crawler_spark import frontier as FR
    from crawler_spark import seen as SN
    from crawler_spark import urls
    from crawler_spark.extract import EXTRACT_OUT, make_fetch_extract

    lin = _lineage(spark, run)
    rounds = sorted(r for r in lin if r > 0)
    plan_cols = ("n_salts", "salt_budget", "budget", "host_salt")
    sched_cols = ("url", "authority", "doc_type", "depth", "priority", "seq",
                  "title", "release_date", "doc_hash", "raw_hash")
    sched_s, stage_s, parse_s, dedupe_s = [], [], [], []
    rows = {"pending": 0, "scheduled": 0, "denied": 0, "hits": 0, "out": 0,
            "dedupe_in": 0, "dedupe_new": 0}
    pages = run.pages_df().select("url", "html", F.col("lang").alias("page_lang"))
    extract_fn = make_fetch_extract(run.as_of, run.store_content)
    for r in rounds:
        prev = lin[r - 1]
        pending = run.pending.read(spark, prev["frontier_snapshot"]).persist(
            StorageLevel.MEMORY_AND_DISK)
        rows["pending"] += pending.count()
        tid = f"round-{r}"
        # schedule: budgets -> salt plan -> pre-prune -> robots -> rank
        with tracer.span("frontier.schedule", tid) as sp:
            budgets = FR.host_budgets(pending, run.seeds_df(), run.round_seconds)
            plan = FR.salt_plan(pending, budgets)
            binding = FR.budgets_bind(plan)
            salted = FR.salt_rows(pending, budgets, plan=plan)
            if binding:
                salted = FR.preprune(salted, margin=run.preprune_margin)
            flagged = FR.robots_flag(salted, run.robots_df()).persist(
                StorageLevel.MEMORY_AND_DISK)
            allowed = flagged.filter(F.col("__allowed")).drop("__allowed")
            sched = FR.rank_budget(allowed) if binding else allowed.drop(*plan_cols)
            scheduled = sched.persist(StorageLevel.MEMORY_AND_DISK)
            n_sched = scheduled.count()
        sched_s.append(sp["end"] - sp["start"])
        n_denied = flagged.filter(~F.col("__allowed")).count()
        if n_sched != lin[r]["fetched"]:
            raise RuntimeError(f"schedule replay of round {r}: {n_sched} rows, "
                                 f"crawl scheduled {lin[r]['fetched']}")
        rows["scheduled"] += n_sched
        rows["denied"] += n_denied

        # extract: scheduled rows joined to pages -> mapInArrow -> noop
        hits = pages.join(F.broadcast(scheduled.select(*sched_cols)), "url").select(
            *sched_cols, "html", F.col("page_lang").alias("lang"))
        out = hits.mapInArrow(extract_fn, EXTRACT_OUT)
        with tracer.span("extract.stage", tid) as sp:
            noop_write(out)
        stage_s.append(sp["end"] - sp["start"])
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        kinds = {row["out_kind"]: row["count"] for row in
                 out.groupBy("out_kind").count().collect()}
        if kinds.get("doc", 0) != lin[r]["extracted"]:
            raise RuntimeError(f"extract replay of round {r}: {kinds.get('doc', 0)} "
                                 f"docs, crawl extracted {lin[r]['extracted']}")
        rows["out"] += sum(kinds.values())
        # parse ceiling: the same function in this process, one thread
        batches = hits.toArrow().to_batches(max_chunksize=2048)
        n_hits = sum(b.num_rows for b in batches)
        rows["hits"] += n_hits
        with tracer.span("extract.parse_1proc", tid) as sp:
            for _ in extract_fn(iter(batches)):
                pass
        parse_s.append(sp["end"] - sp["start"])

        # dedupe: the round's children against everything enqueued
        # before it (pending + done at the round's start snapshot)
        cands = (out.filter(F.col("out_kind") == "child")
                 .select(F.xxhash64(urls.canonicalize_simple(F.col("url")))
                         .alias("url_hash"))
                 .dropDuplicates(["url_hash"]))
        done = (run.done.read(spark, prev["done_snapshot"]) if prev["done_snapshot"]
                else spark.createDataFrame([], run.done.schema))
        enq = pending.select("url_hash").unionByName(done.select("url_hash"))
        rows["dedupe_in"] += cands.count()
        with tracer.span("seen.dedupe", tid) as sp:
            rows["dedupe_new"] += SN.dedupe_against_seen(cands, enq).count()
        dedupe_s.append(sp["end"] - sp["start"])
        for df in (out, scheduled, flagged, pending):
            df.unpersist()

    final = run.frontier_view().persist(StorageLevel.MEMORY_AND_DISK)
    n_final = final.count()
    bloom_s, canon_s = [], []
    for i in range(3):
        with tracer.span("seen.bloom_build", f"final-{i}") as sp:
            noop_write(SN.bloom_build(spark, final.select("url_hash")))
        bloom_s.append(sp["end"] - sp["start"])
        with tracer.span("urls.canon", f"final-{i}") as sp:
            noop_write(final.select(
                F.xxhash64(urls.canonicalize_simple(F.col("url"))).alias("h")))
        canon_s.append(sp["end"] - sp["start"])
    final.unpersist()
    return {
        "frontier.schedule_s": median(sched_s),
        "frontier.pending_rows": float(rows["pending"]),
        "frontier.scheduled_rows": float(rows["scheduled"]),
        "frontier.denied_rows": float(rows["denied"]),
        "frontier.scheduled_share": rows["scheduled"] / rows["pending"],
        "extract.stage_rows_per_s": rows["hits"] / sum(stage_s),
        "extract.parse_rows_per_s_1proc": rows["hits"] / sum(parse_s),
        "extract.out_rows": float(rows["out"]),
        "seen.dedupe_s": median(dedupe_s),
        "seen.dedupe_in_rows": float(rows["dedupe_in"]),
        "seen.dedupe_new_share": rows["dedupe_new"] / max(rows["dedupe_in"], 1),
        "seen.bloom_build_s": median(bloom_s),
        "urls.canon_rows_per_s": n_final / median(canon_s),
    }

