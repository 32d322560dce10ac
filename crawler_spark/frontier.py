"""Frontier scheduling: salted per-host partitions, politeness token
buckets, robots gating, P3/P4 candidate admission (SURVEY.md §2.6, §4).

Reference behavior re-expressed:

- R1 politeness ``time.sleep(5)`` before each fetch (36 call sites, e.g.
  ``pygdpr/models/dpa/ireland/__init__.py:144``) becomes a **per-host
  budget per micro-batch round**: ``capacity = round_seconds / delay``
  fetch tokens; enforced declaratively with ``row_number() OVER
  (PARTITION BY host_salt ORDER BY priority, seq) <= salt_budget`` —
  rows over budget stay ``pending`` for the next round.
- hot-host skew (Zipfian frontier) is killed by salting:
  ``host_salt = host || '#' || pmod(url_hash, S)`` with S derived from
  per-host pending counts and **capped at the host's budget** so the
  token-bucket semantics survive the split (budget divided across
  salts; total scheduled per host never exceeds the budget).
- R5 robots.txt gating (north_rule; absent in the reference): broadcast
  join on host + an Arrow-vectorized pandas UDF wrapping stdlib
  ``urllib.robotparser`` with a per-host parser cache.
- P3/P4 admission for document candidates — see :func:`admit_candidates`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from . import urls

MAX_SALTS = 32
UNLIMITED_BUDGET = 1_000_000  # hosts with no politeness delay


# ---------------------------------------------------------------------------
# robots gating (R5)
# ---------------------------------------------------------------------------


@pandas_udf(BooleanType())
def robots_allowed_udf(url: pd.Series, robots_txt: pd.Series) -> pd.Series:
    """True iff robots.txt allows '*' to fetch url.  Null robots -> allow.

    Parser instances are cached per distinct robots body within the Arrow
    batch, so cost is O(distinct hosts), not O(rows).
    """
    from urllib.robotparser import RobotFileParser

    cache: dict[str, RobotFileParser] = {}
    out = []
    for u, body in zip(url, robots_txt):
        if body is None or u is None:
            out.append(True)
            continue
        rp = cache.get(body)
        if rp is None:
            rp = RobotFileParser()
            rp.parse(body.splitlines())
            cache[body] = rp
        out.append(rp.can_fetch("*", u))
    return pd.Series(out, dtype=bool)


def robots_flag(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Pending rows + ``__allowed`` robots verdict (one UDF pass).

    robots is a small dim -> broadcast join; no shuffle of the frontier.
    Callers persist THIS frame and filter it twice, so the gate UDF runs
    once per round, not once per consumer.
    """
    joined = frontier.join(
        F.broadcast(robots), on=frontier["host"] == robots["host"], how="left"
    ).drop(robots["host"])
    return joined.withColumn(
        "__allowed", robots_allowed_udf(F.col("url"), F.col("robots_txt"))
    ).drop("robots_txt")


# ---------------------------------------------------------------------------
# politeness scheduling (R1) inside salted per-host partitions
# ---------------------------------------------------------------------------


def host_budgets(
    pending: DataFrame, seeds: DataFrame, round_seconds: float = 60.0
) -> DataFrame:
    """Per-host token budget for one round: round_seconds / delay.

    The politeness delay is an authority property in the seeds table
    (FIXTURES.md §2); a host's budget is bounded by the *strictest*
    authority that fetches from it (min over authorities -> max delay).
    """
    delays = seeds.groupBy("authority").agg(
        F.max("politeness_delay_s").alias("delay_s")
    )
    return (
        pending.select("host", "authority")
        .distinct()
        .join(F.broadcast(delays), "authority", "left")
        .groupBy("host")
        .agg(F.max("delay_s").alias("delay_s"))
        .select(
            "host",
            F.when(
                F.col("delay_s").isNull() | (F.col("delay_s") <= 0.0),
                F.lit(UNLIMITED_BUDGET),
            )
            .otherwise(
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(round_seconds) / F.col("delay_s")).cast("int"),
                )
            )
            .alias("budget"),
        )
    )


def salt_plan(
    pending: DataFrame,
    budgets: DataFrame,
    salt_rows_target: int = 50_000,
) -> DataFrame:
    """Per-host salt plan: (host, n_pending, budget, n_salts, salt_budget).

    ``S = clamp(ceil(n/target), 1, min(MAX_SALTS, budget))`` — S never
    exceeds the budget so the per-salt budget ``budget // S`` keeps host
    totals <= budget.  A cheap two-column map-side partial aggregation
    over pending.
    """
    counts = pending.groupBy("host").agg(F.count("*").alias("n_pending"))
    return (
        counts.join(F.broadcast(budgets), "host", "left")
        .na.fill({"budget": UNLIMITED_BUDGET})
        .select(
            "host",
            "n_pending",
            "budget",
            F.least(
                F.greatest(
                    F.ceil(F.col("n_pending") / F.lit(salt_rows_target)).cast("int"),
                    F.lit(1),
                ),
                F.least(F.lit(MAX_SALTS), F.col("budget")),
            ).alias("n_salts"),
        )
        .withColumn(
            "salt_budget", F.floor(F.col("budget") / F.col("n_salts")).cast("int")
        )
    )


def budgets_bind(plan: DataFrame) -> bool:
    """True iff some host's pending exceeds what its budget admits (one
    collect over the per-host plan).

    Its only caller is perfbench's schedule replay, which skips the rank
    window when this is False; the crawl round always ranks
    (:func:`schedule`).
    """
    row = plan.agg(
        F.max(
            F.col("n_pending") - F.col("n_salts").cast("long") * F.col("salt_budget")
        ).alias("excess")
    ).collect()[0]
    return row["excess"] is not None and row["excess"] > 0


def salt_rows(
    pending: DataFrame,
    budgets: DataFrame,
    salt_rows_target: int = 50_000,
    plan: DataFrame | None = None,
) -> DataFrame:
    """Attach the salt plan to pending rows (stage 1+2 of scheduling):
    ``host_salt = host#pmod(url_hash, S)`` spreads a hot host over S
    shuffle partitions so the rank window never sees a whole hot host
    in one reducer."""
    if plan is None:
        plan = salt_plan(pending, budgets, salt_rows_target)
    return pending.join(F.broadcast(plan.drop("n_pending")), "host").withColumn(
        "host_salt",
        F.concat(
            F.col("host"), F.lit("#"), F.pmod(F.col("url_hash"), F.col("n_salts"))
        ),
    )


def preprune(salted: DataFrame, margin: int = 4) -> DataFrame:
    """Map-side partial top-k over salted pending rows (VERDICT round 2,
    what's-wrong #3): within each Arrow batch keep only the
    ``margin * salt_budget`` best (priority, seq) rows per host_salt.

    This is the window analog of partial aggregation: any row in the
    global per-salt top-``salt_budget`` is also in its batch's
    top-``salt_budget``, so the pruned frame is an EXACT superset of
    what the rank window selects — the window's input shrinks from
    O(pending) to O(partitions x budget x margin) rows without changing
    its output.  The margin gives the downstream robots gate slack:
    denied rows inside the pruned set are replaced by the next-ranked
    pruned rows instead of forcing an under-filled round.

    No shuffle: mapInPandas over whatever partitioning pending already
    has; the sort is batch-local (Arrow batches are bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch).
    """
    schema = salted.schema

    def prune(batches):
        for pdf in batches:
            n = len(pdf)
            # a group can never exceed its batch: when every row's
            # budget x margin covers the whole batch, nothing can be
            # pruned — skip the sort entirely (wide-open budgets)
            if n == 0 or (pdf["salt_budget"].to_numpy() * margin >= n).all():
                yield pdf
                continue
            pdf = pdf.sort_values(["host_salt", "priority", "seq"])
            rank = pdf.groupby("host_salt", sort=False).cumcount()
            yield pdf[rank < pdf["salt_budget"].to_numpy() * margin]

    return salted.mapInPandas(prune, schema)


def rank_budget(salted: DataFrame) -> DataFrame:
    """Stage 3: rank by (priority, seq) inside each salt; keep rank <=
    per-salt budget.  ORDER BY seq makes scheduling deterministic and
    replays the reference's crawl order (SURVEY.md §3.3).

    The cap is per salt: a host split over salts (more than
    ``salt_rows_target`` pending rows) gets fewer than its budget when
    uneven salts overflow ``salt_budget``, even if its pending fits."""
    w = Window.partitionBy("host_salt").orderBy("priority", "seq")
    return (
        salted.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= F.col("salt_budget"))
        .drop("__rank", "n_salts", "salt_budget", "budget", "host_salt")
    )


def schedule(
    pending: DataFrame,
    budgets: DataFrame,
    salt_rows_target: int = 50_000,
    preprune_margin: int | None = None,
) -> DataFrame:
    """Pick this round's fetch set under per-host budgets with one rule:
    salt -> optional map-side pre-prune -> rank window, whether or not
    any budget binds (the per-salt cap of :func:`rank_budget` applies
    to every host)."""
    salted = salt_rows(pending, budgets, salt_rows_target)
    if preprune_margin is not None:
        salted = preprune(salted, margin=preprune_margin)
    return rank_budget(salted)


def quota_gate(
    rows: DataFrame,
    budgets: DataFrame,
    key_col: str = "authority",
    cost_col: str = "cost",
    order_col: str = "seq",
) -> tuple[DataFrame, DataFrame]:
    """R3: second-resource quota (the translate-quota pattern,
    ``pygdpr/services/translate_quota_service.py:8-29`` — 10^6 chars per
    100 s per project, enforced before each translate call with a
    sleep-until-refill).

    Generalized as a scheduler policy over any cost column: rows are
    consumed in deterministic ``order_col`` order per key, a running
    cumulative sum is compared against the key's budget, and rows past
    the budget are **deferred** (returned separately to stay pending for
    the next round — the declarative analog of the reference's 105 s
    back-off sleep, ``pygdpr/models/dpa/__init__.py:656-659``).

    ``budgets``: (key_col, budget) — small dim, broadcast.  The window
    runs inside per-key partitions; for a pathologically hot key, salt
    the key first exactly like :func:`schedule` does for hosts (a salted
    cumsum admits ≤ budget per salt, preserving the invariant
    total-per-key ≤ budget).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = rows.join(F.broadcast(budgets), key_col, "left").withColumn(
        "__cum", F.sum(F.col(cost_col)).over(w)
    )
    admitted = flagged.filter(
        F.col("budget").isNull() | (F.col("__cum") <= F.col("budget"))
    ).drop("__cum", "budget")
    deferred = flagged.filter(
        F.col("budget").isNotNull() & (F.col("__cum") > F.col("budget"))
    ).drop("__cum", "budget")
    return admitted, deferred


# ---------------------------------------------------------------------------
# candidate admission: P3 (persistent seen) + P4 (within-run duplicates)
# ---------------------------------------------------------------------------


def admit_candidates(
    candidates: DataFrame,
    seen: DataFrame,
    frontier_depth1: DataFrame,
    run_id: int,
) -> DataFrame:
    """Decide final doc keys for depth-1 candidates of one round.

    Semantics mirrored from the reference (and the sequential oracle in
    fixtures.py):

    - P3: drop candidates whose raw md5 equals a *final* key from a
      previous run (``document_hash in existing_docs``,
      ``pygdpr/models/dpa/austria/__init__.py:100-103``) — left-anti join.
    - P4: within the current run, the first occurrence (by seq) of a raw
      hash registers its date; later occurrences with the same date are
      dropped, different dates get ``md5-<iso date>`` keys, and repeated
      (hash, date) pairs keep only the first
      (``pygdpr/models/dpa/denmark/__init__.py:135-140``).  "First"
      spans earlier rounds (frontier depth-1 rows already enqueued this
      run) plus the current batch, resolved with one window over
      ``raw_hash ORDER BY seq``.

    Input needs columns: url, url_hash, raw_hash, release_date, seq (+
    passthrough).  Output: admitted rows with final ``doc_hash``.
    """
    # P3 — prior-run final keys, compared against the candidate's RAW
    # md5 key.  The seen table is the 10^10-row side, so the exact check
    # is a probe-shaped anti-join (seen is scanned, never shuffled).  In
    # a single-run crawl the prior-run set is empty; in a re-crawl every
    # re-listed old document IS a member, so a Bloom pre-filter would
    # send it to this same probe anyway.
    from . import seen as SN

    prior = seen.filter(F.col("run_id") < run_id).select(
        F.col("doc_hash").alias("raw_hash")
    )
    cand = SN.anti_join_probe(candidates, prior, "raw_hash")

    # first-date registry from earlier rounds of this run — probe-shaped:
    # the big depth-1 set is first semi-filtered (broadcast) down to the
    # raw_hashes present in this round's candidates, so the groupBy and
    # the join below only ever touch round-sized data; the frontier side
    # is scanned, never shuffled.
    reg = (
        frontier_depth1.filter(F.col("raw_hash").isNotNull())
        .join(
            # pre-P3 candidate set: a superset probe is harmless (left
            # join below) and avoids recomputing the P3 probe
            F.broadcast(candidates.select("raw_hash").distinct()),
            "raw_hash",
            "left_semi",
        )
        .groupBy("raw_hash")
        .agg(
            F.min_by("release_date", "seq").alias("first_date"),
            F.min("seq").alias("first_seq"),
        )
    )
    # resolve "first" across (registry ∪ current batch) with one window
    w = Window.partitionBy("raw_hash").orderBy("seq")
    cand = (
        cand.join(F.broadcast(reg), "raw_hash", "left")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__batch_first_date", F.first("release_date").over(w)
        )
        .withColumn(
            "first_date",
            F.coalesce(F.col("first_date"), F.col("__batch_first_date")),
        )
    )
    is_first = F.col("first_seq").isNull() & (F.col("__rn") == 1)
    # null-safe: no-date profiles (retention 'none' — malta/bulgaria)
    # register None as the first date, and a later None occurrence is
    # the same-date-skip case (oracle: Python None == None)
    same_date = F.col("release_date").eqNullSafe(F.col("first_date"))
    cand = cand.withColumn(
        "doc_hash",
        F.when(is_first, F.col("raw_hash")).otherwise(
            F.when(same_date, F.lit(None)).otherwise(
                F.concat(
                    F.col("raw_hash"),
                    F.lit("-"),
                    F.date_format("release_date", "yyyy-MM-dd"),
                )
            )
        ),
    ).filter(F.col("doc_hash").isNotNull())
    # repeated (hash, date) after suffixing -> first by seq wins,
    # within the batch (window) and across earlier rounds (anti-join
    # against final keys already enqueued this run)
    w2 = Window.partitionBy("doc_hash").orderBy("seq")
    cand = cand.withColumn("__rn2", F.row_number().over(w2)).filter(
        F.col("__rn2") == 1
    ).drop("__rn", "__rn2", "__batch_first_date", "first_date", "first_seq")
    # already-enqueued final keys: probe-shaped anti (frontier scanned,
    # never shuffled — see seen.anti_join_probe)
    return SN.anti_join_probe(
        cand,
        frontier_depth1.filter(F.col("doc_hash").isNotNull()).select("doc_hash"),
        "doc_hash",
    )


def seed_frontier(seeds: DataFrame) -> DataFrame:
    """Seeds -> depth-0 frontier rows with deterministic seed_idx seq.

    seed_idx follows (priority, authority, doc_type) order — the CLI
    dispatch order of the reference (gdprCrawler.py:124-289).
    """
    w = Window.orderBy("priority", "authority", "doc_type")
    # seq = seq_seed(seed_idx, page=1): shifts match extract.py bit layout
    return seeds.select(
        F.col("url"),
        urls.url_hash(F.col("url")).alias("url_hash"),
        "authority",
        "doc_type",
        F.lit(0).alias("depth"),
        F.col("priority"),
        urls.host_of(F.col("url")).alias("host"),
        (
            ((F.row_number().over(w) - F.lit(1)).cast("long") * F.lit(1 << 14)
             + F.lit(1)) * F.lit(1 << (6 + 12))
        ).alias("seq"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("retry_count"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("date").alias("release_date"),
        F.lit(None).cast("string").alias("doc_hash"),
        F.lit(None).cast("string").alias("raw_hash"),
    )


def _robots_star_lines(robots: DataFrame) -> DataFrame:
    """Parse raw robots.txt bodies into directive lines belonging to
    '*' user-agent groups, with pure SQL/window expressions — the JVM
    scale path beside the urllib.robotparser Arrow UDF
    (:func:`robots_allowed_udf`, the reference-faithful twin per
    SURVEY R5).

    Grammar handled (RFC 9309 subset, documented): comments stripped,
    blank lines, User-agent groups where CONSECUTIVE user-agent lines
    share the following rules (run-detection via lag+cumsum windows),
    Allow/Disallow prefix patterns (no * or $ wildcards — the fixture
    and reference corpus never use them) plus Crawl-delay, empty
    patterns ignored by the consumers.

    Input: (host, robots_txt).  Output: marked directive lines
    (allow_pat/dis_pat/delay_pat columns) of groups naming agent '*'.
    Window partitions are per-host robots lines (bounded by the
    500 KiB robots size cap real crawlers enforce), so no skew at any
    corpus size.
    """
    lines = (
        robots.select(
            "host",
            F.posexplode(F.split("robots_txt", r"\r?\n")).alias("pos", "raw"),
        )
        .select(
            "host", "pos",
            F.trim(F.regexp_replace("raw", "#.*", "")).alias("l"),
        )
    )
    w = Window.partitionBy("host").orderBy("pos")
    marked = lines.select(
        "host", "pos", "l",
        F.expr("l rlike '(?i)^user-agent:'").alias("is_ua"),
        F.expr(r"regexp_extract(l, '(?i)^user-agent:\\s*(\\S+)', 1)").alias("agent"),
        F.expr(r"regexp_extract(l, '(?i)^allow:\\s*(\\S*)', 1)").alias("allow_pat"),
        F.expr(r"regexp_extract(l, '(?i)^disallow:\\s*(\\S*)', 1)").alias("dis_pat"),
        F.expr(r"regexp_extract(l, '(?i)^crawl-delay:\\s*([0-9]+)', 1)").alias(
            "delay_pat"
        ),
    ).withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("is_ua")
                & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False)),
                1,
            ).otherwise(0)
        ).over(w),
    )
    star_runs = (
        marked.filter(F.col("is_ua") & (F.col("agent") == "*"))
        .select("host", "run_id")
        .distinct()
    )
    return marked.join(star_runs, ["host", "run_id"])


def robots_rules_sql(robots: DataFrame) -> DataFrame:
    """'*'-group Allow/Disallow prefix rules (see :func:`_robots_star_lines`
    for the grammar).  Output: (host, pattern, is_allow, plen)."""
    star = _robots_star_lines(robots)
    rules = star.filter(
        (F.col("allow_pat") != "") | (F.col("dis_pat") != "")
    ).select(
        "host",
        F.when(F.col("allow_pat") != "", F.col("allow_pat"))
        .otherwise(F.col("dis_pat"))
        .alias("pattern"),
        (F.col("allow_pat") != "").alias("is_allow"),
    )
    return rules.select(
        "host", "pattern", "is_allow", F.length("pattern").alias("plen")
    )


def robots_crawl_delay_sql(robots: DataFrame) -> DataFrame:
    """Per-host Crawl-delay from the '*' groups (min across duplicate
    directives — the conservative read), feeding the politeness token
    bucket: ``budget_per_round = floor(round_seconds / crawl_delay)``
    replaces the default per-host budget wherever a delay is declared
    (R1; the reference hard-codes time.sleep(5) — gdprCrawler.py:303 —
    which is exactly ``Crawl-delay: 5`` here).

    Output: (host, crawl_delay: bigint).  Same bounded per-host window
    partitions as the rules parser; one row per declaring host.
    """
    return (
        _robots_star_lines(robots)
        .filter(F.col("delay_pat") != "")
        .groupBy("host")
        .agg(F.min(F.col("delay_pat").cast("long")).alias("crawl_delay"))
    )


def robots_match_sql(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """RFC 9309 longest-match robots verdict, entirely JVM-side.

    Per URL: among '*'-group rules whose pattern is a path prefix
    (exact ``substr`` compare — no regex escapes to get wrong), the
    LONGEST pattern wins; Allow wins length ties; no match -> allowed
    (and rule '').  NOTE the deliberate semantic difference from the
    urllib twin: CPython's RobotFileParser is first-match-in-file-order,
    RFC 9309 is longest-match — tests/test_robots_sql.py pins both the
    agreeing corpus and a divergence case.

    Scale: rules are a broadcast dimension (hosts x few rules); the
    only frontier-keyed shuffle is the per-URL argmax window, which a
    production round fuses with the politeness window on the same key.

    Output: frontier columns + (allowed: boolean, rule: string).
    """
    rules = robots_rules_sql(robots)
    path = F.coalesce(
        F.nullif(F.regexp_extract("url", "^[a-z]+://[^/]*(/[^#?]*)", 1), F.lit("")),
        F.lit("/"),
    )
    cand = frontier.withColumn("__path", path)
    m = cand.join(F.broadcast(rules), "host", "left").withColumn(
        "__hit",
        F.col("pattern").isNotNull()
        & (F.expr("substring(__path, 1, plen)") == F.col("pattern")),
    )
    wu = Window.partitionBy("url").orderBy(
        F.desc("__hit"), F.desc("plen"), F.desc("is_allow"), F.col("pattern")
    )
    best = (
        m.withColumn("__rn", F.row_number().over(wu))
        .filter(F.col("__rn") == 1)
        .withColumn(
            "allowed",
            F.when(F.col("__hit"), F.col("is_allow")).otherwise(F.lit(True)),
        )
        .withColumn(
            "rule",
            F.when(F.col("__hit"), F.col("pattern")).otherwise(F.lit("")),
        )
    )
    return best.drop("pattern", "is_allow", "plen", "__hit", "__rn", "__path")


def recrawl_schedule(
    fetch_log: DataFrame,
    url_col: str = "url",
    ts_us_col: str = "ts_us",
    changed_col: str = "changed",
    min_days: float = 0.25,
    max_days: float = 30.0,
) -> DataFrame:
    """Adaptive recrawl scheduling from revisit history: estimate each
    URL's change rate with the bias-reduced Poisson estimator of Cho &
    Garcia-Molina ("Estimating Frequency of Change", TOIT 2003) and
    derive the next revisit interval.  The reference crawls each source
    once per invocation and has no revisit policy (the operator re-runs
    it by hand, ``gdprCrawler.py``); a continuously-running frontier
    must decide *when a fetched URL re-enters*, and fetch-at-the-
    estimated-change-rate (clamped) is the canonical policy.

    Estimator: over ``n`` visits spanning ``span`` days with ``X``
    visits observing a changed page, changes-per-revisit-interval
    ``r = -ln((n - X + 0.5) / (n + 0.5))`` (the +0.5 terms are the
    paper's bias correction, finite even at X = n), mean interval
    ``span / (n - 1)``, so ``lambda = r * (n - 1) / span`` per day;
    ``interval_days = clamp(1 / lambda, min_days, max_days)`` with
    never-seen-changed / single-visit URLs parked at ``max_days``.

    Cross-engine determinism: timestamps enter as exact integer
    MICROSECONDS (``ts_us``) so both engines aggregate integers and
    apply the identical double-precision expression once at the end
    (dates-as-strings discipline, applied to arithmetic).

    Scale shape: one hash shuffle on url with map-side partial
    aggregation (count / sum / min / max all combine), then a pure
    projection — 10^10 fetch-log rows collapse to one row per URL
    before any reducer sees them.

    Output: (url, n_visits, n_changed, lambda_per_day, interval_days).
    """
    u = F.col(url_col)
    agg = fetch_log.groupBy(u.alias("url")).agg(
        F.count("*").alias("n_visits"),
        F.sum(F.col(changed_col).cast("long")).alias("n_changed"),
        F.min(ts_us_col).alias("__t0"),
        F.max(ts_us_col).alias("__t1"),
    )
    span_days = (F.col("__t1") - F.col("__t0")).cast("double") / F.lit(86400.0e6)
    n = F.col("n_visits").cast("double")
    x = F.col("n_changed").cast("double")
    r = -F.log((n - x + F.lit(0.5)) / (n + F.lit(0.5)))
    lam = r * (n - F.lit(1.0)) / span_days
    estimable = (F.col("n_visits") > 1) & (F.col("n_changed") > 0) & (span_days > 0)
    lam_out = F.when(estimable, F.round(lam, 6)).otherwise(F.lit(0.0))
    interval = F.when(
        estimable,
        F.round(
            F.least(F.greatest(F.lit(1.0) / lam, F.lit(min_days)), F.lit(max_days)),
            6,
        ),
    ).otherwise(F.lit(float(max_days)))
    return agg.select(
        "url",
        "n_visits",
        "n_changed",
        lam_out.alias("lambda_per_day"),
        interval.alias("interval_days"),
    )


def robots_sitemaps(robots: DataFrame) -> DataFrame:
    """``Sitemap:`` directives from robots.txt — the frontier's
    sitemap DISCOVERY hook (sitemaps.org "Submitting via robots.txt"):
    the directive is independent of user-agent groups, the key is
    case-insensitive, multiple directives are allowed, and the value
    must be an absolute URL; relative or non-http(s) values are
    dropped (real crawlers can't fetch them).  Discovered URLs feed
    :func:`crawler_spark.urls.sitemap_expand` to turn the container
    into frontier rows.

    One codegen projection over the exploded line stream — split,
    regexp per line, filter; no shuffle, no window (unlike the
    group-scoped rules, Sitemap lines need no group resolution).

    Input: (host, robots_txt).  Output: (host, sitemap_url) distinct.
    """
    lines = robots.select(
        "host",
        F.explode(F.split("robots_txt", r"\r?\n")).alias("raw"),
    ).select(
        "host",
        F.trim(F.regexp_replace("raw", "#.*", "")).alias("l"),
    )
    url = F.trim(F.regexp_extract("l", r"(?i)^sitemap\s*:\s*(.+)$", 1))
    return (
        lines.select("host", url.alias("sitemap_url"))
        .filter(F.col("sitemap_url").rlike(r"^https?://"))
        .distinct()
    )
