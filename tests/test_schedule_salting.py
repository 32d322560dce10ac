"""Hot-host salting: budgets survive the salt split (SURVEY.md §4.1, §7.3.4).

A Zipfian frontier concentrates pending rows on a few hot hosts; the
scheduler splits each hot host over S salted partitions but must never
schedule more than the host's politeness budget in total.
"""

from collections import Counter

from pyspark.sql import functions as F

from crawler_spark import frontier as FR


def _pending(spark, host, n, authority="ireland", prio=0):
    rows = [
        (
            f"https://{host}/doc/{i}.html",
            i * 2654435761 % (1 << 60),
            authority,
            "Decisions",
            1,
            prio,
            host,
            1000 + i,
            "pending",
            0,
            None,
            None,
            None,
            None,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "url string, url_hash long, authority string, doc_type string, "
        "depth int, priority int, host string, seq long, state string, "
        "retry_count int, title string, release_date date, doc_hash string, "
        "raw_hash string",
    )


def _budgets(spark, host, budget):
    return spark.createDataFrame([(host, budget)], "host string, budget int")


def test_hot_host_split_never_exceeds_budget(spark):
    pending = _pending(spark, "hot.example.eu", 500)
    budgets = _budgets(spark, "hot.example.eu", 64)
    # salt_rows_target=50 forces n_salts = min(ceil(500/50), 32, 64) = 10
    out = FR.schedule(pending, budgets, salt_rows_target=50)
    n = out.count()
    assert n <= 64, "politeness budget violated after salting"
    assert n == 10 * (64 // 10), "expected n_salts*salt_budget rows"


def test_cold_host_unaffected_by_salting(spark):
    pending = _pending(spark, "cold.example.eu", 5)
    budgets = _budgets(spark, "cold.example.eu", 12)
    out = FR.schedule(pending, budgets, salt_rows_target=50_000)
    assert out.count() == 5  # all under budget, single salt


def test_fitting_host_split_over_salts_is_capped_per_salt(spark):
    """One rule for every host: a host whose whole pending set fits its
    budget, but is split over salts, still gets the per-salt cap — no
    salt schedules more than salt_budget, so uneven salts schedule
    fewer rows than the budget admits."""
    host = "split.example.eu"
    # url_hash = i*i: residues mod 10 are uneven (1, 4, 6, 9 hold 100
    # rows each; 0 and 5 hold 50)
    pending = _pending(spark, host, 500).withColumn(
        "url_hash", (F.col("seq") - 1000) * (F.col("seq") - 1000)
    )
    budgets = _budgets(spark, host, 500)
    # n_salts = min(ceil(500/50), 32, 500) = 10 -> salt_budget = 50
    out = FR.schedule(pending, budgets, salt_rows_target=50)
    per_salt = Counter(r["url_hash"] % 10 for r in out.collect())
    assert max(per_salt.values()) <= 500 // 10
    assert sum(per_salt.values()) == 6 * 50


def test_budget_one_schedules_exactly_one(spark):
    pending = _pending(spark, "strict.example.eu", 300)
    budgets = _budgets(spark, "strict.example.eu", 1)
    out = FR.schedule(pending, budgets, salt_rows_target=10)
    rows = out.collect()
    assert len(rows) == 1
    # deterministic: the minimum (priority, seq) row wins
    assert rows[0]["seq"] == 1000


def test_scheduling_order_is_priority_then_seq(spark):
    a = _pending(spark, "h.example.eu", 10, prio=5)
    b = _pending(spark, "h.example.eu", 10, prio=1).withColumn(
        "seq", F.col("seq") + 100
    ).withColumn("url", F.concat(F.col("url"), F.lit("?b")))
    # distinct url_hash for the b rows so nothing collides
    b = b.withColumn("url_hash", F.col("url_hash") + 7)
    pending = a.unionByName(b)
    budgets = _budgets(spark, "h.example.eu", 3)
    out = FR.schedule(pending, budgets, salt_rows_target=50_000)
    got = sorted((r["priority"], r["seq"]) for r in out.collect())
    assert all(p == 1 for p, _ in got), "lower priority value schedules first"
    assert len(got) == 3


def test_preprune_window_input_is_o_budget_not_o_pending(spark):
    """VERDICT round-2 next #6: pre-grow pending 100x per host; the rank
    window's input (the pruned frame) must stay O(budget x margin x
    partitions), not O(pending), and the schedule output must be
    IDENTICAL with and without the prune."""
    host, budget = "grown.example.eu", 12
    pending = _pending(spark, host, 2_000).repartition(4)  # ~100x budget
    budgets = _budgets(spark, host, budget)

    salted = FR.salt_rows(pending, budgets, salt_rows_target=50_000)
    pruned = FR.preprune(salted, margin=4)
    n_pending, n_pruned = pending.count(), pruned.count()
    # 4 partitions x 1 salt x budget(12) x margin(4) = <= 192 rows
    assert n_pruned <= 4 * budget * 4, f"prune kept {n_pruned} rows"
    assert n_pruned < n_pending / 10

    plain = sorted(
        (r["priority"], r["seq"])
        for r in FR.schedule(pending, budgets, salt_rows_target=50_000).collect()
    )
    with_prune = sorted(
        (r["priority"], r["seq"])
        for r in FR.schedule(
            pending, budgets, salt_rows_target=50_000, preprune_margin=4
        ).collect()
    )
    assert plain == with_prune and len(plain) == budget


def test_preprune_exact_superset_under_salting(spark):
    """Hot host split over salts: pruned must still contain every row
    the unpruned rank window selects (per-salt exactness)."""
    pending = _pending(spark, "hot2.example.eu", 800).repartition(8)
    budgets = _budgets(spark, "hot2.example.eu", 64)
    plain = {
        r["url_hash"]
        for r in FR.schedule(pending, budgets, salt_rows_target=50).collect()
    }
    pruned_sched = {
        r["url_hash"]
        for r in FR.schedule(
            pending, budgets, salt_rows_target=50, preprune_margin=2
        ).collect()
    }
    assert plain == pruned_sched


def test_quota_gate_defers_past_budget(spark):
    from crawler_spark.frontier import quota_gate
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [("a", i, 100) for i in range(1, 11)] + [("b", i, 100) for i in range(1, 4)],
        "authority string, seq long, cost long",
    )
    budgets = spark.createDataFrame(
        [("a", 350)], "authority string, budget long"
    )
    admitted, deferred = quota_gate(rows, budgets)
    got = {
        (r["authority"], r["seq"]) for r in admitted.collect()
    }
    # 'a': cumsum 100,200,300,(400>350) -> first 3 admitted in seq order
    assert got == {("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2), ("b", 3)}
    assert deferred.count() == 7
    # deterministic: the deferred rows are exactly seqs 4..10 of 'a'
    assert {r["seq"] for r in deferred.collect()} == set(range(4, 11))


def test_quota_gate_unbudgeted_keys_pass_through(spark):
    from crawler_spark.frontier import quota_gate

    rows = spark.createDataFrame(
        [("x", i, 10**9) for i in range(5)], "authority string, seq long, cost long"
    )
    budgets = spark.createDataFrame([], "authority string, budget long")
    admitted, deferred = quota_gate(rows, budgets)
    assert admitted.count() == 5 and deferred.count() == 0
