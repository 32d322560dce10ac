"""Semantic tests for the corpus dedup/analysis operators (planted
duplicates — independent of the DuckDB-oracle parity suite)."""

import pytest

from crawler_spark import corpus

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden all day"
)
NEAR = BASE.replace("warm windowsill", "cold doorstep")  # small edit
OTHER = (
    "completely different content about distributed query engines and "
    "shuffle partitioning strategies for very large analytical workloads"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["doc_id"]: r for r in corpus.exact_dedup(docs).collect()}
    assert out[0]["canonical_id"] == 0 and out[1]["canonical_id"] == 0
    assert out[0]["group_size"] == 2
    assert out[2]["canonical_id"] == 2 and out[3]["group_size"] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in corpus.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc


def test_minhash_lsh_recovers_exact_and_near(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in corpus.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # identical minhash bands on >=1 band


def test_simhash_identical_and_near(docs):
    sh = {r["doc_id"]: r["simhash"] for r in corpus.simhash(docs).collect()}
    assert sh[0] == sh[1]
    ham = bin(sh[0] ^ sh[2]).count("1")
    assert ham <= 6  # near dup is close in hamming space
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in corpus.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0


def test_winnow_fingerprint_overlap(docs):
    fps = corpus.winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] == by_doc[1]
    inter = len(by_doc[0] & by_doc[2]) / len(by_doc[0] | by_doc[2])
    assert inter > 0.3  # shared fingerprints survive the edit
    assert not (by_doc[0] & by_doc[3])


def test_lang_id_and_quality(spark):
    rows = [
        (0, "the cat is on the mat and the dog is in the house"),
        (1, "der hund ist nicht mit der katze und das ist gut"),
        (2, "le chat est dans la maison et les oiseaux pour une fois"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    langs = {r["doc_id"]: r["lang_pred"] for r in corpus.lang_id(df).collect()}
    assert langs == {0: "en", 1: "de", 2: "fr"}
    q = {r["doc_id"]: r for r in corpus.quality(df).collect()}
    assert q[0]["punct_ratio"] == 0.0
    assert 0 < q[0]["stopword_ratio"] < 1
    ts = {r["doc_id"]: r for r in corpus.token_stats(df).collect()}
    assert ts[0]["ws_tokens"] == 13
    assert ts[0]["bpe_tokens"] == 13  # no punctuation -> equal counts


def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (0, "mail a@b.org then call +43 1 234 5678 from 10.0.0.1 ok"),
        # negatives: bare @, phone without +, octet > 255 is not an IP
        (1, "not@an email@ at 999.1.1.300 phone 01 234 5678 v1.2.3.4x"),
        (2, "two bob@x.co and eve@y.net plus +1 800 555 0100 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in corpus.pii_scrub(df).collect()}
    assert (got[0]["n_emails"], got[0]["n_phones"], got[0]["n_ips"]) == (1, 1, 1)
    assert (got[2]["n_emails"], got[2]["n_phones"], got[2]["n_ips"]) == (2, 1, 0)
    assert got[1]["n_phones"] == 0 and got[1]["n_ips"] == 0
    # redaction is positional: scrubbed text of doc 0 is fully masked
    import hashlib
    expect0 = "mail [EMAIL] then call [PHONE] from [IP] ok"
    assert got[0]["scrubbed_len"] == len(expect0)
    assert got[0]["scrubbed_md5"] == hashlib.md5(expect0.encode()).hexdigest()


def test_contamination_overlap_and_self_exclusion(spark):
    bench_passage = "alpha beta gamma delta epsilon"
    rows = [
        (0, bench_passage + " zeta"),          # benchmark doc (0 % 7 == 0)
        (7, "unrelated words only here now"),  # benchmark doc, disjoint
        (1, "prefix alpha beta gamma delta epsilon suffix"),  # contaminated
        (2, "totally different text with no overlap at all"),
        (3, "alpha beta gamma"),               # exactly one 3-gram hit
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.filter("doc_id % 7 = 0")
    got = {r["doc_id"]: r for r in corpus.contamination(df, bench, k=3).collect()}
    # doc 1: shares the 3 shingles of the passage windowed at k=3
    assert got[1]["n_contaminated"] == 3 and got[1]["n_ngrams"] == 5
    assert got[2]["n_contaminated"] == 0
    assert got[3]["n_contaminated"] == 1 and got[3]["n_ngrams"] == 1
    assert got[3]["contamination_ratio"] == 1.0
    # benchmark docs do not count THEIR OWN shingles as contamination
    assert got[0]["n_contaminated"] == 0
    assert got[7]["n_contaminated"] == 0


def test_sample_stratified_exact_k_and_deterministic(spark):
    rows = [(i, f"text {i}", "en" if i % 2 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    s1 = corpus.sample_stratified(df, k=5, strata_col="lang").collect()
    s2 = corpus.sample_stratified(df, k=5, strata_col="lang").collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # reproducible
    by = {}
    for r in s1:
        by.setdefault(r["strata"], []).append(r["sample_rank"])
    assert set(by) == {"en", "de"}
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by.values())
    # rank<=k must trigger the map-side window group limit
    plan = corpus.sample_stratified(df, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_shard_pack_prefix_sum_invariants(spark):
    rows = [(i, " ".join(["w"] * (10 + i % 7))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        corpus.shard_pack(df, tokens_per_shard=50).collect(),
        key=lambda r: r["doc_id"],
    )
    run = 0
    for r in got:
        assert r["shard_id"] == run // 50 and r["shard_offset"] == run % 50
        run += r["n_tokens"]
    assert run == sum(10 + i % 7 for i in range(40))
    assert got[-1]["shard_id"] > 0  # budget actually split the corpus


def test_pii_scrub_nested_matches_count_consistently(spark):
    # an IPv4-shaped domain inside an email: the [EMAIL] replacement
    # consumes it, so it must NOT be counted as an ip (round-4 ADVICE:
    # counts follow the same chain the redactions do)
    rows = [(0, "write a@1.2.3.4.com soon"), (1, "bare host 1.2.3.4 here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in corpus.pii_scrub(df).collect()}
    assert (got[0]["n_emails"], got[0]["n_ips"]) == (1, 0)
    import hashlib

    expect0 = "write [EMAIL] soon"
    assert got[0]["scrubbed_len"] == len(expect0)
    assert got[0]["scrubbed_md5"] == hashlib.md5(expect0.encode()).hexdigest()
    assert (got[1]["n_emails"], got[1]["n_ips"]) == (0, 1)


def test_contamination_external_benchmark(spark):
    # the real shape: benchmark docs live in their OWN table/id space —
    # every shared shingle counts (no self-guard can trigger)
    docs = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta epsilon suffix"),
            (2, "totally different text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9001, "alpha beta gamma delta epsilon")],  # own id space
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in corpus.contamination(docs, bench, k=3).collect()}
    # doc 1 shares the benchmark passage's 3 shingles; with disjoint id
    # spaces the self-guard never triggers and every shared shingle counts
    assert got[1]["n_contaminated"] == 3 and got[1]["n_ngrams"] == 5
    assert got[2]["n_contaminated"] == 0


def test_contamination_size_gate_plans(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id % 7 = 0")
    # forced / auto-small -> broadcast probe, corpus never shuffled
    plan_b = (
        corpus.contamination(docs, bench, k=3, broadcast=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan_b
    # oversized bench (threshold forced to 1 byte) -> the gate must pick
    # the non-broadcast path on its own
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        plan_s = (
            corpus.contamination(docs, bench, k=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan_s
    assert "ShuffledHashJoin" in plan_s
    # same answer on both plans
    a = sorted(map(tuple, corpus.contamination(docs, bench, k=3, broadcast=True).collect()))
    b = sorted(map(tuple, corpus.contamination(docs, bench, k=3, broadcast=False).collect()))
    assert a == b


def test_shard_pack_reruns_identical_no_cached_leak(spark):
    rows = [(i * 13 + 5, " ".join(["w"] * (4 + i % 5))) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    r1 = sorted(map(tuple, corpus.shard_pack(df, tokens_per_shard=16).collect()))
    r2 = sorted(map(tuple, corpus.shard_pack(df, tokens_per_shard=16).collect()))
    assert r1 == r2  # deterministic bucketing: no sampling anywhere
    # the round-4 persist leak is gone: the calls cached nothing new
    assert jsc.getPersistentRDDs().size() == before


def test_gopher_quality_rules(spark):
    """Each Gopher rule trips on a doc engineered to fail exactly it."""
    filler = " ".join(["the be to of and that have with"] * 10)  # 80 words
    rows = [
        (0, filler),                                    # all rules pass
        (1, "the be to of"),                            # < 50 words
        (2, filler + " " + "# " * 30),                  # symbol ratio
        (3, filler + " " + "0 " * 400),                 # frac_alpha < 0.8
        (4, "scan table merge row " * 20),              # 0 stop hits
        (5, filler + ("\n- b" * 30)),                   # bullet lines > 0.9
        (6, filler + ("\nwait..." * 2)),                # ellipsis > 0.3
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.gopher_quality(d).collect()}
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[1]["n_words"] < 50
    assert out[2]["keep"] is False and out[2]["sym_ratio"] > 0.1
    assert out[3]["keep"] is False and out[3]["frac_alpha_words"] < 0.8
    assert out[4]["keep"] is False and out[4]["n_stop_hits"] == 0
    assert out[5]["keep"] is False and out[5]["frac_bullet_lines"] > 0.9
    assert out[6]["keep"] is False and out[6]["frac_ellipsis_lines"] > 0.3
    assert out[0]["n_stop_hits"] == 8


def test_ngram_repetition_signals(spark):
    rows = [
        (0, "a b a b a b"),       # bigrams: ab ba ab ba ab -> top 'a b' x3
        (1, "w x y z"),           # all distinct
        (2, "solo"),              # < 2 tokens: excluded
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.ngram_repetition(d, n=2).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_grams"] == 5 and out[0]["n_distinct"] == 2
    assert out[0]["top_gram"] == "a b" and out[0]["dup_frac"] == 0.6
    # 3 occurrences x 3 chars / 11 chars
    assert out[0]["top_frac"] == round(9 / 11, 4)
    assert out[1]["dup_frac"] == 0.0 and out[1]["n_distinct"] == 3


def test_span_dedup_cross_doc_first_wins(spark):
    a = " ".join(f"w{i}" for i in range(20))            # spans A0 A1
    b = " ".join(f"w{i}" for i in range(10, 30))        # B0 == A1, B1 new
    rows = [(0, a), (1, b), (2, a)]                     # doc2 fully dup
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.span_dedup(d, span=10).collect()}
    assert out[0]["n_dup_spans"] == 0 and out[0]["n_spans"] == 2
    assert out[1]["n_dup_spans"] == 1 and out[1]["n_spans"] == 2
    assert out[2]["n_dup_spans"] == 2
    import hashlib
    assert out[2]["clean_md5"] == hashlib.md5(b"").hexdigest()
    kept_b = " ".join(f"w{i}" for i in range(20, 30))
    assert out[1]["clean_md5"] == hashlib.md5(kept_b.encode()).hexdigest()


def test_gopher_and_span_plans_stay_jvm_side(spark):
    """No BatchEvalPython / PythonUDF anywhere in the new operators."""
    d = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    for df in (
        corpus.gopher_quality(d),
        corpus.ngram_repetition(d),
        corpus.span_dedup(d),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan


def test_c4_line_filter_rules(spark):
    """Each C4 rule trips on a line/doc engineered to fail exactly it."""
    good = "\n".join(
        f"This sentence number {i} is perfectly ordinary and fine." for i in range(5)
    )
    rows = [
        (0, good),                                        # page keep
        (1, good + "\nno terminal punctuation here at all"),   # line: punct
        (2, good + "\nToo short."),                       # line: < 3 words
        (3, good + "\nPlease enable JavaScript to proceed."),  # line: js
        (4, good + "\nA lorem ipsum classic filler phrase."),  # page: lorem
        (5, good + "\nobject = { nested }."),             # page: brace
        (6, "Only one good sentence lives here."),        # page: < 5 lines
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.c4_line_filter(d).collect()}
    assert out[0]["page_keep"] is True and out[0]["n_kept"] == 5
    # the three line rules each drop exactly their planted line
    for doc in (1, 2, 3):
        assert out[doc]["n_kept"] == 5 and out[doc]["n_lines"] == 6
        assert out[doc]["page_keep"] is True
        assert out[doc]["clean_md5"] == out[0]["clean_md5"]
    # the page rules drop pages that have plenty of surviving lines
    assert out[4]["n_kept"] == 6 and out[4]["page_keep"] is False
    assert out[5]["n_kept"] == 6 and out[5]["page_keep"] is False
    assert out[6]["n_kept"] == 1 and out[6]["page_keep"] is False
    # no Python in the plan: one codegen projection
    plan = (
        corpus.c4_line_filter(d)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Exchange" not in plan


def test_unigram_nll_hand_corpus(spark):
    """Tiny corpus with hand-computable unigram NLLs: counts a=2, b=2,
    c=1, T=5, so nll(a)=nll(b)=-ln(0.4), nll(c)=-ln(0.2)."""
    d = spark.createDataFrame(
        [(0, "a a b"), (1, "b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in corpus.unigram_nll(d, 1.0).collect()}
    assert out[0]["n_tokens"] == 3 and out[0]["mean_nll"] == 0.9163
    assert out[1]["n_tokens"] == 2 and out[1]["mean_nll"] == 1.2629
    assert out[0]["keep"] is True and out[1]["keep"] is False
    plan = (
        corpus.unigram_nll(d)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan


def test_dsir_weight_hand_corpus(spark):
    """Tiny corpus with hand-computable DSIR log-ratios, B=16 buckets.

    Tokens 'a' (bucket 10) and 'b' (bucket 14) don't collide.  Raw =
    both docs (counts a=2, b=1, Tr=3); target = doc 0 only (a=2, Tt=2).
    lr(a) = ln(3/18) - ln(3/19) = ln(19/18) > 0
    lr(b) = ln(1/18) - ln(2/19) < 0
    so doc 0 (two 'a' tokens) keeps and doc 1 ('b') drops.
    """
    import math

    d = spark.createDataFrame(
        [(0, "a a"), (1, "b")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in corpus.dsir_weight(
            d, d.filter("doc_id = 0"), n_buckets=16, keep_threshold=0.0
        ).collect()
    }
    lr_a = math.log(3 / 18) - math.log(3 / 19)
    lr_b = math.log(1 / 18) - math.log(2 / 19)
    assert out[0]["n_tokens"] == 2 and out[0]["logratio"] == round(2 * lr_a, 4)
    assert out[1]["n_tokens"] == 1 and out[1]["logratio"] == round(lr_b, 4)
    assert out[0]["keep"] is True and out[1]["keep"] is False
    plan = (
        corpus.dsir_weight(d, d.filter("doc_id = 0"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan


def test_hll_distinct_accuracy_and_determinism(spark):
    """HLL sketch: ~4.6% stderr at p=9, so rel_err < 0.15 is a loose
    3-sigma bound; estimates are bit-identical across partitionings
    (integer registers + integer harmonic sum commute exactly)."""
    rows = [(f"g{gi}", f"doc with tok{gi}_{i % n} filler") for gi, n in
            [(0, 700), (1, 60)] for i in range(max(700, n))]
    d = spark.createDataFrame(
        [(i, t, s) for i, (s, t) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in corpus.hll_distinct(d).collect()}
    # distinct tokens: per-group uniques + 'doc'/'with'/'filler' shared
    assert out["g0"]["n_exact"] == 703 and out["g1"]["n_exact"] == 63
    for g in ("g0", "g1"):
        assert out[g]["rel_err"] < 0.15, (g, out[g])
    re1 = sorted(
        (r["source"], r["n_est"])
        for r in corpus.hll_distinct(d.repartition(1)).collect()
    )
    re8 = sorted(
        (r["source"], r["n_est"])
        for r in corpus.hll_distinct(d.repartition(8)).collect()
    )
    assert re1 == re8
    plan = corpus.hll_distinct(d)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_countmin_one_sided_and_deterministic(spark):
    """CMS guarantee: n_est >= n_exact for every token; estimates are
    partitioning-invariant (integer counters + integer min)."""
    rows = [(i, "common " * 5 + f"rare{i}") for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    top = corpus.countmin_topk(d, k=10).collect()
    assert top[0]["tok"] == "common" and top[0]["n_exact"] == 1000
    assert all(r["overcount"] >= 0 for r in top)
    a = [(r["tok"], r["n_est"]) for r in corpus.countmin_topk(d.repartition(1), k=10).collect()]
    b = [(r["tok"], r["n_est"]) for r in corpus.countmin_topk(d.repartition(8), k=10).collect()]
    assert a == b
    plan = corpus.countmin_topk(d)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_bm25_ranking_semantics(spark):
    """Planted corpus: the rare term outweighs the common one (idf),
    same-tf shorter docs outrank longer ones (length normalization),
    and docs matching no query term are absent."""
    from crawler_spark import corpus

    docs = spark.createDataFrame(
        [
            (1, "rare common common filler filler"),
            (2, "common common filler filler filler"),
            (3, "rare common"),                      # shortest, both terms
            (4, "filler filler filler filler"),      # no query term
            (5, "common filler filler filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    out = corpus.bm25_topk(docs, ["rare", "common"], topk=10).collect()
    ids = [r["doc_id"] for r in out]
    score = {r["doc_id"]: r["score"] for r in out}
    assert 4 not in score                       # no query term -> absent
    assert ids[0] == 3                          # both terms, shortest doc
    assert score[1] > score[2]                  # rare term beats extra tf
    assert score[2] > score[5]                  # same tf, shorter dl wins
    # a repeated query token counts once; an empty query is an error
    dup = corpus.bm25_topk(docs, ["rare", "common", "rare"], topk=10).collect()
    assert [(r["doc_id"], r["score"]) for r in dup] == [
        (r["doc_id"], r["score"]) for r in out
    ]
    with pytest.raises(ValueError):
        corpus.bm25_topk(docs, [], topk=10)


def test_postings_pushes_term_filter(spark):
    """postings(query_tokens) keeps only the query's terms and carries
    (dl, tf) exactly."""
    from crawler_spark import corpus

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b d")], "doc_id long, text string"
    )
    rows = {
        (r["token"], r["doc_id"]): (r["dl"], r["tf"])
        for r in corpus.postings(docs, ["a", "b"]).collect()
    }
    assert rows == {
        ("a", 1): (4, 2), ("b", 1): (4, 1), ("b", 2): (3, 2),
    }
