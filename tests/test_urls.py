"""URL layer: canonicalization + md5 identity key parity (SURVEY.md §2 F7/X1)."""

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawler_spark.urls import (
    canonicalize_one,
    canonicalize_simple,
    doc_key,
    host_of,
)


def test_canonicalize_relative_resolution():
    # reference: host + href vs absolute passthrough
    # (pygdpr/models/dpa/edpb/__init__.py:254-257)
    assert (
        canonicalize_one("/docs/1.html", "https://www.dsb.gv.at/list?page=1")
        == "https://www.dsb.gv.at/docs/1.html"
    )
    assert (
        canonicalize_one("http://other.example/x", "https://a.example/")
        == "http://other.example/x"
    )


def test_canonicalize_normalizes():
    assert canonicalize_one("HTTPS://WWW.Ex.COM:443/a/../b#frag") == "https://www.ex.com/b"
    assert canonicalize_one("http://ex.com:80/") == "http://ex.com/"
    assert canonicalize_one("http://ex.com:8080/x") == "http://ex.com:8080/x"
    assert canonicalize_one("https://ex.com") == "https://ex.com/"


def test_canonicalize_simple_matches_python(spark):
    urls = [
        "HTTPS://WWW.Ex.COM/path/One?q=2#frag",
        "https://ex.com:443/a",
        "http://ex.com:80/b?x=1",
        "http://ex.com:8080/keep",
        "https://host.example/path",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(canonicalize_simple(F.col("url"))).collect()]
    # simple variant: lowercase scheme+host, strip fragment, drop default port
    assert got == [
        "https://www.ex.com/path/One?q=2",
        "https://ex.com/a",
        "http://ex.com/b?x=1",
        "http://ex.com:8080/keep",
        "https://host.example/path",
    ]


@given(st.text(min_size=1, max_size=80))
@settings(max_examples=50, deadline=None)
def test_md5_doc_key_matches_hashlib_property(title):
    # checked in bulk via Spark below; hashlib is the reference spec
    assert hashlib.md5(title.encode()).hexdigest() == hashlib.md5(
        title.encode("utf-8")
    ).hexdigest()


def test_md5_doc_key_spark_matches_hashlib(spark):
    # X1: md5(title) identity key (pygdpr/models/dpa/austria/__init__.py:99)
    titles = ["Austria decision 1-1", "Afgørelse om klage nr 2", "ünïcode ✓ title"]
    df = spark.createDataFrame([(t,) for t in titles], "title string")
    got = {r["title"]: r["k"] for r in df.select("title", doc_key(F.col("title")).alias("k")).collect()}
    for t in titles:
        assert got[t] == hashlib.md5(t.encode("utf-8")).hexdigest()


def test_host_of(spark):
    df = spark.createDataFrame(
        [("https://WWW.Ex.COM:8080/a/b?c=1",), ("http://cdn.example.eu/f.pdf",)],
        "url string",
    )
    assert [r[0] for r in df.select(host_of(F.col("url"))).collect()] == [
        "www.ex.com",
        "cdn.example.eu",
    ]


def test_url_quality_filter_rules_and_precedence(spark):
    from crawler_spark.urls import url_quality_filter

    cases = [
        ("ftp://x.com/a", "scheme"),
        ("javascript:void(0)", "scheme"),
        ("https://spam.example.com/page", "blocked_host"),
        ("https://ok.com/logo.PNG", "bad_ext"),          # case-folded ext
        ("https://ok.com/" + "p/" * 130, "too_long"),    # also deep: first match wins
        ("https://ok.com/a/b/c/d/e/f/g/h/i/x", "too_deep"),
        ("https://ok.com/p?a=1&b=2&c=3&d=4&e=5", "too_many_params"),
        ("https://ok.com/docs/page.html?a=1", None),
        ("https://ok.com/", None),                        # no ext, depth 1
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    out = {
        r["i"]: r
        for r in url_quality_filter(
            df, blocked_hosts=("spam.example.com",)
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert out[i]["reject_reason"] == want, (i, out[i])
        assert out[i]["keep"] is (want is None)
    # pure projection: no shuffle, no Python
    plan = (
        url_quality_filter(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_sitemap_expand_pairs_optional_lastmod(spark):
    """Block-scoped parse keeps loc/lastmod pairing when lastmod is
    optional mid-list (zipping two regexp_extract_all lists would shift
    every pair after the first bare <url>); sitemapindex children come
    out as kind='sitemap'."""
    from crawler_spark.urls import sitemap_expand

    xml = (
        "<urlset>"
        "<url><loc>https://a.example.com/1</loc></url>"
        "<url><loc>https://a.example.com/2</loc>"
        "<lastmod>2024-05-10</lastmod></url>"
        "<url><loc>https://a.example.com/3</loc></url>"
        "</urlset>"
        "<sitemapindex><sitemap>"
        "<loc>https://a.example.com/sitemap-2.xml</loc>"
        "</sitemap></sitemapindex>"
    )
    d = spark.createDataFrame(
        [("https://a.example.com/sitemap.xml", xml)], "page_url string, xml string"
    )
    rows = sorted(
        (r["loc"], r["lastmod"], r["kind"])
        for r in sitemap_expand(d).collect()
    )
    assert rows == [
        ("https://a.example.com/1", "", "url"),
        ("https://a.example.com/2", "2024-05-10", "url"),
        ("https://a.example.com/3", "", "url"),
        ("https://a.example.com/sitemap-2.xml", "", "sitemap"),
    ]
    plan = sitemap_expand(d)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_resolve_redirects_chains_and_cycles(spark):
    """Pointer doubling: a 5-hop chain resolves in 4 doublings (2^4 >=
    5) with exact per-member hop counts; a 2-cycle reports 'loop';
    terminal lookup is exact."""
    from crawler_spark.urls import resolve_redirects

    edges = [(f"u{i}", f"u{i+1}") for i in range(5)]  # u0->...->u5
    edges += [("a", "b"), ("b", "a")]
    d = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["url"]: (r["final_url"], r["hops"], r["status"])
        for r in resolve_redirects(d, max_doublings=4).collect()
    }
    for i in range(5):
        assert got[f"u{i}"] == ("u5", 5 - i, "ok"), (i, got[f"u{i}"])
    assert got["a"][2] == "loop" and got["b"][2] == "loop"
    assert len(got) == 7


def test_url_shape_collapses_templates(spark):
    """url_shape: same-template URLs collapse to one string; hex runs
    collapse before digits; query values mask last."""
    from pyspark.sql import functions as F

    from crawler_spark.urls import url_shape

    cases = [
        ("https://t.com/cal/2024/3/17", "/cal/0/0/0"),
        ("https://t.com/cal/2024/11/28", "/cal/0/0/0"),
        ("https://t.com/item?sid=0123456789abcdef&page=3", "/item?sid=*&page=*"),
        ("https://t.com/obj/deadbeefcafe1234", "/obj/h"),
        ("https://t.com/Doc/Page.HTML", "/doc/page.html"),
        ("https://t.com", "/"),
        ("https://t.com/x#frag", "/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r["url"]: r["s"]
        for r in df.select("url", url_shape(F.col("url")).alias("s")).collect()
    }
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)


def test_trap_patterns_flags_exploding_shapes(spark):
    """A 300-URL calendar grid on one host flags; 6-URL-per-host doc
    families do not; threshold is exclusive."""
    from crawler_spark.urls import trap_patterns

    urls = [f"https://trap.example.com/cal/{m}/{d}" for m in range(12) for d in range(25)]
    urls += [f"https://h{h}.example.com/doc/{i}.html" for h in range(50) for i in range(6)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = {(r["host"], r["pattern"]): (r["n_urls"], r["trap"]) for r in trap_patterns(df, threshold=100).collect()}
    assert rows[("trap.example.com", "/cal/0/0")] == (300, True)
    for h in range(50):
        assert rows[(f"h{h}.example.com", "/doc/0.html")] == (6, False)
    # exact-threshold population is NOT a trap (strict >)
    edge = [(f"https://e.com/p/{i}",) for i in range(100)]
    got = trap_patterns(spark.createDataFrame(edge, "url string"), threshold=100).collect()
    assert got[0]["n_urls"] == 100 and not got[0]["trap"]


def test_registrable_domain_psl_vectors(spark):
    """publicsuffix.org test-vector subset covering every rule class:
    normal, multi-label, wildcard (*.ck / *.kawasaki.jp), exception
    (!www.ck / !city.kawasaki.jp), prevailing '*', host==suffix NULLs,
    and case folding."""
    from crawler_spark.urls import registrable_domain

    cases = [
        ("example.com", "com", "example.com"),
        ("a.b.example.com", "com", "example.com"),
        ("com", "com", None),
        ("sub.example.co.uk", "co.uk", "example.co.uk"),
        ("co.uk", "co.uk", None),
        ("ck", "ck", None),            # *.ck needs >=2 labels
        ("test.ck", "test.ck", None),  # itself a public suffix
        ("a.b.test.ck", "test.ck", "b.test.ck"),
        ("www.ck", "ck", "www.ck"),    # exception beats wildcard
        ("www.www.ck", "ck", "www.ck"),
        ("sub.city.kawasaki.jp", "kawasaki.jp", "city.kawasaki.jp"),
        ("foo.bar.kawasaki.jp", "bar.kawasaki.jp", "foo.bar.kawasaki.jp"),
        ("x.h1.k12.ma.us", "k12.ma.us", "h1.k12.ma.us"),
        ("example.unknowntld", "unknowntld", "example.unknowntld"),
        ("MiXeD.ExAmPlE.CoM", "com", "example.com"),
    ]
    df = spark.createDataFrame([(h,) for h, _, _ in cases], "host string")
    got = {
        r["host"]: (r["public_suffix"], r["etld1"])
        for r in registrable_domain(df).collect()
    }
    for h, ps, et in cases:
        assert got[h] == (ps, et), (h, got[h], (ps, et))
    # a normal rule beside its wildcard ('ck' + '*.ck') compiles to one
    # key: one output row per host, the wildcard prevails
    from crawler_spark.urls import PSL_RULES

    pair = spark.createDataFrame([("a.b.ck",), ("b.ck",)], "host string")
    rows = registrable_domain(pair, rules=PSL_RULES + ["ck"]).collect()
    assert sorted((r["host"], r["public_suffix"], r["etld1"]) for r in rows) == [
        ("a.b.ck", "b.ck", "a.b.ck"),
        ("b.ck", "b.ck", None),
    ]


def test_psl_entries_compile():
    """Rule compiler: wildcard keys are the rule's parent with +1
    ps_labels; exceptions carry exc=1 and rule-minus-left-label ps."""
    from crawler_spark.urls import psl_entries

    e = {k: (exc, rl, ps) for k, exc, rl, ps in psl_entries(
        ["com", "co.uk", "*.ck", "!www.ck"]
    )}
    assert e["com"] == (0, 1, 1)
    assert e["co.uk"] == (0, 2, 2)
    assert e["ck"] == (0, 2, 2)        # '*.ck': key=parent, 2 labels
    assert e["www.ck"] == (1, 2, 1)    # '!www.ck': suffix is 'ck'
