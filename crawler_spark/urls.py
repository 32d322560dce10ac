"""URL layer: canonicalization, hashing, identity keys (SURVEY.md §2 F7/X1).

Reference behavior re-expressed:

- relative-vs-absolute resolution ``host + href`` vs ``http`` passthrough
  (``pygdpr/models/dpa/edpb/__init__.py:254-257,336-339``;
  ``pygdpr/models/dpa/austria/__init__.py:104-111``) — generalized into a
  real canonicalizer (scheme/host lowercase, resolve relative, strip
  fragments, drop default ports, normalize dot-segments) that runs inside
  the Arrow-vectorized extract stage (no per-row Python UDFs).
- identity key = md5 hexdigest of the document *title*
  (``pygdpr/models/dpa/austria/__init__.py:99`` and all 29 scrapers) —
  Spark's built-in ``md5(encode(title,'UTF-8'))`` is byte-identical to
  ``hashlib.md5`` for UTF-8 input (pytest-verified in tests/test_urls.py).
- ``url_hash`` — 64-bit ``xxhash64`` of the SQL-canonical URL (the
  frontier key at 10^10-URL scale; 32-bit murmur3 would collide ~1% at
  10^10).
"""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit, urlunsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

from .fixpoint import checkpoint, fixpoint, release

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_one(href: str, base: str | None = None) -> str | None:
    """Canonical absolute URL (plain-Python core, shared with the oracle)."""
    if href is None:
        return None
    url = urljoin(base, href.strip()) if base else href.strip()
    s = urlsplit(url)
    scheme = s.scheme.lower()
    host = s.hostname.lower() if s.hostname else ""
    port = s.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = s.path or "/"
    # normalize dot-segments (RFC 3986 §5.2.4)
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == "..":
            if segs:
                segs.pop()
        elif seg != ".":
            segs.append(seg)
    path = "/".join(segs)
    if not path.startswith("/"):
        path = "/" + path
    return urlunsplit((scheme, netloc, path, s.query, ""))  # fragment dropped


def canonicalize_simple(url: Column) -> Column:
    """SQL-expressible canonical subset (lowercase scheme+host, strip
    fragment, drop default port) — the input of :func:`url_hash`.  Links
    reach it already absolute: the engine resolves them (relative
    resolution + dot-segments) with :func:`canonicalize_one` inside the
    extract UDF."""
    c = F.regexp_replace(url, r"#.*$", "")  # strip fragment
    # lowercase scheme://host prefix, keep path/query case
    c = F.concat(
        F.lower(F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
        F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
    )
    c = F.regexp_replace(c, r"^(https://[^/?#]*):443(?=[/?]|$)", r"$1")
    c = F.regexp_replace(c, r"^(http://[^/?#]*):80(?=[/?]|$)", r"$1")
    return c


def host_of(url: Column) -> Column:
    """Lowercased host of a URL (partitioning key for politeness)."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1))


def url_hash(url: Column) -> Column:
    """64-bit frontier key: ``xxhash64`` of the SQL-canonical URL."""
    return F.xxhash64(canonicalize_simple(url))


def surt_key(url: Column) -> Column:
    """SURT urlkey of an absolute http(s) URL — the sort key CDX
    indexes use so one host's records cluster lexicographically
    (``com,example)/path`` form, per the public webarchive-commons /
    wayback SURT convention).  Documented subset: scheme stripped,
    whole URL lowercased (the wayback canonicalizer lowercases the
    full URL), leading ``www.`` dropped, default ports 80/443 dropped
    (others kept as ``:port`` after the reversed host), host labels
    reversed comma-joined, query parameters sorted.  Pure built-in
    functions — the whole key stays inside whole-stage codegen; the
    plain-Python twin :func:`surt_one` pins parity in tests.

    Why this matters at 10^10 URLs: a CDX sorted by this key makes
    per-host lookups and range scans contiguous (host = a key prefix),
    which is also the natural range-partitioning key for the index.
    """
    u = F.lower(F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", ""))
    hostport = F.regexp_extract(u, r"^([^/?#]*)", 1)
    rest = F.substr(u, F.length(hostport) + F.lit(1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":\d+$", ""), r"^www\.", ""
    )
    revhost = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    portpart = F.when(port.isin("", "80", "443"), F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    path = F.substring_index(rest, "?", 1)
    query = F.when(
        rest.contains("?"), F.substr(rest, F.length(path) + F.lit(2))
    ).otherwise(F.lit(""))
    qpart = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query, "&")), "&"))
    )
    pathpart = F.when(path == "", F.lit("/")).otherwise(path)
    return F.concat(revhost, portpart, F.lit(")"), pathpart, qpart)


def surt_one(url: str) -> str:
    """Plain-Python twin of :func:`surt_key` (same documented subset) —
    used by the CDX record walk and by the parity tests."""
    u = url
    i = u.find("://")
    if i > 0:
        u = u[i + 3 :]
    u = u.lower()
    for j, ch in enumerate(u):
        if ch in "/?#":
            hostport, rest = u[:j], u[j:]
            break
    else:
        hostport, rest = u, ""
    host, _, port = hostport.rpartition(":")
    if not host or not port.isdigit():
        host, port = hostport, ""
    if host.startswith("www."):
        host = host[4:]
    revhost = ",".join(reversed(host.split(".")))
    portpart = "" if port in ("", "80", "443") else ":" + port
    path, _, query = rest.partition("?")
    qpart = "?" + "&".join(sorted(query.split("&"))) if query else ""
    return revhost + portpart + ")" + (path or "/") + qpart


def doc_key(title: Column) -> Column:
    """md5(title) hexdigest — the reference's document identity key
    (pygdpr/models/dpa/austria/__init__.py:99), byte-identical to hashlib."""
    return F.md5(F.encode(title, "UTF-8"))


#: frontier-hygiene defaults: binary/asset extensions a document crawler
#: never fetches (the reference gates on MIME after fetch —
#: pygdpr/models/dpa/…'s  'application/pdf' checks; a 10^10-URL frontier
#: must drop these BEFORE the fetch join or it pays the scheduling cost)
BLOCKED_EXTENSIONS = (
    "jpg", "jpeg", "png", "gif", "svg", "ico", "css", "js",
    "woff", "woff2", "ttf", "mp3", "mp4", "avi", "exe", "dmg",
)


def url_quality_filter(
    df,
    url_col: str = "url",
    max_len: int = 256,
    max_depth: int = 8,
    max_params: int = 4,
    blocked_hosts: tuple[str, ...] = (),
):
    """Frontier-side URL hygiene gate (crawl-tier curation).

    Classifies every URL with the FIRST failing rule, in a fixed order
    (scheme -> blocked_host -> bad_ext -> too_long -> too_deep ->
    too_many_params), or NULL when the URL passes; ``keep`` is the
    boolean verdict.  Everything is built-in regex/string expressions —
    one whole-stage-codegen projection, zero shuffle, applied before the
    seen-filter anti-join so rejected URLs never reach the frontier.

    Output: input columns + (reject_reason:string, keep:boolean).
    """
    u = F.col(url_col)
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    depth = F.length(path) - F.length(F.regexp_replace(path, r"/", ""))
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.length(query) - F.length(F.regexp_replace(query, r"&", "")) + 1
    )
    bad_scheme = ~u.rlike(r"^https?://")
    blocked = F.lit(False)
    if blocked_hosts:
        hosts = ", ".join(f"'{h}'" for h in blocked_hosts)
        blocked = F.expr(f"array_contains(array({hosts}), __ufq_host)")
    exts = ", ".join(f"'{e}'" for e in BLOCKED_EXTENSIONS)
    reason = (
        F.when(bad_scheme, F.lit("scheme"))
        .when(blocked, F.lit("blocked_host"))
        .when(F.expr(f"array_contains(array({exts}), __ufq_ext)"), F.lit("bad_ext"))
        .when(F.length(u) > max_len, F.lit("too_long"))
        .when(depth > max_depth, F.lit("too_deep"))
        .when(n_params > max_params, F.lit("too_many_params"))
    )
    return (
        df.withColumn("__ufq_host", host_of(u))
        .withColumn("__ufq_ext", ext)
        .withColumn("reject_reason", reason)
        .withColumn("keep", F.col("reject_reason").isNull())
        .drop("__ufq_host", "__ufq_ext")
    )


def url_shape(url: Column) -> Column:
    """Collapse a URL's path+query to its *shape*: lowercase, long hex
    runs (session ids, content hashes) → ``h``, digit runs → ``0``,
    query values → ``*``.  URLs minted by the same template collapse to
    one shape string — the key crawler-trap detection groups on.  Rule
    order matters and is mirrored exactly by the oracle: hex before
    digits (hex runs contain digits), values last (they may contain
    both).  Pure codegen regex — zero shuffle."""
    path_q = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", 1)
    s = F.lower(path_q)
    s = F.regexp_replace(s, r"[0-9a-f]{8,}", "h")
    s = F.regexp_replace(s, r"[0-9]+", "0")
    s = F.regexp_replace(s, r"=[^&#]*", "=*")
    return F.when(s == "", F.lit("/")).otherwise(s)


def trap_patterns(df, url_col: str = "url", threshold: int = 100):
    """Crawler-trap detection over a frontier or fetch log: count URLs
    per (host, :func:`url_shape`) and flag shapes whose population
    explodes — calendar grids, session-id spaces, faceted-search
    combinatorics.  The reference crawls 29 hand-picked hosts and never
    needs this; a 10^10-URL frontier dies without it (infinite URL
    spaces are *generated faster than they are crawled*, so the gate
    must be shape-level, not seen-set-level — every trap URL is new).

    Scale shape: one count aggregation with map-side partials; the
    shuffle key (host, shape) is exactly the explosion being measured,
    and partial aggregation collapses each trap to one row per map
    task, so the hotter the trap, the MORE the combine absorbs.  The
    flagged output is a small dimension joined back into frontier
    admission by broadcast (the same tie-in as the robots deny-list).

    Output: (host, pattern, n_urls, trap).
    """
    u = F.col(url_col)
    shaped = df.select(host_of(u).alias("host"), url_shape(u).alias("pattern"))
    return (
        shaped.groupBy("host", "pattern")
        .agg(F.count("*").alias("n_urls"))
        .withColumn("trap", F.col("n_urls") > threshold)
    )


def sitemap_expand(pages, xml_col: str = "xml", url_col: str = "page_url"):
    """Expand sitemap XML pages into frontier candidates (a source
    format the reference never reads — its frontier comes only from
    listing pages; a Common-Crawl-scale frontier also ingests
    /sitemap.xml, which for large hosts is the *complete* URL
    inventory with freshness hints).

    Parses the two sitemaps.org shapes with block-scoped regexes kept
    entirely inside WholeStageCodegen (no XML library, no Python):

    - ``<urlset>`` entries: ``<url>...<loc>u</loc>[<lastmod>d</lastmod>]
      ...</url>`` -> one candidate of kind ``'url'`` (lastmod '' when
      the optional tag is absent);
    - ``<sitemapindex>`` entries: ``<sitemap><loc>child</loc></sitemap>``
      -> kind ``'sitemap'`` (the round loop re-enqueues these like
      depth-expansion links).

    The block-first parse (extract ``<url>`` blocks, then fields per
    block) is what keeps loc/lastmod pairing correct when lastmod is
    optional — zipping two independent ``regexp_extract_all`` lists
    mispairs after the first URL without a lastmod.

    Scale: one codegen projection + explode per page, no shuffle, no
    UDF; downstream the candidates join the standard canonicalize ->
    seen-anti-join -> politeness path.  Output: (url_col, loc, lastmod,
    kind).
    """
    url_blocks = r"regexp_extract_all(%s, '<url>([\\s\\S]*?)</url>', 1)" % xml_col
    sm_blocks = (
        r"regexp_extract_all(%s, '<sitemap>([\\s\\S]*?)</sitemap>', 1)" % xml_col
    )
    mk = (
        "transform({blocks}, b -> struct("
        "regexp_extract(b, '<loc>([^<]+)</loc>', 1) as loc, "
        "regexp_extract(b, '<lastmod>([^<]+)</lastmod>', 1) as lastmod, "
        "'{kind}' as kind))"
    )
    both = (
        f"concat({mk.format(blocks=url_blocks, kind='url')}, "
        f"{mk.format(blocks=sm_blocks, kind='sitemap')})"
    )
    return (
        pages.select(url_col, F.explode(F.expr(both)).alias("e"))
        .select(
            url_col,
            F.col("e.loc").alias("loc"),
            F.col("e.lastmod").alias("lastmod"),
            F.col("e.kind").alias("kind"),
        )
        .filter(F.col("loc") != "")
    )


def resolve_redirects(edges, max_doublings: int = 4):
    """Resolve HTTP redirect chains to their terminal URL by pointer
    doubling (path doubling: after round i every pointer has jumped
    2^i hops), the log-round formulation a 10^10-URL fetch log needs —
    a chain of length L resolves in ceil(log2 L) self-joins instead of
    L sequential ones.

    The reference follows redirects one at a time inside requests
    (allow_redirects, e.g. ``pygdpr/models/dpa/ireland/__init__.py``
    fetch calls); a distributed fetch log instead materializes the
    ``(src, dst)`` 3xx edges and resolves all chains at once.

    Input: ``edges(src, dst)`` — one row per redirecting URL (src
    redirects to dst); URLs with no row are terminal.  After
    ``max_doublings`` rounds any pointer still sitting on a redirecting
    URL is part of a chain longer than ``2**max_doublings`` or a cycle
    -> status 'loop' (real crawlers cap redirect chains the same way;
    requests' default cap is 30).

    Scale: each round is one equi-join of the current pointer table
    with itself on the pointed-to key (hash-partitioned both sides, no
    broadcast needed at any size) plus an integer hop add; rounds =
    ``max_doublings`` regardless of corpus size, each checkpointed by
    :func:`crawler_spark.fixpoint.fixpoint`.  Output: (url, final_url,
    hops, status['ok'|'loop']) for every redirecting url, checkpointed.

    Determinism: pure pointer arithmetic on strings + integer hop
    sums — no floats, no ordering sensitivity.
    """

    def step(ptr):
        # ptr(url) = where url's pointer currently rests; hops = distance
        nxt = ptr.select(
            F.col("url").alias("p"),
            F.col("p").alias("p2"),
            F.col("hops").alias("h2"),
        )
        return ptr.join(nxt, "p", "left").select(
            "url",
            F.coalesce("p2", "p").alias("p"),
            (F.col("hops") + F.coalesce("h2", F.lit(0))).alias("hops"),
        )

    ptr = fixpoint(
        step,
        edges.select(
            F.col("src").alias("url"),
            F.col("dst").alias("p"),
            F.lit(1).cast("long").alias("hops"),
        ),
        max_doublings,
    )
    still = edges.select(F.col("src").alias("p"), F.lit(True).alias("__redir"))
    try:
        return checkpoint(
            ptr.join(still, "p", "left").select(
                "url",
                F.col("p").alias("final_url"),
                "hops",
                F.when(F.col("__redir").isNotNull(), F.lit("loop"))
                .otherwise(F.lit("ok"))
                .alias("status"),
            )
        )
    finally:
        release(ptr)


# Representative snapshot subset of the publicsuffix.org list: enough
# rules to exercise every rule CLASS the algorithm defines (normal,
# multi-label, wildcard '*.', exception '!') — the full ~9k-rule list
# is a drop-in data swap, not a code change.  Entries are (rule,) in
# the list's own syntax.
PSL_RULES = [
    "com", "org", "net", "edu", "gov", "io", "jp", "uk", "au", "br",
    "us", "ck",                    # NB: real PSL has no bare 'ck' —
    # removed below.  Bare TLDs above are normal 1-label rules.
    "co.uk", "gov.uk", "ac.uk", "co.jp", "ne.jp", "com.au", "com.br",
    "k12.ma.us",                   # 3-label normal rule
    "github.io",                   # private-section style entry
    "*.ck", "!www.ck",             # the spec's canonical wildcard pair
    "*.kawasaki.jp", "!city.kawasaki.jp",
]
PSL_RULES.remove("ck")             # mirror the real list: only *.ck / !www.ck


def psl_entries(rules: list[str] | None = None) -> list[tuple[str, int, int, int]]:
    """Compile PSL rules to join-key rows ``(key, exc, rule_labels,
    ps_labels)`` for the per-position lookup in
    :func:`registrable_domain`:

    - normal rule ``co.uk``  -> key ``co.uk``, ps_labels = 2
    - wildcard ``*.ck``      -> key ``ck`` (the rule's PARENT — what a
      host's 1-label candidate suffix can equal), ps_labels = 2 (the
      wildcard consumes one extra host label)
    - exception ``!www.ck``  -> key ``www.ck``, exc = 1, ps_labels = 1
      (spec: the exception's public suffix is the rule minus its
      leftmost label)

    ``rule_labels`` is the prevailing-rule length used for
    longest-match ordering (wildcard counts its ``*``).  Rules that
    compile to one key (normal ``ck`` beside wildcard ``*.ck``) keep one
    row, the max ``(exc, rule_labels, ps_labels)`` — the rule that would
    prevail — so the lookup join never duplicates a host.
    """
    best: dict[str, tuple[int, int, int]] = {}
    for r in rules if rules is not None else PSL_RULES:
        exc, wild = r.startswith("!"), r.startswith("*.")
        key = r[1:] if exc else r[2:] if wild else r
        n = key.count(".") + 1 + wild
        score = (int(exc), n, n - exc)
        best[key] = max(best.get(key, score), score)
    return [(k, *v) for k, v in best.items()]


def registrable_domain(
    df,
    host_col: str = "host",
    rules: list[str] | None = None,
):
    """eTLD+1 (registrable domain) per the publicsuffix.org algorithm —
    the key a polite crawler REALLY budgets by (``a.example.co.uk`` and
    ``b.example.co.uk`` are one registrant; ``a.co.uk`` and ``b.co.uk``
    are not), and the unit of per-domain quality rollups in a training
    pipeline.

    Spec (https://publicsuffix.org/list/): among all rules matching a
    suffix of the host, an exception rule wins; otherwise the rule
    with the most labels; if none match the prevailing rule is ``*``.
    public suffix = the matched labels (wildcard: +1 label; exception:
    rule minus leftmost label); registrable = public suffix + 1 label,
    NULL when the host IS a public suffix.

    Scale shape: the PSL is a bounded dim (~9k rules, ~240 KB) and a
    rule has at most K labels, so instead of exploding candidate
    suffixes and re-grouping (a shuffle per URL), this takes the last
    ``i`` labels for each i in 1..K and broadcast-joins each against
    the compiled rule table — K narrow BroadcastHashJoins, zero
    exchange, one streaming pass; the winner is ``greatest()`` over an
    integer-encoded (exc, rule_labels, ps_labels) score, decoded by
    modulus.  All codegen; no UDF.

    Adds ``public_suffix`` and ``etld1`` columns.  Reference behavior:
    the crawler's per-authority hosts make host==domain there
    (``pygdpr/models/dpa/*``); this generalizes its implicit
    one-host-per-authority assumption to arbitrary web hosts.
    """
    spark = df.sparkSession
    entries = psl_entries(rules)
    kmax = max(e[2] for e in entries)
    host = F.lower(F.col(host_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)

    joined = df.withColumn("__n", n).withColumn("__labels", labels)
    scores = []
    for i in range(1, kmax + 1):
        rdim = spark.createDataFrame(
            [(k, e * 10000 + rl * 100 + ps)
             for (k, e, rl, ps) in entries
             # a candidate of i labels can only equal an i-label key
             if k.count(".") + 1 == i],
            f"__k{i} string, __score{i} int",
        )
        cand = F.when(
            F.col("__n") >= i,
            F.array_join(F.slice("__labels", F.col("__n") - i + 1, i), "."),
        )
        joined = joined.withColumn(f"__cand{i}", cand).join(
            F.broadcast(rdim),
            F.col(f"__cand{i}") == F.col(f"__k{i}"),
            "left",
        ).drop(f"__k{i}")
        # a rule only matches when the host has at least ps labels
        # (spec: '*.ck' does not match the bare host 'ck')
        scores.append(
            F.when(
                F.col("__n") >= F.col(f"__score{i}") % 100,
                F.col(f"__score{i}"),
            )
        )
    best = F.greatest(*scores, F.lit(1))  # default prevailing rule '*'
    ps_n = best % 100
    out = (
        joined.withColumn(
            "public_suffix",
            F.array_join(
                F.slice("__labels", F.col("__n") - ps_n + 1, ps_n), "."
            ),
        )
        .withColumn(
            "etld1",
            F.when(
                F.col("__n") > ps_n,
                F.array_join(
                    F.slice(
                        "__labels", F.col("__n") - ps_n, ps_n + 1
                    ),
                    ".",
                ),
            ),
        )
    )
    drop = ["__n", "__labels"] + [
        c for i in range(1, kmax + 1) for c in (f"__cand{i}", f"__score{i}")
    ]
    return out.drop(*drop)
