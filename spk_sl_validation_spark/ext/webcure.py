"""Web-corpus curation: URL normalization, domain extraction, URL
dedup, per-domain caps, domain blocklists, HTML→text extraction,
page metadata, meta-robots compliance gating; round 9 adds C4 line
cleaning, main-content (link-density) extraction, outlink
extraction/resolution, sitemap parsing, URL quality features + word
blocklists, politeness scheduling, domain reputation gating, and
intra-document paragraph dedup; round 10 adds RFC 9309 user-agent
group selection (crawler-token prefix match, longest value wins,
same-token groups merge, * fallback), Crawl-delay parsing feeding a
per-domain politeness rate override, and frontier expansion (novel
discovered URLs vs the current frontier). Binary-side ingest (WARC,
charset detection) lives in ext/warc.py; the real Public Suffix List
in ext/psl.py.

The standard pre-text curation layer of a web-scale training corpus
(C4, RefinedWeb, FineWeb all start here): before any content-based
dedup or quality gate runs, the crawl is canonicalized and diversified
at the URL level. Everything here is JVM-side (``parse_url`` +
``regexp_replace`` + windows/joins — no Python in the hot path), and
every operator has a registered query whose DuckDB oracle recomputes
the expected output in closed form from the fixture generation law
(plans/webcure_queries.py) — the normalizer is hash-checked against
the law, not against itself.

Normalization contract (:func:`normalize_url`) — one documented
canonical form, applied in this order:

1. scheme and host lowercased;
2. leading ``www.`` labels stripped — all of them, so the form is a
   fixed point (other subdomains — ``m.``, ``cdn.`` — are kept: they
   usually serve different content);
3. default ports dropped (``:80`` for http, ``:443`` for https;
   non-default ports kept);
4. tracking parameters removed: any key starting ``utm_``, plus
   ``fbclid`` / ``gclid`` / ``msclkid`` — surviving parameters keep
   their original relative order (no re-sort: ``?a=1&b=2`` and
   ``?b=2&a=1`` are semantically equal but servers are not obliged to
   agree, and a stable normalizer must not merge them);
5. fragment dropped (never sent to the server);
6. a trailing slash stripped from non-root paths (``/a/`` == ``/a``
   for every mainstream server; the root path stays ``/``).

Scale shape: normalization/domain extraction are pure narrow maps.
URL dedup is one groupBy-min + semi join on the (short) normalized
key — the corpus text never shuffles. The per-domain cap rides
Catalyst's WindowGroupLimit rewrite of rank-limit windows (map-side
partial limit + final limit), which bounds a mega-domain's shuffle
contribution at k rows per input partition — measured equal-or-better
than a hand-salted two-phase top-k at 16M docs with 80% of the crawl
on one domain, so the hand-salted variant was removed (let Catalyst
optimize; SCALE.md §7, "Round-8 URL-curation skew probe", holds the
evidence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.session import app_memo

#: Tracking parameter keys stripped by :func:`normalize_url`.
TRACKING_PARAM_RE = r"(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)"

#: Second-level labels that combine with a 2-letter ccTLD to form the
#: public suffix (co.uk-style). A deliberately small, documented
#: approximation of the Public Suffix List, kept as the zero-join
#: fast path; the REAL vendored PSL lives in ext/psl.py
#: (broadcast-join cascade) and is one ``psl=True`` away in
#: :func:`domain_cap` / :func:`blocklist_filter`.
_SLD_SUFFIXES = ("co", "ac", "gov", "org", "net")


# Memoized EXPRESSION trees (never data): normalize_url is ~40 Column-
# builder calls, each a py4j round trip (~2.5 ms measured), and the
# curation operators build it several times per query — ~0.5 s of pure
# DRIVER time per composed-pipeline run. The unresolved Column is
# immutable and not bound to any DataFrame, so reusing one object per
# (application, source column) is safe; keyed on applicationId so a
# fresh JVM/session never sees a stale py4j reference, and a miss
# drops the entries of stopped applications (session.app_memo).
_EXPR_CACHE: dict[tuple[str, str, str], Column] = {}


def _cached_expr(kind: str, name: str, build) -> Column:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    return app_memo(_EXPR_CACHE, (sc.applicationId, kind, name), build)


def _strip_tracking(query: Column) -> Column:
    """Remove tracking k=v pairs from a query string, preserving the
    relative order of survivors. Pure regexp surgery (JVM-side):
    drop '&key=…' / leading 'key=…' then tidy separators."""
    q = F.regexp_replace(query, rf"(&|^){TRACKING_PARAM_RE}=[^&]*", "$1")
    q = F.regexp_replace(q, r"^&+", "")
    q = F.regexp_replace(q, r"&&+", "&")
    return F.regexp_replace(q, r"&$", "")


def normalize_url(url: Column | str) -> Column:
    """Canonicalize a URL per the module contract. Built entirely from
    ``try_parse_url`` + regexp expressions — whole-stage-codegen'd, no
    UDF. URLs Spark's parser rejects (stray ``[`` ``]`` etc. — RFC-
    invalid but present in any real crawl) normalize to NULL rather
    than killing the stage; every consumer in this module falls back
    to the raw string for such rows (dedup keys on it, blocklists
    scan it, caps group them under one pseudo-domain)."""
    if isinstance(url, str):
        return _cached_expr("norm_url", url, lambda: _normalize_url(F.col(url)))
    return _normalize_url(url)


def _normalize_url(u: Column) -> Column:
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.try_parse_url(u, F.lit("HOST")))
    # parse_url(HOST) excludes the port; extract it from the authority
    # with userinfo stripped and the match anchored at the END — a
    # digit run after a colon in a password ('user:123pass@h.com') or
    # inside an IPv6 literal must never be mistaken for a port.
    authority = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    port = F.regexp_extract(F.regexp_replace(authority, r"^.*@", ""), r":(\d+)$", 1)
    # (www\.)+ not www\. — repeated www labels must reach the same
    # fixed point in one pass (normalize is contractually idempotent).
    host = F.regexp_replace(hostport, r"^(www\.)+", "")
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"), F.regexp_replace(path, "/$", "")
    ).otherwise(path)
    query = _strip_tracking(F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit("")))
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )


def extract_domain(norm_url: Column | str) -> Column:
    """Registrable domain from a normalized URL: last two host labels,
    or last three when the second-level label is a known public-suffix
    combinator on a 2-letter ccTLD (``example.co.uk``). Documented PSL
    approximation (see ``_SLD_SUFFIXES``); the real-list path is
    ``ext.psl.registrable_domain`` (wrong on e.g. ``example.com.au``
    here — every ``.com.au`` site collapses to one domain)."""
    if isinstance(norm_url, str):
        return _cached_expr(
            "extract_domain", norm_url, lambda: _extract_domain(F.col(norm_url))
        )
    return _extract_domain(norm_url)


def _extract_domain(u: Column) -> Column:
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/:?#]*)", 1)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    sld = F.element_at(parts, -2)
    tld = F.element_at(parts, -1)
    is_ccsld = (
        (n >= 3) & (F.length(tld) == 2) & sld.isin(*_SLD_SUFFIXES)
    )
    last3 = F.concat_ws(".", F.element_at(parts, -3), sld, tld)
    last2 = F.concat_ws(".", sld, tld)
    return F.when(n <= 2, host).when(is_ccsld, last3).otherwise(last2)


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one document per normalized URL (lowest ``id_col`` wins —
    deterministic, oracle-replayable), as a rank-limit window over the
    normalized key: Catalyst rewrites ``rank() <= 1`` into a
    WindowGroupLimit PAIR, so every map partition drops all but its
    min-id row per URL *before* the exchange — shuffle mass for a hot
    URL is bounded at one row per input partition, and losers' payload
    bytes never move at all.

    r12 rewrite (guide §2.4): the previous groupBy-min + id-keyed semi
    join shuffled the ENTIRE frame (payloads included) on ``id_col``
    and — worse — re-evaluated ``df``'s whole lineage a second time as
    the owners side (Spark shares no uncached subtree across join
    sides), which doubled the upstream robots/blocklist stages inside
    the composed curation pipeline. One window, one partial-limited
    exchange, upstream evaluated once."""
    from pyspark.sql import Window

    # invalid URLs (normalize -> NULL) dedup on their raw string: an
    # all-null key would collapse every unparseable URL into one winner.
    nu = _cached_expr(
        "dedup_key",
        url_col,
        lambda: F.coalesce(normalize_url(url_col), F.col(url_col)),
    )
    keyed = df.withColumn("__nu", nu)
    # rank(), not row_number(): under a duplicated id every min-id row
    # of a URL survives. The old semi join keyed on the id alone, so its
    # keep set is the same only when no id spans two normalized URLs
    # (such an id also kept its rows under URLs it did not win).
    w = Window.partitionBy("__nu").orderBy(id_col)
    return (
        keyed.withColumn("__rk", F.rank().over(w))
        .filter(F.col("__rk") <= 1)
        .drop("__rk", "__nu")
    )


def domain_cap(
    df: DataFrame,
    k: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    psl: bool = False,
) -> DataFrame:
    """Keep at most ``k`` documents per registrable domain (lowest
    ``id_col`` first — deterministic). Deliberately the PLAIN
    rank-limit window: Catalyst rewrites ``row_number() <= k`` into a
    WindowGroupLimit PAIR — a map-side partial limit (each input
    partition ships at most k rows per domain into the shuffle) and a
    final limit — so a mega-domain's shuffle mass is bounded at
    k × n_input_partitions, not its row count. A hand-salted two-phase
    top-k was built, probed, and REMOVED: it re-implements exactly
    this rewrite one shuffle slower (SCALE.md §7, "Round-8 URL-curation
    skew probe" — 6.9 s vs 6.3 s min at 16M docs, 80% on one
    domain; the plan pin in tests/test_webcure.py keeps the rewrite
    from silently disappearing).

    ``psl=True`` routes domain extraction through the full Public
    Suffix List (ext/psl.py — broadcast-join cascade, still zero
    shuffles) instead of the regexp approximation; use it whenever
    the crawl spans ccTLDs like ``.com.au`` the approximation
    collapses."""
    dom = _with_domain(df, url_col, psl)
    w = Window.partitionBy("__dom").orderBy(id_col)
    return (
        dom.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__dom")
    )


def _with_domain(df: DataFrame, url_col: str, psl: bool) -> DataFrame:
    """``__dom`` = registrable domain of ``url_col``: regexp
    approximation (fast path, zero joins) or the full PSL lookup
    (broadcast-join cascade, zero shuffles either way)."""
    if not psl:
        # unparseable URLs group under one pseudo-domain: a cap then
        # throttles crawl garbage collectively instead of erroring.
        dom = _cached_expr(
            "domain_of_url",
            url_col,
            lambda: F.coalesce(
                extract_domain(normalize_url(url_col)), F.lit("__invalid__")
            ),
        )
        return df.withColumn("__dom", dom)
    from spk_sl_validation_spark.ext import psl as P

    out = P.registrable_domain(
        df, P.host_from_url(normalize_url(url_col)), out_col="__dom"
    )
    # unparseable URLs: normalize -> NULL -> host NULL -> even the
    # fallback_to_host coalesce stays NULL; map to the same
    # __invalid__ pseudo-domain the fast path uses so the two branches
    # stay interchangeable.
    return out.withColumn(
        "__dom", F.coalesce(F.col("__dom"), F.lit("__invalid__"))
    )


def blocklist_filter(
    df: DataFrame, blocked: DataFrame, url_col: str = "url", psl: bool = False
) -> DataFrame:
    """Drop documents whose registrable domain appears in ``blocked``
    (a one-column ``domain`` frame). Anti join; blocklists are
    dim-sized so the planner may broadcast, but nothing forces it —
    a million-domain blocklist still works. ``psl=True`` as in
    :func:`domain_cap`."""
    # r12: no join-strategy hint — blocklists come from real scans or
    # local relations with usable size stats, so the planner broadcasts
    # dim-sized ones statically (zero exchange on the corpus side; the
    # forced shuffle_hash cost 2 exchanges of pure AQE stage latency per
    # use) and falls back to a shuffle join for a million-domain list.
    dom = _with_domain(df, url_col, psl)
    return (
        dom.join(
            blocked.select(F.col("domain").alias("__dom")),
            "__dom",
            "left_anti",
        ).drop("__dom")
    )


# ---------------------------------------------------------------------------
# Fixture generation law (plans/webcure_queries.py oracles replay it)
# ---------------------------------------------------------------------------
#
# Every SEMANTIC component (what survives normalization) is a function
# of m = doc_id % 60 only, so the normalized URL has exactly 60
# possible shapes and URL dedup / domain caps bite hard even at 500
# docs. Every piece of NOISE the normalizer must remove — www. vs
# naked host, upper-case scheme+host, default ports, trailing slash,
# tracking params, fragments — is keyed off j = doc_id // 60, so raw
# URLs differ within a normalized class. The oracle never sees the raw
# string: it recomputes the expected normalized output from m alone.
#
#   scheme  = https if m%2==0 else http       sub = 'm.' iff m%3==2
#   core    = site(m%5)                       tld = com if m%4<2 else co.uk
#   port    = :8080 iff m%7==1                path = '/' if m%3==0 else /p/(m%3)
#   query   = m%4: 0 -> none; 1,2 -> id=(m%2); 3 -> id=(m%2)&ref=r
#   noise   = j%2 www-prefix, j%3 default port, j%5 trailing slash /
#             empty-vs-root path, j%7 fragment, j%11 UPPERCASE


#: The normalized-URL generation law as DuckDB SQL (CTEs ``u``/``n``
#: over ``documents``) — the single source of truth every oracle that
#: replays :func:`synthesize_url_table`'s law imports (batch webcure
#: queries AND the streaming frontier; a drifted copy would let one
#: oracle silently diverge from the others).
NORM_URL_ORACLE_LAW = """
WITH u AS (
  SELECT doc_id, doc_id % 60 AS m FROM documents
),
n AS (
  SELECT doc_id,
         (CASE WHEN m % 2 = 0 THEN 'https' ELSE 'http' END)
         || '://'
         || (CASE WHEN m % 3 = 2 THEN 'm.' ELSE '' END)
         || 'site' || CAST(m % 5 AS VARCHAR) || '.'
         || (CASE WHEN m % 4 < 2 THEN 'com' ELSE 'co.uk' END)
         || (CASE WHEN m % 7 = 1 THEN ':8080' ELSE '' END)
         || (CASE WHEN m % 3 = 0 THEN '/' ELSE '/p/' || CAST(m % 3 AS VARCHAR) END)
         || (CASE m % 4 WHEN 0 THEN ''
                        WHEN 3 THEN '?id=' || CAST(m % 2 AS VARCHAR) || '&ref=r'
                        ELSE '?id=' || CAST(m % 2 AS VARCHAR) END) AS norm_url,
         'site' || CAST(m % 5 AS VARCHAR) || '.'
         || (CASE WHEN m % 4 < 2 THEN 'com' ELSE 'co.uk' END) AS domain
  FROM u
)
"""


def synthesize_url_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url) under the generation law above. Pure Spark
    expressions — the fixture writer itself is JVM-side."""
    m = F.col(id_col) % 60
    j = F.floor(F.col(id_col) / 60)
    scheme = F.when(m % 2 == 0, F.lit("https")).otherwise(F.lit("http"))
    raw_sub = (
        F.when(m % 3 == 2, F.lit("m."))
        .when(j % 2 == 0, F.lit("www."))
        .otherwise(F.lit(""))
    )
    core = F.concat(F.lit("site"), (m % 5).cast("string"))
    tld = F.when(m % 4 < 2, F.lit("com")).otherwise(F.lit("co.uk"))
    host = F.concat(raw_sub, core, F.lit("."), tld)
    port = (
        F.when(m % 7 == 1, F.lit(":8080"))
        .when(
            j % 3 == 0,
            F.when(m % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        )
        .otherwise(F.lit(""))
    )
    k = m % 3
    path = (
        F.when((k == 0) & (j % 5 == 0), F.lit("/"))
        .when(k == 0, F.lit(""))
        .otherwise(
            F.concat(
                F.lit("/p/"),
                k.cast("string"),
                F.when(j % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            )
        )
    )
    b = (m % 2).cast("string")
    query = (
        F.when(m % 4 == 1, F.concat(F.lit("?id="), b))
        .when(m % 4 == 2, F.concat(F.lit("?utm_source=feed&id="), b))
        .when(m % 4 == 3, F.concat(F.lit("?id="), b, F.lit("&utm_campaign=x&ref=r")))
        .otherwise(F.lit(""))
    )
    frag = F.when(j % 7 == 0, F.lit("#top")).otherwise(F.lit(""))
    shout = j % 11 == 0
    url = F.concat(
        F.when(shout, F.upper(scheme)).otherwise(scheme),
        F.lit("://"),
        F.when(shout, F.upper(host)).otherwise(host),
        port,
        path,
        query,
        frag,
    )
    return docs.select(F.col(id_col), url.alias("url"))


# ---------------------------------------------------------------------------
# HTML → text extraction (the raw-crawl step ahead of every text op)
# ---------------------------------------------------------------------------
#
# C4-class tag stripping as a JVM-side regexp chain (whole-stage
# codegen; zero Python in the hot path): script/style/noscript blocks
# and comments removed whole, remaining tags become whitespace, the
# common entities decode (&lt; &gt; &quot; &#39; &nbsp; first, &amp;
# LAST so double-encodings resolve one level, like a single-pass
# parser), whitespace collapses. Documented limits, same as every
# regexp extractor: an attribute value containing a literal '>' ends
# the tag early, and CDATA is not special-cased — swap in a real DOM
# parse via mapInPandas for corpora where that matters; the operator
# and oracle shapes do not change.


#: Numeric character reference: &#8217; or &#x2019; (hex, either case).
_NUMREF_RE = r"&#((?:[Xx][0-9A-Fa-f]{1,6})|(?:[0-9]{1,7}));"


def _decode_numeric_refs(h: Column) -> Column:
    """Decode ``&#NNNN;`` / ``&#xHH;`` numeric character references —
    ubiquitous in real pages (apostrophes, dashes, non-Latin text) and
    a different class from the named-entity table: there are 1.1M
    possible codepoints, so the decode is computed, not looked up.

    JVM-side: split on the reference pattern (segments), extract every
    reference (tokens), decode each token via
    ``reflect('java.lang.Character','toString', cp)`` — Spark's
    ``chr`` is mod-256 ASCII, wrong above U+00FF — and re-interleave
    with ``zip_with``. Invalid codepoints (0, surrogates, > U+10FFFF,
    where Character.toString throws) stay as their literal source
    text. Cost is per-REFERENCE, not per-char, and the fast path
    (no reference in the page) is one regexp count."""
    toks = F.regexp_extract_all(h, F.lit(_NUMREF_RE), 1)
    segs = F.split(h, _NUMREF_RE)

    def decode(tok: Column) -> Column:
        is_hex = tok.rlike("^[Xx]")
        cp = (
            F.when(is_hex, F.conv(F.substring(tok, 2, 6), 16, 10))
            .otherwise(tok)
            .cast("long")
        )
        valid = (
            (cp >= 1)
            & (cp <= 0x10FFFF)
            & ~((cp >= 0xD800) & (cp <= 0xDFFF))
        )
        return F.when(
            valid,
            F.reflect(
                F.lit("java.lang.Character"), F.lit("toString"), cp.cast("int")
            ),
        ).otherwise(F.concat(F.lit("&#"), tok, F.lit(";")))

    return F.when(F.size(toks) == 0, h).otherwise(
        F.concat(
            F.get(segs, 0),
            F.array_join(
                F.zip_with(
                    F.transform(toks, decode),
                    F.slice(segs, 2, F.size(segs) - 1),
                    lambda d, t: F.concat(d, t),
                ),
                "",
            ),
        )
    )


def html_to_text(html: Column | str) -> Column:
    """Extract visible text from an HTML payload per the module
    contract above."""
    h = F.col(html) if isinstance(html, str) else html
    h = F.regexp_replace(h, r"(?is)<(script|style|noscript)\b[^>]*>.*?</\1\s*>", " ")
    h = F.regexp_replace(h, r"(?s)<!--.*?-->", " ")
    h = F.regexp_replace(h, r"<[^>]*>", " ")
    for ent, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"), ("&nbsp;", " "),
    ):
        h = F.regexp_replace(h, ent, rep)
    h = _decode_numeric_refs(h)
    h = F.regexp_replace(h, "&amp;", "&")
    return F.trim(F.regexp_replace(h, r"\s+", " "))


def html_meta(html: Column | str) -> tuple[Column, Column]:
    """(title, n_links) from an HTML payload: first <title> text and
    the number of <a …> anchors — the two fields crawl frontiers and
    datasheets ask for before any extraction runs. Script/style/
    noscript blocks and comments are removed FIRST, exactly as
    :func:`html_to_text` does, so an anchor string inside a script or
    a commented-out title never counts."""
    h = F.col(html) if isinstance(html, str) else html
    h = F.regexp_replace(h, r"(?is)<(script|style|noscript)\b[^>]*>.*?</\1\s*>", " ")
    h = F.regexp_replace(h, r"(?s)<!--.*?-->", " ")
    title = F.trim(F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title\s*>", 1))
    # <a[\s>], not <a\s: a bare attribute-less <a> anchor is valid
    # HTML and must count.
    n_links = F.size(F.split(h, r"(?i)<a[\s>]")) - 1
    return title, n_links


def synthesize_html_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, html) wrapping each document's text in a full page
    under a closed-form law: title ``T<id>``, a heading carrying an
    ``&amp;`` named entity plus ``&#8217;`` / ``&#x2014;`` NUMERIC
    character references (decimal and hex — the decode the extractor
    must compute, not look up), a classed paragraph holding the text
    verbatim, ``id % 4`` nav links with anchor texts ``L0..``, plus
    comment/style/script noise (the script body carries a decoy
    entity that must vanish whole). Extracted text is exactly
    ``T<id> T&<id>’s—<id> <text> [L0 L1 ...]`` — the oracle
    recomputes it from documents.text without parsing any HTML."""
    i = F.col(id_col).cast("string")
    # sequence(0, -1) DESCENDS in Spark — guard the zero-link case.
    nav = F.when(F.col(id_col) % 4 == 0, F.lit("")).otherwise(
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), F.col(id_col) % 4 - 1),
                lambda j: F.concat(
                    F.lit('<a href="https://site'),
                    j.cast("string"),
                    F.lit('.com/l">L'),
                    j.cast("string"),
                    F.lit("</a>"),
                ),
            ),
        )
    )
    robots = F.element_at(
        F.array(*[F.lit(v) for v in ROBOTS_LAW]), (F.col(id_col) % 5).cast("int") + 1
    )
    # Attribute order alternates (name-first vs content-first) so the
    # robots extractor cannot assume one; no tag at all when the law
    # says ''. Attribute-only content — invisible to html_to_text.
    meta_robots = F.when(robots == "", F.lit("")).otherwise(
        F.when(
            F.col(id_col) % 2 == 0,
            F.concat(F.lit('<meta name="robots" content="'), robots, F.lit('">')),
        ).otherwise(
            F.concat(F.lit('<meta content="'), robots, F.lit('" name="robots">'))
        )
    )
    html = F.concat(
        F.lit("<html><head><title>T"), i,
        F.lit("</title>"),
        meta_robots,
        F.lit("<style>body { color: #000; }</style>"
              '<script type="text/javascript">var x = "&amp;"; if (1 > 0) {}</script>'
              "</head><body><!-- noise "), i,
        F.lit(' --><h1 class="h">T&amp;'), i,
        F.lit("&#8217;s&#x2014;"), i,
        F.lit('</h1><p class="c'), (F.col(id_col) % 3).cast("string"),
        F.lit('">'), F.col(text_col),
        F.lit("</p><nav>"), nav,
        F.lit("</nav></body></html>"),
    )
    return docs.select(F.col(id_col), html.alias("html"))


#: meta-robots values in the fixture law, keyed by doc_id % 5 ('' = no tag).
ROBOTS_LAW = ("", "index,follow", "noindex", "nofollow", "noindex,nofollow")


def robots_directive(html: Column | str) -> Column:
    """The <meta name=robots> content of a page ('' when absent).
    Handles either attribute order (name-first or content-first) —
    both occur in the wild — via two anchored extracts."""
    h = F.col(html) if isinstance(html, str) else html
    name_first = F.regexp_extract(
        h, r"""(?is)<meta\s[^>]*name=["']?robots["']?[^>]*content=["']([^"']*)["']""", 1
    )
    content_first = F.regexp_extract(
        h, r"""(?is)<meta\s[^>]*content=["']([^"']*)["'][^>]*name=["']?robots["']?""", 1
    )
    return F.when(name_first != "", name_first).otherwise(content_first)


def robots_gate(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Drop pages whose meta-robots directive contains ``noindex``
    (the page's own request to stay out of corpora/indexes — honoring
    it is table stakes for a compliant crawl pipeline). ``nofollow``
    alone keeps the page (it restricts link-following, not content
    use). Pure narrow filter."""
    d = F.lower(robots_directive(html_col))
    return df.filter(~d.contains("noindex"))


# ---------------------------------------------------------------------------
# robots.txt: parse + longest-match URL filtering (crawl compliance)
# ---------------------------------------------------------------------------
#
# The file-level half of crawl compliance (the meta-tag half is
# :func:`robots_gate`). Semantics implemented — the standard
# longest-match subset every major crawler agrees on:
#
# - only the ``User-agent: *`` group applies (named-bot groups are
#   parsed and ignored; group = directives after a User-agent line
#   until the next one);
# - ``Allow:`` / ``Disallow:`` prefixes match when the URL path starts
#   with them; empty prefixes are ignored;
# - the LONGEST matching rule wins; a tie goes to Allow; no matching
#   rule means allowed.
#
# Everything is JVM-side: line explode + running-group window (robots
# files are KB-sized, the window partitions by domain), then a
# domain join whose rules side is tiny (AQE broadcasts it) and a
# per-URL longest-match aggregate.


def _robots_pattern_re(pattern: Column) -> Column:
    """Compile an RFC 9309 Allow/Disallow path pattern to an anchored
    Java regex, JVM-side: every regex metacharacter escaped, ``*``
    becomes ``.*`` (any sequence, incl. empty), and a TRAILING ``$``
    becomes an end anchor (a ``$`` anywhere else is literal, matching
    Google/Bing practice). A plain prefix compiles to ``^prefix`` —
    prefix semantics unchanged."""
    esc = F.regexp_replace(pattern, r"([\\.\[\]{}()+\-?^$|])", r"\\$1")
    esc = F.regexp_replace(esc, r"\*", ".*")
    esc = F.when(
        # replacement is a Java replaceAll string: '\$' = literal '$'
        pattern.endswith("$"), F.regexp_replace(esc, r"\\\$$", r"\$")
    ).otherwise(esc)
    return F.concat(F.lit("^"), esc)


def _selected_group_lines(txt: Column, crawler_token: str | None) -> Column:
    """array<struct<grp,line>>: the trimmed lines of the user-agent
    group the crawler must obey, computed as ONE narrow per-row array
    expression — a robots.txt is a single KB-sized cell, so its group
    selection never needs the explode → window → Exchange round-trip
    the r11 shape paid (one full AQE stage per robots-family query
    locally; a shuffle of the whole rules relation at corpus scale).
    HOFs are interpreted, but the arrays are rule-count sized.

    Selection semantics are identical to the old window version (RFC
    9309 §2.2.1): a line's group is the nearest preceding User-agent
    value; with ``crawler_token`` the longest case-insensitively
    prefix-matching named group wins, groups at that specificity
    merge, ``*`` applies only when no named group matches; without a
    token, only the literal ``*`` group is obeyed."""
    entries = F.transform(
        F.split(txt, "\n"), lambda line, i: F.struct(i.alias("pos"), F.trim(line).alias("line"))
    )
    # the nearest preceding User-agent value per line: a left-to-right
    # fold that threads the current group while appending tagged lines.
    init = F.struct(
        F.lit(None).cast("string").alias("g"),
        F.array().cast("array<struct<grp:string,line:string>>").alias("out"),
    )

    def _step(acc, e):
        is_ua = F.lower(e["line"]).startswith("user-agent:")
        newg = F.when(
            is_ua, F.trim(F.get(F.split(e["line"], ":", 2), 1))
        ).otherwise(acc["g"])
        return F.struct(
            newg.alias("g"),
            F.concat(
                acc["out"],
                F.array(F.struct(newg.alias("grp"), e["line"].alias("line"))),
            ).alias("out"),
        )

    tagged = F.aggregate(entries, init, _step, lambda acc: acc["out"])
    if crawler_token is None:
        return F.filter(tagged, lambda x: x["grp"] == "*")
    tok = F.lit(crawler_token.lower())
    cand = F.filter(
        tagged,
        lambda x: x["grp"].isNotNull()
        & ((F.lower(x["grp"]) == "*") | tok.startswith(F.lower(x["grp"]))),
    )
    # per-domain best named-group specificity, then keep every group at
    # that length ('*' only when no named group matched).
    spec = F.array_max(
        F.transform(
            F.filter(cand, lambda x: F.lower(x["grp"]) != "*"),
            lambda x: F.length(x["grp"]),
        )
    )

    def _sel(spec_col):
        return F.filter(
            cand,
            lambda x: F.when(spec_col.isNull(), F.lower(x["grp"]) == "*").otherwise(
                (F.lower(x["grp"]) != "*") & (F.length(x["grp"]) == spec_col)
            ),
        )

    # bind spec once via a single-element transform so the O(n) max is
    # not re-evaluated per filtered element.
    return F.get(F.transform(F.array(spec), _sel), 0)


def robots_rules_array(txt: Column, crawler_token: str | None = None) -> Column:
    """array<struct<rtype,prefix,pattern_re,is_lit>>: the Allow/
    Disallow rules of the group a crawler must obey, as one narrow
    per-row expression over a robots.txt cell (zero exchanges).
    ``rtype`` is 'allow'|'disallow'; ``pattern_re`` is the RFC 9309
    pattern compiled to an anchored regex (:func:`_robots_pattern_re`);
    ``prefix`` keeps the raw pattern for specificity ranking (most
    octets wins, per the RFC); ``is_lit`` marks plain-prefix patterns
    (no '*', no trailing '$') so consumers can match with startswith
    instead of regexp_like (regexp_like with per-rule non-foldable
    patterns recompiles the regex per evaluation once rules alternate
    — the JVM caches only the LAST pattern per expression instance).
    Field extraction uses ``F.get`` (0-based, null on out-of-bounds)
    so colon-less noise lines are total under ANSI mode regardless of
    predicate evaluation order.

    Group selection (RFC 9309 §2.2.1): with ``crawler_token`` set,
    a user-agent group matches when its value is a case-insensitive
    PREFIX of the token (``Googlebot`` matches ``googlebot-news`` —
    the practice Google/Bing document; an exact match is the
    longest-possible prefix so RFC exact matching is subsumed); among
    matching named groups the MOST SPECIFIC (longest value) wins, and
    every group at that specificity merges (the RFC's merge rule for
    repeated groups). The ``*`` group applies only when NO named
    group matches. ``crawler_token=None`` keeps the ``*``-group-only
    behavior. Documented simplification: consecutive ``User-agent:``
    lines each start their own tag (a rule line belongs to the
    nearest preceding UA line, not to every UA line of the block)."""
    def _rule(x):
        parts = F.split(x["line"], ":", 2)
        rt = F.lower(F.trim(F.get(parts, 0)))
        pf = F.trim(F.get(parts, 1))
        return F.struct(
            rt.alias("rtype"),
            pf.alias("prefix"),
            _robots_pattern_re(pf).alias("pattern_re"),
            (~pf.contains("*") & ~pf.endswith("$")).alias("is_lit"),
        )

    rules = F.transform(_selected_group_lines(txt, crawler_token), _rule)
    return F.filter(
        rules,
        lambda r: r["rtype"].isin("allow", "disallow") & (r["prefix"] != ""),
    )


def parse_crawl_delay(
    robots: DataFrame,
    domain_col: str = "domain",
    txt_col: str = "robots_txt",
    crawler_token: str | None = None,
) -> DataFrame:
    """(domain, crawl_delay double) from the selected user-agent group
    — the de-facto-standard ``Crawl-delay`` directive (Bing/Yandex
    honor it; RFC 9309 §2.2.4 reserves such "other records" for
    exactly this use). Multiple directives in the selected group take
    the MAX (a larger delay only ever slows the crawl — the safe
    direction); non-numeric or non-positive values are ignored
    (``try_cast`` totality, never a stage kill); domains without a
    usable directive are ABSENT, so consumers left-join and fall back
    to their global rate. Group selection via ``crawler_token`` as in
    :func:`robots_rules_array`.

    Precondition: ``robots`` holds ONE row per domain (what a crawl
    stores). It is not enforced: each row is parsed on its own, so a
    domain given twice yields one output row per row carrying a usable
    directive, and a consumer's left join on ``domain`` then multiplies
    that domain's URLs."""
    # r12: per-row array fold (see _selected_group_lines) — the max
    # over the selected group's usable directives needs no explode,
    # window, or groupBy: zero exchanges.
    def _delay(x):
        parts = F.split(x["line"], ":", 2)
        key = F.lower(F.trim(F.get(parts, 0)))
        val = F.trim(F.get(parts, 1)).try_cast("double")
        return F.when((key == "crawl-delay") & (val > 0), val)

    delay = F.array_max(
        F.transform(
            _selected_group_lines(F.col(txt_col), crawler_token), _delay
        )
    )
    return (
        robots.select(F.col(domain_col).alias("domain"), delay.alias("crawl_delay"))
        .filter(F.col("crawl_delay").isNotNull())
    )


def robots_txt_filter(
    df: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    keep_blocked: bool = False,
    crawler_token: str | None = None,
) -> DataFrame:
    """Apply robots.txt decisions to a URL frame: adds ``allowed``
    (most-specific-match over the crawler's selected user-agent group
    of the URL's registrable domain — RFC 9309 group selection via
    ``crawler_token``, see :func:`robots_rules_array`; default the
    ``*`` group — with ``*`` wildcards and trailing-``$`` anchors
    supported, specificity = pattern octet count, Allow wins ties)
    and drops blocked rows unless ``keep_blocked``.

    Precondition: ``robots`` holds ONE row per domain (what a crawl
    stores). It is not enforced — merging duplicates would cost an
    exchange. Each robots row is decided on its own: a domain given
    twice yields each of its URLs twice, once per robots row, so with
    ``keep_blocked=True`` a URL one file disallows comes out both
    blocked and allowed, and with ``keep_blocked=False`` it survives
    through the other row.

    Scale shape: the URL frame is NEVER aggregated or re-keyed — rules
    collapse to one array row per domain (robots files are KB-sized,
    so collect_list is bounded), ride ONE left join (AQE broadcasts
    small rule tables; a hot domain concentrates on a JOIN key —
    splittable — never a window), and the longest-match fold runs
    per row over the tiny rule array. The higher-order-function cost
    caveat (SCALE.md §5) doesn't bite here: the array is rule-count
    sized, not data sized."""
    nu = normalize_url(url_col)
    robots_dom = _cached_expr("robots_dom", url_col, lambda: extract_domain(nu))
    robots_path = _cached_expr(
        "robots_path",
        url_col,
        lambda: F.regexp_extract(nu, r"^[a-z][a-z0-9+.-]*://[^/]*(/[^?#]*)", 1),
    )
    keyed = df.withColumn("__dom", robots_dom).withColumn("__path", robots_path)
    # r12: the per-domain rule array is ONE narrow map over the robots
    # frame (robots files are single KB-sized cells — group selection
    # and rule extraction never need the old explode → window →
    # Exchange → collect_list round-trip, which cost a full AQE stage
    # locally and shuffled the whole rules relation at corpus scale).
    # One robots_txt row per domain is the caller's precondition (see
    # above); duplicate domain rows join multiplicatively here.
    per_domain = robots.select(
        F.col("domain").alias("__dom"),
        robots_rules_array(F.col("robots_txt"), crawler_token).alias("__rules"),
    )
    # No join-strategy hint — the rules side carries real scan stats,
    # so the planner broadcasts it statically when it fits (the forced
    # shuffle_hash added an Exchange on BOTH sides — pure serialized
    # AQE stage latency on KB manifests) and shuffles only when a
    # 100M-domain rules table genuinely exceeds the threshold.
    cand = keyed.join(per_domain, "__dom", "left")

    def best(rtype: str):
        # regexp_like with a per-rule (non-foldable) pattern: fine here
        # — the array is rule-count sized, and Spark caches the last
        # compiled pattern per expression instance. The fold reads only
        # the fixed __rules/__path columns, so the built Column is
        # memoized per application (HOF lambdas are py4j-chatty).
        def _build():
            # literal rules match via startswith (no regex compile);
            # only genuine wildcard/$-anchor rules pay regexp_like.
            hits = F.filter(
                F.coalesce(F.col("__rules"), F.array()),
                lambda r: (r["rtype"] == rtype)
                & F.when(
                    r["is_lit"], F.col("__path").startswith(r["prefix"])
                ).otherwise(F.regexp_like(F.col("__path"), r["pattern_re"])),
            )
            return F.aggregate(
                hits, F.lit(-1), lambda acc, r: F.greatest(acc, F.length(r["prefix"]))
            )

        return _cached_expr("robots_best", rtype, _build)

    out = cand.withColumn("allowed", best("allow") >= best("disallow")).drop(
        "__rules", "__dom", "__path"
    )
    return out if keep_blocked else out.filter(F.col("allowed")).drop("allowed")


def synthesize_robots_table(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(domain, robots_txt) for each distinct registrable domain of
    ``urls``, under a closed-form law on the domain index
    d = digit + 5·[tld == co.uk] (domains are ``site<digit>.<tld>``):
    a decoy ``badbot`` group that must be ignored, ``Disallow: /p``
    when d is even, ``Allow: /p/2`` when 3 | d (longest-match
    override), ``Disallow: /private`` always."""
    doms = urls.select(extract_domain(normalize_url(url_col)).alias("domain")).distinct()
    d = (
        F.regexp_extract("domain", r"^site(\d+)\.", 1).cast("int")
        + F.when(F.col("domain").endswith(".co.uk"), F.lit(5)).otherwise(F.lit(0))
    )
    txt = F.concat(
        F.lit("User-agent: badbot\nDisallow: /\n\nUser-agent: *\n"),
        F.when(d % 2 == 0, F.lit("Disallow: /p\n")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("Allow: /p/2\n")).otherwise(F.lit("")),
        F.lit("Disallow: /private\n"),
    )
    return doms.select("domain", txt.alias("robots_txt"))


# RFC 9309 wildcard fixture law (web_robots_wildcard_filter replays it
# in closed form): every domain serves the same three-pattern group
#
#     User-agent: *
#     Disallow: /*.pdf$
#     Allow: /docs/*
#     Disallow: /p/*/deep
#
# and the URL path is a template of m = doc_id % 7:
#
#   m  path              decision (specificity = pattern octets)
#   0  /p/1              no rule matches → allowed
#   1  /docs/a.pdf       Disallow /*.pdf$ (7) ties Allow /docs/* (7)
#                        → Allow wins ties → allowed
#   2  /docs/a.html      Allow /docs/* → allowed
#   3  /files/x.pdf      Disallow /*.pdf$ → BLOCKED
#   4  /p/sub/deep       Disallow /p/*/deep (9) → BLOCKED
#   5  /                 no rule → allowed
#   6  /docs/a.pdf.html  /*.pdf$ anchored — does NOT match; Allow
#                        /docs/* → allowed ($ anchor respected)
#
# so allowed == (m NOT IN (3, 4)); host = site(doc_id % 2).com.

WILDCARD_ROBOTS_TXT = (
    "User-agent: *\nDisallow: /*.pdf$\nAllow: /docs/*\nDisallow: /p/*/deep\n"
)

_WILDCARD_PATHS = (
    "/p/1", "/docs/a.pdf", "/docs/a.html", "/files/x.pdf",
    "/p/sub/deep", "/", "/docs/a.pdf.html",
)


def synthesize_wildcard_url_table(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, url) under the wildcard fixture law above."""
    m = F.col(id_col) % 7
    path = F.element_at(F.array(*[F.lit(p) for p in _WILDCARD_PATHS]), (m + 1).cast("int"))
    url = F.concat(
        F.lit("https://site"), (F.col(id_col) % 2).cast("string"), F.lit(".com"), path
    )
    return docs.select(F.col(id_col), url.alias("url"))


def synthesize_wildcard_robots_table(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(domain, robots_txt): the fixed wildcard rule group for every
    distinct registrable domain in ``urls``."""
    doms = urls.select(
        extract_domain(normalize_url(url_col)).alias("domain")
    ).distinct()
    return doms.select("domain", F.lit(WILDCARD_ROBOTS_TXT).alias("robots_txt"))


# RFC 9309 user-agent GROUP-SELECTION fixture law (the registered
# query web_robots_ua_select replays it in closed form). The crawler
# identifies as UA_CRAWLER_TOKEN; hosts are ua<d>.com with
# d = doc_id % 6, paths a template of m = doc_id % 4
# (0 '/m/1', 1 '/g/1', 2 '/s/1', 3 '/q/1'). Every domain carries a
# DECOY group `MegaBotX: Disallow /` — "megabotx" is NOT a prefix of
# "megabot-news", so selecting it would block everything. Groups by
# domain class:
#
#   d%3==0  MegaBot(Disallow /m) + mega(Disallow /g) + a SECOND
#           MegaBot group(Disallow /q) + *(Disallow /s)
#           → "megabot" is the longest matching value; BOTH MegaBot
#             groups merge (RFC merge rule) → blocked: /m, /q
#   d%3==1  mega(Disallow /g) + *(Disallow /s)
#           → "mega" matches → blocked: /g
#   d%3==2  *(Disallow /s) only → fallback → blocked: /s
#
# so allowed == (d%3==0 → m ∉ {0,3}; d%3==1 → m ≠ 1; d%3==2 → m ≠ 2).

UA_CRAWLER_TOKEN = "MegaBot-News"

_UA_PATHS = ("/m/1", "/g/1", "/s/1", "/q/1")


def synthesize_ua_url_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url) under the UA group-selection fixture law above."""
    m = F.col(id_col) % 4
    path = F.element_at(F.array(*[F.lit(p) for p in _UA_PATHS]), (m + 1).cast("int"))
    url = F.concat(
        F.lit("https://ua"), (F.col(id_col) % 6).cast("string"), F.lit(".com"), path
    )
    return docs.select(F.col(id_col), url.alias("url"))


def synthesize_ua_robots_table(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(domain, robots_txt) under the UA group-selection law above."""
    doms = urls.select(
        extract_domain(normalize_url(url_col)).alias("domain")
    ).distinct()
    d = F.regexp_extract("domain", r"^ua(\d+)\.", 1).cast("int")
    txt = F.concat(
        F.lit("User-agent: MegaBotX\nDisallow: /\n\n"),
        F.when(
            d % 3 == 0,
            F.lit(
                "User-agent: MegaBot\nDisallow: /m\n\n"
                "User-agent: mega\nDisallow: /g\n\n"
                "User-agent: MegaBot\nDisallow: /q\n\n"
            ),
        )
        .when(d % 3 == 1, F.lit("User-agent: mega\nDisallow: /g\n\n"))
        .otherwise(F.lit("")),
        F.lit("User-agent: *\nDisallow: /s\n"),
    )
    return doms.select("domain", txt.alias("robots_txt"))


def synthesize_crawl_delay_robots_table(
    urls: DataFrame, url_col: str = "url"
) -> DataFrame:
    """(domain, robots_txt) for the Crawl-delay fixture law: on the
    standard URL-law domains (d = digit + 5·[tld == co.uk]) the ``*``
    group declares ``Crawl-delay: 2`` when d%3==0, ``Crawl-delay:
    0.5`` when d%3==1, and no directive otherwise; every file also
    carries a decoy ``badbot`` group with ``Crawl-delay: 99`` that
    the default (``*``-group) selection must ignore, plus a
    non-numeric ``Crawl-delay: fast`` noise line the parser must
    drop. With wave_seconds=2 and global rate=3 the per-domain
    allowance is 1 / 4 / 3 respectively."""
    doms = urls.select(
        extract_domain(normalize_url(url_col)).alias("domain")
    ).distinct()
    d = (
        F.regexp_extract("domain", r"^site(\d+)\.", 1).cast("int")
        + F.when(F.col("domain").endswith(".co.uk"), F.lit(5)).otherwise(F.lit(0))
    )
    txt = F.concat(
        F.lit("User-agent: badbot\nCrawl-delay: 99\n\nUser-agent: *\n"),
        F.when(d % 3 == 0, F.lit("Crawl-delay: 2\n"))
        .when(d % 3 == 1, F.lit("Crawl-delay: fast\nCrawl-delay: 0.5\n"))
        .otherwise(F.lit("")),
        F.lit("Disallow: /private\n"),
    )
    return doms.select("domain", txt.alias("robots_txt"))


# ---------------------------------------------------------------------------
# C4 line-level page cleaning (Raffel et al. 2020, "Exploring the
# Limits of Transfer Learning..." §2.2 — the cleaning pass that built
# C4 from Common Crawl; the reference has no corpus operators, this
# extends SURVEY.md §2.6 cleansing scope to crawl pages)
# ---------------------------------------------------------------------------

#: C4 page-level poison strings: a page containing any of these is
#: dropped whole (case-insensitive "lorem ipsum"; a literal '{' marks
#: leaked code/templating).
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_LINES_PER_PAGE = 5
#: terminal punctuation a retained line must end with (C4 keeps quoted
#: sentence ends too).
_C4_TERMINAL_RE = r'[.!?"]$'


def c4_line_stats(text: Column | str) -> tuple[Column, Column, Column]:
    """(clean_text, n_lines_kept, n_lines_dropped) of one page under
    the C4 line rules, as pure array expressions (whole-stage
    codegen): split on newlines, trim, keep lines that (a) end in
    terminal punctuation, (b) carry at least 3 words, and (c) do not
    contain the word "javascript" (case-insensitive) — the classic
    cookie-banner/enable-JS chaff rule. Kept lines are rejoined with
    newlines."""
    t = F.col(text) if isinstance(text, str) else text
    # explicit single-arg lambda: passing F.trim directly would bind
    # transform's (element, index) pair to trim's deprecated
    # two-parameter (str, trimStr) signature and trim DIGITS.
    lines = F.transform(F.split(t, r"\n"), lambda ln: F.trim(ln))
    kept = F.filter(
        lines,
        lambda ln: ln.rlike(_C4_TERMINAL_RE)
        & (F.size(F.split(ln, r"\s+")) >= C4_MIN_WORDS_PER_LINE)
        & ~F.lower(ln).contains("javascript"),
    )
    return (
        F.array_join(kept, "\n"),
        F.size(kept),
        F.size(lines) - F.size(kept),
    )


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """C4 page cleaning: line filter (:func:`c4_line_stats`) plus the
    page-level gates — a page survives only if it kept at least 5
    lines AND contains neither "lorem ipsum" (any case) nor a literal
    '{' anywhere in its RAW text. Returns
    ``(id, *carry, clean_text, n_lines_kept, n_lines_dropped,
    page_kept)`` for every input page (filter on ``page_kept`` for
    the corpus view; keeping dropped pages visible is what a curation
    datasheet wants; ``carry`` passes provenance columns through a
    composed pipeline without a join-back). Pure narrow map — zero
    exchanges, embarrassingly parallel at any corpus size."""
    clean, n_kept, n_dropped = c4_line_stats(text_col)
    raw_lower = F.lower(F.col(text_col))
    page_kept = (
        (n_kept >= C4_MIN_LINES_PER_PAGE)
        & ~raw_lower.contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        clean.alias("clean_text"),
        n_kept.cast("bigint").alias("n_lines_kept"),
        n_dropped.cast("bigint").alias("n_lines_dropped"),
        page_kept.alias("page_kept"),
    )


# Fixture generation law (web_c4_clean's oracle replays it): each page
# is 7 template lines keyed on m = doc_id % 4 and c = doc_id % 5;
# per-line keep decisions are knowable by eye:
#
#   line                                    kept?
#   'Sentence c<c> is long enough.'         yes (period, 5 words)
#   'Too short.'                            no  (2 words)
#   'no terminal punctuation here'          no
#   'Please enable JavaScript to view.'     no  (javascript)
#   'Another good line number <c> stands!'  yes
#   'menu home about contact'               no  (no terminal punct)
#   m==0: 'A third fine sentence exists.'   yes → 3 kept
#   m==1: 'Filler without ending'           no  → 2 kept
#   m==2: 'Lorem Ipsum dolor sit amet.'     poison → page dropped
#   m==3: 'code { display: none; }'         poison '{' (also no punct
#                                           ... wait: ends '}' → not
#                                           terminal, line dropped AND
#                                           page poisoned)
#
# With C4_MIN_LINES_PER_PAGE=5 every page fails the >=5 gate unless
# j = doc_id % 3 == 0, which appends three extra good lines
# 'Extra sentence <k> fills the page.' (k=0..2) — so page_kept is
# m NOT IN (2,3) AND j == 0 AND kept-count >= 5.


def synthesize_c4_page_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, page) under the C4 fixture law above."""
    c = (F.col(id_col) % 5).cast("string")
    m = F.col(id_col) % 4
    j = F.col(id_col) % 3
    base = F.array(
        F.concat(F.lit("Sentence c"), c, F.lit(" is long enough.")),
        F.lit("Too short."),
        F.lit("no terminal punctuation here"),
        F.lit("Please enable JavaScript to view."),
        F.concat(F.lit("Another good line number "), c, F.lit(" stands!")),
        F.lit("menu home about contact"),
        F.when(m == 0, F.lit("A third fine sentence exists."))
        .when(m == 1, F.lit("Filler without ending"))
        .when(m == 2, F.lit("Lorem Ipsum dolor sit amet."))
        .otherwise(F.lit("code { display: none; }")),
    )
    extra = F.when(
        j == 0,
        F.array(
            *[F.lit(f"Extra sentence {k} fills the page.") for k in range(3)]
        ),
    ).otherwise(F.array().cast("array<string>"))
    page = F.array_join(F.concat(base, extra), "\n")
    return docs.select(F.col(id_col), page.alias("page"))


# ---------------------------------------------------------------------------
# Outlink extraction (the crawl's graph feed: page -> href targets,
# resolved against the page URL; composes with ext/graph.py PageRank
# and the frontier ops)
# ---------------------------------------------------------------------------


def extract_hrefs(html: Column | str) -> Column:
    """array<string> of raw href attribute values from anchor tags, in
    document order — script/style/noscript blocks and comments removed
    first (a commented-out link is not an outlink). Single- or
    double-quoted attributes, any attribute order inside the tag.
    Pure regexp_extract_all (JVM-side)."""
    h = F.col(html) if isinstance(html, str) else html
    h = F.regexp_replace(h, r"(?is)<(script|style|noscript)\b[^>]*>.*?</\1\s*>", " ")
    h = F.regexp_replace(h, r"(?s)<!--.*?-->", " ")
    return F.regexp_extract_all(
        h, F.lit(r"""(?i)<a\s[^>]*?href\s*=\s*["']([^"']*)["']"""), 1
    )


def resolve_href(base_url: Column | str, href: Column) -> Column:
    """Resolve one href against the page's (normalized) base URL —
    the RFC 3986 subset that covers real pages, as expressions:

    - absolute (``scheme://…``) → unchanged;
    - protocol-relative (``//host/p``) → base scheme + href;
    - root-relative (``/p``) → base origin + href;
    - fragment-only (``#x``) → NULL (same-document, not an outlink);
    - non-http(s) schemes (``mailto:``, ``javascript:``, ``tel:``,
      ``data:``) → NULL;
    - everything else (relative path ``p/q``, ``?q=1``) → resolved
      against the base's DIRECTORY (path up to the last '/'), query
      replaced per the RFC.

    ``..`` segments are kept literally (documented: dot-segment
    normalization needs a fixpoint loop; crawl frontiers treat the
    normalized string as the key either way)."""
    b = F.col(base_url) if isinstance(base_url, str) else base_url
    scheme = F.regexp_extract(b, r"^([a-z][a-z0-9+.-]*)://", 1)
    origin = F.regexp_extract(b, r"^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)
    # base directory: origin + path up to and including the last '/'
    path = F.regexp_extract(b, r"^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)
    dir_ = F.regexp_replace(F.when(path == "", F.lit("/")).otherwise(path), r"[^/]*$", "")
    return (
        F.when(href == "", F.lit(None).cast("string"))  # <a href=""> is a
        # same-document reference (RFC 3986 §5.3 resolves it to the base
        # itself) — not an outlink, like the fragment-only case below
        .when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"),
              F.when(href.rlike(r"^(?i)https?:"), href))  # other schemes -> null
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when(href.startswith("#"), F.lit(None).cast("string"))
        .when(href.startswith("?"), F.concat(origin, path, href))
        .otherwise(F.concat(origin, dir_, href))
    )


def outlinks(
    df: DataFrame, url_col: str = "url", html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(id, src_url, dst_url): one row per resolvable outlink, both
    endpoints NORMALIZED — the edge list a link graph (PageRank, hub
    detection, frontier expansion) consumes directly. Narrow map +
    posexplode; duplicate (src, dst) pairs are KEPT (multiplicity is
    signal for weighted graphs — dedup downstream when unwanted).
    Fragment-only and non-http(s) hrefs resolve to NULL and are
    dropped here."""
    from spk_sl_validation_spark.operators.relational import evaluate_once

    src = normalize_url(url_col)
    exploded = df.select(
        F.col(id_col),
        src.alias("src_url"),
        F.explode(extract_hrefs(html_col)).alias("__href"),
    )
    # Generator barriers (r11): CollapseProject otherwise inlines
    # src_url = normalize_url(url) into resolve_href, and that whole
    # composition again into the dst normalize_url — one projection
    # whose generated method exceeds the JVM 64 KB codegen limit
    # (janino fails; interpreted at 4-10x the wall, and a hard red
    # under the selfcheck's codegen.fallback=false). Each barrier
    # pins one layer: src normalization, href resolution, dst
    # normalization. Zero exchanges, row counts unchanged.
    exploded = evaluate_once(exploded, "src_url")
    resolved = exploded.withColumn("__dst_raw", resolve_href("src_url", F.col("__href")))
    resolved = evaluate_once(resolved, "__dst_raw")
    return (
        resolved.withColumn("dst_url", normalize_url(F.col("__dst_raw")))
        .filter(F.col("dst_url").isNotNull())
        .drop("__href", "__dst_raw")
    )


# Outlink fixture law (web_outlinks' oracle replays it): page URL
# https://site<k>.com/a/b/page<c> (k = doc_id % 3, c = doc_id % 5);
# the page carries one anchor per resolution branch plus three decoys
# (script-embedded, commented-out, attribute-order variant), so each
# page yields EXACTLY five outlinks in closed form:
#
#   href                      dst_url
#   https://ext.org/x         https://ext.org/x          (absolute)
#   //cdn.site<k>.com/lib     https://cdn.site<k>.com/lib (protocol-rel)
#   /top                      https://site<k>.com/top     (root-rel)
#   next<c>.html              .../a/b/next<c>.html        (relative)
#   ?p=2                      .../a/b/page<c>?p=2         (query-only)
#   #sec                      (dropped: fragment-only)
#   mailto:a@b.example        (dropped: non-http scheme)


def synthesize_outlink_page_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url, html) under the outlink fixture law above."""
    k = (F.col(id_col) % 3).cast("string")
    c = (F.col(id_col) % 5).cast("string")
    url = F.concat(F.lit("https://site"), k, F.lit(".com/a/b/page"), c)
    html = F.concat(
        F.lit("<html><body>"
              "<script>var a = '<a href=\"/script-link\">x</a>';</script>"
              "<!-- <a href=\"/commented\">y</a> -->"
              '<a href="https://ext.org/x">e</a>'),
        F.lit("<a class='z' href='//cdn.site"), k, F.lit(".com/lib'>cdn</a>"),
        F.lit('<a href="/top">t</a>'),
        F.lit('<a href="next'), c, F.lit('.html">n</a>'),
        F.lit('<a href="?p=2">q</a>'),
        F.lit('<a href="#sec">s</a>'),
        F.lit('<a href="mailto:a@b.example">m</a>'),
        F.lit("</body></html>"),
    )
    return docs.select(F.col(id_col), url.alias("url"), html.alias("html"))


# ---------------------------------------------------------------------------
# Main-content extraction (jusText/boilerpipe-class block scoring —
# html_to_text keeps nav chrome; this drops it. RefinedWeb/FineWeb use
# trafilatura for exactly this step)
# ---------------------------------------------------------------------------

#: Block-level boundary tags (opening OR closing splits the page).
_BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|section|article|h[1-6]|li|ul|ol|table|tr|td|nav|"
    r"footer|header|aside|main|body|html|br)\b[^>]*>"
)
MAIN_MIN_CHARS = 40
MAIN_MAX_LINK_DENSITY = 0.35


def main_content(html: Column | str) -> tuple[Column, Column, Column]:
    """(main_text, n_blocks_kept, n_blocks_dropped): segment the page
    into text blocks at block-level tag boundaries, score each block
    by LENGTH (≥ 40 visible chars) and LINK DENSITY (anchor-text chars
    / visible chars ≤ 0.35 — nav bars and footers are link-dense,
    article prose is not), keep the passing blocks in document order.

    Entirely JVM array expressions: script/style/comment removal, one
    split on the block-tag regex, then per-block regexp stats over the
    page-sized array (HOF cost is block-count sized). Same class of
    heuristic as jusText/boilerpipe — a deliberately dependency-free
    stand-in for trafilatura with the same plan shape."""
    h = F.col(html) if isinstance(html, str) else html
    h = F.regexp_replace(h, r"(?is)<(script|style|noscript)\b[^>]*>.*?</\1\s*>", " ")
    h = F.regexp_replace(h, r"(?s)<!--.*?-->", " ")
    blocks = F.split(h, _BLOCK_TAG_RE)

    def visible(b: Column) -> Column:
        return F.trim(
            F.regexp_replace(F.regexp_replace(b, r"<[^>]*>", " "), r"\s+", " ")
        )

    def anchor_chars(b: Column) -> Column:
        return F.aggregate(
            F.regexp_extract_all(
                b, F.lit(r"(?is)<a\b[^>]*>(.*?)</a\s*>"), 1
            ),
            F.lit(0),
            lambda acc, a: acc + F.length(visible(a)),
        )

    scored = F.transform(
        blocks,
        lambda b: F.struct(
            visible(b).alias("txt"), anchor_chars(b).alias("ac")
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["txt"]) >= MAIN_MIN_CHARS)
        & (s["ac"] <= MAIN_MAX_LINK_DENSITY * F.length(s["txt"])),
    )
    n_candidates = F.size(F.filter(scored, lambda s: F.length(s["txt"]) > 0))
    main_text = F.array_join(
        F.transform(kept, lambda s: s["txt"]), "\n"
    )
    return main_text, F.size(kept), n_candidates - F.size(kept)


def main_content_extract(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(id, main_text, n_blocks_kept, n_blocks_dropped) — pure narrow
    map, zero exchanges."""
    text, n_kept, n_dropped = main_content(html_col)
    return df.select(
        F.col(id_col),
        text.alias("main_text"),
        n_kept.cast("bigint").alias("n_blocks_kept"),
        n_dropped.cast("bigint").alias("n_blocks_dropped"),
    )


# Fixture generation law (web_main_content's oracle replays it): each
# page is nav + header + two content paragraphs + link-dense related
# box + footer; k = doc_id % 3 and c = doc_id % 5 vary the link/text
# labels. Expected kept blocks (in order):
#   P1: 'Article c<c> paragraph one …' (64 chars of prose, no links)
#   P2: prose with ONE inline link whose anchor text is short
#       relative to the block (density ~0.1) — kept
# Dropped: nav (3 links, no prose), header title (short), related box
# (anchor text dominates), footer (short + link).


def synthesize_main_content_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, html) under the main-content law above."""
    c = (F.col(id_col) % 5).cast("string")
    k = (F.col(id_col) % 3).cast("string")
    p1 = F.concat(
        F.lit("Article c"), c,
        F.lit(" paragraph one carries enough prose to pass the length gate easily."),
    )
    p2_text = F.concat(
        F.lit("Paragraph two of article c"), c,
        F.lit(" also has plenty of running text around "),
    )
    html = F.concat(
        F.lit('<html><body><nav><a href="/">Home</a> <a href="/a">News'), k,
        F.lit('</a> <a href="/b">More</a></nav>'),
        F.lit("<h1>Title"), c, F.lit("</h1>"),
        F.lit("<p>"), p1, F.lit("</p>"),
        F.lit("<p>"), p2_text,
        F.lit('<a href="/ref">a link</a> in the middle of it.</p>'),
        F.lit('<div class="related"><a href="/r1">Related story one about topics</a> '),
        F.lit('<a href="/r2">Related story two about things</a> and then some</div>'),
        F.lit('<footer><a href="/about">About</a> (c) 2024</footer>'),
        F.lit("</body></html>"),
    )
    return docs.select(F.col(id_col), html.alias("html"))


# ---------------------------------------------------------------------------
# URL features + URL-level quality gate (FineWeb-style: the cheapest
# quality signals of all — computed before a single page byte is
# fetched, so they prune the frontier, not the corpus)
# ---------------------------------------------------------------------------


def url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append the URL-level quality features to a crawl manifest
    (pure narrow map over the NORMALIZED url):

    - ``path_depth``: '/' segments ('/a/b' → 2, '/' → 0);
    - ``n_params``: query parameters;
    - ``digit_ratio``: digit chars / path length (session-id and
      pagination URLs are digit-heavy);
    - ``url_len``: full normalized length (spam URLs run long);
    - ``is_index``: root path.
    """
    nu = normalize_url(url_col)
    path = F.regexp_extract(nu, r"^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    query = F.coalesce(F.parse_url(nu, F.lit("QUERY")), F.lit(""))
    depth = F.when(path == "/", F.lit(0)).otherwise(
        F.size(F.split(path, "/")) - 1
    )
    digits = F.length(F.regexp_replace(path, r"[^0-9]", ""))
    return (
        df.withColumn("norm_url", nu)
        .withColumn("path_depth", depth.cast("int"))
        .withColumn(
            "n_params",
            F.when(query == "", F.lit(0))
            .otherwise(F.size(F.split(query, "&")))
            .cast("int"),
        )
        .withColumn(
            "digit_ratio",
            (digits / F.greatest(F.length(path), F.lit(1))).cast("double"),
        )
        .withColumn("url_len", F.length(nu).cast("int"))
        .withColumn("is_index", path == "/")
    )


def url_word_blocklist(
    df: DataFrame, words: list[str], url_col: str = "url"
) -> DataFrame:
    """Drop manifest rows whose NORMALIZED url contains any blocked
    word (FineWeb's URL-level filter; case-insensitive substring —
    the published lists are substrings, not tokens). The word list is
    compiled into ONE alternation regex literal, so the filter is a
    single codegen'd rlike per row — fine into the tens of thousands
    of words; beyond that, switch to the blocklist anti-join shape
    (:func:`blocklist_filter`) on extracted tokens. NULL urls are
    KEPT (module totality convention: invalid input degrades, it
    never silently vanishes — ``~NULL.rlike`` is NULL and a bare
    filter would drop the row)."""
    import re as _re

    if not words:
        return df
    pat = "(?i)(" + "|".join(_re.escape(w) for w in words) + ")"
    scan = F.coalesce(normalize_url(url_col), F.lower(F.col(url_col)))
    return df.filter(F.coalesce(~scan.rlike(pat), F.lit(True)))


# ---------------------------------------------------------------------------
# Sitemap parsing (the OTHER frontier seed besides outlinks; plain
# urlset files and sitemapindex files both occur)
# ---------------------------------------------------------------------------


def sitemap_locs(xml: Column | str) -> tuple[Column, Column]:
    """(locs array<string>, is_index) from a sitemap XML payload:
    ``<loc>`` values in document order, entity-decoded one level
    (sitemap spec requires XML-escaped URLs — ``&amp;`` is the one
    that occurs in practice); ``is_index`` when the root element is
    ``<sitemapindex>`` (its locs are child SITEMAPS to fetch, not
    page URLs). Pure regexp extraction — the sitemap grammar is flat
    enough that a DOM adds nothing."""
    x = F.col(xml) if isinstance(xml, str) else xml
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    locs = F.transform(
        F.regexp_extract_all(x, F.lit(r"(?is)<loc\s*>\s*(.*?)\s*</loc\s*>"), 1),
        lambda v: F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(v, "&lt;", "<"), "&gt;", ">"
            ),
            "&amp;",
            "&",
        ),
    )
    is_index = x.rlike(r"(?is)<\s*sitemapindex[\s>]")
    return locs, is_index


def sitemap_entries(
    df: DataFrame, xml_col: str = "sitemap_xml", id_col: str = "doc_id"
) -> DataFrame:
    """(id, loc_idx, loc, is_index): one row per ``<loc>``, normalized
    — directly unionable into the crawl frontier. Narrow map +
    posexplode, zero joins."""
    locs, is_index = sitemap_locs(xml_col)
    return df.select(
        F.col(id_col), is_index.alias("is_index"), F.posexplode(locs).alias("loc_idx", "__raw")
    ).select(
        id_col, "loc_idx", normalize_url(F.col("__raw")).alias("loc"), "is_index"
    )


# Fixture law (web_sitemap_entries replays it): m = doc_id % 2 picks
# urlset (page locs) vs sitemapindex (child sitemap locs); each file
# carries r = 1 + doc_id % 3 locs; loc i of doc d is
#   urlset:        https://site<d%3>.com/s/<i>?a=1&b=2   (written with &amp;)
#   sitemapindex:  https://site<d%3>.com/sitemap<i>.xml


def synthesize_sitemap_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sitemap_xml) under the law above."""
    d3 = (F.col(id_col) % 3).cast("string")
    r = (F.col(id_col) % 3 + 1).cast("int")
    is_idx = F.col(id_col) % 2 == 1
    loc = lambda i: F.when(  # noqa: E731
        is_idx,
        F.concat(F.lit("https://site"), d3, F.lit(".com/sitemap"), i.cast("string"), F.lit(".xml")),
    ).otherwise(
        F.concat(F.lit("https://site"), d3, F.lit(".com/s/"), i.cast("string"), F.lit("?a=1&amp;b=2")),
    )
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), r - 1),
            lambda i: F.concat(
                F.when(is_idx, F.lit("<sitemap><loc> ")).otherwise(F.lit("<url><loc> ")),
                loc(i),
                F.when(is_idx, F.lit(" </loc></sitemap>")).otherwise(F.lit(" </loc></url>")),
            ),
        ),
        "",
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><!-- <loc>https://decoy.com/</loc> -->'),
        F.when(is_idx, F.lit("<sitemapindex>")).otherwise(F.lit("<urlset>")),
        body,
        F.when(is_idx, F.lit("</sitemapindex>")).otherwise(F.lit("</urlset>")),
    )
    return docs.select(F.col(id_col), xml.alias("sitemap_xml"))


# ---------------------------------------------------------------------------
# Crawl politeness scheduling (frontier -> fetch waves: at most
# `rate` URLs per registrable domain per wave)
# ---------------------------------------------------------------------------


def politeness_schedule(
    df: DataFrame,
    rate: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    n_salts: int = 64,
    delays: DataFrame | None = None,
    wave_seconds: float = 1.0,
) -> DataFrame:
    """Assign each manifest row a fetch ``wave`` such that no
    registrable domain receives more than its per-wave allowance —
    the frontier-side politeness contract.

    ``delays`` (a ``(domain, crawl_delay)`` frame, e.g. from
    :func:`parse_crawl_delay`) overrides the global ``rate`` per
    domain: with a wave lasting ``wave_seconds``, a domain declaring
    ``Crawl-delay: d`` gets ``max(1, floor(wave_seconds / d))`` URLs
    per wave (at least one — a delay longer than the wave stretches
    to one fetch per wave, never zero forever); domains without a
    directive keep ``rate``. The override rides the same
    manifest-sized left join shape as the robots filter — the URL
    frame is never re-keyed, and a hot domain concentrates on a JOIN
    key (AQE-splittable), never a window.

    Scale shape: this op needs a per-domain ENUMERATION, not a top-k,
    so Catalyst's WindowGroupLimit cannot bound a mega-domain and a
    plain per-domain window would pin 10^8 rows of one host to a
    single task. The enumeration is therefore salt-blocked BY DESIGN:
    ``salt = pmod(id, n_salts)`` splits each domain into ``n_salts``
    window partitions, each row gets the unique per-domain slot
    ``(rank_within_salt - 1) * n_salts + salt``, and
    ``wave = slot / rate``. Slots are injective per domain, so the
    ≤ rate guarantee holds exactly; slot GAPS (uneven salt blocks)
    only ever delay a fetch, never accelerate one — the safe
    direction for politeness. Raise ``n_salts`` for crawls where one
    domain dominates. Deterministic (salt is id-derived, not a hash
    seed) and therefore oracle-replayable."""
    dom = _with_domain(df, url_col, False)
    if delays is None:
        rate_col = F.lit(rate)
    else:
        d = delays.select(
            F.col("domain").alias("__dom"), F.col("crawl_delay").alias("__delay")
        )
        dom = dom.join(d.hint("shuffle_hash"), "__dom", "left")
        rate_col = F.when(
            F.col("__delay").isNotNull(),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(F.lit(float(wave_seconds)) / F.col("__delay")),
            ),
        ).otherwise(F.lit(rate).cast("bigint"))
    salt = F.pmod(F.col(id_col), F.lit(n_salts))
    w = Window.partitionBy("__dom", "__salt").orderBy(id_col)
    return (
        dom.withColumn("__salt", salt)
        .withColumn(
            "wave",
            (
                ((F.row_number().over(w) - 1) * n_salts + F.col("__salt"))
                / rate_col
            ).cast("bigint"),
        )
        .withColumnRenamed("__dom", "domain")
        .drop("__salt", "__delay")
    )


# ---------------------------------------------------------------------------
# Domain reputation (FineWeb-style domain-level quality gating: a
# domain whose pages are consistently junk drops whole, including its
# occasional fluke page)
# ---------------------------------------------------------------------------


def frontier_expand(
    discovered: DataFrame,
    frontier: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    norm_url_col: str = "norm_url",
) -> DataFrame:
    """The crawl's next-wave delta: collapse discovered URLs
    (outlinks, sitemap entries, recrawled links — any union of
    ``(id, url)`` discovery events) to ``(norm_url, first_doc_id,
    n_discoveries)`` for URLs NOT already in the frontier.

    Shape: normalize (idempotent — pre-normalized outlink/sitemap
    feeds pay one no-op regexp pass, unparseable URLs key on their
    raw string per the module convention), ONE anti join against the
    frontier on the normalized key (shuffle_hash — a crawl frontier
    is corpus-sized, never broadcastable), then a groupBy on the
    skinny key. The discovery event frame never carries page text;
    a hot URL (everyone links to it) concentrates on a join/agg key —
    both AQE-splittable, never a window."""
    keyed = discovered.select(
        F.col(id_col),
        F.coalesce(normalize_url(url_col), F.col(url_col)).alias("__nu"),
    )
    novel = keyed.join(
        frontier.select(F.col(norm_url_col).alias("__nu")).hint("shuffle_hash"),
        "__nu",
        "left_anti",
    )
    return (
        novel.groupBy("__nu")
        .agg(
            F.min(id_col).cast("bigint").alias("first_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_discoveries"),
        )
        .withColumnRenamed("__nu", "norm_url")
    )


def domain_reputation(df: DataFrame, score_col: str, url_col: str = "url") -> DataFrame:
    """(domain, n_docs, avg_score): per-registrable-domain aggregate
    of any per-document quality score. Manifest-sized groupBy — the
    corpus never shuffles, only (domain, score) pairs."""
    dom = _with_domain(df, url_col, False)
    return dom.groupBy(F.col("__dom").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(score_col).alias("avg_score"),
    )


#: Domains with fewer pages than this are kept by
#: :func:`domain_reputation_filter` whatever their average score.
REPUTATION_MIN_DOCS = 3


def domain_reputation_filter(
    df: DataFrame,
    min_avg: float,
    score_col: str,
    url_col: str = "url",
) -> DataFrame:
    """Keep documents whose registrable domain has ``avg_score >=
    min_avg`` over at least ``REPUTATION_MIN_DOCS`` pages (small-sample domains
    below the floor are KEPT — no evidence is not negative evidence).
    Reputation is a domain-count-sized relation riding a semi join;
    the document frame shuffles once, on the domain key."""
    rep = domain_reputation(df, score_col, url_col)
    passing = rep.filter(
        (F.col("avg_score") >= min_avg) | (F.col("n_docs") < REPUTATION_MIN_DOCS)
    ).select("domain")
    dom = _with_domain(df, url_col, False)
    return (
        dom.join(
            passing.withColumnRenamed("domain", "__dom").hint("shuffle_hash"),
            "__dom",
            "left_semi",
        ).drop("__dom")
    )


# ---------------------------------------------------------------------------
# Intra-document paragraph dedup (C4 does this at line level for
# three-sentence spans; repeated nav/footer text inside ONE page is
# the common case cross-doc dedup never sees)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Drop repeated paragraphs WITHIN each document, keeping first
    occurrences in order. Pure array expression: a paragraph survives
    iff its first index equals its own (``array_position`` is
    1-based). Quadratic in the per-document paragraph count — pages
    have tens of paragraphs, so the constant is small and the map
    stays narrow; zero exchanges. Returns
    ``(id, *carry, clean_text, n_paras_kept, n_paras_dropped)`` —
    ``carry`` passes provenance columns (URIs, batch ids) through a
    composed pipeline without a join-back."""
    sep = "\n"
    paras = F.split(F.col(text_col), sep)
    kept = F.filter(
        paras, lambda p, i: F.array_position(paras, p) == i + F.lit(1)
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.array_join(kept, sep).alias("clean_text"),
        F.size(kept).cast("bigint").alias("n_paras_kept"),
        (F.size(paras) - F.size(kept)).cast("bigint").alias("n_paras_dropped"),
    )
