"""Web-corpus curation queries (URL layer of a crawl pipeline).

Fixture URLs are synthesized under the generation law in
``ext/webcure.py`` (semantic components a function of doc_id % 60,
normalization noise — www/case/default ports/trailing slash/tracking
params/fragments — keyed off doc_id // 60), so each oracle recomputes
the expected NORMALIZED output in closed form from ``doc_id % 60``
alone, byte-blind to the raw strings Spark actually parses. The
normalizer is therefore hash-checked against the law, never against
itself.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import psl as PSL
from spk_sl_validation_spark.ext import webcure as W
from spk_sl_validation_spark.operators.relational import evaluate_once
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.session import app_memo
from spk_sl_validation_spark.sources.readers import load_table, load_table_spread

DOMAIN_CAP_K = 3
BLOCKED_DOMAINS = ("site0.com", "site3.co.uk")

# Shared oracle prelude: the normalized-URL law in SQL, on m = doc_id % 60
# (single source of truth lives beside the fixture writer in ext/webcure).
_ORACLE_LAW = W.NORM_URL_ORACLE_LAW



def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return W.synthesize_url_table(docs)


# The 2-row blocklist relation, one per application: createDataFrame
# costs ~0.1 s of py4j/driver latency per call. F.broadcast because a
# Python-built local relation scans as ExistingRDD with UNKNOWN size
# stats — without the hint the planner assumes it is huge and
# sort-merges; the call site knows it is 2 rows.
_BLOCKED_CACHE: dict[tuple[str], DataFrame] = {}


def _blocked_df(spark: SparkSession) -> DataFrame:
    return app_memo(
        _BLOCKED_CACHE,
        (spark.sparkContext.applicationId,),
        lambda: F.broadcast(
            spark.createDataFrame([(d,) for d in BLOCKED_DOMAINS], "domain string")
        ),
    )


# Session-scoped fixture manifests for the COMPOSED pipeline: the
# synthesized URL/robots expression trees are each fine alone, but
# fused into one stage with the robots line-explode + hashAgg they
# push the generated hashAgg method past the JVM's 64 KB limit —
# janino spends seconds compiling, FAILS (`Code grows beyond 64 KB`),
# and Spark silently falls back to interpreted mode. Measured at
# sf0.1 (interleaved; BENCH_HISTORY.md, Round 10, "web_curation_pipeline:
# manifest materialization"): lazy-checkpoint
# 13.6 s, eager 10.0 s, no-checkpoint 15.5 s, parquet-manifest 4.5 s
# total (2.5 s one-time write + 2.0 s exec). Materializing once per
# (session, sf, key) and planning over scans is also the production
# shape — a crawler reads manifests, it doesn't synthesize them.
_FIXTURE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _materialized(
    spark: SparkSession, sf_dir: str, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    import tempfile

    def write_and_scan() -> DataFrame:
        path = tempfile.mkdtemp(prefix=f"webcure_fixture_{key}_")
        build().write.mode("overwrite").parquet(path)
        # cache the scan DataFrame, not just the path: re-running
        # spark.read.parquet per build re-lists the directory and
        # re-infers the footer schema through ~40 py4j round trips
        # (~0.1 s of pure driver latency per read on this host). The
        # DataFrame is an immutable logical plan over a write-once
        # manifest — nothing data-dependent is memoized.
        return spark.read.parquet(path)

    return app_memo(
        _FIXTURE_CACHE, (spark.sparkContext.applicationId, sf_dir, key), write_and_scan
    )


@register(
    "web_url_normalize",
    doc=(
        "URL canonicalization, fully JVM-side (parse_url + regexp, no UDF): "
        "lowercase scheme/host, strip leading www., drop default ports, "
        "strip utm_*/fbclid/gclid/msclkid params preserving survivor order, "
        "drop fragments, strip non-root trailing slash; plus registrable-"
        "domain extraction with the co.uk-style public-suffix rule. Fixture "
        "URLs carry all six noise axes; the oracle recomputes the canonical "
        "form from the generation law in closed form"
    ),
    oracle=_ORACLE_LAW + "SELECT doc_id, norm_url, domain FROM n",
)
def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _urls(spark, sf_dir)
    nu = W.normalize_url("url")
    return urls.select(
        "doc_id", nu.alias("norm_url"), W.extract_domain(nu).alias("domain")
    )


@register(
    "web_url_dedup",
    headline=True,
    doc=(
        "URL-level exact dedup (the crawl pre-pass before any content "
        "dedup): one winner per NORMALIZED url, lowest doc_id — raw "
        "variants differing only in case/www/ports/tracking/fragments "
        "collapse. groupBy-min on the short normalized key + semi join; "
        "the document frame never shuffles on the URL"
    ),
    oracle=_ORACLE_LAW
    + """
SELECT doc_id, norm_url FROM n
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY norm_url)
""",
)
def web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: the shared urls manifest (see web_robots_txt_filter) — the
    # dedup groupBy/semi then plans over a parquet scan instead of
    # re-deriving the synthesis tree in the scan stage each run.
    urls = _materialized(spark, sf_dir, "urls", lambda: _urls(spark, sf_dir))
    kept = W.url_dedup(urls)
    return kept.select("doc_id", W.normalize_url("url").alias("norm_url"))


@register(
    "web_domain_cap",
    doc=(
        f"domain diversity cap: at most {DOMAIN_CAP_K} documents per "
        "registrable domain, lowest doc_id first — a plain rank-limit "
        "window, deliberately: Catalyst's WindowGroupLimit rewrite bounds "
        "a mega-domain's shuffle mass map-side at k rows per input "
        "partition (plan-pinned; probed 1.1x faster than the hand-salted "
        "two-phase alternative at 16M docs, 80% on one domain)"
    ),
    oracle=_ORACLE_LAW
    + f"""
SELECT doc_id, domain FROM n
QUALIFY row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= {DOMAIN_CAP_K}
""",
)
def web_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _urls(spark, sf_dir)
    kept = W.domain_cap(urls, DOMAIN_CAP_K)
    return kept.select(
        "doc_id", W.extract_domain(W.normalize_url("url")).alias("domain")
    )


@register(
    "web_blocklist_filter",
    doc=(
        "domain blocklist: anti join on the registrable domain "
        "(shuffle_hash-hinted — a million-domain blocklist still works; "
        "AQE broadcasts small ones)"
    ),
    oracle=_ORACLE_LAW
    + "SELECT doc_id, domain FROM n WHERE domain NOT IN ("
    + ", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)
    + ")",
)
def web_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _urls(spark, sf_dir)
    kept = W.blocklist_filter(urls, _blocked_df(spark))
    return kept.select(
        "doc_id", W.extract_domain(W.normalize_url("url")).alias("domain")
    )


@register(
    "web_html_to_text",
    doc=(
        "HTML -> text extraction as a JVM-side regexp chain (C4-class, "
        "whole-stage codegen, zero Python): script/style/comment blocks "
        "removed whole (a decoy entity inside the script must vanish with "
        "it), tags to whitespace, named entities decoded, NUMERIC character "
        "references (&#8217; decimal / &#x2014; hex) decoded via "
        "reflect(Character.toString) — Spark chr is mod-256 — invalid "
        "codepoints left literal, &amp; last, whitespace collapsed. Fixture "
        "pages wrap documents.text in a full page; the oracle recomputes "
        "the extracted text (decoded chars written directly) from "
        "documents.text without parsing any HTML"
    ),
    oracle="""
SELECT doc_id,
       'T' || CAST(doc_id AS VARCHAR) || ' T&' || CAST(doc_id AS VARCHAR)
       || chr(8217) || 's' || chr(8212) || CAST(doc_id AS VARCHAR)
       || ' ' || text
       || (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN ' L0'
                           WHEN 2 THEN ' L0 L1' ELSE ' L0 L1 L2' END)
         AS text_out
FROM documents
""",
)
def web_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pages = W.synthesize_html_table(docs)
    return pages.select("doc_id", W.html_to_text("html").alias("text_out"))


@register(
    "web_html_meta",
    doc=(
        "HTML page metadata (title + anchor count) via regexp extraction — "
        "the crawl-frontier fields read before any text extraction runs"
    ),
    oracle="""
SELECT doc_id,
       'T' || CAST(doc_id AS VARCHAR) AS title,
       CAST(doc_id % 4 AS INTEGER) AS n_links
FROM documents
""",
)
def web_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pages = W.synthesize_html_table(docs)
    title, n_links = W.html_meta("html")
    return pages.select("doc_id", title.alias("title"), n_links.alias("n_links"))


@register(
    "web_robots_gate",
    doc=(
        "meta-robots compliance gate: drop pages whose <meta name=robots> "
        "contains noindex (nofollow alone keeps the page — it restricts "
        "link-following, not content use); extractor handles both "
        "attribute orders, which the fixture alternates. Pure narrow filter"
    ),
    oracle="""
SELECT doc_id,
       CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN 'index,follow'
                       WHEN 3 THEN 'nofollow' END AS robots
FROM documents
WHERE doc_id % 5 IN (0, 1, 3)
""",
)
def web_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pages = W.synthesize_html_table(docs)
    kept = W.robots_gate(pages)
    return kept.select("doc_id", W.robots_directive("html").alias("robots"))


@register(
    "web_robots_txt_filter",
    doc=(
        "robots.txt crawl compliance: parse each domain's file (line "
        "explode + running-group window over the KB-sized rules side; "
        "named-bot decoy groups ignored), collapse to one rule-array row "
        "per domain, ONE left join against the URL frame, and a per-row "
        "longest-match fold (tie goes to Allow) — the URL frame is never "
        "aggregated or window-partitioned. Fixture robots files exercise "
        "group selection, Disallow /p, and the longer Allow /p/2 override"
    ),
    oracle="""
WITH u AS (
  SELECT doc_id, doc_id % 60 AS m FROM documents
),
d AS (
  SELECT doc_id,
         (m % 5) + (CASE WHEN m % 4 >= 2 THEN 5 ELSE 0 END) AS di,
         m % 3 AS k
  FROM u
)
SELECT doc_id,
       CASE WHEN k = 0 THEN true
            WHEN k = 1 THEN NOT (di % 2 = 0)
            ELSE NOT (di % 2 = 0 AND di % 3 <> 0) END AS allowed
FROM d
""",
)
def web_robots_txt_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: plan over the SAME materialized manifests as
    # web_curation_pipeline — parsing robots over the raw url
    # expression tree fuses the synthesis into the rules hashAgg and
    # blows the JVM 64 KB codegen limit (the sweep now runs with
    # codegen.fallback=false, so that is a hard red, and with the
    # default fallback it silently ran interpreted at 4-10x the wall).
    urls = _materialized(spark, sf_dir, "urls", lambda: _urls(spark, sf_dir))
    robots = _materialized(
        spark, sf_dir, "robots", lambda: W.synthesize_robots_table(urls)
    )
    out = W.robots_txt_filter(urls, robots, keep_blocked=True)
    return out.select("doc_id", "allowed")


@register(
    "web_curation_pipeline",
    headline=True,
    doc=(
        "the full URL-layer curation pass a crawl runs end-to-end, "
        "composed from the layer's operators in production order: "
        "robots.txt longest-match gate -> domain blocklist anti join -> "
        "URL-level exact dedup (min doc_id per normalized URL among "
        "survivors) -> per-domain diversity cap (WindowGroupLimit top-3). "
        "The oracle replays the same composition of closed-form laws as "
        "layered QUALIFY filters"
    ),
    oracle=_ORACLE_LAW.rstrip()
    + f""",
r AS (
  SELECT n.doc_id, n.norm_url, n.domain,
         (u.m % 5) + (CASE WHEN u.m % 4 >= 2 THEN 5 ELSE 0 END) AS di,
         u.m % 3 AS k
  FROM n JOIN u ON n.doc_id = u.doc_id
),
robots_ok AS (
  SELECT * FROM r
  WHERE CASE WHEN k = 0 THEN true
             WHEN k = 1 THEN NOT (di % 2 = 0)
             ELSE NOT (di % 2 = 0 AND di % 3 <> 0) END
),
unblocked AS (
  SELECT * FROM robots_ok
  WHERE domain NOT IN ({", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)})
),
deduped AS (
  SELECT * FROM unblocked
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY norm_url)
)
SELECT doc_id, norm_url, domain FROM deduped
QUALIFY row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= {DOMAIN_CAP_K}
""",
)
def web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed URL-layer pass over MATERIALIZED fixture manifests.

    The layers plan over parquet scans, not the synthesized expression
    trees: fusing the URL/robots synthesis into the robots hashAgg
    stage pushed the generated method past the JVM's 64 KB codegen
    limit — janino spent ~10 s failing to compile, then Spark ran the
    stage interpreted. With manifests each stage's codegen is small
    and compiles; no checkpoints needed. A/B at sf0.1
    (BENCH_HISTORY.md, Round 10): 13.6 s (r9's lazy-checkpoint
    shape) → 4.5 s total, execution ~2 s unchanged. This is also the
    production shape — a crawl curates manifests it read, it doesn't
    synthesize them inline (SCALE.md §7 holds the 8M-URL probe)."""
    urls = _materialized(spark, sf_dir, "urls", lambda: _urls(spark, sf_dir))
    robots = _materialized(
        # built FROM the urls manifest: synthesizing robots over the
        # raw url expression tree re-creates the >64 KB codegen stage
        spark, sf_dir, "robots", lambda: W.synthesize_robots_table(urls)
    )
    blocked = _blocked_df(spark)
    kept = W.robots_txt_filter(urls, robots)
    kept = W.blocklist_filter(kept, blocked)
    kept = W.url_dedup(kept)
    kept = W.domain_cap(kept, DOMAIN_CAP_K)
    nu = W.normalize_url("url")
    return kept.select("doc_id", nu.alias("norm_url"), W.extract_domain(nu).alias("domain"))


@register(
    "web_domain_psl",
    doc=(
        "registrable-domain extraction via the REAL Public Suffix List "
        "(vendored publicsuffix.org list, ~9.5k rules incl. the private "
        "section): full algorithm — longest rule wins, * wildcards, "
        "! exceptions, host-is-public-suffix fallback — as a cascade of "
        "broadcast joins on exact suffix keys, zero shuffles, no UDF. "
        "Fixture hosts cover the cases the regexp approximation gets "
        "wrong (com.au, *.kawasaki.jp, !www.ck, blogspot.com); the "
        "oracle replays the expected answer per template in closed form"
    ),
    oracle=PSL.PSL_HOST_ORACLE_LAW + "SELECT doc_id, host, domain FROM h",
)
def web_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hosts = PSL.synthesize_psl_host_table(docs)
    return PSL.registrable_domain(hosts, "host", out_col="domain")


@register(
    "web_robots_wildcard_filter",
    doc=(
        "RFC 9309 robots.txt pattern matching: * wildcards and "
        "trailing-$ end anchors in Allow/Disallow paths, compiled "
        "JVM-side to anchored regexes once per rule; most-octets "
        "specificity, Allow wins ties. Same single-join shape as the "
        "prefix filter (rules fold to one bounded array per domain); "
        "the oracle replays the decision table of the 7-template law "
        "in closed form — incl. the tie case and the $-anchor miss"
    ),
    oracle="""
SELECT doc_id,
       'https://site' || CAST(doc_id % 2 AS VARCHAR) || '.com' ||
       CASE CAST(doc_id % 7 AS INTEGER)
         WHEN 0 THEN '/p/1'
         WHEN 1 THEN '/docs/a.pdf'
         WHEN 2 THEN '/docs/a.html'
         WHEN 3 THEN '/files/x.pdf'
         WHEN 4 THEN '/p/sub/deep'
         WHEN 5 THEN '/'
         ELSE '/docs/a.pdf.html'
       END AS url,
       CAST(doc_id % 7 AS INTEGER) NOT IN (3, 4) AS allowed
FROM documents
""",
)
def web_robots_wildcard_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: manifests for the same 64 KB-codegen reason as
    # web_robots_txt_filter (see its builder comment).
    urls = _materialized(
        spark,
        sf_dir,
        "wildcard_urls",
        lambda: W.synthesize_wildcard_url_table(
            load_table(spark, sf_dir, "documents").select("doc_id")
        ),
    )
    robots = _materialized(
        spark, sf_dir, "wildcard_robots",
        lambda: W.synthesize_wildcard_robots_table(urls),
    )
    out = W.robots_txt_filter(urls, robots, keep_blocked=True)
    return out.select("doc_id", "url", "allowed")


@register(
    "web_robots_ua_select",
    doc=(
        "RFC 9309 user-agent GROUP SELECTION: the crawler token picks "
        "the longest case-insensitively-matching user-agent group per "
        "domain (prefix match, so exact is subsumed), groups at that "
        "specificity MERGE (the RFC rule for repeated groups), and the "
        "* group applies only when no named group matches. Fixture "
        "domains carry a decoy group (MegaBotX, not a prefix of the "
        "token — selecting it would block everything), a two-group "
        "merge case, a shorter-named-group case, and a *-fallback "
        "case; the oracle replays the 6x4 decision table in closed form"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS d,
         CAST(doc_id % 4 AS INTEGER) AS m
  FROM documents
)
SELECT doc_id,
       'https://ua' || CAST(d AS VARCHAR) || '.com' ||
       CASE m WHEN 0 THEN '/m/1' WHEN 1 THEN '/g/1'
              WHEN 2 THEN '/s/1' ELSE '/q/1' END AS url,
       CASE d % 3 WHEN 0 THEN m NOT IN (0, 3)
                  WHEN 1 THEN m <> 1
                  ELSE m <> 2 END AS allowed
FROM p
""",
)
def web_robots_ua_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: manifests for the same 64 KB-codegen reason as
    # web_robots_txt_filter (see its builder comment).
    urls = _materialized(
        spark,
        sf_dir,
        "ua_urls",
        lambda: W.synthesize_ua_url_table(
            load_table(spark, sf_dir, "documents").select("doc_id")
        ),
    )
    robots = _materialized(
        spark, sf_dir, "ua_robots", lambda: W.synthesize_ua_robots_table(urls)
    )
    out = W.robots_txt_filter(
        urls, robots, keep_blocked=True, crawler_token=W.UA_CRAWLER_TOKEN
    )
    return out.select("doc_id", "url", "allowed")


@register(
    "web_c4_clean",
    doc=(
        "C4 page cleaning (Raffel et al. 2020 §2.2): line filter — keep "
        "lines ending in terminal punctuation with >=3 words and no "
        "'javascript' — plus the page gates (>=5 kept lines, no 'lorem "
        "ipsum' any case, no '{' in the raw text). Pure narrow array "
        "expressions, zero exchanges; every page stays visible with its "
        "page_kept verdict (datasheet-friendly). The oracle replays the "
        "7-line fixture law's keep decisions in closed form — including "
        "the lorem-ipsum page whose LINES pass but whose PAGE is poisoned"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 4 AS INTEGER) AS m,
         CAST(doc_id % 5 AS VARCHAR) AS c,
         CAST(doc_id % 3 AS INTEGER) AS j
  FROM documents
)
SELECT doc_id,
       'Sentence c' || c || ' is long enough.'
       || chr(10) || 'Another good line number ' || c || ' stands!'
       || (CASE WHEN m = 0 THEN chr(10) || 'A third fine sentence exists.'
                WHEN m = 2 THEN chr(10) || 'Lorem Ipsum dolor sit amet.'
                ELSE '' END)
       || (CASE WHEN j = 0 THEN chr(10) || 'Extra sentence 0 fills the page.'
                  || chr(10) || 'Extra sentence 1 fills the page.'
                  || chr(10) || 'Extra sentence 2 fills the page.'
                ELSE '' END) AS clean_text,
       CAST(2 + (CASE WHEN m IN (0, 2) THEN 1 ELSE 0 END)
              + (CASE WHEN j = 0 THEN 3 ELSE 0 END) AS BIGINT) AS n_lines_kept,
       CAST(7 + (CASE WHEN j = 0 THEN 3 ELSE 0 END)
              - 2 - (CASE WHEN m IN (0, 2) THEN 1 ELSE 0 END)
              - (CASE WHEN j = 0 THEN 3 ELSE 0 END) AS BIGINT) AS n_lines_dropped,
       (j = 0 AND m IN (0, 1)) AS page_kept
FROM p
""",
)
def web_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pages = W.synthesize_c4_page_table(docs)
    return W.c4_clean(pages, "doc_id", "page")


@register(
    "web_outlinks",
    doc=(
        "outlink extraction: hrefs from anchor tags (script/comment "
        "blocks removed first — a commented-out link is not an outlink) "
        "resolved against the page URL per the RFC 3986 subset real "
        "pages use (absolute / protocol-relative / root-relative / "
        "relative / query-only; fragment-only and mailto:/javascript: "
        "dropped), both endpoints normalized — the edge list PageRank "
        "and frontier expansion consume. Narrow map + posexplode, zero "
        "joins; the oracle emits each page's five resolved links from "
        "the fixture law in closed form"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 3 AS VARCHAR) AS k,
         CAST(doc_id % 5 AS VARCHAR) AS c
  FROM documents
)
SELECT doc_id,
       'https://site' || k || '.com/a/b/page' || c AS src_url,
       dst_url
FROM p, unnest([
  'https://ext.org/x',
  'https://cdn.site' || k || '.com/lib',
  'https://site' || k || '.com/top',
  'https://site' || k || '.com/a/b/next' || c || '.html',
  'https://site' || k || '.com/a/b/page' || c || '?p=2'
]) AS t(dst_url)
""",
)
def web_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: manifest — fusing the HTML fixture synthesis into outlinks'
    # href-explode/resolve projection blows the 64 KB codegen limit
    # (hard red under the sweep's codegen.fallback=false; silently
    # interpreted before).
    pages = _materialized(
        spark,
        sf_dir,
        "outlink_pages",
        lambda: W.synthesize_outlink_page_table(
            load_table(spark, sf_dir, "documents").select("doc_id")
        ),
    )
    return W.outlinks(pages)


@register(
    "web_warc_records",
    doc=(
        "REAL stdlib WARC (ISO 28500) record parsing — the container "
        "crawls arrive in: strict version line / header grammar / exact "
        "Content-Length / record-terminator checks, HTTP status+body "
        "split out of response blocks, one row per record via a "
        "zero-exchange Arrow-batched mapInPandas (ok=false rows for "
        "corrupt archives, never a stage kill). The writer varies "
        "framing (WARC/1.0 vs 1.1, noise headers, per-record HTTP "
        "header padding so block length never equals body length); the "
        "oracle replays every field from the generation law"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS k,
         1 + doc_id % 3 AS r
  FROM documents
),
info AS (
  SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS rec_type,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST(NULL AS INTEGER) AS http_status,
         CAST(0 AS BIGINT) AS body_len, '' AS body_text, true AS ok
  FROM p
),
resp AS (
  SELECT p.doc_id, CAST(g.i + 1 AS INTEGER) AS rec_idx,
         'response' AS rec_type,
         'https://site' || p.k || '.com/w/' || CAST(g.i AS VARCHAR)
           AS target_uri,
         CAST(CASE WHEN (p.doc_id + g.i) % 4 = 0 THEN 404 ELSE 200 END
              AS INTEGER) AS http_status,
         CAST(8 * (1 + (p.doc_id + g.i) % 5) AS BIGINT) AS body_len,
         repeat('payload ', CAST(1 + (p.doc_id + g.i) % 5 AS INTEGER))
           AS body_text,
         true AS ok
  FROM p JOIN range(0, 3) g(i) ON g.i < p.r
)
SELECT * FROM info UNION ALL SELECT * FROM resp
""",
)
def web_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext import warc as WC

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return WC.warc_records(WC.synthesize_warc_table(docs))


@register(
    "web_charset_decode",
    doc=(
        "charset detection + decode, the bytes->text step between a "
        "WARC response body and html_to_text, in browser precedence "
        "order: BOM (utf-8/16/32 both endians) -> <meta charset=...> / "
        "http-equiv in the HTML5 1024-byte prescan window -> strict "
        "utf-8 sniff -> windows-1252 fallback. Arrow-batched pure map "
        "(the target charset varies PER ROW — JVM decode() takes a "
        "literal charset, so Python IS the right tool); decode is "
        "total via replacement. The oracle replays text/charset/bom "
        "from the 6-way generation law in closed form"
    ),
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 6 = 3
            THEN '<meta charset="windows-1252">' ELSE '' END
       || CASE WHEN doc_id % 6 = 4
            THEN '<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">'
            ELSE '' END
       || '<p>T' || CAST(doc_id AS VARCHAR) || ' café</p>' AS text,
       CASE CAST(doc_id % 6 AS INTEGER)
         WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8' WHEN 2 THEN 'utf-16-le'
         WHEN 3 THEN 'windows-1252' WHEN 4 THEN 'iso-8859-1'
         ELSE 'windows-1252' END AS charset,
       doc_id % 6 IN (1, 2) AS had_bom
FROM documents
""",
)
def web_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext import warc as WC

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return WC.decode_html_bytes(WC.synthesize_html_bytes_table(docs))


@register(
    "web_main_content",
    doc=(
        "main-content extraction (jusText/boilerpipe-class block "
        "scoring — the step RefinedWeb/FineWeb delegate to trafilatura): "
        "segment the page at block-level tags, keep blocks with >=40 "
        "visible chars and anchor-text link density <=0.35, in document "
        "order. html_to_text keeps nav chrome; this drops it. Pure JVM "
        "array expressions, zero exchanges; the oracle replays the two "
        "surviving paragraphs of the fixture law in closed form (nav, "
        "title, link-dense related box, and footer all drop)"
    ),
    oracle="""
SELECT doc_id,
       'Article c' || CAST(doc_id % 5 AS VARCHAR)
       || ' paragraph one carries enough prose to pass the length gate easily.'
       || chr(10)
       || 'Paragraph two of article c' || CAST(doc_id % 5 AS VARCHAR)
       || ' also has plenty of running text around a link in the middle of it.'
         AS main_text,
       CAST(2 AS BIGINT) AS n_blocks_kept,
       CAST(4 AS BIGINT) AS n_blocks_dropped
FROM documents
""",
)
def web_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pages = W.synthesize_main_content_table(docs)
    return W.main_content_extract(pages)


@register(
    "web_url_features",
    doc=(
        "URL-level quality features (FineWeb-style, the cheapest "
        "signals of all — computed on the manifest before any page "
        "byte is fetched): path depth, query-param count, path digit "
        "ratio, url length, is-index. Pure narrow map on the "
        "normalized url; the oracle recomputes every feature from the "
        "law's normalized form with DuckDB's own string functions — "
        "independent arithmetic, same closed form"
    ),
    oracle=_ORACLE_LAW
    + """
SELECT doc_id, norm_url,
       CAST(CASE WHEN path_part = '/' THEN 0
                 ELSE len(string_split(path_part, '/')) - 1 END AS INTEGER)
         AS path_depth,
       CAST(CASE WHEN query_part = '' THEN 0
                 ELSE len(string_split(query_part, '&')) END AS INTEGER)
         AS n_params,
       CAST(len(regexp_replace(path_part, '[^0-9]', '', 'g'))
            / greatest(len(path_part), 1) AS DOUBLE) AS digit_ratio,
       CAST(len(norm_url) AS INTEGER) AS url_len,
       path_part = '/' AS is_index
FROM (
  SELECT doc_id, norm_url,
         coalesce(regexp_extract(norm_url,
             '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '/') AS path_part,
         coalesce(regexp_extract(norm_url, '\\?(.*)$', 1), '') AS query_part
  FROM n
)
""",
)
def web_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _urls(spark, sf_dir)
    return W.url_features(urls).select(
        "doc_id", "norm_url", "path_depth", "n_params",
        "digit_ratio", "url_len", "is_index",
    )


@register(
    "web_sitemap_entries",
    doc=(
        "sitemap parsing (the frontier seed besides outlinks): <loc> "
        "values in document order via regexp extraction (comments "
        "removed first — a commented-out loc is a decoy), XML entities "
        "decoded one level, entries normalized; sitemapindex files "
        "flagged (their locs are child sitemaps, not pages). Narrow "
        "map + posexplode; the oracle emits every loc from the "
        "generation law in closed form"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS k,
         1 + doc_id % 3 AS r, doc_id % 2 = 1 AS is_index
  FROM documents
)
SELECT p.doc_id, CAST(g.i AS INTEGER) AS loc_idx,
       CASE WHEN p.is_index
            THEN 'https://site' || p.k || '.com/sitemap'
                 || CAST(g.i AS VARCHAR) || '.xml'
            ELSE 'https://site' || p.k || '.com/s/'
                 || CAST(g.i AS VARCHAR) || '?a=1&b=2'
       END AS loc,
       p.is_index
FROM p JOIN range(0, 3) g(i) ON g.i < p.r
""",
)
def web_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return W.sitemap_entries(W.synthesize_sitemap_table(docs))


@register(
    "web_politeness_schedule",
    doc=(
        "crawl politeness scheduling: at most `rate` URLs per "
        "registrable domain per fetch wave. Needs a per-domain "
        "ENUMERATION (not a top-k — WindowGroupLimit cannot help), so "
        "the window is salt-blocked BY DESIGN: pmod(id, S) splits a "
        "mega-domain across S partitions, slot = (rank-1)*S + salt is "
        "injective per domain, wave = slot/rate — the <=rate guarantee "
        "is exact and gaps only ever delay fetches (the safe "
        "direction). Deterministic salt -> fully oracle-replayable"
    ),
    oracle=_ORACLE_LAW
    + """
SELECT doc_id, domain,
       CAST(((ROW_NUMBER() OVER (PARTITION BY domain, doc_id % 4
                                 ORDER BY doc_id) - 1) * 4
             + doc_id % 4) // 3 AS BIGINT) AS wave
FROM n
""",
)
def web_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _urls(spark, sf_dir)
    out = W.politeness_schedule(urls, rate=3, n_salts=4)
    return out.select("doc_id", "domain", "wave")


@register(
    "web_politeness_crawl_delay",
    doc=(
        "politeness x robots composition: the de-facto-standard "
        "Crawl-delay directive parsed per domain from the selected "
        "user-agent group (max of multiple, try_cast totality on "
        "garbage values, decoy named group ignored) overrides the "
        "global per-wave rate as max(1, floor(wave_seconds/delay)) — "
        "a manifest-sized left join feeding the same salt-blocked "
        "enumeration; the oracle replays the per-domain-delay law in "
        "closed form (allowance 1 / 4 / 3 by domain class)"
    ),
    oracle=_ORACLE_LAW.rstrip()
    + """,
r AS (
  SELECT n.doc_id, n.domain,
         (u.m % 5) + (CASE WHEN u.m % 4 >= 2 THEN 5 ELSE 0 END) AS di
  FROM n JOIN u ON n.doc_id = u.doc_id
)
SELECT doc_id, domain,
       CAST(((ROW_NUMBER() OVER (PARTITION BY domain, doc_id % 4
                                 ORDER BY doc_id) - 1) * 4
             + doc_id % 4)
            // (CASE di % 3 WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 3 END)
            AS BIGINT) AS wave
FROM r
""",
)
def web_politeness_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: manifests for the same 64 KB-codegen reason as
    # web_robots_txt_filter (see its builder comment).
    urls = _materialized(spark, sf_dir, "urls", lambda: _urls(spark, sf_dir))
    robots = _materialized(
        spark, sf_dir, "crawl_delay_robots",
        lambda: W.synthesize_crawl_delay_robots_table(urls),
    )
    delays = W.parse_crawl_delay(robots)
    out = W.politeness_schedule(
        urls, rate=3, n_salts=4, delays=delays, wave_seconds=2.0
    )
    return out.select("doc_id", "domain", "wave")


@register(
    "web_ingest_pipeline",
    doc=(
        "the crawl-ingest pass end-to-end, composed from this round's "
        "operators in production order: WARC record parse -> keep "
        "HTTP-200 response records -> main-content extraction on the "
        "page bodies. One zero-exchange Arrow map (WARC) feeding pure "
        "JVM array expressions (extractor) — the whole pipeline is a "
        "narrow map chain, no shuffle anywhere. The oracle composes "
        "the two generation laws in closed form (the 404 rows vanish, "
        "survivors carry the two law paragraphs)"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS k, 1 + doc_id % 3 AS r
  FROM documents
)
SELECT p.doc_id,
       'https://site' || p.k || '.com/w/' || CAST(g.i AS VARCHAR)
         AS target_uri,
       'Article c' || CAST((p.doc_id + g.i) % 5 AS VARCHAR)
       || ' paragraph one carries enough prose to pass the length gate easily.'
       || chr(10)
       || 'Paragraph two of article c' || CAST((p.doc_id + g.i) % 5 AS VARCHAR)
       || ' also has plenty of running text around a link in the middle of it.'
         AS main_text
FROM p JOIN range(0, 3) g(i) ON g.i < p.r
WHERE (p.doc_id + g.i) % 4 <> 0
""",
)
def web_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext import warc as WC

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    recs = WC.warc_records(WC.synthesize_warc_html_table(docs))
    pages = recs.filter(
        F.col("ok") & (F.col("rec_type") == "response") & (F.col("http_status") == 200)
    )
    text, _nk, _nd = W.main_content("body_text")
    return pages.select("doc_id", "target_uri", text.alias("main_text"))


_CORPUS_GOOD_LINE = (
    "'Good article ' || c || ' section {i} talks about the state of things "
    "and is of note here.'"
)
_CORPUS_CLEAN_SQL = " || chr(10) || ".join(
    _CORPUS_GOOD_LINE.format(i=i) for i in range(6)
)


@register(
    "web_corpus_pipeline",
    headline=True,
    doc=(
        "the FULL crawl→corpus pass a data team runs, composed from "
        "the engine's own operators in production order: WARC parse → "
        "HTTP-200 gate → main-content extraction → intra-doc paragraph "
        "dedup → C4 line filter + page gates → language-ID gate (en) → "
        "Gopher document-quality gate. One zero-exchange narrow map "
        "chain (Arrow WARC parse feeding pure JVM array expressions — "
        "no shuffle anywhere, no joins: provenance rides `carry` "
        "columns through the operators). The fixture law gives each "
        "quality class a page that dies at EXACTLY ONE gate (404 / "
        "German / digit-soup alpha-frac / dedup+C4 paragraph drops); "
        "the oracle replays survival and the cleaned text in closed "
        "form"
    ),
    oracle=f"""
WITH p AS (
  SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS q,
         CAST(doc_id % 7 AS VARCHAR) AS c
  FROM documents
)
SELECT doc_id,
       'https://site' || CAST(doc_id % 3 AS VARCHAR) || '.com/corpus/'
         || CAST(doc_id AS VARCHAR) AS target_uri,
       {_CORPUS_CLEAN_SQL} AS clean_text,
       CAST(CASE WHEN q = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_dedup_dropped,
       CAST(CASE WHEN q = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_c4_dropped,
       'en' AS lang,
       CAST(96 AS BIGINT) AS n_words
FROM p WHERE q IN (0, 3)
""",
)
def web_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the WARC-synthesize + parse + HOF text chain is a pure
    # narrow map that otherwise runs in ONE task; 2.91 -> 1.70 s (r11).
    # r12: min_rows_per_task=512 — this chain is JVM HOF/regexp work
    # (~0.1-0.2 ms/row), and the r11 P/2 fan-out (16 tasks of ~300
    # rows) overshot: the 8-core driver run beat the 32-core run
    # (1.72 vs 2.49 s). Larger tasks keep fan-out ≤ ceil(rows/512).
    docs = load_table_spread(
        spark, sf_dir, "documents", min_rows_per_task=512
    ).select("doc_id")
    return _corpus_pipeline_over(docs)


def _corpus_pipeline_over(docs: DataFrame) -> DataFrame:
    """The composed crawl→corpus pass over a ``doc_id`` frame (its
    2M-doc throughput: SCALE.md §7, "Composed-throughput probe")."""
    from spk_sl_validation_spark.ext import text as TX
    from spk_sl_validation_spark.ext import warc as WC
    from spk_sl_validation_spark.ext.hashing import ws_tokens

    recs = WC.warc_records(WC.synthesize_corpus_warc_table(docs))
    pages = recs.filter(
        F.col("ok") & (F.col("rec_type") == "response") & (F.col("http_status") == 200)
    )
    text, _nk, _nd = W.main_content("body_text")
    pages = pages.select("doc_id", "target_uri", text.alias("main_text"))
    # evaluate_once barriers between the text stages: each stage's
    # output text is a non-codegen HOF expression its consumers would
    # otherwise re-evaluate per reference (CollapseProject inlines
    # aliases) — measured 27.4 s → see BENCH_HISTORY round 10
    pages = evaluate_once(pages, "main_text")
    deduped = W.paragraph_dedup(pages, text_col="main_text", carry=("target_uri",))
    deduped = deduped.withColumnRenamed("n_paras_dropped", "n_dedup_dropped")
    deduped = evaluate_once(deduped, "clean_text")
    c4 = W.c4_clean(
        deduped, text_col="clean_text", carry=("target_uri", "n_dedup_dropped")
    ).filter(F.col("page_kept"))
    c4 = evaluate_once(c4, "clean_text")
    gate = TX.gopher_doc_gate("clean_text")
    out = c4.select(
        "doc_id",
        "target_uri",
        "clean_text",
        "n_dedup_dropped",
        F.col("n_lines_dropped").alias("n_c4_dropped"),
        TX.lang_id("clean_text").alias("lang"),
        F.size(ws_tokens("clean_text")).cast("bigint").alias("n_words"),
        gate["passes"].alias("__passes"),
    )
    return out.filter((F.col("lang") == "en") & F.col("__passes")).drop("__passes")


@register(
    "web_idna_hosts",
    doc=(
        "IDNA/punycode host conversion (the step before a PSL lookup "
        "on a raw crawl — the list matches ASCII A-labels): stdlib "
        "idna codec as an Arrow-batched map (per-row Python by "
        "nature), ascii passthrough lowercased, codec failures total "
        "with idna_ok=false. The oracle emits the fixed A-label forms "
        "of the 4-way law (punycode outputs verified against the "
        "codec — the digit-bearing variant encodes to -3ya, not -kva)"
    ),
    oracle="""
SELECT doc_id,
       CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 'plain' || CAST(doc_id % 5 AS VARCHAR) || '.com'
         WHEN 1 THEN 'bücher' || CAST(doc_id % 5 AS VARCHAR) || '.example'
         WHEN 2 THEN 'müller.de'
         ELSE '日本.jp' END AS host,
       CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 'plain' || CAST(doc_id % 5 AS VARCHAR) || '.com'
         WHEN 1 THEN 'xn--bcher' || CAST(doc_id % 5 AS VARCHAR) || '-3ya.example'
         WHEN 2 THEN 'xn--mller-kva.de'
         ELSE 'xn--wgv71a.jp' END AS ascii_host,
       true AS idna_ok
FROM documents
""",
)
def web_idna_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hosts = PSL.synthesize_idna_host_table(docs)
    return PSL.idna_encode_hosts(hosts)


@register(
    "web_domain_reputation_filter",
    doc=(
        "domain-level quality gating (FineWeb-style): per-registrable-"
        "domain average of a per-document score (manifest-sized "
        "groupBy), domains below the threshold drop WHOLE — including "
        "their fluke good pages — via a semi join; small-sample "
        "domains below min_docs are kept (no evidence is not negative "
        "evidence). Score column here is the deterministic doc_id % 7 "
        "stand-in; the operator is score-agnostic. The oracle replays "
        "the same gate with window aggregates over the law"
    ),
    oracle=_ORACLE_LAW
    + f"""
SELECT doc_id, domain, CAST(doc_id % 7 AS DOUBLE) AS score
FROM n
QUALIFY avg(doc_id % 7) OVER (PARTITION BY domain) >= 2.9
     OR count(*) OVER (PARTITION BY domain) < {W.REPUTATION_MIN_DOCS}
""",
)
def web_domain_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _urls(spark, sf_dir).withColumn(
        "score", (F.col("doc_id") % 7).cast("double")
    )
    kept = W.domain_reputation_filter(urls, 2.9, "score")
    return kept.select(
        "doc_id", W.extract_domain(W.normalize_url("url")).alias("domain"), "score"
    )


@register(
    "web_paragraph_dedup",
    doc=(
        "intra-document paragraph dedup: repeated paragraphs WITHIN one "
        "page (nav/footer text the cross-doc passes never see) drop, "
        "first occurrences kept in order — a paragraph survives iff "
        "array_position == its own index. Pure array expression, zero "
        "exchanges; the oracle replays first-occurrence survival via a "
        "rank-1 window over exploded paragraphs"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 5 AS VARCHAR) AS c,
         CAST(doc_id % 3 AS VARCHAR) AS m
  FROM documents
), paras AS (
  SELECT doc_id, g.i AS idx,
         CASE g.i
           WHEN 0 THEN 'Alpha paragraph ' || c || '.'
           WHEN 1 THEN 'Beta boilerplate.'
           WHEN 2 THEN 'Alpha paragraph ' || c || '.'
           WHEN 3 THEN 'Gamma unique ' || m || '.'
           ELSE 'Beta boilerplate.'
         END AS para
  FROM p JOIN range(0, 5) g(i) ON true
), firsts AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY doc_id, para ORDER BY idx) AS rn
  FROM paras
)
SELECT doc_id,
       string_agg(para, chr(10) ORDER BY idx) FILTER (WHERE rn = 1)
         AS clean_text,
       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_paras_kept,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_paras_dropped
FROM firsts GROUP BY doc_id
""",
)
def web_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    c = (F.col("doc_id") % 5).cast("string")
    m = (F.col("doc_id") % 3).cast("string")
    page = F.concat_ws(
        "\n",
        F.concat(F.lit("Alpha paragraph "), c, F.lit(".")),
        F.lit("Beta boilerplate."),
        F.concat(F.lit("Alpha paragraph "), c, F.lit(".")),
        F.concat(F.lit("Gamma unique "), m, F.lit(".")),
        F.lit("Beta boilerplate."),
    )
    pages = docs.select("doc_id", page.alias("text"))
    return W.paragraph_dedup(pages)


@register(
    "web_frontier_expand",
    doc=(
        "crawl frontier expansion — the next-wave delta: outlink "
        "edges + (non-index) sitemap entries + recrawled known links "
        "union into one discovery-event frame, normalize, ONE "
        "shuffle_hash anti join against the current frontier on the "
        "normalized key (frontiers are corpus-sized, never "
        "broadcast), then a skinny groupBy → (norm_url, "
        "first_doc_id, n_discoveries). The recrawl arm feeds already-"
        "frontier URLs on purpose: the anti join must drop every one "
        "of them. Oracle replays all three discovery laws "
        "generatively and the frontier-membership filter in SQL"
    ),
    oracle=_ORACLE_LAW.rstrip()
    + """,
out_links AS (
  SELECT p.doc_id, t.dst_url AS u
  FROM (SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS k,
               CAST(doc_id % 5 AS VARCHAR) AS c FROM documents) p,
  unnest([
    'https://ext.org/x',
    'https://cdn.site' || k || '.com/lib',
    'https://site' || k || '.com/top',
    'https://site' || k || '.com/a/b/next' || c || '.html',
    'https://site' || k || '.com/a/b/page' || c || '?p=2'
  ]) AS t(dst_url)
),
maps AS (
  SELECT p.doc_id,
         'https://site' || p.k || '.com/s/' || CAST(g.i AS VARCHAR)
           || '?a=1&b=2' AS u
  FROM (SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS k,
               1 + doc_id % 3 AS r, doc_id % 2 = 1 AS is_index
        FROM documents) p
  JOIN range(0, 3) g(i) ON g.i < p.r
  WHERE NOT p.is_index
),
recrawl AS (SELECT doc_id, norm_url AS u FROM n WHERE doc_id % 10 = 0),
disc AS (
  SELECT doc_id, u FROM out_links
  UNION ALL SELECT doc_id, u FROM maps
  UNION ALL SELECT doc_id, u FROM recrawl
),
novel AS (
  SELECT doc_id, u FROM disc
  WHERE u NOT IN (SELECT DISTINCT norm_url FROM n)
)
SELECT u AS norm_url, CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(count(*) AS BIGINT) AS n_discoveries
FROM novel GROUP BY u
""",
)
def web_frontier_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: all three discovery arms plan over materialized manifests —
    # the outlink/sitemap/url fixture syntheses each fused into their
    # consumer stages past the 64 KB codegen limit (see
    # web_robots_txt_filter). The url and outlink manifests are shared
    # with the other webcure queries via the per-session cache.
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = _materialized(spark, sf_dir, "urls", lambda: _urls(spark, sf_dir))
    pages = _materialized(
        spark, sf_dir, "outlink_pages",
        lambda: W.synthesize_outlink_page_table(docs),
    )
    sitemaps = _materialized(
        spark, sf_dir, "sitemaps", lambda: W.synthesize_sitemap_table(docs)
    )
    frontier = urls.select(W.normalize_url("url").alias("norm_url")).distinct()
    out = W.outlinks(pages).select("doc_id", F.col("dst_url").alias("url"))
    sm = (
        W.sitemap_entries(sitemaps)
        .filter(~F.col("is_index"))
        .select("doc_id", F.col("loc").alias("url"))
    )
    recrawl = urls.filter(F.col("doc_id") % 10 == 0).select("doc_id", "url")
    disc = out.unionAll(sm).unionAll(recrawl)
    return W.frontier_expand(disc, frontier)


@register(
    "web_warc_gz_records",
    doc=(
        "member-gzip WARC parsing — the framing Common Crawl actually "
        "ships (one gzip member per record, concatenated, so readers "
        "can seek without decompressing the file): strict member walk "
        "via zlib unused_data (corrupt member / trailing garbage / "
        "truncation all ValueError), then the same strict WARC parse; "
        "identical output law to web_warc_records, which is exactly "
        "the point — the oracle is shared verbatim"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS k,
         1 + doc_id % 3 AS r
  FROM documents
),
info AS (
  SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS rec_type,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST(NULL AS INTEGER) AS http_status,
         CAST(0 AS BIGINT) AS body_len, '' AS body_text, true AS ok
  FROM p
),
resp AS (
  SELECT p.doc_id, CAST(g.i + 1 AS INTEGER) AS rec_idx,
         'response' AS rec_type,
         'https://site' || p.k || '.com/w/' || CAST(g.i AS VARCHAR)
           AS target_uri,
         CAST(CASE WHEN (p.doc_id + g.i) % 4 = 0 THEN 404 ELSE 200 END
              AS INTEGER) AS http_status,
         CAST(8 * (1 + (p.doc_id + g.i) % 5) AS BIGINT) AS body_len,
         repeat('payload ', CAST(1 + (p.doc_id + g.i) % 5 AS INTEGER))
           AS body_text,
         true AS ok
  FROM p JOIN range(0, 3) g(i) ON g.i < p.r
)
SELECT * FROM info UNION ALL SELECT * FROM resp
""",
)
def web_warc_gz_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext import warc as WC

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return WC.warc_gz_records(WC.synthesize_warc_gz_table(docs))
