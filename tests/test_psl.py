"""ext.psl: real Public Suffix List registrable-domain extraction.

The registered query (web_domain_psl) is value-hashed against the
closed-form template oracle by the registry-wide differential test;
these tests pin (1) the Spark lookup against an INDEPENDENT in-Python
transliteration of the publicsuffix.org algorithm over randomized
hosts built from real rule keys, (2) the zero-shuffle broadcast-only
plan, and (3) that the curation operators produce identical output
under psl=True on PSL-compatible fixture domains.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.psl import (
    load_psl_rules,
    registrable_domain,
    registrable_domain_py,
)


def test_python_reference_known_cases():
    cases = {
        "example.com": "example.com",
        "www2.example.com.au": "example.com.au",
        "sub.site.co.jp": "site.co.jp",
        "y.kawasaki.jp": None,  # *.kawasaki.jp → host IS a public suffix
        "x.y.kawasaki.jp": "x.y.kawasaki.jp",
        "city.kawasaki.jp": "city.kawasaki.jp",  # !city.kawasaki.jp
        "www.city.kawasaki.jp": "city.kawasaki.jp",
        "ck": None,
        "www.ck": "www.ck",  # !www.ck
        "shop.blogspot.com": "shop.blogspot.com",  # private section
        "a.b.shop.blogspot.com": "shop.blogspot.com",
        "example.co.uk": "example.co.uk",
        "com.au": None,
        "localhost": None,  # no rule → default '*', host is the suffix
    }
    for host, want in cases.items():
        assert registrable_domain_py(host) == want, host


def test_icann_only_excludes_private_rules():
    # blogspot.com is a PRIVATE rule: with include_private=False the
    # prevailing rule is plain 'com'.
    assert registrable_domain_py("shop.blogspot.com", include_private=False) == (
        "blogspot.com"
    )
    assert registrable_domain_py("shop.blogspot.com", include_private=True) == (
        "shop.blogspot.com"
    )


def test_rule_table_parses_known_shape():
    rules = load_psl_rules(True)
    by_key = {k: (n, w, e) for k, n, w, e in rules}
    assert by_key["com"][0]  # normal
    assert by_key["ck"][1] and not by_key["ck"][0]  # wildcard base only
    assert by_key["www.ck"][2]  # exception
    assert by_key["city.kawasaki.jp"][2]
    assert len(rules) > 9000  # the real list, not a toy subset


def test_spark_matches_python_reference_randomized(spark):
    """200 randomized hosts built by prefixing 0-3 random labels onto
    REAL rule keys (normal, wildcard bases, exceptions) plus unknown
    TLDs — every host checked against the independent Python
    reference, both private-section settings."""
    rng = random.Random(909)
    rules = load_psl_rules(True)
    keys = [k for k, *_ in rules]
    hosts = []
    for _ in range(180):
        base = rng.choice(keys)
        depth = rng.randint(0, 3)
        labels = [f"l{rng.randint(0, 99)}" for _ in range(depth)]
        hosts.append(".".join(labels + [base]))
    hosts += ["nosuch", "a.nosuch", "a.b.nosuch", "x.city.kawasaki.jp",
              "q.www.ck", "deep.a.b.shop.blogspot.com"]
    hosts = sorted(set(hosts))
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    for include_private in (True, False):
        got = {
            r["host"]: r["domain"]
            for r in registrable_domain(
                df, "host", include_private=include_private, fallback_to_host=False
            ).collect()
        }
        for h in hosts:
            want = registrable_domain_py(h, include_private)
            assert got[h] == want, (h, got[h], want, include_private)


def test_fallback_to_host(spark):
    df = spark.createDataFrame([("ck",), ("y.kawasaki.jp",)], "host string")
    got = {r["host"]: r["domain"] for r in registrable_domain(df, "host").collect()}
    assert got == {"ck": "ck", "y.kawasaki.jp": "y.kawasaki.jp"}


def test_psl_plan_zero_shuffles(spark, sf_dir):
    """The lookup is a broadcast-join cascade: ZERO shuffle exchanges,
    zero sort-merge joins — a crawl manifest keeps its partitioning."""
    from tools.dump_plans import plan_stats

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["web_domain_psl"].builder(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    qe = df._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    st = plan_stats(formatted)
    assert st["shuffle_exchanges"] == 0, st
    assert st["sort_merge_joins"] == 0, st
    assert st["broadcast_hash_joins"] >= 4, st


def test_curation_ops_identical_under_psl_on_fixture(spark, sf_dir):
    """domain_cap / blocklist_filter with psl=True give byte-identical
    output on the fixture crawl (its domains — siteN.com, siteN.co.uk
    — resolve the same under the approximation and the real list)."""
    from spk_sl_validation_spark.ext import webcure as W
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = W.synthesize_url_table(docs)
    a = {tuple(r) for r in W.domain_cap(urls, 3).collect()}
    b = {tuple(r) for r in W.domain_cap(urls, 3, psl=True).collect()}
    assert a == b and a
    blocked = spark.createDataFrame(
        [("site0.com",), ("site3.co.uk",)], "domain string"
    )
    a = {tuple(r) for r in W.blocklist_filter(urls, blocked).collect()}
    b = {tuple(r) for r in W.blocklist_filter(urls, blocked, psl=True).collect()}
    assert a == b and a


# ---------------------------------------------------------------------------
# IDNA host conversion (round 9)
# ---------------------------------------------------------------------------


def test_idna_encode_and_psl_composition(spark):
    from spk_sl_validation_spark.ext.psl import idna_encode_hosts

    rows = [
        (0, "Bücher.Example"),      # mixed case unicode
        (1, "plain.com"),
        (2, "日本.jp"),
        (3, "bad..empty"),          # empty label -> codec error, total
        (4, None),                  # null host stays null
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    got = {r.doc_id: (r.ascii_host, r.idna_ok) for r in idna_encode_hosts(df).collect()}
    assert got[0] == ("xn--bcher-kva.example", True)
    assert got[1] == ("plain.com", True)
    assert got[2] == ("xn--wgv71a.jp", True)
    assert got[3] == ("bad..empty", False)
    assert got[4] == (None, False)
    # composition: unicode host -> A-labels -> PSL registrable domain
    comp = registrable_domain(
        idna_encode_hosts(
            spark.createDataFrame([(0, "shop.Bücher.co.jp")], "doc_id long, host string")
        ),
        "ascii_host",
    ).first()
    assert comp.domain == "xn--bcher-kva.co.jp"


def test_max_depth_constants_cover_vendored_list():
    """A list refresh adding a deeper rule must fail loudly, not
    silently under-match (ADVICE r9): load_psl_rules asserts the max
    effective rule depth against the cascade's probe depth."""
    from spk_sl_validation_spark.ext.psl import (
        _MAX_DEPTH_FULL,
        _MAX_DEPTH_ICANN,
        load_psl_rules,
    )

    for include_private, limit in ((True, _MAX_DEPTH_FULL), (False, _MAX_DEPTH_ICANN)):
        rules = load_psl_rules(include_private)
        max_eff = max(
            k.count(".") + 1 + (1 if wild else 0) for k, _n, wild, _e in rules
        )
        assert max_eff <= limit
