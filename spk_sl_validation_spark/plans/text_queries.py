r"""Text-analysis queries over the documents table (north-star set).

Each query pairs a Spark builder (built-in column expressions only —
narrow maps, no shuffle except final aggregation where noted) with a
DuckDB oracle computing the exact same deterministic function, so the
driver's value-hash comparison verifies them end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import text as X
from spk_sl_validation_spark.ext.hashing import md5_long_sql, word_shingles_sql
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table

_TOKS = r"string_split_regex(trim(text), '\s+')"
_STOP_IN = ", ".join(f"'{w}'" for w in X.STOPWORDS)


@register(
    "text_token_stats",
    doc="token counting: whitespace + BPE-ish regex segmentation (north-star: text analysis)",
    oracle=rf"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
       length(text) AS n_chars
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


@register(
    "text_quality",
    headline=True,
    doc="document quality scoring: length/punct/stopword ratios + composite score",
    oracle=rf"""
SELECT doc_id,
       length(text) AS n_chars,
       len({_TOKS}) AS n_tokens,
       CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
           / CAST(len({_TOKS}) AS DOUBLE) AS stopword_ratio,
       CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS punct_ratio,
       0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
       + 0.4 * least(CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
                     / CAST(len({_TOKS}) AS DOUBLE) * 5.0, 1.0)
       + 0.2 * (1.0 - least(CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS DOUBLE)
                            / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) AS quality_score
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = X.quality_components("text")
    return docs.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["punct_ratio"].alias("punct_ratio"),
        X.quality_score("text").alias("quality_score"),
    )


def _hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in X.LANG_MARKERS[lang])
    return f"len(list_filter({_TOKS}, t -> t IN ({markers})))"


_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {_hits_sql(lang)} = {_best} AND {_best} > 0 THEN '{lang}'"
        for lang in X.LANG_MARKERS
        for _best in [f"greatest({', '.join(_hits_sql(la) for la in X.LANG_MARKERS)})"]
    )
    + " ELSE 'und' END"
)


@register(
    "text_language_id",
    doc="marker-word language ID (deterministic argmax heuristic) vs the label column",
    oracle=f"""
SELECT lang AS label_lang, {_LANG_CASE} AS pred_lang, count(*) AS n_docs
FROM documents
GROUP BY lang, pred_lang
""",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("lang").alias("label_lang"), X.lang_id("text").alias("pred_lang"))
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SHINGLES = word_shingles_sql(_TOKS, 3)


@register(
    "text_fingerprint",
    doc="document fingerprints: md5 of normalized text + rolling min-hash over 3-gram windows",
    oracle=rf"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS exact_fp,
       list_min(list_transform({_SHINGLES}, s -> {md5_long_sql('s')})) AS rolling_fp
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = docs.select("doc_id", X.md5_fingerprint("text").alias("exact_fp"))
    rolling = X.rolling_fingerprints(docs, "doc_id", "text")
    return exact.join(rolling, "doc_id").select("doc_id", "exact_fp", "rolling_fp")


@register(
    "text_repetition",
    headline=True,
    doc=(
        "Gopher-style repetition quality filters: per-doc distinct-word ratio, "
        "top-unigram fraction, top-bigram fraction (Rae et al. 2021 §A1.1 "
        "repetition signals). Row-local arrays_zip/slice bigrams (codegen, no "
        "interpreted higher-order funcs, no window/sort); two-level hash "
        "aggregates keyed on doc_id — every exchange carries map-side-combined "
        "per-doc counts, linear-scan-shaped at 100 TB"
    ),
    oracle=rf"""
WITH l AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
wc AS (SELECT doc_id, w, count(*) AS c
       FROM (SELECT doc_id, unnest(toks) AS w FROM l) GROUP BY doc_id, w),
bc AS (SELECT doc_id, b, count(*) AS c
       FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                                                  i -> toks[i] || ' ' || toks[i+1])) AS b
             FROM l) GROUP BY doc_id, b),
wm AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, COUNT(*) AS n_distinct,
              MAX(c) AS top_word_n FROM wc GROUP BY doc_id),
bm AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_bigram_n
       FROM bc GROUP BY doc_id)
SELECT wm.doc_id AS doc_id, n_words,
       CAST(n_distinct AS DOUBLE) / n_words AS distinct_ratio,
       CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac,
       CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac
FROM wm JOIN bm ON wm.doc_id = bm.doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Bigrams are built row-locally (arrays_zip over two slices — codegen
    # collection expressions, not interpreted lambda HOFs), so there is no
    # window, no sort, and no shuffle of raw tokens: a doc's exploded
    # n-grams stay in their input partition, the partial hash aggregate
    # collapses them map-side, and every exchange carries only per-doc
    # distinct-n-gram counts.
    a = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", a.alias("a"))
    uni = d.select("doc_id", F.explode("a").alias("w"))
    wc = uni.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    wm = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_word_n"),
    )
    z = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(F.slice("a", 1, F.size("a") - 1), F.slice(F.col("a"), 2, F.size("a") - 1))
        ).alias("p"),
    )
    bc = (
        z.select("doc_id", F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bm = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n")
    )
    return wm.join(bm, "doc_id").select(
        "doc_id",
        "n_words",
        (F.col("n_distinct").cast("double") / F.col("n_words")).alias("distinct_ratio"),
        (F.col("top_word_n").cast("double") / F.col("n_words")).alias("top_word_frac"),
        (F.col("top_bigram_n").cast("double") / F.col("n_bigrams")).alias("top_bigram_frac"),
    )


@register(
    "text_feature_hashing",
    doc=(
        "feature-hashing vectorization (hashing trick): 32-dim signed term-count "
        "vectors from raw text with zero vocabulary state — bucket = h(tok) mod "
        "32, sign from the next hash bit; integer-exact, so the whole vector "
        "hash-matches the oracle. The no-ML text→vector bridge into the "
        "similarity operators at any scale"
    ),
    oracle=rf"""
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
),
h AS (
  SELECT doc_id,
         {md5_long_sql('tok')} % 32 AS bucket,
         CASE WHEN ({md5_long_sql('tok')} >> 5) & 1 = 1 THEN 1 ELSE -1 END AS sign
  FROM t
),
b AS (SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS v FROM h GROUP BY doc_id, bucket),
d AS (SELECT DISTINCT doc_id FROM t),
grid AS (SELECT d.doc_id, g.i AS bucket FROM d CROSS JOIN (SELECT unnest(range(0, 32)) AS i) g),
filled AS (
  SELECT grid.doc_id, grid.bucket, coalesce(b.v, 0) AS v
  FROM grid LEFT JOIN b ON grid.doc_id = b.doc_id AND grid.bucket = b.bucket
)
SELECT doc_id, CAST(to_json(list(v ORDER BY bucket)) AS VARCHAR) AS vec
FROM filled GROUP BY doc_id
""",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.hashing import md5_long, ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
    h = md5_long("tok")
    hashed = toks.select(
        "doc_id",
        (h % 32).alias("bucket"),
        F.when(F.shiftright(h, 5).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
    )
    buckets = hashed.groupBy("doc_id", "bucket").agg(F.sum("sign").alias("v"))
    # dense 32-dim assembly: pivot the sparse buckets into an array
    dense = (
        buckets.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "v"))).alias("m"))
        .select(
            "doc_id",
            # JSON-serialized so the driver's hasher (and the DuckDB oracle)
            # compare a scalar string, not an unhashable Python list
            F.to_json(
                F.expr("transform(sequence(0, 31), i -> coalesce(m[i], CAST(0 AS BIGINT)))")
            ).alias("vec"),
        )
    )
    return dense


@register(
    "text_bpe_pair_stats",
    doc=(
        "BPE vocabulary-induction statistics: global top-20 adjacent character "
        "pairs within words (the argmax of the first BPE merge step). One "
        "explode + hash aggregate; the top-k consolidation moves only 20 rows "
        "per partition (WindowGroupLimit)"
    ),
    oracle=r"""
WITH t AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
),
b AS (
  SELECT substring(w, i, 2) AS pair
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)
),
c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY pair)
SELECT pair, n FROM (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rk FROM c
) WHERE rk <= 20
""",
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from spk_sl_validation_spark.ext.hashing import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(ws_tokens("text")).alias("w")).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 20).select("pair", "n")


# Gopher rule thresholds (Rae et al. 2021 §A1.1) — the stopword
# vocabulary now lives beside the per-row gate twin in ext/text.py
# (single source of truth; doc-level bounds, not the line rules,
# which need newline structure the driver corpus lacks).
from spk_sl_validation_spark.ext.text import GOPHER_STOPS

_GOPHER_IN = ", ".join(f"'{w}'" for w in GOPHER_STOPS)


@register(
    "text_gopher_filters",
    doc=(
        "Gopher-style document quality gate (Rae et al. 2021 §A1.1): word-count "
        "bounds, mean word length, alpha-word fraction, short-word fraction, "
        "required-stopword hits, and the combined pass verdict. Explode + "
        "one map-side-combined hash aggregate keyed on doc_id — the same "
        "linear-scan shape as text_repetition; no window, no wide shuffle of "
        "raw text at any corpus size"
    ),
    oracle=rf"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS w FROM documents
)
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(length(w)) AS DOUBLE) / COUNT(*) AS mean_word_len,
       CAST(SUM(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS alpha_word_frac,
       CAST(SUM(CASE WHEN length(w) <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS short_word_frac,
       CAST(COUNT(DISTINCT CASE WHEN w IN ({_GOPHER_IN}) THEN w END) AS BIGINT)
           AS gopher_stop_hits,
       (COUNT(*) BETWEEN 50 AND 100000)
         AND (CAST(SUM(length(w)) AS DOUBLE) / COUNT(*)) BETWEEN 3.0 AND 10.0
         AND (CAST(SUM(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*)) >= 0.8
         AND COUNT(DISTINCT CASE WHEN w IN ({_GOPHER_IN}) THEN w END) >= 1
         AS passes
FROM t
GROUP BY doc_id
""",
)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.hashing import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(ws_tokens("text")).alias("w"))
    n = F.count(F.lit(1))
    mean_len = F.sum(F.length("w")).cast("double") / n
    alpha = F.sum(F.col("w").rlike("[a-z]").cast("long")).cast("double") / n
    short = F.sum((F.length("w") <= 2).cast("long")).cast("double") / n
    stops = F.count_distinct(F.when(F.col("w").isin(*GOPHER_STOPS), F.col("w")))
    return t.groupBy("doc_id").agg(
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha.alias("alpha_word_frac"),
        short.alias("short_word_frac"),
        stops.cast("long").alias("gopher_stop_hits"),
        (
            n.between(50, 100000)
            & mean_len.between(3.0, 10.0)
            & (alpha >= 0.8)
            & (stops >= 1)
        ).alias("passes"),
    )


_W = X.QUALITY_MODEL_WEIGHTS
_STOP_RATIO = (
    f"CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_IN}))) AS DOUBLE)"
    f" / CAST(len({_TOKS}) AS DOUBLE)"
)
_PUNCT_RATIO = (
    r"CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE)"
)
_DISTINCT_RATIO = f"CAST(len(list_distinct({_TOKS})) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE)"
# Strictly left-associative — must mirror ext.text.quality_model_prob's
# expression tree so both engines feed exp() the identical double.
_Z = (
    f"{_W['bias']} + {_W['length']} * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
    f" + {_W['stopword']} * ({_STOP_RATIO})"
    f" + {_W['punct']} * ({_PUNCT_RATIO})"
    f" + {_W['distinct']} * ({_DISTINCT_RATIO})"
)


@register(
    "text_quality_model",
    doc=(
        "model-based corpus filter: fixed-weight logistic classifier over "
        "engineered quality features (length, stopword/punct ratios, distinct-"
        "token ratio) as one codegen'd expression — the fasttext-classifier "
        "stage of a training-data pipeline, no UDF"
    ),
    oracle=rf"""
SELECT doc_id,
       round(1.0 / (1.0 + exp(-({_Z}))), 6) AS quality_prob,
       (1.0 / (1.0 + exp(-({_Z}))) >= 0.5) AS keep
FROM documents
""",
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prob = X.quality_model_prob("text")
    return docs.select(
        "doc_id",
        F.round(prob, 6).alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


BPE_MERGES = 5  # merges learned by the registered text_bpe_learn query


def _bpe_sql(n_merges: int) -> str:
    """Unrolled BPE merge-loop replay: iteration t's argmax CTE feeds
    its spaced-string replace CTE, which feeds t+1's counts — the same
    distinct-word frequency table, double-space symbol invariant, and
    (count desc, lhs asc, rhs asc) tie-break as ext.text.learn_bpe_merges."""
    parts = [
        r"""WITH w0 AS (
  SELECT regexp_replace(w, '(.)', ' \1 ', 'g') AS s, CAST(cnt AS BIGINT) AS cnt
  FROM (SELECT w, count(*) AS cnt
        FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY w)
)"""
    ]
    for t in range(1, n_merges + 1):
        parts.append(
            f"""b{t} AS (
  SELECT lhs, rhs, n FROM (
    SELECT sym[i] AS lhs, sym[i + 1] AS rhs, CAST(sum(cnt) AS BIGINT) AS n
    FROM (SELECT string_split(trim(s), '  ') AS sym, cnt FROM w{t - 1}) t,
         unnest(range(1, len(sym))) AS u(i)
    GROUP BY 1, 2
  ) ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1
),
w{t} AS (
  SELECT replace(s, ' ' || b.lhs || '  ' || b.rhs || ' ',
                 ' ' || b.lhs || b.rhs || ' ') AS s, cnt
  FROM w{t - 1} CROSS JOIN b{t} b
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INTEGER) AS step, lhs, rhs, lhs || rhs AS merged,"
        f" n AS pair_count FROM b{t}"
        for t in range(1, n_merges + 1)
    )
    return ",\n".join(parts) + "\n" + selects


@register(
    "text_bpe_learn",
    doc=(
        f"ITERATIVE BPE training (Sennrich et al. 2016): learn {BPE_MERGES} "
        "merges by looping argmax-pair -> literal-replace merge -> recount "
        "over the DISTINCT-WORD frequency table (the corpus collapses to its "
        "vocabulary before any iteration). Spaced-symbol string invariant "
        "makes each merge ONE replace(); lineage localCheckpoint-truncated "
        "per iteration; integer counts + total tie-break = hash-exact"
    ),
    oracle=_bpe_sql(BPE_MERGES),
)
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extends text_bpe_pair_stats (the single argmax step) to the full
    merge LOOP — the reference has no iterative operators; pattern per
    ext/graph.py fixed-point modes (bounded-iteration oracle replay)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.learn_bpe_merges(docs, "text", BPE_MERGES)


def _bpe_encode_sql(n_merges: int) -> str:
    """Learn-chain CTEs (b1..bN from :func:`_bpe_sql`) + per-doc encode
    replay: every word spaced, each merge applied in training order via
    the same literal replace, symbols counted per doc."""
    learn = _bpe_sql(n_merges)
    ctes = learn.split("\nSELECT CAST(1 AS INTEGER)")[0]  # WITH w0..b1..wN block
    spaced = r"regexp_replace(w, '(.)', ' \1 ', 'g')"
    s = spaced
    for t in range(1, n_merges + 1):
        s = (
            f"replace({s}, ' ' || b{t}.lhs || '  ' || b{t}.rhs || ' ',"
            f" ' ' || b{t}.lhs || b{t}.rhs || ' ')"
        )
    crosses = " ".join(f"CROSS JOIN b{t}" for t in range(1, n_merges + 1))
    return f"""{ctes},
words AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
),
enc AS (
  SELECT doc_id, len(string_split(trim({s}), '  ')) AS n_sym
  FROM words {crosses}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(n_sym) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS bpe_fertility
FROM enc GROUP BY doc_id
"""


@register(
    "text_bpe_encode",
    headline=True,
    doc=(
        f"tokenizer SERVING: learn {BPE_MERGES} BPE merges (text_bpe_learn's "
        "loop), collect the driver-side merge table (tens of rows — it is a "
        "tokenizer, not data), and encode every document as a PURE NARROW MAP "
        "(merges fold into the expression as literals: zero shuffles, no "
        "join). Per-doc fertility = BPE symbols per word — the learn→apply "
        "lifecycle closure, same pattern as the index build→probe queries"
    ),
    oracle=_bpe_encode_sql(BPE_MERGES),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # merges apply in learn order; collect() order follows the union's
    # partition order, so sort on the step column
    rows = X.learn_bpe_merges(docs, "text", BPE_MERGES).collect()
    merges = sorted((tuple(r) for r in rows), key=lambda m: m[0])
    return X.bpe_encode_stats(docs, merges)


TRAIN_ITERS = 3  # bounded-iteration oracle mode (prod: ext/text.py train_quality_model_until_delta)
_FEATS = ("bias", "length", "stopword", "punct", "distinct")
_X_SQL = {
    "length": "least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)",
    "stopword": f"({_STOP_RATIO})",
    "punct": f"({_PUNCT_RATIO})",
    "distinct": f"({_DISTINCT_RATIO})",
}


def _train_sql(n_iter: int, lr: float) -> str:
    """Unrolled batch-GD replay: iteration t's weight CTE feeds t+1's
    gradient CTE — the same 12-decimal grid walk as ext.text's
    train_quality_model (p rounded to 12 before the residual, per-doc
    contributions rounded to 12 and summed as decimal(38,12), update
    rounded to 12)."""
    feats = ", ".join(f"{sql} AS x_{k}" for k, sql in _X_SQL.items())
    parts = [
        f"""WITH f AS (
  SELECT {feats},
         CASE WHEN 1.0 / (1.0 + exp(-({_Z}))) >= 0.5 THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
it0 AS (SELECT {', '.join(f'CAST(0.0 AS DOUBLE) AS w_{k}' for k in _FEATS)})"""
    ]
    for t in range(1, n_iter + 1):
        z = (
            "w.w_bias + w.w_length * x_length + w.w_stopword * x_stopword"
            " + w.w_punct * x_punct + w.w_distinct * x_distinct"
        )
        contribs = {"bias": "(p12 - y)"} | {
            k: f"(p12 - y) * x_{k}" for k in _FEATS if k != "bias"
        }
        gsel = ",\n         ".join(
            f"sum(CAST(round({c}, 12) AS DECIMAL(38,12))) AS g_{k}"
            for k, c in contribs.items()
        )
        usel = ",\n         ".join(
            f"round(w.w_{k} - {lr} * (CAST(g.g_{k} AS DOUBLE) / CAST(g.n AS DOUBLE)), 12) AS w_{k}"
            for k in _FEATS
        )
        parts.append(
            f"""g{t} AS (
  SELECT {gsel},
         count(*) AS n
  FROM (SELECT f.*, round(1.0 / (1.0 + exp(-({z}))), 12) AS p12
        FROM f CROSS JOIN it{t - 1} w)
),
it{t} AS (
  SELECT {usel}
  FROM g{t} g CROSS JOIN it{t - 1} w
)"""
        )
        pass
    wlist = ", ".join(f"w_{k}" for k in _FEATS)
    flist = ", ".join(f"'{k}'" for k in _FEATS)
    return (
        ",\n".join(parts)
        + f"""
SELECT feature, CAST(weight AS DOUBLE) AS weight
FROM (SELECT unnest([{flist}]) AS feature, unnest([{wlist}]) AS weight FROM it{n_iter})
"""
    )


@register(
    "text_quality_train",
    headline=True,
    doc=(
        f"TRAINABLE quality classifier: {TRAIN_ITERS} batch-gradient-descent "
        "iterations fit the logistic model to the fixed-weight gate's labels "
        "(the distill-an-expensive-labeler loop) — each iteration is ONE hash "
        "aggregate (6-number gradient, exact-decimal staging) cross-joined "
        "back as a broadcast 1-row weight relation; no collect, no driver "
        "state; weights live on a 12-decimal grid so the unrolled-CTE oracle "
        "replays every step exactly"
    ),
    oracle=_train_sql(TRAIN_ITERS, X.QUALITY_TRAIN_LR),
)
def text_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-GD training of the logistic quality model (ext.text.
    train_quality_model). The reference has no trainable components
    (its model surface is hand-set thresholds, SURVEY.md §2.6); this is
    the curation-loop extension: fit the cheap classifier on labeled
    docs, then score the corpus with the learned weights via
    quality_model_prob(col, weights=...).
    """
    docs = load_table(spark, sf_dir, "documents")
    return X.train_quality_model(docs, "text", iters=TRAIN_ITERS)


TOPFRAC_Q = 0.75


@register(
    "text_quality_topfrac",
    doc=(
        "global-statistic corpus gate: keep documents whose logistic quality "
        f"score clears the corpus's q={TOPFRAC_Q} percentile — exact "
        "distributed percentile (no global sort), threshold broadcast back as "
        "a 1-row cross join; scores rounded to 6 before the percentile so both "
        "engines rank the identical multiset"
    ),
    oracle=rf"""
WITH s AS (
  SELECT doc_id, round(1.0 / (1.0 + exp(-({_Z}))), 6) AS quality_prob
  FROM documents
),
t AS (SELECT round(quantile_cont(quality_prob, {TOPFRAC_Q}), 6) AS threshold FROM s)
SELECT s.doc_id, s.quality_prob, t.threshold, (s.quality_prob >= t.threshold) AS keep
FROM s CROSS JOIN t
""",
)
def text_quality_topfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine note: the threshold relies on Spark ``percentile``
    and DuckDB ``quantile_cont`` interpolating identically over the
    identical round-6 score multiset, with round(…, 6) on the result
    absorbing any 1-ulp interpolation drift — the same accepted-risk
    convention as equidepth_histogram's bucket boundaries (a mismatch
    requires the interpolated value to sit within 1 ulp of a 5e-7
    grid point)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.round(X.quality_model_prob("text"), 6).alias("quality_prob")
    )
    thr = scored.agg(
        F.round(F.expr(f"percentile(quality_prob, {TOPFRAC_Q})"), 6).alias("threshold")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "quality_prob",
            "threshold",
            (F.col("quality_prob") >= F.col("threshold")).alias("keep"),
        )
    )


@register(
    "langid_eval",
    doc=(
        "language-ID evaluation vs the label column: per-language "
        "precision/recall/F1 from exact confusion counts — the classifier "
        "eval harness shape (three tiny broadcast joins over per-lang counts)"
    ),
    oracle=f"""
WITH pred AS (SELECT lang AS label_lang, {_LANG_CASE} AS pred_lang FROM documents),
lab AS (SELECT label_lang AS lang, count(*) AS n_label FROM pred GROUP BY label_lang),
pr  AS (SELECT pred_lang AS lang, count(*) AS n_pred FROM pred GROUP BY pred_lang),
hit AS (SELECT label_lang AS lang, count(*) AS n_correct
        FROM pred WHERE label_lang = pred_lang GROUP BY label_lang)
SELECT l.lang, l.n_label,
       coalesce(p.n_pred, 0) AS n_pred,
       coalesce(h.n_correct, 0) AS n_correct,
       round(CAST(coalesce(h.n_correct, 0) AS DOUBLE) / CAST(l.n_label AS DOUBLE), 6) AS recall,
       CASE WHEN coalesce(p.n_pred, 0) = 0 THEN 0.0
            ELSE round(CAST(coalesce(h.n_correct, 0) AS DOUBLE) / CAST(p.n_pred AS DOUBLE), 6)
       END AS prec,
       CASE WHEN coalesce(h.n_correct, 0) = 0 THEN 0.0
            ELSE round(2.0 * (CAST(h.n_correct AS DOUBLE) / CAST(p.n_pred AS DOUBLE))
                           * (CAST(h.n_correct AS DOUBLE) / CAST(l.n_label AS DOUBLE))
                       / ((CAST(h.n_correct AS DOUBLE) / CAST(p.n_pred AS DOUBLE))
                          + (CAST(h.n_correct AS DOUBLE) / CAST(l.n_label AS DOUBLE))), 6)
       END AS f1
FROM lab l
LEFT JOIN pr p ON l.lang = p.lang
LEFT JOIN hit h ON l.lang = h.lang
""",
)
def langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision/recall/F1 of the marker-word language-ID
    heuristic against the labeled ``lang`` column.

    One corpus scan produces (label, pred); the three count relations
    are per-language (≤6 rows) and meet in broadcast joins. When a
    language is never predicted its precision/F1 are defined as 0.0
    (guards mirror the oracle CASEs exactly). n_correct > 0 implies
    n_pred > 0 and n_label > 0, so the F1 branch never divides by
    zero. All ratios divide exact integers — bit-identical across
    engines before the 6-decimal round.
    """
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("label_lang"), X.lang_id("text").alias("pred_lang")
    )
    lab = pred.groupBy(F.col("label_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_label")
    )
    pr = pred.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    hit = (
        pred.filter(F.col("label_lang") == F.col("pred_lang"))
        .groupBy(F.col("label_lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_correct"))
    )
    j = (
        lab.join(F.broadcast(pr), "lang", "left")
        .join(F.broadcast(hit), "lang", "left")
        .select(
            "lang",
            "n_label",
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )
    rec = F.col("n_correct").cast("double") / F.col("n_label").cast("double")
    prec_raw = F.col("n_correct").cast("double") / F.col("n_pred").cast("double")
    return j.select(
        "lang",
        "n_label",
        "n_pred",
        "n_correct",
        F.round(rec, 6).alias("recall"),
        F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(F.round(prec_raw, 6)).alias("prec"),
        F.when(F.col("n_correct") == 0, F.lit(0.0))
        .otherwise(F.round(2.0 * prec_raw * rec / (prec_raw + rec), 6))
        .alias("f1"),
    )


@register(
    "text_token_entropy",
    doc=(
        "per-doc Shannon entropy of the token distribution + entropy normalized "
        "by ln(n_distinct) — the distribution-flatness quality signal "
        "complementing text_repetition's top-fraction filters"
    ),
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct
      FROM wc GROUP BY doc_id),
h AS (
  SELECT wc.doc_id,
         sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                        * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 12)
                  AS DECIMAL(28,12))) AS ent
  FROM wc JOIN n USING (doc_id) GROUP BY wc.doc_id
)
SELECT n.doc_id, n.n_tokens, n.n_distinct,
       round(CAST(h.ent AS DOUBLE), 6) AS entropy,
       CASE WHEN n.n_distinct = 1 THEN 0.0
            ELSE round(CAST(h.ent AS DOUBLE) / ln(CAST(n.n_distinct AS DOUBLE)), 6)
       END AS norm_entropy
FROM n JOIN h ON n.doc_id = h.doc_id
""",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H(d) = −Σ_w p ln p over each document's token histogram, plus
    H/ln(n_distinct) ∈ [0,1] (defined 0.0 for single-type docs, where
    ln(1) would divide by zero). Per-term contributions are rounded to
    12 decimals and summed as DECIMAL(28,12) so the cross-engine sum
    is order-independent (house float discipline). The token counts
    aggregate on (doc_id, w) and the totals ride a window over the
    already-reduced histogram — skinny keyed rows end to end, no
    full-text reshuffle.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    from spk_sl_validation_spark.ext.hashing import ws_tokens

    wc = (
        docs.select("doc_id", F.explode(ws_tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wdoc = Window.partitionBy("doc_id")
    wc = wc.select(
        "doc_id",
        "c",
        F.sum("c").over(wdoc).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).over(wdoc).alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    per_doc = wc.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.max("n_distinct").alias("n_distinct"),
        F.sum(F.round(-p * F.log(p), 12).cast("decimal(28,12)")).alias("ent"),
    )
    ent_d = F.col("ent").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(ent_d, 6).alias("entropy"),
        F.when(F.col("n_distinct") == 1, F.lit(0.0))
        .otherwise(F.round(ent_d / F.log(F.col("n_distinct").cast("double")), 6))
        .alias("norm_entropy"),
    )


@register(
    "tokenizer_fertility",
    doc=(
        "per-language tokenizer fertility audit: chars per whitespace word, "
        "chars per BPE-ish token, and subword fertility (BPE-ish tokens per "
        "word) — the tokenizer-efficiency report a multilingual corpus runs "
        "before fixing a vocab budget (high-fertility languages pay more "
        "sequence length per character). Integer sums only until the final "
        "rounded ratios; one map-side-combined aggregate to ~n_langs rows"
    ),
    oracle=rf"""
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS sum_words,
       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
           AS sum_bpe_tokens,
       round(CAST(SUM(length(text)) AS DOUBLE)
           / CAST(SUM(len({_TOKS})) AS DOUBLE), 6) AS chars_per_word,
       round(CAST(SUM(length(text)) AS DOUBLE)
           / CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE), 6)
           AS chars_per_bpe_token,
       round(CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
           / CAST(SUM(len({_TOKS})) AS DOUBLE), 6) AS fertility
FROM documents
GROUP BY lang
""",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility: ratios of exact integer corpus sums."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
        F.sum(X.token_count("text")).cast("long").alias("sum_words"),
        F.sum(X.bpe_ish_token_count("text")).cast("long").alias("sum_bpe_tokens"),
    )
    chars = F.col("sum_chars").cast("double")
    words = F.col("sum_words").cast("double")
    bpe = F.col("sum_bpe_tokens").cast("double")
    return per_lang.select(
        "lang",
        "n_docs",
        "sum_chars",
        "sum_words",
        "sum_bpe_tokens",
        F.round(chars / words, 6).alias("chars_per_word"),
        F.round(chars / bpe, 6).alias("chars_per_bpe_token"),
        F.round(bpe / words, 6).alias("fertility"),
    )


VOCAB_K = 16  # fixed-vocabulary size for the OOV audit


@register(
    "vocab_oov_rate",
    doc=(
        f"vocabulary-coverage audit: build the top-{VOCAB_K} term vocabulary "
        "by corpus frequency (ties lexicographic) and report per-source "
        "token counts, OOV token counts, OOV rate, and distinct OOV terms — "
        "the tokenizer-budget planning report (which sources blow up the "
        "unknown-token rate under a fixed vocab). Vocab relation is "
        "vocabulary-bounded; corpus pass is one map + broadcast membership "
        "join + one aggregate"
    ),
    oracle=rf"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
),
cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
vocab AS (
  SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rnk
  FROM cnt QUALIFY rnk <= {VOCAB_K}
)
SELECT tok.source,
       count(*) AS n_tokens,
       count(*) FILTER (WHERE vocab.term IS NULL) AS n_oov,
       round(CAST(count(*) FILTER (WHERE vocab.term IS NULL) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) AS oov_rate,
       count(DISTINCT CASE WHEN vocab.term IS NULL THEN tok.term END) AS n_oov_terms
FROM tok LEFT JOIN vocab ON tok.term = vocab.term
GROUP BY tok.source
""",
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV rate under a fixed top-K frequency vocabulary.

    Scale shape: the term-count relation is vocabulary-bounded (its
    rank window is a dimension build, materialized once per corpus
    snapshot in production); the corpus pays one narrow explode, a
    broadcast membership join against the K-row vocab, and one
    map-side-combined aggregate to |sources| rows.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("term").asc()))
        )
        .filter(F.col("rnk") <= VOCAB_K)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    joined = tok.join(F.broadcast(vocab), "term", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        F.round(
            F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
        F.countDistinct(F.when(F.col("in_vocab").isNull(), F.col("term"))).alias("n_oov_terms"),
    )


@register(
    "text_nfc_normalize",
    doc=(
        "Unicode NFC canonical composition — the normalization pass "
        "that must run before any hashing/dedup (decomposed combining "
        "marks would otherwise never dedup against their composed "
        "twins): Arrow-batched unicodedata.normalize (Spark has no "
        "built-in normalizer expression; reflect() cannot pass the "
        "Form enum), hash-checked against DuckDB's ICU "
        "nfc_normalize() — two independent Unicode implementations "
        "agreeing on every byte. Fixture law covers decomposed, "
        "multiply-decomposed, already-composed (idempotence), and "
        "plain-ASCII classes"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS v,
         CAST(doc_id % 5 AS VARCHAR) AS c
  FROM documents
),
raw AS (
  SELECT doc_id,
         CASE v
           WHEN 0 THEN 'plain' || c || ' text'
           WHEN 1 THEN 'cafe' || chr(769) || ' numero ' || c
           WHEN 2 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm ' || c
           ELSE 'caf' || chr(233) || ' ' || c
         END AS t
  FROM p
)
SELECT doc_id,
       nfc_normalize(t) AS nfc_text,
       nfc_normalize(t) <> t AS changed,
       CAST(length(t) AS INTEGER) AS n_chars_before,
       CAST(length(nfc_normalize(t)) AS INTEGER) AS n_chars_after
FROM raw
""",
)
def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.text import nfc_normalize_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    v = (F.col("doc_id") % 4).cast("int")
    c = (F.col("doc_id") % 5).cast("string")
    raw = (
        F.when(v == 0, F.concat(F.lit("plain"), c, F.lit(" text")))
        .when(v == 1, F.concat(F.lit("café numero "), c))
        .when(v == 2, F.concat(F.lit("Ångström "), c))
        .otherwise(F.concat(F.lit("café "), c))
    )
    return nfc_normalize_text(docs.select("doc_id", raw.alias("text")))


_WINNOW_W = 4
_WINNOW_FPS = f"""
WITH l AS (
  SELECT doc_id, list_transform({_SHINGLES}, s -> {md5_long_sql('s')}) AS h
  FROM documents
),
f AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(h) - {_WINNOW_W} + 1, 1) + 1),
           i -> list_min(h[i:i+{_WINNOW_W}-1])))) AS fp
  FROM l
)
"""


@register(
    "text_winnowing_fingerprints",
    doc=(
        "winnowing fingerprints (Schleimer et al. 2003 / MOSS): min of "
        "each w-window of word-3-gram hashes, deduped — guaranteed to "
        "share a fingerprint with any doc sharing a >= w+k-1-word run, "
        "at ~1/w the storage of full shingling. Pure per-row array "
        "expressions + one explode; the (doc, fp) relation is the "
        "8-byte-key substrate cross-doc matching joins on"
    ),
    oracle=_WINNOW_FPS + "SELECT doc_id, fp FROM f",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.winnowing_fingerprints(docs, k=3, w=_WINNOW_W)


@register(
    "text_winnowing_matches",
    doc=(
        "cross-document winnowing matches: fingerprints selected by "
        ">= 2 documents, with the owning-doc count and first owner — "
        "one groupBy on the 8-byte fp key (map-side combined), the "
        "plagiarism/near-clone candidate generator"
    ),
    oracle=_WINNOW_FPS
    + """
SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM f GROUP BY fp HAVING count(*) >= 2
""",
)
def text_winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = X.winnowing_fingerprints(docs, k=3, w=_WINNOW_W)
    return (
        fps.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
