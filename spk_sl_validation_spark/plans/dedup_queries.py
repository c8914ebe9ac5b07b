r"""Deduplication queries over the documents table (north-star set).

Each strategy from ext/dedup.py registers with a DuckDB oracle that
replays the identical deterministic computation in SQL — including
the md5-family hashes — so MinHash/SimHash/LSH results are
value-verified, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spk_sl_validation_spark.ext import dedup as D
from spk_sl_validation_spark.ext.hashing import md5_long_sql, seeded_perm_sql, word_shingles_sql
from spk_sl_validation_spark.plans.dedup_shared import (  # noqa: F401
    BANDS,
    JACCARD_TAU,
    NUM_HASHES,
    ROWS_PER_BAND,
    _clusters_cte_body,
    _verified_pairs_ctes,
    capped_bands_cte,
)
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table, load_table_spread

_TOKS = r"string_split_regex(trim(text), '\s+')"

# LSH geometry lives in dedup_shared and the SimHash knobs in
# ext/dedup.py (single sources for Spark builders and oracle CTEs).


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_groups",
    doc="exact dedup: hash-groupBy on normalized-text md5 fingerprint",
    oracle=r"""
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS exact_fp
  FROM documents
),
g AS (SELECT exact_fp, count(*) AS group_size, min(doc_id) AS rep_id FROM fp GROUP BY exact_fp)
SELECT fp.doc_id, fp.exact_fp, g.group_size, g.rep_id, (g.group_size > 1) AS is_dup
FROM fp JOIN g USING (exact_fp)
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dup_groups(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_lsh_oracle() -> str:
    sh = word_shingles_sql("t", 3)
    mh_exprs = ",\n         ".join(
        f"list_min(list_transform(h, x -> {seeded_perm_sql('x', i)})) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {hs} FROM sig".format(
            b=b,
            hs=", ".join(f"mh{b * ROWS_PER_BAND + r} AS h{r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    hmatch = " AND ".join(f"a.h{r} = b.h{r}" for r in range(ROWS_PER_BAND))
    agree = " + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES))
    return f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
shv AS (SELECT doc_id, list_transform({sh}, x -> {md5_long_sql('x')}) AS h FROM tok),
sig AS (SELECT doc_id,
         {mh_exprs}
        FROM shv),
bands AS (
{band_selects}
),
{capped_bands_cte().lstrip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND {hmatch} AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(({agree}) AS DOUBLE) / {float(NUM_HASHES)} AS est_jaccard
FROM pairs
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b
"""


@register(
    "dedup_minhash_lsh",
    headline=True,
    doc=f"MinHash({NUM_HASHES})+LSH({BANDS} bands) near-dup candidate pairs with signature Jaccard estimate",
    oracle=_minhash_lsh_oracle(),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the 128-hash/shingle HOF stage is the dominant per-row
    # cost and otherwise runs in the single scan task (guide §2.5);
    # measured 4.47 -> 2.11 s at sf0.1 (r11 bench)
    docs = load_table_spread(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_oracle() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, v -> (v >> {p}) & 1 = 1)) > n THEN {1 << p} ELSE 0 END)"
        for p in range(D.SIMHASH_BITS)
    )
    return f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
hs AS (SELECT doc_id, list_transform(t, x -> {md5_long_sql('x')}) AS h, len(t) AS n FROM tok),
fp AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM hs)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {D.MAX_HAMMING}
"""


@register(
    "dedup_simhash",
    doc=f"SimHash({D.SIMHASH_BITS}-bit) near-dup pairs, Hamming ≤ {D.MAX_HAMMING}, lossless banded join",
    oracle=_simhash_oracle(),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(docs, "doc_id", "text")
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------------
# End-to-end dedup pipeline
# ---------------------------------------------------------------------------

def _dedup_pipeline_oracle() -> str:
    return f"""
WITH {_verified_pairs_ctes()}
SELECT d.doc_id, (v.id_b IS NULL) AS keep
FROM documents d LEFT JOIN (SELECT DISTINCT id_b FROM verified) v ON d.doc_id = v.id_b
"""


def _dedup_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE {_clusters_cte_body()}
SELECT doc_id, cluster_id FROM clusters
"""


def _soft_weights_oracle() -> str:
    return rf"""
WITH RECURSIVE {_clusters_cte_body()},
csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id),
toks AS (
  SELECT doc_id, CAST(len({_TOKS}) AS INTEGER) AS n_tokens FROM documents
)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       CAST(1 AS DOUBLE) / s.cluster_size AS weight,
       t.n_tokens,
       CAST(t.n_tokens AS DOUBLE) / s.cluster_size AS eff_tokens
FROM clusters c
JOIN csizes s USING (cluster_id)
JOIN toks t USING (doc_id)
"""


@register(
    "dedup_pipeline",
    headline=True,
    doc=f"end-to-end near-dup dedup: LSH candidates → exact Jaccard ≥ {JACCARD_TAU} → keep/drop per doc",
    oracle=_dedup_pipeline_oracle(),
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_corpus(docs, "doc_id", "text", jaccard_threshold=JACCARD_TAU)


@register(
    "dedup_pipeline_exact_first",
    doc=(
        "the PRODUCTION dedup composition: collapse exact-duplicate groups "
        "(normalized-text fingerprint) to min-id representatives BEFORE "
        "LSH banding/verification, then fold group members back — measured "
        "3.8x on the 1M-doc probe corpus (SCALE.md §7) with a provably "
        "identical keep set (copies relate through their representative). "
        "Oracle = dedup_pipeline's pure-LSH SQL, verbatim: the whole point "
        "is identical output"
    ),
    oracle=_dedup_pipeline_oracle(),
)
def dedup_pipeline_exact_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_corpus(
        docs, "doc_id", "text", jaccard_threshold=JACCARD_TAU, exact_first=True
    )


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_clusters(docs, "doc_id", "text", jaccard_threshold=JACCARD_TAU)


# Two names, one builder: both run star contraction. The second name
# stays for callers and ledgers that know it; the oracle is shared.
for _name, _doc in (
    (
        "dedup_clusters",
        "transitive near-dup clusters: star-contraction connected components "
        "== recursive-CTE min-label propagation",
    ),
    (
        "dedup_clusters_stars",
        "transitive near-dup clusters via alternating large-star/small-star "
        "contraction (Kiveris et al. 2014): O(log² n) rounds regardless of "
        "diameter (a 100k-node path converges in 18 rounds where propagation "
        "needs 99,999 — SCALE.md §7). The same builder as dedup_clusters; "
        "same oracle",
    ),
):
    register(_name, oracle=_dedup_clusters_oracle(), doc=_doc)(_dedup_clusters)


@register(
    "dedup_soft_weights",
    doc=(
        "duplicate-aware soft weighting: every doc keeps weight 1/cluster_size "
        "from its transitive near-dup cluster (mass-conserving alternative to "
        "dropping); eff_tokens = the dedup-adjusted token budget per doc"
    ),
    oracle=_soft_weights_oracle(),
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.duplicate_soft_weights(docs, "doc_id", "text")


@register(
    "dedup_soft_weights_indexed",
    doc=(
        "the cluster-once-derive-many production shape: soft weights consume "
        "a PRECOMPUTED cluster table (here checkpointed to stand in for the "
        "stored relation) instead of re-running the LSH+verify chain — the "
        "dominant cost of every cluster-derived query. Oracle = "
        "dedup_soft_weights' SQL verbatim: identical output is the claim"
    ),
    oracle=_soft_weights_oracle(),
)
def dedup_soft_weights_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stored = D.dedup_clusters(
        docs, "doc_id", "text", jaccard_threshold=JACCARD_TAU
    ).localCheckpoint(eager=True)
    return D.duplicate_soft_weights(docs, "doc_id", "text", clusters=stored)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard
# ---------------------------------------------------------------------------

_NGRAM_JACCARD_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({word_shingles_sql(_TOKS, 3)})) AS s
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
"""


@register(
    "dedup_ngram_jaccard",
    doc="exact 3-gram Jaccard near-dup pairs (threshold 0.5) — the verification path for LSH candidates",
    oracle=_NGRAM_JACCARD_ORACLE,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", 0.5)


_DECONTAMINATE_ORACLE = rf"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct({word_shingles_sql(_TOKS, 8)})) AS s
  FROM documents
),
bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 97 = 0),
train AS (SELECT * FROM g WHERE doc_id % 97 <> 0)
SELECT t.doc_id,
       COUNT(b.s) AS n_overlap,
       (COUNT(b.s) > 0) AS contaminated
FROM train t LEFT JOIN bench b ON t.s = b.s
GROUP BY t.doc_id
"""


@register(
    "decontaminate_benchmark",
    doc="benchmark decontamination: training docs sharing any 8-gram with the held-out set doc_id%97==0 (ext/decontaminate.py; broadcast bench n-gram set, one corpus shuffle)",
    oracle=_DECONTAMINATE_ORACLE,
)
def decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from spk_sl_validation_spark.ext.decontaminate import benchmark_overlap

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return benchmark_overlap(train, bench, "doc_id", "text", n=8)


# ---------------------------------------------------------------------------
# Incremental dedup (delta vs corpus index)
# ---------------------------------------------------------------------------

def _dedup_incremental_oracle() -> str:
    return rf"""
WITH {_verified_pairs_ctes()},
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
),
exact_hit AS (
  SELECT DISTINCT n.doc_id
  FROM fp n JOIN fp i ON n.fp = i.fp AND i.doc_id % 5 <> 0
  WHERE n.doc_id % 5 = 0
),
near_hit AS (
  SELECT DISTINCT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS doc_id
  FROM verified
  WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)
)
SELECT d.doc_id,
       (e.doc_id IS NULL AND h.doc_id IS NULL) AS keep,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN h.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS reason
FROM documents d
LEFT JOIN exact_hit e ON e.doc_id = d.doc_id
LEFT JOIN near_hit h ON h.doc_id = d.doc_id
WHERE d.doc_id % 5 = 0
"""


@register(
    "dedup_incremental",
    headline=True,
    doc=(
        "incremental dedup: every 5th doc plays the fresh crawl batch, the rest "
        "the corpus index; batch docs are flagged exact_dup (fingerprint in "
        "index) / near_dup (capped-LSH candidate vs index, exact Jaccard "
        f">= {JACCARD_TAU}) / unique — asymmetric band join, index-index pairs "
        "never expand"
    ),
    oracle=_dedup_incremental_oracle(),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_incremental(
        docs,
        is_new=F.col("doc_id") % 5 == 0,
        id_col="doc_id",
        text_col="text",
        jaccard_threshold=JACCARD_TAU,
    )


@register(
    "dedup_incremental_indexed",
    doc=(
        "incremental dedup against a PRECOMPUTED corpus index (fp / capped "
        "band rows / shingle-hash sets from dedup_index_tables) — the "
        "production delta-dedup path: the index is probed by broadcast "
        "semi-joins (scanned, never shuffled), only the batch pays "
        "signature/shingle computation; probed at a 9.5M-doc index in "
        "SCALE.md §7. Same contract and oracle as dedup_incremental: "
        "identical output whenever no band bucket is cap-bound (true on "
        "this corpus; the per-side-vs-joint cap is the one documented "
        "semantic difference)"
    ),
    oracle=_dedup_incremental_oracle(),
)
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 0
    index = D.dedup_index_tables(docs.filter(~is_new), "doc_id", "text")
    return D.dedup_incremental_indexed(docs.filter(is_new), *index)


# ---------------------------------------------------------------------------
# Directional containment (doc-in-doc duplication)
# ---------------------------------------------------------------------------

#: Containment threshold for dedup_containment — higher than the
#: Jaccard tau because containment ≈ 1.0 for verbatim inclusion even
#: when sizes differ wildly.
CONTAINMENT_TAU = 0.9


def _dedup_containment_oracle() -> str:
    from spk_sl_validation_spark.plans.dedup_shared import _candidate_overlap_ctes

    return f"""
WITH {_candidate_overlap_ctes()}
SELECT c.id_a, c.id_b,
       CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS cont_a_in_b,
       CAST(i.n_inter AS DOUBLE) / CAST(sb.n_sh AS DOUBLE) AS cont_b_in_a
FROM cand c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE greatest(CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE),
               CAST(i.n_inter AS DOUBLE) / CAST(sb.n_sh AS DOUBLE)) >= {CONTAINMENT_TAU}
"""


@register(
    "dedup_containment",
    doc=(
        "doc-in-doc dedup: LSH candidates scored by DIRECTIONAL n-gram "
        f"containment |A∩B|/|A| (either direction >= {CONTAINMENT_TAU}) — "
        "catches a small doc pasted into a large one, which Jaccard "
        "under-scores by the size ratio"
    ),
    oracle=_dedup_containment_oracle(),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-verified near-dup pairs on the documents table.

    Integer-ratio doubles are bit-deterministic across engines
    (IEEE-754 division of exact integers), so the threshold filter and
    the output values replay exactly in the DuckDB oracle.
    """
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, "doc_id", "text", with_estimate=False)
    scored = D.containment_for_pairs(docs, pairs, "doc_id", "text")
    return scored.filter(
        F.greatest("cont_a_in_b", "cont_b_in_a") >= CONTAINMENT_TAU
    )


# ---------------------------------------------------------------------------
# LSH recall evaluation (the tuning harness for the banding geometry)
# ---------------------------------------------------------------------------

RECALL_MIN_J = 0.3


def _lsh_recall_oracle() -> str:
    from spk_sl_validation_spark.plans.dedup_shared import _candidate_overlap_ctes

    return f"""
WITH {_candidate_overlap_ctes()},
exact AS (
  SELECT i.id_a, i.id_b,
         CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS j
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)
        >= {RECALL_MIN_J}
)
SELECT CAST(floor(e.j * 10) AS BIGINT) AS j_bucket,
       CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(count(c.id_a) AS BIGINT) AS n_caught,
       CAST(count(c.id_a) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
FROM exact e
LEFT JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b
GROUP BY 1
"""


@register(
    "dedup_lsh_recall",
    doc=(
        "LSH tuning harness: recall of the banded candidate generation vs the "
        f"exact Jaccard >= {RECALL_MIN_J} pair set, bucketed by true Jaccard — "
        "the measured S-curve (b=6, r=2 knee at ~0.41) that justifies the "
        "banding geometry; both sides replayed in the oracle"
    ),
    oracle=_lsh_recall_oracle(),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(docs, "doc_id", "text", RECALL_MIN_J)
    cand = D.lsh_candidate_pairs(
        docs, "doc_id", "text", with_estimate=False
    ).withColumn("__hit", F.lit(1))
    joined = exact.join(cand.hint("shuffle_hash"), ["id_a", "id_b"], "left")
    return joined.groupBy(
        F.floor(F.col("jaccard") * 10).cast("long").alias("j_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.count("__hit").alias("n_caught"),
        (F.count("__hit").cast("double") / F.count(F.lit(1)).cast("double")).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Source-priority dedup (quality-aware keep rule)
# ---------------------------------------------------------------------------

#: source → priority rank (lower wins). Production corpora prefer the
#: curated-source copy of a near-duplicate over the crawl copy; this
#: literal map stands in for that curation policy and is part of the
#: operator contract (replayed in the oracle). Sources not listed rank
#: last.
SOURCE_PRIORITY = {"src0": 0, "src1": 0, "src2": 1, "src3": 1, "src4": 2}
_DEFAULT_PRIORITY = 9


def _priority_case_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = '{s}' THEN {p}" for s, p in SOURCE_PRIORITY.items()
    )
    return f"CASE {whens} ELSE {_DEFAULT_PRIORITY} END"


def _dedup_source_priority_oracle() -> str:
    return f"""
WITH {_verified_pairs_ctes()},
pr AS (SELECT doc_id, {_priority_case_sql('source')} AS prio FROM documents),
losers AS (
  SELECT DISTINCT CASE WHEN (pa.prio < pb.prio) OR (pa.prio = pb.prio AND v.id_a < v.id_b)
                       THEN v.id_b ELSE v.id_a END AS doc_id
  FROM verified v
  JOIN pr pa ON pa.doc_id = v.id_a
  JOIN pr pb ON pb.doc_id = v.id_b
)
SELECT d.doc_id, (l.doc_id IS NULL) AS keep
FROM documents d LEFT JOIN losers l ON l.doc_id = d.doc_id
"""


@register(
    "dedup_source_priority",
    doc=(
        "quality-aware near-dup dedup: among a verified duplicate pair the "
        "HIGHER-priority source's copy survives (doc_id breaks ties) — the "
        "curated-beats-crawl keep rule production corpora use instead of "
        "min-id; single-hop decision like dedup_pipeline"
    ),
    oracle=_dedup_source_priority_oracle(),
)
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, "doc_id", "text", with_estimate=False)
    verified = D.ngram_jaccard_for_pairs(docs, pairs, "doc_id", "text").filter(
        F.col("jaccard") >= JACCARD_TAU
    )
    prio_expr = F.lit(_DEFAULT_PRIORITY)
    for s, p in reversed(list(SOURCE_PRIORITY.items())):
        prio_expr = F.when(F.col("source") == s, F.lit(p)).otherwise(prio_expr)
    pr = F.broadcast(docs.select("doc_id", prio_expr.alias("prio")))
    pa = pr.select(F.col("doc_id").alias("id_a"), F.col("prio").alias("__pa"))
    pb = pr.select(F.col("doc_id").alias("id_b"), F.col("prio").alias("__pb"))
    losers = (
        verified.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            F.when(
                (F.col("__pa") < F.col("__pb"))
                | ((F.col("__pa") == F.col("__pb")) & (F.col("id_a") < F.col("id_b"))),
                F.col("id_b"),
            )
            .otherwise(F.col("id_a"))
            .alias("doc_id")
        )
        .distinct()
    )
    return docs.select("doc_id").join(
        losers.withColumn("__l", F.lit(True)).hint("shuffle_hash"), "doc_id", "left"
    ).select("doc_id", F.coalesce(~F.col("__l"), F.lit(True)).alias("keep"))


# ---------------------------------------------------------------------------
# Contrastive pair mining (embedding-model training data)
# ---------------------------------------------------------------------------

#: Candidates with exact Jaccard below this are HARD negatives:
#: lexically close enough to collide in a band, but not duplicates —
#: the informative negatives for contrastive embedding training.
HARD_NEG_MAX_J = 0.3


def _contrastive_pairs_oracle() -> str:
    from spk_sl_validation_spark.plans.dedup_shared import _candidate_overlap_ctes

    # LEFT JOIN inter (not inner): a candidate pair with ZERO shared
    # shingles — reachable only via a 64-bit minhash collision in both
    # rows of a band — is a J=0 hard negative on the Spark side
    # (array_intersect returns empty, jaccard = 0), so the oracle must
    # keep it too rather than silently dropping the row.
    return f"""
WITH {_candidate_overlap_ctes()},
scored AS (
  SELECT c.id_a, c.id_b,
         CAST(coalesce(i.n_inter, 0) AS DOUBLE)
           / CAST(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) AS j
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, j AS jaccard, CAST(1 AS INTEGER) AS label
FROM scored WHERE j >= {JACCARD_TAU}
UNION ALL
SELECT id_a, id_b, j AS jaccard, CAST(0 AS INTEGER) AS label
FROM scored WHERE j < {HARD_NEG_MAX_J}
"""


@register(
    "contrastive_pairs",
    doc=(
        "contrastive training-pair mining: positives = verified near-dups "
        f"(J >= {JACCARD_TAU}), HARD negatives = LSH band collisions whose "
        f"exact Jaccard < {HARD_NEG_MAX_J} (lexically close, not duplicates) — "
        "the SimCSE-style hard-negative construction, at banded-join cost"
    ),
    oracle=_contrastive_pairs_oracle(),
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    cand = D.lsh_candidate_pairs(docs, "doc_id", "text", with_estimate=False)
    scored = D.ngram_jaccard_for_pairs(docs, cand, "doc_id", "text")
    pos = scored.filter(F.col("jaccard") >= JACCARD_TAU).withColumn(
        "label", F.lit(1).cast("int")
    )
    neg = scored.filter(F.col("jaccard") < HARD_NEG_MAX_J).withColumn(
        "label", F.lit(0).cast("int")
    )
    return pos.unionByName(neg)


@register(
    "dedup_jaccard_prefix_join",
    doc=(
        "exact 3-gram Jaccard pairs (threshold 0.5) via AllPairs prefix "
        "filtering (Bayardo et al. WWW'07): candidates restricted to pairs "
        "sharing a token in their rarest-first prefixes — lossless (recall "
        "1.0) unlike MinHash-LSH, and the candidate join runs only on the "
        "smallest (rarest) token buckets instead of every shingle bucket. "
        "Oracle = the exact all-pairs SQL verbatim: identical output is the "
        "claim"
    ),
    oracle=_NGRAM_JACCARD_ORACLE,
)
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_join_prefix(docs, "doc_id", "text")


SWEEP_THRESHOLDS = (0.3, 0.5, 0.7, 0.8, 0.9)
_SWEEP_VALUES = ", ".join(f"(CAST({t!r} AS DOUBLE))" for t in SWEEP_THRESHOLDS)


@register(
    "dedup_threshold_sweep",
    doc=(
        "near-dup threshold calibration: pair count and affected-doc count "
        f"at thresholds {SWEEP_THRESHOLDS} in ONE pass over the exact "
        "3-gram Jaccard pair relation — the tuning curve that picks the "
        "dedup threshold before a 100 TB run (at scale the pair relation "
        "is the capped-LSH candidate set; thresholds explode map-side, "
        "no extra join)"
    ),
    oracle=rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({word_shingles_sql(_TOKS, 3)})) AS s
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b,
         CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
),
th(t) AS (VALUES {_SWEEP_VALUES}),
np AS (
  SELECT th.t, count(*) FILTER (WHERE p.j >= th.t) AS n_pairs
  FROM th CROSS JOIN pairs p GROUP BY th.t
),
sides AS (
  SELECT id_a AS id, j FROM pairs UNION ALL SELECT id_b AS id, j FROM pairs
),
nd AS (
  SELECT th.t, count(DISTINCT CASE WHEN s.j >= th.t THEN s.id END) AS n_docs_affected
  FROM th CROSS JOIN sides s GROUP BY th.t
)
SELECT np.t AS threshold,
       CAST(np.n_pairs AS BIGINT) AS n_pairs,
       CAST(nd.n_docs_affected AS BIGINT) AS n_docs_affected
FROM np JOIN nd ON np.t = nd.t
""",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass threshold calibration curve over exact Jaccard pairs.

    Scale shape: the pair relation is computed once (at 100 TB it is
    the capped-LSH candidate set — compose with lsh_candidate_pairs);
    the thresholds explode MAP-SIDE from an array literal (no join, no
    1-row broadcast), and both aggregates are tiny (|thresholds| rows).
    """
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", 0.0)
    th = F.explode(F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])).alias("threshold")

    np_ = (
        pairs.select(th, F.col("jaccard").alias("j"))
        .groupBy("threshold")
        .agg(F.count(F.when(F.col("j") >= F.col("threshold"), 1)).alias("n_pairs"))
    )
    sides = pairs.select(F.col("id_a").alias("id"), "jaccard").unionAll(
        pairs.select(F.col("id_b").alias("id"), "jaccard")
    )
    nd = (
        sides.select(th, "id", F.col("jaccard").alias("j"))
        .groupBy("threshold")
        .agg(
            F.countDistinct(
                F.when(F.col("j") >= F.col("threshold"), F.col("id"))
            ).alias("n_docs_affected")
        )
    )
    return np_.join(F.broadcast(nd), "threshold").select(
        "threshold",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_docs_affected").cast("long").alias("n_docs_affected"),
    )


_INCREMENTAL_EXACT_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({word_shingles_sql(_TOKS, 3)})) AS s
  FROM documents
),
b AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
c AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
nb AS (SELECT doc_id, count(*) AS n_b FROM b GROUP BY doc_id),
nc AS (SELECT doc_id, count(*) AS n_c FROM c GROUP BY doc_id),
inter AS (
  SELECT b.doc_id AS id_batch, c.doc_id AS id_corpus, count(*) AS n_inter
  FROM b JOIN c ON b.s = c.s
  GROUP BY 1, 2
)
SELECT id_batch, id_corpus,
       CAST(n_inter AS DOUBLE) / CAST(nb.n_b + nc.n_c - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN nb ON nb.doc_id = id_batch
JOIN nc ON nc.doc_id = id_corpus
WHERE CAST(n_inter AS DOUBLE) / CAST(nb.n_b + nc.n_c - n_inter AS DOUBLE) >= 0.5
"""


@register(
    "dedup_incremental_exact",
    doc=(
        "incremental EXACT near-dup: every 5th doc plays the fresh batch; "
        "batch-vs-corpus Jaccard >= 0.5 pairs via one-sided prefix "
        "filtering (only the batch builds rarest-first prefixes; the "
        "corpus side is the persisted index shingle table, probed on the "
        "shingle key) — the lossless twin of dedup_incremental's LSH "
        "candidates: recall 1.0, probe cost proportional to batch size"
    ),
    oracle=_INCREMENTAL_EXACT_ORACLE,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return D.jaccard_incremental_prefix(batch, corpus, "doc_id", "text")


@register(
    "dedup_incremental_exact_indexed",
    doc=(
        "incremental EXACT near-dup against a PREBUILT prefix index "
        "(prefix_index_tables: bucketed corpus shingle rows + frequency "
        "table) — index scanned, never recomputed; identical output and "
        "oracle as dedup_incremental_exact: the index is an access path, "
        "not a semantic change"
    ),
    oracle=_INCREMENTAL_EXACT_ORACLE,
)
def dedup_incremental_exact_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    sh, freq = (t.localCheckpoint(eager=True) for t in D.prefix_index_tables(corpus))
    return D.jaccard_incremental_prefix_indexed(batch, sh, freq)


@register(
    "decontaminate_bloom",
    doc=(
        "benchmark decontamination through a Bloom prefilter: bench 8-grams "
        "-> bitmask on a 1-row broadcast (m_bits/8 bytes however large the "
        "benchmark), corpus probe is codegen bit-tests (no shuffle), exact "
        "verify only on Bloom candidates — row-identical to "
        "decontaminate_benchmark, same oracle"
    ),
    oracle=_DECONTAMINATE_ORACLE,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from spk_sl_validation_spark.ext.decontaminate import benchmark_overlap_bloom

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return benchmark_overlap_bloom(train, bench, "doc_id", "text", n=8)
