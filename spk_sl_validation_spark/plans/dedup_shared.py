"""Shared MinHash-LSH and boilerplate-span oracle construction (no
query registration).

Split out of dedup_queries and corpus_queries so modules composing
their oracles (assembly_queries' end-to-end corpus pipeline,
sampling_queries' leakage-safe split, streaming_queries' boilerplate
gate) can import them WITHOUT triggering those modules' registrations —
registration order drives the driver's correctness sampling
(plans/registry.py)."""

from __future__ import annotations

# The LSH geometry, near-dup threshold and hot-bucket cap come from
# ext/dedup.py: the Spark builders and every DuckDB oracle CTE below
# must agree or engine and oracle silently desync.
from spk_sl_validation_spark.ext.dedup import (
    BANDS,
    JACCARD_TAU,
    MAX_BUCKET_SIZE,
    NUM_HASHES,
    ROWS_PER_BAND,
)
from spk_sl_validation_spark.ext.hashing import md5_long_sql, seeded_perm_sql, word_shingles_sql

_TOKS = r"string_split_regex(trim(text), '\s+')"

# Boilerplate-span geometry: the batch census (corpus_queries) and the
# streaming ingest gate (streaming_queries) must agree with their oracles.
SPAN_W = 8  # words per non-overlapping span
BP_MIN_DOCS = 3  # spans in >= this many distinct docs are boilerplate


def capped_bands_cte() -> str:
    """The oracle replay of lsh_candidate_pairs' hot-bucket cap: keep
    each (band, band-hashes) bucket's ``MAX_BUCKET_SIZE`` smallest
    doc_ids — identical deterministic rule as the Spark window
    row_number."""
    hcols = ", ".join(f"h{r}" for r in range(ROWS_PER_BAND))
    return f"""
capped AS (
  SELECT doc_id, band, {hcols}
  FROM bands
  QUALIFY row_number() OVER (PARTITION BY band, {hcols} ORDER BY doc_id) <= {MAX_BUCKET_SIZE}
)"""


def _candidate_overlap_ctes(table: str = "documents") -> str:
    """Shared CTE body up to the exact-overlap statistics: ``table`` →
    LSH candidates (``cand``) plus per-pair shingle intersection
    (``inter``) and per-doc shingle-set sizes (``sizes``). Both the
    Jaccard-verified dedup oracles (:func:`_verified_pairs_ctes`) and
    the containment oracle (dedup_queries.dedup_containment) finish
    from these three CTEs with their own similarity formula."""
    sh = word_shingles_sql("t", 3)
    mh_exprs = ", ".join(
        f"list_min(list_transform(h, x -> {seeded_perm_sql('x', i)})) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {hs} FROM sig".format(
            b=b,
            hs=", ".join(f"mh{b * ROWS_PER_BAND + r} AS h{r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    hmatch = " AND ".join(f"a.h{r} = b.h{r}" for r in range(ROWS_PER_BAND))
    return f"""
tok AS (SELECT doc_id, {_TOKS} AS t FROM {table}),
shv AS (SELECT doc_id, list_transform({sh}, x -> {md5_long_sql('x')}) AS h FROM tok),
sig AS (SELECT doc_id, {mh_exprs} FROM shv),
bands AS ({band_selects}),
{capped_bands_cte().lstrip()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND {hmatch} AND a.doc_id < b.doc_id
),
dsh AS (
  SELECT doc_id, unnest(list_distinct({word_shingles_sql(_TOKS, 3)})) AS s
  FROM {table}
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _verified_pairs_ctes(table: str = "documents") -> str:
    """Shared CTE body: ``table`` → LSH candidates → exact-Jaccard
    verified pairs (id_a < id_b). Reused by the pipeline, cluster, and
    end-to-end corpus oracles (``table`` may be an upstream CTE)."""
    return f"""{_candidate_overlap_ctes(table)},
verified AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= {JACCARD_TAU}
)"""


def _clusters_cte_body() -> str:
    """Connected components over the verified pair graph via a
    recursive CTE (min reachable id = cluster label); shared by the
    clusters and soft-weights oracles."""
    return f"""{_verified_pairs_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION
  SELECT id_b AS src, id_a AS dst FROM verified
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
),
clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)"""
