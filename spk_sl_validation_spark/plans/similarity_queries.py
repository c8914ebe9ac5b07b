"""Similarity-search queries over the embeddings table (north-star).

Cosine arithmetic is a deterministic double left-fold in both engines
(see ext/similarity.py), so even top-k rank membership is value-exact
against the oracle — no tolerance windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import similarity as S
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table, load_table_spread

N_QUERIES = 5  # vec_id < 5 are the probe vectors
TOP_K = 10
NEAR_DUP_TAU = 0.4

_COS = S.cosine_sql("a.embedding", "b.embedding")
_QCOS = S.cosine_sql("q.embedding", "c.embedding")


@register(
    "similarity_topk_bruteforce",
    headline=True,
    doc=f"exact cosine top-{TOP_K} for {N_QUERIES} probe vectors (broadcast queries + WindowGroupLimit top-k)",
    oracle=f"""
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, {_QCOS} AS cos_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the all-pairs cosine arm is compute-bound on the corpus
    # side's single scan task; 0.95 -> 0.64 s at sf0.1 (r11 bench)
    emb = load_table_spread(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.brute_force_topk(emb, queries, TOP_K)
    return out.select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


@register(
    "similarity_topk_lsh",
    doc=f"sign-LSH({S.LSH_BITS}-bit) bucketed ANN top-k: bucket equi-join + exact rerank within bucket",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {S.sign_lsh_bucket_sql('embedding', S.LSH_BITS)} AS bucket FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, {_QCOS} AS cos_sim
  FROM bucketed q JOIN bucketed c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {S.ANN_K}
""",
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.bucketed_topk(emb, queries)
    return out.select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


N_CENTROIDS = 16

_L2_QC = S.sq_l2_sql("v.embedding", "c.embedding")


# also the oracle of similarity_ivf_churn and streaming_ivf_ingest: a
# churned or stream-maintained index must answer exactly like this one
IVF_TOPK_ORACLE = f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT v.vec_id, v.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_L2_QC} ASC, c.centroid_id ASC) AS rn
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rn = 1
),
scored AS (
  SELECT q.vec_id AS q_id, x.vec_id AS vec_id,
         {S.cosine_sql('q.embedding', 'x.embedding')} AS cos_sim
  FROM assigned q JOIN assigned x ON q.centroid_id = x.centroid_id AND x.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {S.ANN_K}
"""


@register(
    "similarity_topk_ivf",
    doc=f"IVF({N_CENTROIDS} lists, nprobe=1) ANN top-k: coarse-quantizer assignment + exact rerank in the probed list",
    oracle=IVF_TOPK_ORACLE,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk(emb, queries, centroids)
    return out.select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


@register(
    "similarity_near_dup",
    doc=f"embedding-cosine near-dup pairs (cos ≥ {NEAR_DUP_TAU}, exact all-pairs verification path)",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS} >= {NEAR_DUP_TAU}
""",
)
def similarity_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(emb, NEAR_DUP_TAU)


_ND_BITS, _ND_BANDS = 8, 4

_BANDED_UNION = "\n  UNION ALL ".join(
    f"SELECT vec_id, embedding, {band} AS band, "
    f"{S.sign_lsh_bucket_sql('embedding', _ND_BITS, band * _ND_BITS)} AS bucket FROM embeddings"
    for band in range(_ND_BANDS)
)


@register(
    "similarity_near_dup_bucketed",
    doc=(
        f"banded sign-LSH near-dup pairs ({_ND_BANDS} bands x {_ND_BITS} bits, "
        f"cos >= {NEAR_DUP_TAU}): candidate iff bucket-collision in any band, "
        "per-bucket BLAS verify, (id_a,id_b) dedup — the 100 TB path with no "
        "driver collect and no global broadcast matrix"
    ),
    oracle=f"""
WITH banded AS (
  {_BANDED_UNION}
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS cos_sim
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_COS} >= {NEAR_DUP_TAU}
)
SELECT id_a, id_b, max(cos_sim) AS cos_sim FROM pairs GROUP BY id_a, id_b
""",
)
def similarity_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs_bucketed(emb, NEAR_DUP_TAU, bits=_ND_BITS, n_bands=_ND_BANDS)


@register(
    "embedding_quantize_int8",
    doc="symmetric int8 embedding quantization (scale, q, max reconstruction error) — 4x storage shrink for ANN at scale; engine-agnostic half-up lattice, value-exact oracle",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         nullif(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 0) / 127 AS scale
  FROM e
),
qq AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS q
  FROM s
)
SELECT vec_id, scale, CAST(to_json(q) AS VARCHAR) AS q,
       list_aggregate(
         list_transform(range(1, len(v) + 1), i -> abs(v[i] - q[i] * scale)), 'max') AS max_err
FROM qq
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    # q serialized to JSON so the driver hashes a scalar string, not a list
    return quantize_int8(emb, "embedding").select(
        "vec_id", "scale", F.to_json("q").alias("q"), "max_err"
    )


SEMDEDUP_TAU = 0.4  # matches NEAR_DUP_TAU; ~11 within-cluster dup pairs at sf0.01

@register(
    "similarity_semantic_dedup",
    doc=(
        f"SemDeDup-style semantic dedup: coarse-quantizer clusters ({N_CENTROIDS} "
        f"centroids), drop vectors with a lower-id cluster mate at cos ≥ {SEMDEDUP_TAU}. "
        "Cluster-local pairs only — the embedding-space twin of LSH-bucketed text dedup"
    ),
    oracle=f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {N_CENTROIDS}),
assigned AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {S.sq_l2_sql('e.embedding', 'c.cvec')} ASC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c
  ) WHERE rn = 1
),
dup AS (
  SELECT DISTINCT b.vec_id AS did
  FROM assigned a JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {S.cosine_sql('a.embedding', 'b.embedding')} >= {SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cluster_id, (d.did IS NULL) AS keep
FROM assigned a LEFT JOIN dup d ON a.vec_id = d.did
""",
)
def similarity_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return S.semantic_dedup(emb, centroids, SEMDEDUP_TAU)


PQ_NSUB = 8
PQ_SUBDIM = 8
PQ_TRAIN = 16

@register(
    "similarity_topk_pq",
    doc=(
        f"product-quantization ANN top-5 (ADC): {PQ_NSUB}×{PQ_SUBDIM}-dim subspaces, "
        f"{PQ_TRAIN}-entry codebooks, asymmetric distance = Σ broadcast-LUT lookups. "
        "Codes are 32× smaller than float32 — the in-memory-index path at 100 TB"
    ),
    oracle=f"""
WITH ss AS (SELECT unnest(range(0, {PQ_NSUB})) AS s),
sv AS (
  SELECT e.vec_id, t.s, list_slice(e.embedding, t.s*{PQ_SUBDIM}+1, t.s*{PQ_SUBDIM}+{PQ_SUBDIM}) AS vsub
  FROM embeddings e CROSS JOIN ss t
),
cbt AS (
  SELECT t.s, e.vec_id AS cid, list_slice(e.embedding, t.s*{PQ_SUBDIM}+1, t.s*{PQ_SUBDIM}+{PQ_SUBDIM}) AS sub
  FROM embeddings e CROSS JOIN ss t WHERE e.vec_id < {PQ_TRAIN}
),
codes AS (
  SELECT sv.vec_id, sv.s,
         (min(struct_pack(d := {S.sq_l2_sql('sv.vsub', 'cbt.sub')}, c := cbt.cid))).c AS code
  FROM sv JOIN cbt ON sv.s = cbt.s GROUP BY sv.vec_id, sv.s
),
adc AS (
  SELECT sv.vec_id AS q_id, cbt.s, cbt.cid AS code, {S.sq_l2_sql('sv.vsub', 'cbt.sub')} AS d
  FROM sv JOIN cbt ON sv.s = cbt.s WHERE sv.vec_id < {N_QUERIES}
),
partials AS (
  SELECT a.q_id, c.vec_id, a.s, a.d
  FROM codes c JOIN adc a ON a.s = c.s AND a.code = c.code
  WHERE c.vec_id <> a.q_id
),
dist AS (
  SELECT q_id, vec_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(d ORDER BY s)), (x, y) -> x + y) AS approx_dist
  FROM partials GROUP BY q_id, vec_id
),
ranked AS (
  SELECT q_id, vec_id, approx_dist,
         row_number() OVER (PARTITION BY q_id ORDER BY approx_dist ASC, vec_id ASC) AS rank
  FROM dist
)
SELECT q_id, vec_id, approx_dist, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {S.ANN_K}
""",
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") < PQ_TRAIN)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.pq_adc_topk(emb, queries, train, n_sub=PQ_NSUB, sub_dim=PQ_SUBDIM)
    return out.select("q_id", "vec_id", "approx_dist", F.col("rank").cast("int").alias("rank"))


@register(
    "kmeans_assign",
    doc=(
        "nearest-centroid assignment (one k-means E-step): centroids = the 4 "
        "lowest-vec_id embeddings (deterministic init), every vector assigned by "
        "argmin squared L2 with (distance, centroid-id) lexicographic tie-break. "
        "Broadcast centroids + sequential-fold distance so the float arithmetic "
        "is order-identical across engines; k*N intermediate rows, one "
        "vec_id-keyed aggregate"
    ),
    oracle="""
WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 4)
SELECT e.vec_id,
       (min(struct_pack(d := list_sum(list_transform(range(1, len(e.embedding) + 1),
           i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
              * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))),
           c := c.cid))).c AS cluster
FROM embeddings e CROSS JOIN c
GROUP BY e.vec_id
""",
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    crossed = emb.select("vec_id", "embedding").crossJoin(F.broadcast(c))
    diff2 = F.zip_with(
        "embedding", "cvec", lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    dist = F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)
    return (
        crossed.select("vec_id", "cid", dist.alias("dist"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.array(F.col("dist"), F.col("cid").cast("double"))).alias("cluster"))
    )


def _kmeans_oracle(k: int = 4, n_iter: int = 3) -> str:
    """Unroll the full Lloyd loop as a chain of DuckDB CTEs — the same
    replay trick text_textrank_keywords uses for PageRank. Each iteration
    is (E-step argmin with lowest-cid tie-break) -> (per-(cluster, dim)
    mean, empty clusters keeping the prior centroid), matching
    ext/cluster.py exactly; the output is integer cluster ids, so ulp-level
    summation-order differences cannot surface unless a point is exactly
    equidistant between centroids."""
    d = S.sq_l2_sql("e.v", "c.cvec")
    parts = [
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec"
        f" FROM embeddings WHERE vec_id < {k})",
    ]
    for it in range(1, n_iter + 1):
        prev = f"c{it - 1}"
        parts.append(
            f"a{it} AS (\n"
            f"  SELECT e.vec_id, (min(struct_pack(d := {d}, c := c.cid))).c AS cluster\n"
            f"  FROM e CROSS JOIN {prev} c GROUP BY e.vec_id)"
        )
        parts.append(
            f"m{it} AS (\n"
            f"  SELECT cluster AS cid, i, sum(v[i]) / count(*) AS x\n"
            f"  FROM (SELECT a.cluster, e.v, unnest(range(1, len(e.v) + 1)) AS i\n"
            f"        FROM a{it} a JOIN e ON a.vec_id = e.vec_id)\n"
            f"  GROUP BY cluster, i)"
        )
        parts.append(
            f"c{it} AS (\n"
            f"  SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec\n"
            f"  FROM {prev} p LEFT JOIN (SELECT cid, list(x ORDER BY i) AS cvec"
            f" FROM m{it} GROUP BY cid) u ON p.cid = u.cid)"
        )
    final = (
        f"SELECT e.vec_id, CAST((min(struct_pack(d := {d}, c := c.cid))).c AS INTEGER) AS cluster\n"
        f"FROM e CROSS JOIN c{n_iter} c GROUP BY e.vec_id"
    )
    return ",\n".join(parts) + "\n" + final


@register(
    "kmeans_clusters",
    oracle=_kmeans_oracle(k=4, n_iter=3),
    doc=(
        "full Lloyd k-means (k=4, 3 iterations): per iteration one Arrow-batched "
        "assignment scan + one native (cluster, dim) aggregate; only k*dim values "
        "ever reach the driver. Oracle = the loop unrolled as chained CTEs "
        "(assign -> mean -> assign ...), value-exact on cluster ids"
    ),
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.cluster import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans(emb, "vec_id", "embedding", k=4, n_iter=3)
    return assigned


EMB_DIM = 64

_RP = S.random_projection_sql("embedding", EMB_DIM)


@register(
    "similarity_topk_projected",
    doc=(
        f"two-stage ANN: JL ±1 random projection {EMB_DIM}->{S.RP_OUT_DIM} dims "
        f"scores the crossJoin shortlist (top {TOP_K}x{S.RP_SHORTLIST_MULT}), exact "
        f"cosine reranks only the shortlist — the projection matrix is a seeded "
        "shared literal, so both engines project identically"
    ),
    oracle=f"""
WITH proj AS (
  SELECT vec_id, embedding, {_RP} AS p FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.embedding AS ce, q.embedding AS qe,
         {S.dot_sql('q.p', 'c.p')} AS pscore
  FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
short AS (
  SELECT q_id, vec_id, qe, ce,
         row_number() OVER (PARTITION BY q_id ORDER BY pscore DESC, vec_id ASC) AS rs
  FROM scored
),
rr AS (
  SELECT q_id, vec_id, {S.cosine_sql('qe', 'ce')} AS cos_sim
  FROM short WHERE rs <= {TOP_K * S.RP_SHORTLIST_MULT}
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM rr
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def similarity_topk_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.projected_rerank_topk(emb, queries, TOP_K, EMB_DIM)
    return out.select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


def _projected_recall_oracle() -> str:
    return f"""
WITH proj AS (
  SELECT vec_id, embedding, {_RP} AS p FROM embeddings
),
pscored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.embedding AS ce, q.embedding AS qe,
         {S.dot_sql('q.p', 'c.p')} AS pscore
  FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
short AS (
  SELECT q_id, vec_id, qe, ce,
         row_number() OVER (PARTITION BY q_id ORDER BY pscore DESC, vec_id ASC) AS rs
  FROM pscored
),
ann AS (
  SELECT q_id, vec_id
  FROM (SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY {S.cosine_sql('qe', 'ce')} DESC,
                                  vec_id ASC) AS rank
        FROM short WHERE rs <= {TOP_K * S.RP_SHORTLIST_MULT})
  WHERE rank <= {TOP_K}
),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {_QCOS} DESC, c.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
)
SELECT e.q_id,
       CAST(count(*) AS BIGINT) AS k,
       CAST(count(a.vec_id) AS BIGINT) AS n_caught,
       CAST(count(a.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
FROM exact e
LEFT JOIN ann a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
GROUP BY e.q_id
"""


@register(
    "similarity_ann_recall",
    doc=(
        f"ANN evaluation harness: recall@{TOP_K} of the JL-projected two-stage "
        "method vs exact brute-force top-k, per probe query — the measured "
        "accuracy/cost trade the shortlist multiplier controls; both methods "
        "replayed in the oracle"
    ),
    oracle=_projected_recall_oracle(),
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = S.brute_force_topk(emb, queries, TOP_K).select("q_id", "vec_id")
    ann = S.projected_rerank_topk(emb, queries, TOP_K, EMB_DIM).select("q_id", "vec_id", F.lit(1).alias("__hit"))
    joined = exact.join(F.broadcast(ann), ["q_id", "vec_id"], "left")
    return joined.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.count("__hit").alias("n_caught"),
        (F.count("__hit").cast("double") / F.count(F.lit(1)).cast("double")).alias("recall"),
    )


MMR_POOL = 12  # retrieval-pool depth feeding the rerank
MMR_K = 6  # selections


@register(
    "embedding_mmr_select",
    doc=(
        f"MMR diverse selection (Carbonell & Goldstein '98): top-{MMR_POOL} "
        f"cosine pool for probe vec_id=0, then {MMR_K} greedy picks maximizing "
        f"{S.MMR_LAM}*rel - {1 - S.MMR_LAM:.1f}*max-sim-to-selected — the "
        "diversity-aware rerank that keeps an eval set from filling with "
        "near-duplicates. Rerank-stage shape: all iteration runs on the "
        "pool-sized relation, never the corpus; oracle replays the greedy "
        "loop as a recursive CTE carrying the picked list"
    ),
    oracle=f"""
WITH RECURSIVE
probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
pool AS (
  SELECT c.vec_id, c.embedding, {S.cosine_sql("p.embedding", "c.embedding")} AS rel
  FROM embeddings c CROSS JOIN probe p
  WHERE c.vec_id <> 0
  ORDER BY rel DESC, c.vec_id ASC
  LIMIT {MMR_POOL}
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         {S.cosine_sql("a.embedding", "b.embedding")} AS sim
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
),
sel(step, picked) AS (
  SELECT 0, CAST([] AS BIGINT[])
  UNION ALL
  SELECT step + 1, list_append(picked, (
    SELECT p.vec_id FROM pool p
    WHERE NOT list_contains(picked, p.vec_id)
    ORDER BY {S.MMR_LAM!r} * p.rel
             - {1.0 - S.MMR_LAM!r} * coalesce((
                 SELECT max(pr.sim) FROM pairs pr
                 WHERE pr.va = p.vec_id AND list_contains(picked, pr.vb)
               ), 0.0) DESC,
             p.vec_id ASC
    LIMIT 1))
  FROM sel WHERE step < {MMR_K}
)
SELECT CAST(u.rank AS INTEGER) AS rank, u.vec_id, pool.rel
FROM (
  SELECT unnest(picked) AS vec_id, generate_subscripts(picked, 1) AS rank
  FROM sel WHERE step = {MMR_K}
) u JOIN pool ON pool.vec_id = u.vec_id
""",
)
def embedding_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    pool = (
        S.brute_force_topk(emb, probe, MMR_POOL)
        .select("vec_id", F.col("cos_sim").alias("rel"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    return S.mmr_select(pool, MMR_K).select(
        F.col("rank").cast("int").alias("rank"), "vec_id", "rel"
    )


@register(
    "embedding_dim_stats",
    doc=(
        "per-dimension embedding statistics (n / mean / std / min / max) — "
        "the feature-normalization planning pass before whitening or "
        "standardization. posexplode to (dim, v), one map-side-combined "
        "aggregate on the 64-key dim column; mean/var from exact staged "
        "decimal sums of round(v,12) and round(v*v,12), variance arithmetic "
        "a fixed double expression on both engines"
    ),
    oracle="""
SELECT CAST(u.i - 1 AS INTEGER) AS dim,
       count(*) AS n,
       CAST(sum(CAST(round(CAST(u.v AS DOUBLE), 12) AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean,
       sqrt(greatest(
         CAST(sum(CAST(round(CAST(u.v AS DOUBLE) * CAST(u.v AS DOUBLE), 12) AS DECIMAL(28,12))) AS DOUBLE) / count(*)
         - pow(CAST(sum(CAST(round(CAST(u.v AS DOUBLE), 12) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 2),
         0.0)) AS std,
       CAST(min(u.v) AS DOUBLE) AS vmin,
       CAST(max(u.v) AS DOUBLE) AS vmax
FROM (
  SELECT embedding[CAST(u.i AS INTEGER)] AS v, CAST(u.i AS BIGINT) AS i
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
) u
GROUP BY 1
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension stats over the array<float> column (SURVEY.md SS2.6
    extension). Scale shape: posexplode is a narrow 1->64 map; the
    aggregate's key space is the dimensionality (64), so the partial
    aggregation combines map-side and the shuffle carries 64 rows per
    partition. Sums stage as round(12)->DECIMAL(28,12) (values are
    unit-scale, well inside double precision); the variance expression
    E[x^2] - E[x]^2 is the same fixed double arithmetic on both
    engines, clamped at 0 before sqrt."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("v").cast("double")
    sum_v = F.sum(F.round(v, 12).cast("decimal(28,12)")).cast("double")
    sum_v2 = F.sum(F.round(v * v, 12).cast("decimal(28,12)")).cast("double")
    n = F.count(F.lit(1))
    mean = sum_v / n
    var = F.greatest(sum_v2 / n - F.pow(sum_v / n, F.lit(2)), F.lit(0.0))
    return (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            n.alias("n"),
            mean.alias("mean"),
            F.sqrt(var).alias("std"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
        )
    )


IVF_NPROBE = 2


@register(
    "similarity_topk_ivf_indexed",
    doc=(
        f"IVF ANN through the PERSISTED index lifecycle (inverted lists under "
        f"a frozen quantizer, nprobe={IVF_NPROBE} multi-probe): query time "
        "assigns against the broadcast centroid table and touches only the "
        "probed lists — zero corpus-wide scans; merge/remove churn laws "
        "pinned in tests/test_ext_similarity.py"
    ),
    oracle=f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT v.vec_id, v.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_L2_QC} ASC, c.centroid_id ASC) AS rn
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rn = 1
),
q_assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT v.vec_id, v.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_L2_QC} ASC, c.centroid_id ASC) AS rn
    FROM embeddings v CROSS JOIN centroids c
    WHERE v.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT q.vec_id AS q_id, x.vec_id AS vec_id,
         {S.cosine_sql('q.embedding', 'x.embedding')} AS cos_sim
  FROM q_assigned q JOIN assigned x ON q.centroid_id = x.centroid_id AND x.vec_id <> q.vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {S.ANN_K}
""",
)
def similarity_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN query path: centroids + inverted lists are
    persisted artifacts (here built inline from the same corpus the
    oracle sees; the persisted-roundtrip identity is pinned in
    tests/test_ext_similarity.py); nprobe=2 doubles the candidate
    volume for recall — each corpus vector lives in exactly one list,
    so multi-probe needs no dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    lists = S.ivf_index_tables(emb, centroids)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk_indexed(queries, centroids, lists, nprobe=IVF_NPROBE)
    return out.select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


@register(
    "similarity_ivf_churn",
    doc=(
        "IVF index churn lifecycle: remove a vector batch from the inverted "
        "lists (one anti-join — only the lists reference documents), merge "
        "the same batch back under the frozen quantizer — remove∘merge is "
        "the identity, checked against the direct IVF oracle verbatim"
    ),
    oracle=IVF_TOPK_ORACLE,
)
def similarity_ivf_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    lists = S.ivf_index_tables(emb, centroids)
    churn = emb.filter((F.col("vec_id") % 5) == 2)
    after_rm = S.remove_from_ivf_index(lists, churn.select("vec_id"))
    merged = S.merge_into_ivf_index(after_rm, centroids, churn)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk_indexed(queries, centroids, merged, nprobe=1)
    return out.select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


@register(
    "similarity_ivf_quantization_stats",
    doc=(
        "IVF index health monitor: per-list population + quantization error "
        "(mean/max squared L2 to the owning centroid) from the persisted "
        "lists artifact — the drift signal that tells an operator when the "
        "frozen quantizer needs retraining (hot lists and rising error mean "
        "the data distribution has moved since build time)"
    ),
    oracle=f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, centroid_id, d FROM (
    SELECT v.vec_id, v.embedding, c.centroid_id, {_L2_QC} AS d,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_L2_QC} ASC, c.centroid_id ASC) AS rn
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rn = 1
)
SELECT centroid_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(round(d, 12) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
         AS mean_sq_dist,
       round(max(round(d, 12)), 6) AS max_sq_dist
FROM assigned GROUP BY centroid_id
""",
)
def similarity_ivf_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregate over the lists artifact joined to the broadcast
    centroid table — at 100 TB this is the cheap recurring monitor
    (no query traffic, no corpus text), and the per-list counts double
    as the skew signal for probe-cost planning."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    lists = S.ivf_index_tables(emb, centroids)
    d = S.sq_l2(F.col("embedding"), F.col("__cvec"))
    return (
        lists.join(
            F.broadcast(centroids.select("centroid_id", F.col("embedding").alias("__cvec"))),
            "centroid_id",
        )
        .select("centroid_id", F.round(d, 12).alias("d"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("d").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_sq_dist"),
            F.round(F.max("d"), 6).alias("max_sq_dist"),
        )
    )


CROSS_MODAL_BITS = 4
CROSS_MODAL_BANDS = 4
CROSS_MODAL_TAU = 0.5

_SH3 = "list_distinct(list_transform(range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1), i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')))"


def _cross_modal_cand_sql() -> tuple[str, str]:
    """Candidate pairs = same bucket in ANY of the 4 sign-LSH bands
    (OR-of-bands, the standard LSH recall shape), deduped."""
    bands = "\nUNION\n".join(
        f"SELECT a.vec_id AS id_a, b2.vec_id AS id_b\n"
        f"FROM b{o} a JOIN b{o} b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id"
        for o in range(CROSS_MODAL_BANDS)
    )
    withs = ",\n".join(
        f"b{o} AS (SELECT vec_id, "
        + S.sign_lsh_bucket_sql("embedding", CROSS_MODAL_BITS, o * CROSS_MODAL_BITS)
        + " AS bucket FROM embeddings)"
        for o in range(CROSS_MODAL_BANDS)
    )
    return withs, bands


_CM_WITHS, _CM_BANDS = _cross_modal_cand_sql()


@register(
    "dedup_cross_modal",
    doc=(
        "cross-modal near-dup detection: candidates from embedding sign-LSH "
        f"banding ({CROSS_MODAL_BANDS} bands x {CROSS_MODAL_BITS} hyperplane "
        "bits, OR-of-bands — semantic blocking), verified by exact lexical "
        f"3-gram Jaccard >= {CROSS_MODAL_TAU} on the text side; reports both "
        "signals per pair. The curation pattern for paraphrase-heavy "
        "corpora: lexical LSH misses semantically-identical rewrites, "
        "embedding-only matching admits topically-similar non-dupes — the "
        "composition keeps only pairs both modalities agree on. Scale: "
        "banding is never all-pairs, the verify explode rides the candidate "
        "relation only"
    ),
    oracle=f"""
WITH {_CM_WITHS},
cand AS (
{_CM_BANDS}
),
ce AS (
  SELECT c.id_a, c.id_b, {S.cosine_sql('ea.embedding', 'eb.embedding')} AS cos_sim
  FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a JOIN embeddings eb ON eb.vec_id = c.id_b
),
sh AS (
  SELECT doc_id, unnest({_SH3}) AS s FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b3 ON b3.doc_id = c.id_b AND b3.s = a.s
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, c.cos_sim,
       CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
FROM ce c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= {CROSS_MODAL_TAU}
""",
)
def dedup_cross_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.dedup import ngram_jaccard_for_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    # ONE banded relation (vec_id, band, bucket) from a single
    # embeddings scan, self-joined on (band, bucket) — the same shape
    # the text-LSH banding uses; 4 per-band self-joins would re-scan
    # the corpus 8x and pay 4 shuffles for the same pair set.
    banded = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(o).alias("band"),
                        S.sign_lsh_bucket(
                            "embedding", CROSS_MODAL_BITS, offset=o * CROSS_MODAL_BITS
                        ).alias("bucket"),
                    )
                    for o in range(CROSS_MODAL_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "bk.band", "bk.bucket")
    a = banded.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    c = banded.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(c.hint("shuffle_hash"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__ea"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__eb"))
    ce = (
        cand.join(ea.hint("shuffle_hash"), "id_a")
        .join(eb.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", S.cosine(F.col("__ea"), F.col("__eb")).alias("cos_sim"))
    )
    verified = ngram_jaccard_for_pairs(docs, cand, "doc_id", "text").filter(
        F.col("jaccard") >= CROSS_MODAL_TAU
    )
    return verified.join(ce.hint("shuffle_hash"), ["id_a", "id_b"]).select(
        "id_a", "id_b", "cos_sim", "jaccard"
    )
