"""Similarity search over embedding columns (array<float>).

North-star extension. Two paths:

- **Brute-force top-k** — the exact baseline: broadcast the (small)
  query set against the corpus, compute cosine per (query, corpus)
  pair as a pure array expression, take top-k per query with a
  row_number window. Spark ≥3.5's WindowGroupLimit rewrites
  ``row_number <= k`` into partial per-partition top-k *before* the
  shuffle, so the wide exchange carries only k rows per query per
  partition — this is the idiomatic distributed top-k, not a naive
  full sort.
- **Sign-LSH bucketed top-k** — the scale path: bucket vectors by the
  sign pattern of their leading coordinates (axis-aligned random
  hyperplanes; swap in seeded hyperplanes at deployment — the
  plumbing is identical), equi-join query↔corpus on bucket, rerank
  exactly within the bucket. Turns the all-pairs cross product into
  a hash join on a 2^bits-ary key.

Determinism: all dot products accumulate as double left-folds
(``F.aggregate``), bit-identical to the DuckDB oracle's
``list_reduce`` replay — no tolerance needed in comparisons.

No Python in the hot path: everything is built-in higher-order array
functions (JVM, codegen). A Pandas-UDF BLAS variant only wins once
vectors are >~1k dims; at 64–1024 dims the JVM expression is
competitive and avoids Arrow transfer entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_double(a: Column, b: Column) -> Column:
    """Deterministic double dot product: widen each float product to
    double, then left-fold — fixed accumulation order across engines."""
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b)))


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot_double` (1-based list indexing)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


def _sign_lsh_text(vec: str, bits: int, offset: int, base: int) -> str:
    """SQL text of the sign-LSH bucket id; ``base`` is the engine's first
    list index (Spark 0, DuckDB 1), the only difference between the twins."""
    terms = " + ".join(
        f"(CASE WHEN {vec}[{offset + i + base}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


def sign_lsh_bucket(vec_col: str, bits: int = 8, offset: int = 0) -> Column:
    """Axis-aligned sign-LSH bucket id in [0, 2^bits): bit i set iff
    coordinate ``offset + i`` is positive. A narrow map; cosine-similar
    vectors land in the same bucket with probability (1 - θ/π)^bits.
    ``offset`` selects a disjoint coordinate slice so multiple
    independent bands can be derived from one vector (banded LSH).

    One ``F.expr`` from the same text as :func:`sign_lsh_bucket_sql`:
    a Column chain of ``bits`` when/otherwise terms costs a py4j round
    trip per node on every build."""
    return F.expr(_sign_lsh_text(vec_col, bits, offset, 0))


def sign_lsh_bucket_sql(vec: str, bits: int = 8, offset: int = 0) -> str:
    return _sign_lsh_text(vec, bits, offset, 1)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (q_id, vec_id, cos_sim, rank).

    ``queries`` is broadcast — the corpus never shuffles for the
    scoring pass; the only exchange is the WindowGroupLimit-pruned
    top-k consolidation keyed by q_id (tiny: ≤ k rows per query per
    input partition).
    """
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    )
    scored = (
        corpus.crossJoin(q)
        .filter(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            id_col,
            cosine(F.col("q_vec"), F.col(vec_col)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


#: Neighbors kept per query by the approximate top-k operators
#: (:func:`bucketed_topk`, :func:`ivf_topk`, :func:`ivf_topk_indexed`,
#: :func:`pq_adc_topk`).
ANN_K = 5
#: Sign-LSH bucket width of :func:`bucketed_topk`.
LSH_BITS = 8


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-``ANN_K``: candidates restricted to the query's sign-LSH
    bucket, exact cosine rerank inside. The cross product becomes an
    equi-join on bucket — at 100 TB the corpus is hash-partitioned
    (or bucketed at rest) on the LSH key and the probe touches one
    partition per query."""
    from pyspark.sql import Window

    cb = corpus.select(id_col, vec_col, sign_lsh_bucket(vec_col, LSH_BITS).alias("bucket"))
    qb = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            sign_lsh_bucket(vec_col, LSH_BITS).alias("bucket"),
        )
    )
    scored = (
        cb.join(qb, "bucket")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", id_col, cosine(F.col("q_vec"), F.col(vec_col)).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= ANN_K)


def sq_l2(a: Column, b: Column) -> Column:
    """Deterministic squared-L2 distance (double left-fold of squared
    coordinate differences)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def sq_l2_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(x, y) -> x + y)"
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared-L2 argmin,
    ties → lowest centroid id): the IVF coarse quantizer.

    Broadcast the (small) centroid table, score every (vector,
    centroid) pair, keep the argmin per vector via a row_number
    window — WindowGroupLimit prunes to one row per vector before the
    shuffle. Centroid training (k-means) happens out of band at
    deployment; here centroids are any DataFrame of
    (centroid_id, vec) — the assignment/probe plumbing is identical.
    """
    return ivf_assign_n(vectors, centroids, 1, id_col, vec_col, centroid_id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-``ANN_K`` (nprobe=1): assign corpus and queries to
    centroids, equi-join on centroid id, exact cosine rerank within
    the probed list. At 100 TB the corpus is partitioned (or bucketed
    at rest) by centroid id, so a query touches one inverted list —
    the IVF trade: recall bounded by the quantizer, cost bounded by
    list size. Raise recall with more probes (join on the n nearest
    centroids) — same plumbing."""
    from pyspark.sql import Window

    corpus_a = ivf_assign(corpus, centroids, id_col, vec_col)
    queries_a = ivf_assign(queries, centroids, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), F.col("centroid_id")
    )
    scored = (
        corpus_a.join(F.broadcast(queries_a), "centroid_id")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", id_col, cosine(F.col("q_vec"), F.col(vec_col)).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= ANN_K)


# ---------------------------------------------------------------------------
# IVF index lifecycle: persisted inverted lists + frozen-quantizer churn
# ---------------------------------------------------------------------------


def ivf_assign_n(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Each vector's ``nprobe`` nearest centroids (squared-L2, ties →
    lowest centroid id): the multi-probe generalization of
    :func:`ivf_assign` (which is the ``nprobe=1`` special case). Used
    on the QUERY side — probing n lists buys recall linearly in list
    volume touched, the standard IVF dial."""
    from pyspark.sql import Window

    c = F.broadcast(
        centroids.select(F.col(centroid_id_col), F.col(vec_col).alias("__cvec"))
    )
    scored = vectors.crossJoin(c).withColumn("__dist", sq_l2(F.col(vec_col), F.col("__cvec")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__dist").asc(), F.col(centroid_id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .drop("__rn", "__dist", "__cvec")
    )


def ivf_index_tables(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the persistable IVF artifact: the inverted-list table
    (centroid_id, id, vec). Write it partitioned/bucketed by
    ``centroid_id`` so a query's probe prunes to its lists at the
    scan — the at-rest layout IS the index (same story as the BM25
    postings bucketed by term). The centroid table itself is the
    second, broadcast-sized artifact; it is persisted as-is.

    The quantizer is FROZEN at build time: every lifecycle operation
    below (probe, merge, remove) assigns against these exact
    centroids, which is what makes merge == rebuild an exact equality
    rather than an approximation (standard IVF incremental add —
    FAISS's IndexIVF.add does the same)."""
    return ivf_assign(corpus, centroids, id_col, vec_col).select(
        "centroid_id", F.col(id_col), F.col(vec_col)
    )


def ivf_topk_indexed(
    queries: DataFrame,
    centroids: DataFrame,
    lists: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-``ANN_K`` against prebuilt artifacts: queries assign to their
    ``nprobe`` nearest centroids (broadcast centroid table, no corpus
    work), then equi-join the persisted inverted lists and exact-
    cosine rerank inside the probed lists. Query cost is bounded by
    Σ probed list sizes; the corpus is never scanned beyond the
    probed partitions. ``nprobe=1`` returns exactly
    :func:`ivf_topk`'s rows on the same corpus/centroids (pinned by
    test); higher nprobe is a strict superset of candidates, so
    recall is monotone in it (also pinned)."""
    from pyspark.sql import Window

    queries_a = ivf_assign_n(queries, centroids, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "centroid_id"
    )
    scored = (
        lists.join(F.broadcast(queries_a), "centroid_id")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", id_col, cosine(F.col("q_vec"), F.col(vec_col)).alias("cos_sim"))
    )
    # a corpus vector can appear under several probed centroids of the
    # SAME query only via distinct lists — impossible here because each
    # corpus vector lives in exactly one list; no dedup needed.
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= ANN_K)


def merge_into_ivf_index(
    lists: DataFrame,
    centroids: DataFrame,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fold a new vector batch into the inverted lists under the
    FROZEN quantizer: assign against the existing centroids, append.
    Exactly equal to rebuilding the lists over the concatenated
    corpus with the same centroids (pinned by test) — the quantizer
    never moves, so no other row changes.

    Disjoint ids ENFORCED the same way the BM25 merge enforces them
    (one eager LIMIT-1 probe): an overlapping id would leave the old
    vector in its list alongside the new one, silently corrupting
    every subsequent top-k."""
    ids = new_vecs.select(id_col).distinct()
    overlap = lists.join(F.broadcast(ids), id_col, "left_semi").limit(1).take(1)
    if overlap:
        raise ValueError(
            f"merge_into_ivf_index: {id_col} already indexed; merge requires "
            "disjoint ids (remove_from_ivf_index the stale version first)"
        )
    return lists.unionByName(ivf_index_tables(new_vecs, centroids, id_col, vec_col))


def remove_from_ivf_index(
    lists: DataFrame, remove_ids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Delete vectors from the inverted lists: one anti-join — the
    lists table is the only artifact that references documents (the
    frozen centroid table doesn't change), so IVF deletion is exact
    and trivial where BM25's needed df/stats subtraction. shuffle_hash
    hinted (not forced broadcast): a purge batch is unbounded; AQE
    upgrades small ones."""
    ids = remove_ids.select(id_col).distinct()
    # re-select in the input's column order: Spark's string-key join
    # moves the key first, which would silently flip the persisted
    # artifact layout across a churn cycle
    return lists.join(ids.hint("shuffle_hash"), id_col, "left_anti").select(*lists.columns)


#: above this corpus size, near_dup_pairs refuses the global-matrix
#: path (driver collect + n·d broadcast) and switches to the banded
#: bucketed plan, which never materializes the corpus anywhere.
NEAR_DUP_EXACT_MAX_ROWS = 500_000

#: Output of both near-dup paths.
_PAIRS_SCHEMA = "id_a long, id_b long, cos_sim double"


def _unit_rows(vecs, vec_col: str):
    """Arrow list array, one vector per row -> row-normalized float64
    matrix, read as one flat buffer. Flattening skips NULL lists and
    runs ragged rows together, so either would silently misalign the
    rows: both are refused here instead."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    lo, hi = (v.as_py() for v in pc.min_max(pc.list_value_length(vecs)).values())
    if vecs.null_count or lo != hi:
        raise ValueError(
            f"near-dup verify: {vec_col} needs non-NULL vectors of one length, "
            f"got lengths {lo}..{hi} and {vecs.null_count} NULL"
        )
    mat = vecs.flatten().to_numpy(zero_copy_only=False)
    mat = mat.reshape(len(vecs), hi or 0).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat


def _pairs(ids_a, ids_b, sims):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(ids_a, pa.int64()), pa.array(ids_b, pa.int64()), pa.array(sims, pa.float64())],
        names=["id_a", "id_b", "cos_sim"],
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_exact_rows: int = NEAR_DUP_EXACT_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ τ).

    Exact all-pairs, computed as a **broadcast matrix product**: the
    (normalized) corpus matrix is collected with ``toArrow`` and
    broadcast to every executor — the same pattern as broadcasting a
    dimension table — and each partition multiplies its own rows
    against it with one BLAS matmul inside ``mapInArrow``. A JVM
    expression per pair would be an interpreted 64-element fold ×
    O(n²) pairs (~70 s at sf0.1 vs ~2 s for this plan); per-pair
    Python would be worse still. NULL vectors are dropped first: their
    cosine is NULL, so they pair with nothing.

    Valid while n·d floats fit in driver + executor memory (n≈10⁶·
    d=1024 ≈ 8 GB). Above ``max_exact_rows`` the call dispatches to
    :func:`near_dup_pairs_bucketed` — the 100 TB path, at the price of
    LSH recall < 1 — instead of OOMing the driver.

    Float note: float64 BLAS accumulation differs from a sequential
    fold only below ~1e-14 relative — invisible at the oracle's
    10-significant-digit comparison.
    """
    import numpy as np

    vecs = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    # Dispatch probe: LIMIT cap+1 short-circuits the scan at the first
    # cap+1 rows instead of counting the whole (possibly 100 TB) input
    # just to learn "big" — the full count's answer beyond the cap is
    # irrelevant.
    if vecs.limit(max_exact_rows + 1).count() > max_exact_rows:
        return near_dup_pairs_bucketed(df, threshold, id_col, vec_col)

    corpus = vecs.toArrow()
    ids = corpus.column(id_col).to_numpy()
    bc = df.sparkSession.sparkContext.broadcast((ids, _unit_rows(corpus.column(vec_col), vec_col)))

    def run(batches):
        all_ids, all_mat = bc.value
        for batch in batches:
            part_ids = batch.column(id_col).to_numpy()
            sims = _unit_rows(batch.column(vec_col), vec_col) @ all_mat.T
            rows, cols = np.nonzero((sims >= threshold) & (part_ids[:, None] < all_ids[None, :]))
            yield _pairs(part_ids[rows], all_ids[cols], sims[rows, cols])

    return vecs.mapInArrow(run, _PAIRS_SCHEMA)


#: Per-(band, bucket) row bound for near_dup_pairs_bucketed. A block
#: unites at most two salt groups, so the verify matmul is bounded at
#: (2·cap)² float64 ≈ 0.5 GB at the default — fixed executor memory
#: regardless of corpus shape.
MAX_BUCKET_ROWS = 4096


def near_dup_pairs_bucketed(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_bands: int = 4,
    max_bucket_rows: int = MAX_BUCKET_ROWS,
) -> DataFrame:
    """Banded sign-LSH near-duplicate pairs — the 100 TB path.

    Each vector gets ``n_bands`` bucket ids from disjoint coordinate
    slices (band b = sign pattern of dims [b·bits, (b+1)·bits)); a
    pair becomes a candidate iff it collides in ANY band — the same
    band/bucket construction MinHash-LSH uses for text (ext/dedup.py),
    applied in embedding space. One scan explodes every row into its
    ``n_bands`` (band, bucket) keys (NULL vectors are dropped first:
    their cosine is NULL, so they pair with nothing). Candidates are
    verified with one BLAS matmul per (band, bucket) group inside
    ``applyInArrow``, which reads the group's vectors as one flat Arrow
    buffer; pairs caught by several bands are deduplicated with a final
    (id_a, id_b) aggregate.

    Nothing is ever collected to the driver and no global matrix is
    broadcast: the only movement is an n·n_bands-row shuffle keyed on
    (band, bucket); recall is 1-(1-(1-θ/π)^bits)^n_bands.

    Mega-bucket escalation (block decomposition): a bucket with more
    than ``max_bucket_rows`` members — think a boilerplate-heavy or
    all-similar corpus where more sign bits cannot split identical
    vectors — is salted into S = ceil(n/cap) groups by id hash, and
    each member is replicated to its S block-pairs (sa ≤ sb). Every
    within-bucket pair lands in exactly one block ((min, max) of the
    two salts, enforced by a salt mask inside verify), so pair
    coverage is EXACT while each verify task holds at most two salt
    groups ≈ 2·cap rows — the bucket's n² matmul becomes S² bounded
    block matmuls, the classic tiled decomposition. Work stays
    quadratic in the bucket (inherent to exact verification); memory
    does not. The bucket-size census is a map-side-partial count on
    (band, bucket) — ≤ 2^bits·n_bands rows — broadcast back, so no
    second shuffle of the vectors.

    Exactness within a bucket: identical normalization + matmul as the
    global path, so bucketed output ⊆ exact output with equal cos_sim
    values (pinned by tests/test_ext_similarity.py), and block
    results are value-identical to a single whole-bucket matmul (each
    pairwise dot product involves only the two rows' dims).
    """
    import numpy as np
    import pyarrow as pa

    # One scan: an array of (band, bucket) structs exploded per row, not
    # a union of per-band selects, which reads the input n_bands times
    # on each side of the census join.
    band_keys = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                sign_lsh_bucket(vec_col, bits, band * bits).alias("bucket"),
            )
            for band in range(n_bands)
        ]
    )
    banded = df.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col, F.inline(band_keys))

    # Bucket census: one row per (band, bucket) — at most 2^bits rows
    # per band by construction, always broadcastable for sane bits.
    counts = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__n"))
    sized = banded.join(F.broadcast(counts), ["band", "bucket"])
    n_blocks = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.col("__n") / F.lit(max_bucket_rows))
    ).cast("int")
    salt = F.pmod(F.xxhash64(F.col(id_col)), n_blocks).cast("int")
    sized = sized.withColumns({"__nb": n_blocks, "__salt": salt})
    blocks = F.transform(
        F.sequence(F.lit(0), F.col("__nb") - 1),
        lambda i: F.struct(
            F.least(i, F.col("__salt")).alias("sa"),
            F.greatest(i, F.col("__salt")).alias("sb"),
        ),
    )
    exploded = sized.select(id_col, vec_col, "band", "bucket", "__salt", F.inline(blocks))

    def verify(key, table):
        ids = table.column(id_col).to_numpy()
        mat = _unit_rows(table.column(vec_col), vec_col)
        sims = mat @ mat.T
        # Canonical-block mask: a pair belongs to block (min(salts),
        # max(salts)) only — dedups replicated members across blocks.
        salts = table.column("__salt").to_numpy()
        sa, sb = key[2].as_py(), key[3].as_py()
        canonical = ((salts[:, None] == sa) & (salts[None, :] == sb)) | (
            (salts[:, None] == sb) & (salts[None, :] == sa)
        )
        rows, cols = np.nonzero(
            (sims >= threshold) & (ids[:, None] < ids[None, :]) & canonical
        )
        return pa.Table.from_batches([_pairs(ids[rows], ids[cols], sims[rows, cols])])

    pairs = exploded.groupBy("band", "bucket", "sa", "sb").applyInArrow(verify, _PAIRS_SCHEMA)
    return pairs.groupBy("id_a", "id_b").agg(F.max("cos_sim").alias("cos_sim"))


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster embeddings with a coarse quantizer, then drop any vector
    whose cosine to a *lower-id vector in the same cluster* is ≥ τ.

    Output: (id, cluster_id, keep). The all-pairs comparison is
    confined to cluster mates — the equi-join on cluster id is the
    same shape as the LSH-bucket join in text dedup, so cost scales
    with cluster sizes, not corpus². At 100 TB the corpus is written
    partitioned by cluster id and each partition dedups locally with
    zero cross-partition traffic; skewed mega-clusters are the known
    failure mode and get the standard salting/centroid-split
    treatment upstream.
    """
    # assigned feeds both self-join sides AND the final keep join;
    # Spark shares no non-cached subtree, so without materialization
    # the centroid-scoring argmin runs three times over the corpus.
    assigned = ivf_assign(df, centroids, id_col, vec_col).select(
        id_col, vec_col, F.col("centroid_id").alias("cluster_id")
    ).localCheckpoint(eager=True)
    a = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
    )
    # The checkpoint above erases optimizer stats, so both joins below
    # would default to sort-merge; pin shuffle-hash (same rationale as
    # dedup_pipeline's keep/drop join — neither side is safely
    # broadcastable at corpus scale, and SHJ skips the sorts).
    dup_pairs = (
        a.join(b.hint("shuffle_hash"), "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("vec_a"), F.col("vec_b")) >= F.lit(threshold))
    )
    drops = dup_pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "__drop", F.lit(True)
    )
    return (
        assigned.join(drops.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (FAISS-style ADC)
# ---------------------------------------------------------------------------

def pq_codebooks(
    train: DataFrame,
    n_sub: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(s, cid, sub): one codebook per subspace — here each training
    vector contributes its s-th subvector as entry ``cid`` (a
    deterministic stand-in for per-subspace k-means training; the
    encode/probe plumbing is identical whatever produced the
    entries). Broadcast-sized: n_sub × |train| rows."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias("sub"),
            )
            for s in range(n_sub)
        ]
    )
    return train.select(F.col(id_col).alias("cid"), F.explode(subs).alias("e")).select(
        "e.s", "cid", "e.sub"
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, s, code): each vector's nearest codebook entry per
    subspace (squared-L2 argmin, ties → lowest cid).

    The encoded corpus is n_sub small ints per vector — the 32×
    compression that lets a 100 TB corpus's index live in memory.
    Narrow map over the corpus + broadcast codebook join; one
    aggregate keyed by (id, s) with partial combine.
    """
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias("sub"),
            )
            for s in range(n_sub)
        ]
    )
    vec_subs = df.select(F.col(id_col), F.explode(subs).alias("e")).select(
        id_col, "e.s", F.col("e.sub").alias("vsub")
    )
    scored = vec_subs.join(F.broadcast(codebooks), "s").withColumn(
        "__d", sq_l2(F.col("vsub"), F.col("sub"))
    )
    return scored.groupBy(id_col, "s").agg(
        F.min_by("cid", F.array(F.col("__d"), F.col("cid").cast("double"))).alias("code")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    train: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-``ANN_K`` via Asymmetric Distance Computation:
    queries stay full-precision, corpus vectors are their PQ codes,
    distance ≈ Σ_s lookup(q, s, code[v][s]).

    The ADC lookup table (query × subspace × codebook entry) is
    broadcast-sized; the per-(query, vector) sum folds an
    array_sort'ed (s, d) list sequentially so the double accumulation
    order is engine-identical (same rule as every other float fold
    here). Output: (q_id, vec_id, approx_dist, rank).
    """
    from pyspark.sql import Window

    codebooks = pq_codebooks(train, n_sub, sub_dim, id_col, vec_col)
    codes = pq_encode(corpus, codebooks, n_sub, sub_dim, id_col, vec_col)

    q_subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias("sub"),
            )
            for s in range(n_sub)
        ]
    )
    adc = (
        queries.select(F.col(id_col).alias("q_id"), F.explode(q_subs).alias("e"))
        .select("q_id", "e.s", F.col("e.sub").alias("qsub"))
        .join(F.broadcast(codebooks), "s")
        .select("q_id", "s", F.col("cid").alias("code"), sq_l2(F.col("qsub"), F.col("sub")).alias("d"))
    )
    partials = codes.join(F.broadcast(adc), ["s", "code"]).filter(
        F.col(id_col) != F.col("q_id")
    )
    dist = (
        partials.groupBy("q_id", id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("s", "d"))),
                F.lit(0.0),
                lambda acc, x: acc + x["d"],
            ).alias("approx_dist")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
    return dist.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= ANN_K)


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: adds ``scale``, ``q``
    (array<int>), and ``max_err`` (max absolute reconstruction error,
    ≤ scale/2 by construction) columns.

    ``scale = max(|v|)/127``; ``q_i = floor(v_i/scale + 0.5)`` — the
    half-up rule is written out arithmetically so any engine computes
    the identical lattice (no banker's-rounding ambiguity), which is
    what makes the DuckDB oracle value-exact. Zero vectors get NULL
    scale (nullif) → NULL q; the caller decides their fate.

    Scale story: int8 is 4× smaller than float32 — at 100 TB of
    embeddings that is the difference between an in-memory ANN probe
    and spilling; the dequantized dot product needs only q·q' rescaled
    by scale·scale'. All expressions are JVM array ops (no Python);
    for the hot path a fused Arrow pandas_udf over mapInPandas is the
    10×-faster variant, but this query is about the storage contract.
    """
    return (
        df.withColumn("__vd", F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))"))
        .withColumn(
            "scale",
            F.expr(
                "nullif(aggregate(__vd, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x))),"
                " CAST(0 AS DOUBLE)) / 127"
            ),
        )
        .withColumn("q", F.expr("transform(__vd, x -> CAST(floor(x / scale + 0.5D) AS INT))"))
        .withColumn(
            "max_err",
            F.expr(
                "aggregate(zip_with(__vd, q, (x, qq) -> abs(x - qq * scale)),"
                " CAST(0 AS DOUBLE), (a, x) -> greatest(a, x))"
            ),
        )
        .drop("__vd")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection + projected-shortlist rerank
# ---------------------------------------------------------------------------

#: Seed for the shared ±1 projection matrix. The matrix is generated
#: in Python (Mersenne Twister, deterministic) and embedded as sign
#: literals in BOTH the Spark expression and the SQL oracle — the
#: projection is part of the operator contract, like a shipped model.
RP_SEED = 1234
RP_OUT_DIM = 16
#: :func:`projected_rerank_topk` reranks the top ``k·RP_SHORTLIST_MULT``
#: projected candidates exactly.
RP_SHORTLIST_MULT = 4


def _rp_signs(in_dim: int) -> list[list[int]]:
    import random

    rng = random.Random(RP_SEED)
    return [[1 if rng.random() < 0.5 else -1 for _ in range(in_dim)] for _ in range(RP_OUT_DIM)]


def random_projection(vec: str, in_dim: int) -> Column:
    """JL sign random projection to ``RP_OUT_DIM`` dims: y_j = Σ_i ±x_i,
    as a fully codegen'd unrolled expression (no interpreted HOFs, no
    UDF). With ±1 entries each output coordinate is a fixed
    left-associative chain of adds/subtracts of the (double-widened)
    inputs — bit-deterministic, so the SQL oracle replays it exactly.

    ``vec`` is a Spark-SQL expression string (column name), not a
    Column: the whole RP_OUT_DIM×in_dim tree is built as ONE ``F.expr``
    text and parsed JVM-side in a single call — building it from
    Column operators costs ~3 000 py4j round-trips (~5 s of plan
    analysis per query, measured), 12× the whole query.

    Scale story: projecting 64→16 dims cuts the candidate-scoring
    bytes and FLOPs 4× before the exact rerank touches full vectors —
    the standard two-stage ANN shortcut (JL lemma bounds the distance
    distortion; the rerank restores exactness of the final ranking
    within the shortlist).
    """
    signs = _rp_signs(in_dim)
    coords = []
    for j in range(RP_OUT_DIM):
        terms = []
        for i in range(in_dim):
            t = f"CAST({vec}[{i}] AS DOUBLE)"
            terms.append(t if signs[j][i] > 0 else f"(- {t})")
        coords.append(" + ".join(terms))
    return F.expr("array(" + ", ".join(coords) + ")")


def random_projection_sql(vec: str, in_dim: int) -> str:
    """DuckDB twin of :func:`random_projection` at ``RP_OUT_DIM`` dims —
    same signs, same left-associative order (1-based list indexing)."""
    signs = _rp_signs(in_dim)
    coords = []
    for j in range(RP_OUT_DIM):
        terms = []
        for i in range(in_dim):
            t = f"CAST({vec}[{i + 1}] AS DOUBLE)"
            terms.append(t if signs[j][i] > 0 else f"(- {t})")
        coords.append(" + ".join(terms))
    return "[" + ", ".join(coords) + "]"


def projected_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: shortlist by projected dot product (cheap,
    ``RP_OUT_DIM``-dim), exact-cosine rerank of the ``k·RP_SHORTLIST_MULT``
    survivors (full ``in_dim``-dim) — top-k per query.

    Same physical shape as :func:`brute_force_topk` (broadcast
    queries, WindowGroupLimit top-k consolidation), but the wide
    crossJoin phase carries ONLY (q_id, id, projected score) — three
    narrow values per pair; the full ``in_dim`` vectors are joined
    back to the ≤ k·RP_SHORTLIST_MULT survivors for the exact rerank
    (the survivors are broadcast into the checkpointed projected
    corpus). The projected corpus is lazily checkpointed so
    CollapseProject cannot push the RP_OUT_DIM×in_dim projection past the
    join — it must evaluate once per corpus ROW, never once per PAIR.
    """
    from pyspark.sql import Window

    cp = corpus.select(
        id_col, vec_col, random_projection(vec_col, in_dim).alias("__p")
    ).localCheckpoint(eager=False)
    q_all = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("__q_vec"),
        random_projection(vec_col, in_dim).alias("__q_p"),
    )
    scored = (
        cp.select(id_col, "__p")
        .crossJoin(F.broadcast(q_all.select("q_id", "__q_p")))
        .filter(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            id_col,
            dot_double(F.col("__q_p"), F.col("__p")).alias("__pscore"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("__pscore").desc(), F.col(id_col).asc())
    short = (
        scored.withColumn("__rs", F.row_number().over(w))
        .filter(F.col("__rs") <= k * RP_SHORTLIST_MULT)
        .select("q_id", id_col)
    )
    reranked = (
        cp.select(id_col, vec_col)
        .join(F.broadcast(short), id_col)
        .join(F.broadcast(q_all.select("q_id", "__q_vec")), "q_id")
        .select("q_id", id_col, cosine(F.col("__q_vec"), F.col(vec_col)).alias("cos_sim"))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return reranked.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


#: MMR relevance weight; ``1 - MMR_LAM`` weighs redundancy.
MMR_LAM = 0.7


def mmr_select(
    pool: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98): greedily pick ``k`` items maximizing
    ``MMR_LAM * rel - (1 - MMR_LAM) * max_sim_to_already_selected``.

    ``pool`` is the (id, vec, rel) candidate relation — in production
    the top-N output of a retrieval stage, so it is SMALL by
    construction; MMR is a rerank operator, never a corpus scan. The
    pool and its pairwise cosine matrix are checkpointed once; each of
    the ``k`` greedy rounds is a left-anti + left join + global top-1
    over the pool-sized relation (no driver collect, no Python loop
    over rows — the loop is over ROUNDS, exactly like Lloyd iterations
    in ext/cluster.py). Determinism: cosines are ordered folds
    (dot_double), ties break on ascending id.

    Returns (rank, id, rel) with rank = selection order 1..k.
    """
    pool = pool.select(id_col, vec_col, rel_col).localCheckpoint(eager=True)
    a = pool.select(F.col(id_col).alias("va"), F.col(vec_col).alias("__xa"))
    b = pool.select(F.col(id_col).alias("vb"), F.col(vec_col).alias("__xb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("va") != F.col("vb"))
        .select("va", "vb", cosine(F.col("__xa"), F.col("__xb")).alias("sim"))
        .localCheckpoint(eager=True)
    )

    spark = pool.sparkSession
    # Seed-frame id type comes from the pool schema — MMR must work
    # for string/int ids, not only long (round-4 ADVICE item 3).
    id_type = pool.schema[id_col].dataType.simpleString()
    sel = spark.createDataFrame([], f"rank int, {id_col} {id_type}")
    for step in range(1, k + 1):
        msim = (
            pairs.join(
                F.broadcast(sel.select(F.col(id_col).alias("vb"))), "vb"
            )
            .groupBy("va")
            .agg(F.max("sim").alias("__m"))
            .withColumnRenamed("va", id_col)
        )
        cand = (
            pool.join(F.broadcast(sel.select(id_col)), id_col, "left_anti")
            .join(F.broadcast(msim), id_col, "left")
            .withColumn(
                "__mmr",
                F.lit(MMR_LAM) * F.col(rel_col)
                - F.lit(1.0 - MMR_LAM) * F.coalesce(F.col("__m"), F.lit(0.0)),
            )
        )
        pick = (
            cand.orderBy(F.col("__mmr").desc(), F.col(id_col).asc())
            .limit(1)
            .select(F.lit(step).alias("rank"), F.col(id_col))
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.join(F.broadcast(pool.select(id_col, rel_col)), id_col).select(
        "rank", id_col, rel_col
    )
