"""Unit tests for similarity search, multimodal plumbing, streaming."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import multimodal as M
from spk_sl_validation_spark.ext import similarity as S


def test_cosine_exact(spark):
    df = spark.createDataFrame([Row(a=[1.0, 0.0, 2.0], b=[2.0, 1.0, 0.0])])
    got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    expected = 2.0 / (math.sqrt(5.0) * math.sqrt(5.0))
    assert abs(got - expected) < 1e-15


def test_brute_force_topk_order(spark):
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.9, 0.1]),
            Row(vec_id=3, embedding=[0.0, 1.0]),
            Row(vec_id=4, embedding=[-1.0, 0.0]),
        ]
    )
    queries = corpus.filter(F.col("vec_id") == 1)
    out = S.brute_force_topk(corpus, queries, k=2).collect()
    assert [(r.vec_id, r.rank) for r in sorted(out, key=lambda r: r.rank)] == [(2, 1), (3, 2)]


def test_sign_lsh_bucket_groups_similar(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 1.0, -1.0, 1.0]),
            Row(vec_id=2, embedding=[2.0, 0.5, -0.1, 3.0]),
            Row(vec_id=3, embedding=[-1.0, -1.0, 1.0, -1.0]),
        ]
    )
    buckets = {
        r.vec_id: r.b
        for r in df.select("vec_id", S.sign_lsh_bucket("embedding", 4).alias("b")).collect()
    }
    assert buckets[1] == buckets[2] != buckets[3]


def test_media_roundtrip_and_decode(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="hello world")])
    media = M.as_media_table(docs)
    meta = media.transform(M.media_meta).collect()[0]
    assert meta.n_bytes == 11
    assert meta.content_md5 == hashlib.md5(b"hello world").hexdigest()

    decoded = M.decode_media(media).collect()[0]
    w, h, c = M._decode_fake(b"hello world")
    assert (decoded.width, decoded.height, decoded.channels, decoded.ok) == (w, h, c, True)


def test_decode_unregistered_type_flags_not_ok(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="x")])
    media = M.as_media_table(docs).withColumn("media_type", F.lit("image/png"))
    decoded = M.decode_media(media).collect()[0]
    assert not decoded.ok


def test_byte_histogram_sums_to_one(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="abcdefgh")])
    media = M.as_media_table(docs)
    feats = media.select(M.byte_histogram(F.col("media")).alias("f")).collect()[0].f
    assert len(feats) == M.N_BINS
    assert abs(sum(feats) - 1.0) < 1e-12
    # 'a'..'h' are 0x61-0x68 → all in bin 6
    assert feats[6] == 1.0


def test_frame_sample_shapes(spark):
    text = "x" * 300
    docs = spark.createDataFrame([Row(doc_id=1, text=text)])
    frames = M.sample_frames(M.as_media_table(docs)).collect()
    assert [f.frame_idx for f in sorted(frames, key=lambda f: f.frame_idx)] == [0, 1, 2]
    raw = text.encode()
    assert frames[0].frame_md5 == hashlib.md5(raw[0:64]).hexdigest()


def test_streaming_matches_batch(spark, sf_dir):
    from spk_sl_validation_spark.sources.readers import load_table
    from spk_sl_validation_spark.streaming import pipeline as P

    stream = P.stream_events(spark, sf_dir)
    got = P.run_available_now(P.windowed_counts(stream), "complete")
    ev = load_table(spark, sf_dir, "events")
    expected = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    diff = got.select("window_start", "event_type", "n").exceptAll(expected)
    assert diff.count() == 0


def test_quantize_int8_bounds(spark, sf_dir):
    from spk_sl_validation_spark.ext.similarity import quantize_int8
    from spk_sl_validation_spark.sources.readers import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    out = quantize_int8(emb, "embedding")
    bad = out.filter(
        (F.col("max_err") > F.col("scale") / 2 + 1e-12)
        | (F.expr("exists(q, x -> x < -127 OR x > 127)"))
    ).count()
    assert bad == 0
    # dequantized dot self-product approximates the true norm
    row = out.select(
        F.expr("aggregate(zip_with(embedding, embedding, (a,b) -> CAST(a AS DOUBLE)*b), CAST(0 AS DOUBLE), (a,x) -> a+x)").alias("true_sq"),
        (F.expr("aggregate(zip_with(q, q, (a,b) -> CAST(a AS DOUBLE)*b), CAST(0 AS DOUBLE), (a,x) -> a+x)") * F.col("scale") * F.col("scale")).alias("deq_sq"),
    ).first()
    assert abs(row.true_sq - row.deq_sq) <= 0.05 * max(row.true_sq, 1e-9)


def test_pq_train_vectors_encode_to_themselves(spark, sf_dir):
    """A training vector's subvectors are themselves codebook entries,
    so its PQ code in every subspace must be its own cid (distance 0)."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.similarity import pq_codebooks, pq_encode
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") < 8)
    cb = pq_codebooks(train, n_sub=8, sub_dim=8)
    codes = pq_encode(train, cb, n_sub=8, sub_dim=8)
    bad = codes.filter(F.col("code") != F.col("vec_id")).count()
    assert bad == 0


def test_semantic_dedup_keeps_cluster_minimum(spark, sf_dir):
    """The lowest-id vector of each cluster can never be dropped (drops
    require a LOWER-id near-dup in the same cluster)."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.similarity import semantic_dedup
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = semantic_dedup(emb, centroids, threshold=0.0)  # maximally aggressive
    mins = out.groupBy("cluster_id").agg(F.min("vec_id").alias("vec_id"))
    dropped_min = out.join(mins, ["cluster_id", "vec_id"]).filter(~F.col("keep")).count()
    assert dropped_min == 0
    # τ=0 drops every non-minimum cluster mate with cos >= 0 — sanity that drops occur
    assert out.filter(~F.col("keep")).count() > 0


def test_near_dup_bucketed_subset_of_exact(spark, sf_dir):
    """Bucketed pairs ⊆ exact pairs, with identical cos_sim where they
    overlap (same normalization + BLAS verify inside each bucket)."""
    from spk_sl_validation_spark.ext.similarity import near_dup_pairs, near_dup_pairs_bucketed
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b): r.cos_sim for r in near_dup_pairs(emb, 0.4).collect()}
    bucketed = {
        (r.id_a, r.id_b): r.cos_sim for r in near_dup_pairs_bucketed(emb, 0.4).collect()
    }
    assert bucketed, "banding found no pairs at all"
    assert set(bucketed) <= set(exact)
    for pair, sim in bucketed.items():
        assert abs(sim - exact[pair]) < 1e-12


def test_near_dup_dispatches_to_bucketed_above_cap(spark, sf_dir):
    """Above max_exact_rows the global-matrix (driver collect) path must
    not run — the call routes to the banded plan."""
    from spk_sl_validation_spark.ext.similarity import near_dup_pairs, near_dup_pairs_bucketed
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    routed = near_dup_pairs(emb, 0.4, max_exact_rows=10)  # force the big-corpus branch
    direct = near_dup_pairs_bucketed(emb, 0.4)
    got = {(r.id_a, r.id_b, round(r.cos_sim, 12)) for r in routed.collect()}
    want = {(r.id_a, r.id_b, round(r.cos_sim, 12)) for r in direct.collect()}
    assert got == want


def test_multimodal_features_oracle_byte_true_on_non_ascii(spark, tmp_path):
    """The features oracle must bin raw UTF-8 BYTES (high hex nibble),
    not characters — a multi-byte document would silently diverge
    under a char-based replay even though the ASCII testdata agrees."""
    import duckdb
    import pandas as pd

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["plain ascii", "naïve café — übermäßig", "数据 テスト 데이터"],
            "lang": ["en", "de", "zh"],
            "source": ["t", "t", "t"],
            "n_chars": [11, 22, 10],
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(f"{sf_dir}/__docs_tmp")
    import glob
    import shutil

    shutil.move(glob.glob(f"{sf_dir}/__docs_tmp/part-*.parquet")[0], f"{sf_dir}/documents.parquet")

    spec = REGISTRY["multimodal_features"]
    spdf = spec.builder(spark, sf_dir).toPandas().sort_values("doc_id").reset_index(drop=True)

    con = duckdb.connect()
    con.register("documents", docs)
    ddf = con.execute(spec.oracle).df().sort_values("doc_id").reset_index(drop=True)
    assert list(spdf["features"]) == list(ddf["features"])


def test_near_dup_bucketed_mega_bucket_escalation(spark):
    """Degenerate all-similar corpus: every vector lands in ONE
    (band, bucket) and more sign bits cannot split it — the block
    decomposition must bound each verify task at ~2·cap rows while
    keeping pair coverage exact (all C(n,2) pairs, cos_sim 1.0)."""
    n, cap = 300, 50
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(v) for v in [1.0, 2.0, -0.5, 3.0, 0.25, -1.5, 2.5, 0.75]]).alias(
            "embedding"
        ),
    )
    out = S.near_dup_pairs_bucketed(emb, 0.99, bits=4, n_bands=2, max_bucket_rows=cap)
    rows = out.collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(abs(r.cos_sim - 1.0) < 1e-12 for r in rows)


def test_near_dup_bucketed_escalation_value_identical(spark, sf_dir):
    """Forcing heavy escalation (cap=8) on the real embeddings table
    must produce the identical pair set and cos_sim values as the
    unescalated path — block decomposition is exact, not approximate."""
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = {
        (r.id_a, r.id_b): r.cos_sim
        for r in S.near_dup_pairs_bucketed(emb, 0.4).collect()
    }
    esc = {
        (r.id_a, r.id_b): r.cos_sim
        for r in S.near_dup_pairs_bucketed(emb, 0.4, max_bucket_rows=8).collect()
    }
    assert set(esc) == set(base)
    assert all(abs(esc[p] - base[p]) < 1e-12 for p in esc)


_NEAR_DUP_INPUT = "vid long, emb_v array<float>"
_BASE_VEC = [1.0, 2.0, -0.5, 3.0, 0.25, -1.5, 2.5, 0.75]


def _near_dup_both_paths(emb, threshold):
    """(exact pairs, bucketed pairs) on a tiny frame: 4 bits x 2 bands."""
    exact = S.near_dup_pairs(emb, threshold, id_col="vid", vec_col="emb_v")
    bucketed = S.near_dup_pairs_bucketed(
        emb, threshold, id_col="vid", vec_col="emb_v", bits=4, n_bands=2
    )
    return exact, bucketed


def test_near_dup_null_embedding_never_paired(spark):
    """A NULL vector's cosine is NULL in the oracle, so it pairs with
    nothing: both paths drop it instead of failing the verify."""
    emb = spark.createDataFrame(
        [(1, _BASE_VEC), (2, [v * 2 for v in _BASE_VEC]), (3, None)], _NEAR_DUP_INPUT
    )
    for out in _near_dup_both_paths(emb, 0.9):
        assert [(r.id_a, r.id_b) for r in out.collect()] == [(1, 2)]


def test_near_dup_mixed_lengths_name_the_column(spark):
    """Vectors of different lengths in one verify group (both longer
    than bits·n_bands, so they share every band) raise a ValueError
    naming the vector column, not a misaligned matrix."""
    from pyspark.errors import PythonException

    emb = spark.createDataFrame([(1, _BASE_VEC), (2, _BASE_VEC + [1.0, 1.0])], _NEAR_DUP_INPUT)
    with pytest.raises(ValueError, match="emb_v"):
        S.near_dup_pairs(emb, 0.9, id_col="vid", vec_col="emb_v")
    with pytest.raises(PythonException, match=r"ValueError.*emb_v"):
        S.near_dup_pairs_bucketed(
            emb, 0.9, id_col="vid", vec_col="emb_v", bits=4, n_bands=2
        ).collect()


def test_near_dup_empty_input(spark):
    emb = spark.createDataFrame([], _NEAR_DUP_INPUT)
    for out in _near_dup_both_paths(emb, 0.9):
        assert out.columns == ["id_a", "id_b", "cos_sim"]
        assert out.collect() == []


def test_random_projection_matches_python(spark, sf_dir):
    from spk_sl_validation_spark.ext.similarity import _rp_signs, random_projection
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.select("vec_id", "embedding", random_projection("embedding", 64).alias("p")).first()
    signs = _rp_signs(64)

    def chain(j):  # same left-associative order as the expression
        acc = None
        for i in range(64):
            t = float(row["embedding"][i])
            t = t if signs[j][i] > 0 else -t
            acc = t if acc is None else acc + t
        return acc

    assert all(abs(chain(j) - row["p"][j]) < 1e-12 for j in range(16))


def test_projected_rerank_results_are_exact_cosines(spark, sf_dir):
    """The rerank stage outputs EXACT cosines: every returned pair that
    is also in the exact top-10 must carry the identical score."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.similarity import brute_force_topk, projected_rerank_topk
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    brute = {(r["q_id"], r["vec_id"]): r["cos_sim"] for r in brute_force_topk(emb, q, 10).collect()}
    proj = projected_rerank_topk(emb, q, 10, 64).collect()
    assert len(proj) > 0
    overlap = 0
    for r in proj:
        key = (r["q_id"], r["vec_id"])
        if key in brute:
            assert r["cos_sim"] == brute[key]
            overlap += 1
    assert overlap > 0  # shortlist keeps at least some exact neighbors


def test_projected_rerank_recall_on_structured_corpus(spark):
    """On a corpus with REAL near neighbors (query + small noise), the
    JL shortlist keeps them: recall@3 of the planted neighbors is
    perfect. (The sf testdata embeddings are near-uniform noise, where
    no sub-linear ANN can beat chance — that is a property of the
    data, not the operator.)"""
    import random

    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.similarity import projected_rerank_topk

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(5)]
    rows = []
    vid = 0
    planted = {}
    for qi, b in enumerate(base):
        planted[qi * 100] = []
        for copy in range(4):
            vec = [x + rng.gauss(0, 0.05) for x in b] if copy else b
            rid = qi * 100 + copy
            rows.append((rid, [float(v) for v in vec]))
            if copy:
                planted[qi * 100].append(rid)
    for _ in range(100):  # background noise vectors
        vid += 1
        rows.append((1000 + vid, [rng.gauss(0, 1) for _ in range(64)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") % 100 == 0).filter(F.col("vec_id") < 1000)
    out = projected_rerank_topk(emb, q, 3, 64).collect()
    got = {}
    for r in out:
        got.setdefault(r["q_id"], set()).add(r["vec_id"])
    for qid, expected in planted.items():
        assert set(expected) == got[qid], f"query {qid}: {got[qid]} != {expected}"


def test_mmr_select_works_with_string_ids(spark):
    """MMR's greedy seed frame takes its id type from the pool schema —
    string ids select identically to the long-id pool (round-4 ADVICE
    item 3)."""
    from spk_sl_validation_spark.ext.similarity import mmr_select

    rows = [
        (1, [1.0, 0.0], 0.9),
        (2, [0.99, 0.14], 0.8),  # near-duplicate of 1
        (3, [0.0, 1.0], 0.7),    # diverse
        (4, [0.7, 0.7], 0.6),
    ]
    long_pool = spark.createDataFrame(rows, "vec_id long, embedding array<double>, rel double")
    str_pool = spark.createDataFrame(
        [(f"d{i}", v, r) for i, v, r in rows],
        "vec_id string, embedding array<double>, rel double",
    )
    base = [(r["rank"], r["vec_id"]) for r in mmr_select(long_pool, 3).orderBy("rank").collect()]
    got = [(r["rank"], r["vec_id"]) for r in mmr_select(str_pool, 3).orderBy("rank").collect()]
    assert got == [(rk, f"d{i}") for rk, i in base]
    # pick 1: top relevance; pick 2: diverse d3 beats near-dup d2;
    # pick 3: d2 (0.7·0.8 − 0.3·0.99 = 0.263) edges d4 (0.42 − 0.3·0.707)
    assert [i for _, i in base] == [1, 3, 2]


# ---------------------------------------------------------------------------
# IVF index lifecycle (frozen quantizer): merge/remove laws + multi-probe
# ---------------------------------------------------------------------------


def _ivf_fixture(spark, n=60, dim=8, n_centroids=4):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = emb.filter(emb.vec_id < n_centroids).select(
        emb.vec_id.alias("centroid_id"), "embedding"
    )
    return emb, centroids


def test_ivf_indexed_nprobe1_equals_direct(spark):
    emb, centroids = _ivf_fixture(spark)
    queries = emb.filter(emb.vec_id < 3)
    direct = sorted(map(tuple, S.ivf_topk(emb, queries, centroids).collect()))
    lists = S.ivf_index_tables(emb, centroids)
    indexed = sorted(
        map(tuple, S.ivf_topk_indexed(queries, centroids, lists, nprobe=1).collect())
    )
    assert indexed == direct


def test_ivf_multiprobe_recall_monotone(spark):
    """nprobe=n candidates ⊂ nprobe=n+1 candidates, so recall vs the
    brute-force truth can only rise with nprobe."""
    emb, centroids = _ivf_fixture(spark, n=80)
    queries = emb.filter(emb.vec_id < 4)
    lists = S.ivf_index_tables(emb, centroids)
    truth = {
        (r.q_id, r.vec_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    recalls = []
    for nprobe in (1, 2, 4):
        got = {
            (r.q_id, r.vec_id)
            for r in S.ivf_topk_indexed(queries, centroids, lists, nprobe=nprobe).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert recalls == sorted(recalls), f"recall not monotone in nprobe: {recalls}"
    assert recalls[-1] >= recalls[0]


def test_ivf_merge_equals_rebuild_under_frozen_quantizer(spark):
    emb, centroids = _ivf_fixture(spark)
    old = emb.filter(emb.vec_id % 3 != 0)
    new = emb.filter(emb.vec_id % 3 == 0)
    merged = S.merge_into_ivf_index(S.ivf_index_tables(old, centroids), centroids, new)
    rebuilt = S.ivf_index_tables(emb, centroids)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, rebuilt.collect()))


def test_ivf_remove_then_merge_roundtrips(spark):
    emb, centroids = _ivf_fixture(spark)
    lists = S.ivf_index_tables(emb, centroids)
    churn = emb.filter(emb.vec_id % 4 == 1)
    back = S.merge_into_ivf_index(
        S.remove_from_ivf_index(lists, churn.select("vec_id")), centroids, churn
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, lists.collect()))


def test_ivf_merge_rejects_overlapping_ids(spark):
    import pytest

    emb, centroids = _ivf_fixture(spark)
    lists = S.ivf_index_tables(emb, centroids)
    with pytest.raises(ValueError, match="disjoint"):
        S.merge_into_ivf_index(lists, centroids, emb.limit(1))


def test_ivf_persisted_roundtrip_identity(spark, tmp_path):
    """The artifacts survive parquet: write lists partitioned by
    centroid_id, read back, query — identical rows to the in-memory
    index (the registered query builds inline; this pins the
    persisted path it stands for)."""
    emb, centroids = _ivf_fixture(spark)
    queries = emb.filter(emb.vec_id < 3)
    lists = S.ivf_index_tables(emb, centroids)
    path = str(tmp_path / "ivf_lists")
    lists.write.partitionBy("centroid_id").parquet(path)
    lists2 = spark.read.parquet(path)
    a = sorted(map(tuple, S.ivf_topk_indexed(queries, centroids, lists, nprobe=2).collect()))
    b = sorted(map(tuple, S.ivf_topk_indexed(queries, centroids, lists2, nprobe=2).collect()))
    assert a == b


def test_cross_modal_pairs_are_verified_text_neardups(spark, sf_dir):
    """Every cross-modal pair must be (a) lexically verified at the
    same threshold the pure-text path uses and (b) bucket-matched in
    at least one embedding band — i.e. the result is a SUBSET of the
    exact text near-dup relation, intersected with semantic blocking,
    never a superset of either."""
    from spk_sl_validation_spark.ext.dedup import ngram_jaccard_for_pairs
    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded
    from spk_sl_validation_spark.plans.similarity_queries import (
        CROSS_MODAL_BANDS,
        CROSS_MODAL_BITS,
        CROSS_MODAL_TAU,
    )
    from spk_sl_validation_spark.sources.readers import load_table

    _ensure_loaded()
    got = REGISTRY["dedup_cross_modal"].builder(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = spark.createDataFrame(
        [(r.id_a, r.id_b) for r in got] or [(int(-1), int(-2))], "id_a long, id_b long"
    )
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_for_pairs(docs, pairs, "doc_id").collect()
    }
    buckets = {
        o: {r.vec_id: r.bucket for r in emb.select(
            "vec_id",
            S.sign_lsh_bucket("embedding", CROSS_MODAL_BITS, offset=o * CROSS_MODAL_BITS).alias("bucket"),
        ).collect()}
        for o in range(CROSS_MODAL_BANDS)
    }
    for r in got:
        assert r.jaccard >= CROSS_MODAL_TAU
        assert abs(jac[(r.id_a, r.id_b)] - r.jaccard) < 1e-12
        assert any(
            buckets[o][r.id_a] == buckets[o][r.id_b] for o in range(CROSS_MODAL_BANDS)
        ), f"pair {(r.id_a, r.id_b)} not bucket-matched in any band"
