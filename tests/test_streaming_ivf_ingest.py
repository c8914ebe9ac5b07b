"""Streaming ANN index maintenance (streaming/pipeline.py
ingest_ivf_stream): micro-batches folded into the persisted IVF index
under the frozen quantizer, with idempotent batch-partitioned writes —
stream-built index == batch-built index, replay-safe, checkpoint
resumes across restarts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import similarity as S
from spk_sl_validation_spark.sources.readers import load_table
from spk_sl_validation_spark.streaming.pipeline import (
    _ivf_ingest_process_batch,
    ingest_ivf_stream,
    write_ivf_index,
)

N_C = 8  # centroids for the fixtures


def _setup(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_C).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    bootstrap = emb.filter(F.col("vec_id") % 4 != 3).localCheckpoint()
    index_dir = str(tmp_path / "index")
    source_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    write_ivf_index(bootstrap, centroids, index_dir)
    os.makedirs(source_dir)
    return emb, centroids, index_dir, source_dir, ckpt


def _lists(spark, index_dir):
    return (
        spark.read.parquet(f"{index_dir}/lists")
        .select("centroid_id", "vec_id")
        .collect()
    )


def test_stream_built_index_equals_batch_built(spark, sf_dir, tmp_path):
    emb, centroids, index_dir, source_dir, ckpt = _setup(spark, sf_dir, tmp_path)
    for i, pred in enumerate(((F.col("vec_id") % 8) == 3, (F.col("vec_id") % 8) == 7)):
        emb.filter(pred).coalesce(1).write.parquet(f"{source_dir}/shard{i}")
    q = ingest_ivf_stream(spark, f"{source_dir}/*", index_dir, ckpt)
    q.awaitTermination()
    # the stream saw 2 micro-batches (maxFilesPerTrigger=1)
    batch_ids = {
        r.batch_id
        for r in spark.read.parquet(f"{index_dir}/lists").select("batch_id").distinct().collect()
    }
    assert batch_ids == {-1, 0, 1}
    got = sorted((r.centroid_id, r.vec_id) for r in _lists(spark, index_dir))
    want = sorted(
        (r.centroid_id, r.vec_id)
        for r in S.ivf_index_tables(emb, centroids).select("centroid_id", "vec_id").collect()
    )
    assert got == want
    # and the probe path answers identically over either index
    queries = emb.filter(F.col("vec_id") < 5)
    on_disk = spark.read.parquet(f"{index_dir}/lists").select(
        "centroid_id", "vec_id", "embedding"
    )
    got_topk = sorted(
        map(tuple, S.ivf_topk_indexed(queries, centroids, on_disk).collect())
    )
    want_topk = sorted(
        map(
            tuple,
            S.ivf_topk_indexed(
                queries, centroids, S.ivf_index_tables(emb, centroids)
            ).collect(),
        )
    )
    assert got_topk == want_topk


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running a batch with the same batch_id (the checkpoint-replay
    case) must overwrite its own partition, not duplicate rows — and
    must NOT trip the overlap guard on its own previous write."""
    emb, centroids, index_dir, source_dir, ckpt = _setup(spark, sf_dir, tmp_path)
    batch = emb.filter((F.col("vec_id") % 8) == 3)
    _ivf_ingest_process_batch(spark, batch, 0, index_dir)
    first = sorted((r.centroid_id, r.vec_id) for r in _lists(spark, index_dir))
    _ivf_ingest_process_batch(spark, batch, 0, index_dir)  # replay
    second = sorted((r.centroid_id, r.vec_id) for r in _lists(spark, index_dir))
    assert first == second


def test_overlap_guard_rejects_already_indexed_ids(spark, sf_dir, tmp_path):
    """A batch whose vec_id is already in a PRIOR batch (or the
    bootstrap) must fail loudly — two versions of a vector in the
    lists corrupts every subsequent top-k."""
    emb, centroids, index_dir, source_dir, ckpt = _setup(spark, sf_dir, tmp_path)
    dup = emb.filter(F.col("vec_id") % 4 != 3).limit(1)  # already bootstrapped
    with pytest.raises(ValueError, match="already indexed"):
        _ivf_ingest_process_batch(spark, dup, 0, index_dir)


def test_checkpoint_resumes_across_restarts(spark, sf_dir, tmp_path):
    """Cross-batch, cross-RESTART: shard A lands, the stream runs to
    completion and stops; shard B lands, a NEW stream with the same
    checkpoint processes only B (as batch 1). The final index equals
    the batch build over bootstrap + A + B."""
    emb, centroids, index_dir, source_dir, ckpt = _setup(spark, sf_dir, tmp_path)
    emb.filter((F.col("vec_id") % 8) == 3).coalesce(1).write.parquet(f"{source_dir}/shardA")
    q1 = ingest_ivf_stream(spark, f"{source_dir}/*", index_dir, ckpt)
    q1.awaitTermination()
    emb.filter((F.col("vec_id") % 8) == 7).coalesce(1).write.parquet(f"{source_dir}/shardB")
    q2 = ingest_ivf_stream(spark, f"{source_dir}/*", index_dir, ckpt)
    q2.awaitTermination()
    batch_ids = {
        r.batch_id
        for r in spark.read.parquet(f"{index_dir}/lists").select("batch_id").distinct().collect()
    }
    assert batch_ids == {-1, 0, 1}
    got = sorted((r.centroid_id, r.vec_id) for r in _lists(spark, index_dir))
    want = sorted(
        (r.centroid_id, r.vec_id)
        for r in S.ivf_index_tables(emb, centroids).select("centroid_id", "vec_id").collect()
    )
    assert got == want


def test_empty_bootstrap_then_batch(spark, sf_dir, tmp_path):
    """An index bootstrapped from an EMPTY corpus (the documented
    precondition allows it) has no parquet files in its lists table;
    the first batch's overlap probe must still read it, as empty."""
    emb, centroids, *_ = _setup(spark, sf_dir, tmp_path)
    index_dir = str(tmp_path / "empty_index")
    write_ivf_index(emb.limit(0), centroids, index_dir)
    batch = emb.filter(F.col("vec_id") < 5)
    _ivf_ingest_process_batch(spark, batch, 0, index_dir)
    got = sorted((r.centroid_id, r.vec_id) for r in _lists(spark, index_dir))
    want = sorted(
        (r.centroid_id, r.vec_id)
        for r in S.ivf_index_tables(batch, centroids).select("centroid_id", "vec_id").collect()
    )
    assert got == want
