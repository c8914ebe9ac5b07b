"""Streaming packed-token-stream maintenance (streaming/pipeline.py
ingest_pack_stream): micro-batches appended via 1-row state
continuation — stream-built packed table == batch pack_sequences,
replay-safe, out-of-order shards rejected."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import assembly as A
from spk_sl_validation_spark.plans.streaming_queries import _write_shards
from spk_sl_validation_spark.sources.readers import load_table
from spk_sl_validation_spark.streaming.pipeline import (
    _pack_ingest_process_batch,
    ingest_pack_stream,
    write_pack_state,
)

SEQ = 512


def _packed_rows(spark, pack_dir):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(f"{pack_dir}/packed")
        .select("doc_id", "n_tokens", "tok_offset", "seq_id", "offset_in_seq", "end_seq_id")
        .collect()
    )


def test_stream_built_pack_equals_batch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    pack_dir, source_dir, ckpt = (
        str(tmp_path / "pack"),
        str(tmp_path / "incoming"),
        str(tmp_path / "ckpt"),
    )
    write_pack_state(spark, pack_dir)
    _write_shards(
        docs,
        source_dir,
        (
            F.col("doc_id") <= hi // 3,
            (F.col("doc_id") > hi // 3) & (F.col("doc_id") <= 2 * hi // 3),
            F.col("doc_id") > 2 * hi // 3,
        ),
    )
    q = ingest_pack_stream(spark, f"{source_dir}/*", pack_dir, ckpt, seq_len=SEQ)
    q.awaitTermination()
    batch_ids = {
        r.batch_id
        for r in spark.read.parquet(f"{pack_dir}/packed").select("batch_id").distinct().collect()
    }
    assert batch_ids == {0, 1, 2}
    want = sorted(tuple(r) for r in A.pack_sequences(docs, seq_len=SEQ).collect())
    assert _packed_rows(spark, pack_dir) == want
    # the cumulative state row equals pack_state over the whole corpus
    st = (
        spark.read.parquet(f"{pack_dir}/state")
        .orderBy(F.col("batch_id").desc())
        .first()
    )
    full = A.pack_state(docs).first()
    assert (st.n_docs, st.max_id, st.total_tokens) == (
        full.n_docs,
        full.max_id,
        full.total_tokens,
    )


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pack_dir = str(tmp_path / "pack")
    write_pack_state(spark, pack_dir)
    batch = docs.filter(F.col("doc_id") < 50)
    _pack_ingest_process_batch(spark, batch, 0, pack_dir, seq_len=SEQ)
    once = _packed_rows(spark, pack_dir)
    # a failed-then-replayed batch 0: same contents, same batch_id
    _pack_ingest_process_batch(spark, batch, 0, pack_dir, seq_len=SEQ)
    assert _packed_rows(spark, pack_dir) == once
    # and the follow-up batch continues from the replayed state correctly
    _pack_ingest_process_batch(
        spark, docs.filter(F.col("doc_id") >= 50), 1, pack_dir, seq_len=SEQ
    )
    want = sorted(tuple(r) for r in A.pack_sequences(docs, seq_len=SEQ).collect())
    assert _packed_rows(spark, pack_dir) == want


def test_out_of_order_shard_raises(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pack_dir = str(tmp_path / "pack")
    write_pack_state(spark, pack_dir)
    _pack_ingest_process_batch(
        spark, docs.filter(F.col("doc_id") >= 50), 0, pack_dir, seq_len=SEQ
    )
    with pytest.raises(ValueError, match="id-ordered"):
        _pack_ingest_process_batch(
            spark, docs.filter(F.col("doc_id") < 50), 1, pack_dir, seq_len=SEQ
        )
