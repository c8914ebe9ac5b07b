"""Streaming crawl-ingest dedup (streaming/pipeline.py
ingest_dedup_stream): micro-batches deduped against the persisted
index, kept docs folded back in, so later batches are deduped against
earlier ones — with idempotent batch-partitioned writes."""

from __future__ import annotations

import os
import time

import pytest

from spk_sl_validation_spark.session import codegen_compiles
from spk_sl_validation_spark.sources.readers import load_table
from spk_sl_validation_spark.streaming.pipeline import (
    ingest_dedup_stream,
    write_dedup_index,
)


def test_streaming_batches_dedup_against_index_and_each_other(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(50).cache()
    indexed_text = docs.filter("doc_id = 7").first().text
    novel = "stream only fresh words " * 8

    index_dir = str(tmp_path / "index")
    source_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    write_dedup_index(docs, index_dir)

    os.makedirs(source_dir)
    b1 = spark.createDataFrame(
        [(101, novel), (102, indexed_text)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(201, novel), (202, "other new content " * 8)], "doc_id long, text string"
    )
    # one file per micro-batch; mtimes force processing order b1 -> b2
    b1.coalesce(1).write.parquet(f"{source_dir}/b1")
    time.sleep(0.05)
    b2.coalesce(1).write.parquet(f"{source_dir}/b2")
    now = time.time()
    for sub, when in (("b1", now - 60), ("b2", now)):
        for f in os.listdir(f"{source_dir}/{sub}"):
            os.utime(f"{source_dir}/{sub}/{f}", (when, when))

    q = ingest_dedup_stream(spark, f"{source_dir}/*", index_dir, out_dir, ckpt)
    q.awaitTermination()

    res = {r.doc_id: (r.keep, r.reason) for r in spark.read.parquet(out_dir).collect()}
    assert res[101] == (True, "unique")  # novel in batch 1 → kept
    assert res[102] == (False, "exact_dup")  # copy of an index doc
    # batch 2's copy of batch-1's KEPT doc is caught via the merged index
    assert res[201] == (False, "exact_dup")
    assert res[202] == (True, "unique")

    # index now holds original corpus + the two kept stream docs
    fp = spark.read.parquet(f"{index_dir}/fp")
    assert fp.count() == 50 + 2
    assert {r.batch_id for r in fp.select("batch_id").distinct().collect()} >= {-1, 0, 1}


@pytest.fixture
def replay_batch(spark, sf_dir, tmp_path):
    """Batch 0 (one novel doc) against a 30-doc index; each call runs
    the micro-batch again and returns the sorted result rows."""
    from spk_sl_validation_spark.streaming.pipeline import _ingest_process_batch

    docs = load_table(spark, sf_dir, "documents").limit(30).cache()
    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "results")
    write_dedup_index(docs, index_dir)
    batch = spark.createDataFrame(
        [(501, "replayed novel content " * 8)], "doc_id long, text string"
    )

    def run():
        _ingest_process_batch(spark, batch, 0, index_dir, out_dir)
        return sorted(
            (r.doc_id, r.keep, r.reason) for r in spark.read.parquet(out_dir).collect()
        )

    return run


def test_batch_replay_is_idempotent(spark, tmp_path, replay_batch):
    """A replayed micro-batch (same contents, same batch_id — the
    crash-before-checkpoint-commit case) must reproduce its original
    verdicts: the index read excludes the partition the failed attempt
    wrote, so a batch never sees its own docs as 'index' and
    misclassifies them as exact dups of themselves."""
    first = replay_batch()
    assert first == [(501, True, "unique")]
    assert replay_batch() == first  # replay after the first attempt's index write
    fp = spark.read.parquet(str(tmp_path / "index" / "fp"))
    assert fp.filter("batch_id = 0").count() == 1  # no duplicate artifact rows


def test_replayed_batch_compiles_nothing(spark, replay_batch):
    """Every class a micro-batch generates stays in the codegen cache:
    replaying it compiles nothing. At Spark's default cache size (100)
    one trigger's ~140 classes evict each other and the replay
    re-compiled about 20 of them."""
    replay_batch()
    before = codegen_compiles(spark)
    replay_batch()
    assert codegen_compiles(spark) == before
