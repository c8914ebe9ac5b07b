"""Source robustness: schema evolution across parquet file versions and
malformed-record containment in JSONL — the two ingest failure modes a
long-lived 100 TB table hits (writers upgrade, upstreams emit garbage)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Old files lack the new column; mergeSchema reads must surface the
    union schema with NULLs for pre-evolution rows, not fail or drop."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"]).write.parquet(out)
    spark.createDataFrame(
        [(3, "c", 1.5), (4, "d", 2.5)], ["id", "name", "score"]
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] == 1.5 and rows[4] == 2.5


def test_jsonl_corrupt_records_are_contained(spark, tmp_path):
    """PERMISSIVE mode must land malformed lines in the corrupt-record
    column (nulls elsewhere) while clean rows parse — ingest keeps
    moving and the quarantine is queryable."""
    from pyspark.sql import types as T

    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": "fine"}\n'
        '{"id": "not-an-int", "v": "bad-type"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    df = df.cache()  # corrupt-record column requires a materialized read
    clean = df.filter(F.col("_corrupt_record").isNull())
    dirty = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r.id for r in clean.collect()} == {1, 2}
    assert dirty.count() == 2  # the non-JSON line and the type mismatch
    df.unpersist()


def test_file_metadata_columns_expose_lineage(spark, sf_dir, tmp_path):
    """The _metadata hidden struct (file_path, file_size, row_index)
    gives per-row file lineage with zero schema cost — how a 100 TB
    audit answers 'which file did this bad row come from'."""
    import glob

    from spk_sl_validation_spark.sources.readers import load_table

    out = str(tmp_path / "meta_src")
    load_table(spark, sf_dir, "nation").repartition(4).write.parquet(out)

    df = spark.read.parquet(out).select(
        "n_nationkey",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.file_size").alias("fsz"),
        F.col("_metadata.row_index").alias("ri"),
    )
    rows = df.collect()
    files_on_disk = {f"file:{p}" for p in glob.glob(out + "/*.parquet")}
    assert {r.fp for r in rows} == files_on_disk
    assert all(r.fsz > 0 for r in rows)
    # row_index restarts at 0 within each file
    by_file = {}
    for r in rows:
        by_file.setdefault(r.fp, []).append(r.ri)
    for idxs in by_file.values():
        assert sorted(idxs) == list(range(len(idxs)))


def _write_events_parquet(path, unit: str, n: int = 3) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array(range(n), type=pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000_000 + i * 1_000_000_000 for i in range(n)],
                type=pa.timestamp(unit),
            ) if unit == "ns" else pa.array(
                [1_700_000_000_000_000 + i * 1_000_000 for i in range(n)],
                type=pa.timestamp(unit),
            ),
            "user_id": pa.array([7] * n, type=pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, path)


def test_nanos_probe_tracks_in_place_regeneration(tmp_path):
    """The footer probe's cache is keyed on (path, mtime, size): a file
    regenerated in place with the other timestamp unit must re-probe —
    a stale NANOS verdict on a MICROS file would read timestamps 1000x
    off; a stale MICROS verdict would crash the vectorized reader."""
    from spk_sl_validation_spark.sources.readers import _events_ts_is_nanos

    p = str(tmp_path / "events.parquet")
    _write_events_parquet(p, "us", n=3)
    assert _events_ts_is_nanos(p) is False
    _write_events_parquet(p, "ns", n=4)  # different size → new cache key
    assert _events_ts_is_nanos(p) is True


def test_nanos_probe_failure_modes(tmp_path):
    """Missing ``ts`` column → 'not nanos' (schema drift handled by the
    declared-schema read downstream); an unreadable file must raise, not
    silently default — a wrong guess trades a clear error here for a
    confusing reader error later."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from spk_sl_validation_spark.sources.readers import _events_ts_is_nanos

    no_ts = str(tmp_path / "no_ts.parquet")
    pq.write_table(pa.table({"event_id": pa.array([1], type=pa.int64())}), no_ts)
    assert _events_ts_is_nanos(no_ts) is False

    garbage = tmp_path / "garbage.parquet"
    garbage.write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception) as exc_info:
        _events_ts_is_nanos(str(garbage))
    assert not isinstance(exc_info.value, KeyError)


def test_load_table_reads_nanos_events_correctly(spark, tmp_path):
    """End-to-end: a NANOS events file loads through load_table with
    ts truncated ns → µs (DuckDB-parity), same logical schema as a
    MICROS file."""
    from spk_sl_validation_spark import schemas
    from spk_sl_validation_spark.sources.readers import load_table

    sf_dir = str(tmp_path)
    _write_events_parquet(f"{sf_dir}/events.parquet", "ns", n=3)
    df = load_table(spark, sf_dir, "events")
    assert [f.name for f in df.schema.fields] == [f.name for f in schemas.EVENTS.fields]
    assert dict(df.dtypes)["ts"] == "timestamp"
    rows = sorted(df.select("event_id", "ts").collect(), key=lambda r: r.event_id)
    import datetime

    expected0 = datetime.datetime.fromtimestamp(1_700_000_000, tz=datetime.timezone.utc)
    assert rows[0].ts.replace(tzinfo=datetime.timezone.utc) == expected0


def test_nanos_events_batch_and_stream_truncate_alike(spark, tmp_path):
    """load_table and stream_events share one NANOS → µs conversion:
    sub-µs digits truncate, a NULL ts stays NULL, and the batch and the
    replayed stream read the same rows."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spk_sl_validation_spark.sources.readers import load_table
    from spk_sl_validation_spark.streaming.pipeline import run_available_now, stream_events

    base = 1_700_000_000_000_000_000
    ns = [base + 123_456_789, None, base + 5_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0, 1, 2], type=pa.int64()),
                "ts": pa.array(ns, type=pa.timestamp("ns")),
                "user_id": pa.array([7] * 3, type=pa.int64()),
                "event_type": pa.array(["click"] * 3),
                "value": pa.array([1.0] * 3),
                "props": pa.array(["{}"] * 3),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    epoch = datetime.datetime(1970, 1, 1)
    want = [
        (i, None if t is None else epoch + datetime.timedelta(microseconds=t // 1000))
        for i, t in enumerate(ns)
    ]

    def rows(df):
        return sorted(
            (r.event_id, r.ts if r.ts is None else r.ts.replace(tzinfo=None))
            for r in df.select("event_id", "ts").collect()
        )

    sf_dir = str(tmp_path)
    assert rows(load_table(spark, sf_dir, "events")) == want
    assert rows(run_available_now(stream_events(spark, sf_dir), "append")) == want


def test_xml_declared_schema_roundtrip(spark, tmp_path):
    """Native Spark 4 XML source through load_xml_table: declared
    schema (no inference pass), rowTag extraction, attribute field."""
    from pyspark.sql import types as T

    from spk_sl_validation_spark.sources.readers import load_xml_table

    p = tmp_path / "plants.xml"
    p.write_text(
        "<export>"
        '<plant code="5S"><name>Temse</name><qty>70</qty></plant>'
        '<plant code="9X"><name>Apex</name><qty>12</qty></plant>'
        "</export>"
    )
    schema = T.StructType(
        [
            T.StructField("_code", T.StringType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("qty", T.LongType(), True),
        ]
    )
    df = load_xml_table(spark, str(p), "plant", schema)
    rows = {r["_code"]: (r["name"], r["qty"]) for r in df.collect()}
    assert rows == {"5S": ("Temse", 70), "9X": ("Apex", 12)}
    assert [f.dataType for f in df.schema.fields] == [
        T.StringType(),
        T.StringType(),
        T.LongType(),
    ]


def test_python_datasource_partitions_and_completeness(spark):
    """The custom Python DataSource plans the requested number of input
    partitions and yields every id exactly once."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format(pyds.FORMAT_NAME)
        .option("n", "1000")
        .option("shards", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("nd"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    ).first()
    assert (agg["n"], agg["nd"], agg["lo"], agg["hi"]) == (1000, 1000, 0, 999)
    # generator parity with the oracle arithmetic
    row = df.filter(F.col("event_id") == 123).first()
    assert row["shard"] == 123 % 4
    assert abs(row["value"] - ((123 * pyds.KNUTH) % pyds.MOD) / 1000.0) < 1e-12


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    """Full connector surface: the Python DataSource writer streams each
    partition to a JSONL part, commit publishes a _SUCCESS manifest,
    and reading the parts back reproduces the rows exactly."""
    import json

    from pyspark.sql import functions as F

    from spk_sl_validation_spark.sources import pyds

    pyds.register(spark)
    src = (
        spark.read.format(pyds.FORMAT_NAME)
        .option("n", "500")
        .option("shards", "4")
        .load()
    )
    out = str(tmp_path / "pyds_out")
    src.write.format(pyds.FORMAT_NAME).option("path", out).mode("append").save()

    manifest = json.loads(open(f"{out}/_SUCCESS").read())
    assert manifest["total"] == 500
    assert len(manifest["parts"]) == 4  # one part per input partition

    back = spark.read.json(f"{out}/part-*.jsonl")
    assert back.count() == 500
    orig = {tuple(r) for r in src.collect()}
    got = {
        (r["event_id"], r["shard"], r["value"])
        for r in back.select("event_id", "shard", "value").collect()
    }
    assert got == orig
