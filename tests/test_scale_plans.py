"""Physical-plan assertions: the plans we designed for are the plans
Catalyst actually produces. These are the 100 TB posture checks —
broadcast joins stay broadcast, filters reach the scan, top-k windows
get group-limit pushdown, bucketed joins shuffle nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spk_sl_validation_spark.operators import relational as R
from spk_sl_validation_spark.operators.skew import salted_group_agg, write_bucketed
from spk_sl_validation_spark.sources.readers import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dim_join_is_broadcast(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    plan = _plan(R.left_join(li, supp, on=li.l_suppkey == supp.s_suppkey))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    # column pruning: the scan must read only the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_topk_window_gets_group_limit(spark, sf_dir):
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(F.col("l_extendedprice").desc())
    q = li.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)
    # Spark ≥3.5 WindowGroupLimit: partial top-k before the shuffle.
    assert "WindowGroupLimit" in _plan(q)


def test_semi_and_anti_joins_broadcast(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    semi = R.semi_join(orders, cust, on=orders.o_custkey == cust.c_custkey)
    anti = R.anti_join(orders, cust, on=orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(semi) and "LeftSemi" in _plan(semi)
    assert "BroadcastHashJoin" in _plan(anti) and "LeftAnti" in _plan(anti)


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    salted = salted_group_agg(ev, ["event_type"], sum_cols=["value_dec"], salt_source="event_id")
    plain = ev.groupBy("event_type").agg(
        F.sum("value_dec").alias("sum_value_dec"), F.count(F.lit(1)).alias("n")
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_cl_pipeline_all_dim_joins_broadcast(spark):
    from spk_sl_validation_spark.plans import spk_sl_cleansing
    from spk_sl_validation_spark.sources import fixtures as FX

    tables = FX.build_tables(spark)
    sheets = spk_sl_cleansing.run(tables, run_ts=FX.RUN_TS, variant=spk_sl_cleansing.CL)
    plan = _plan(sheets["Valid SL with SPK"])
    # Every build side in the reference workload is dim-sized: the
    # flagship pipeline must plan with zero sort-merge joins.
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_csv_source_roundtrip(spark, sf_dir, tmp_path):
    from spk_sl_validation_spark import schemas
    from spk_sl_validation_spark.sources.readers import load_csv_table

    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = load_csv_table(spark, out, schemas.TESTDATA_SCHEMAS["nation"])
    assert back.schema == nation.schema
    assert back.exceptAll(nation).count() == 0 and nation.exceptAll(back).count() == 0


def test_write_clustered_disjoint_ranges(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from spk_sl_validation_spark.sources.sinks import write_clustered

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_clustered")
    write_clustered(orders, out, ["o_orderdate"], n_files=8)

    spans = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderdate"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) > 1
    # Footer min/max ranges must not overlap across files (boundary
    # equality allowed: repartitionByRange keeps equal keys together).
    for (_, hi), (lo2, _) in zip(spans, spans[1:]):
        assert hi <= lo2

    back = spark.read.parquet(out)
    assert back.count() == orders.count()


def test_orc_source_roundtrip(spark, sf_dir, tmp_path):
    from spk_sl_validation_spark.sources.readers import load_orc_table

    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(out)
    back = load_orc_table(spark, out, nation.schema)
    assert back.schema == nation.schema
    assert back.exceptAll(nation).count() == 0 and nation.exceptAll(back).count() == 0


def test_write_report_roundtrip(spark, sf_dir, tmp_path):
    from spk_sl_validation_spark.sources.sinks import write_report

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    write_report({"nation sheet": nation, "region/2": region}, str(tmp_path / "report"))
    back = spark.read.parquet(str(tmp_path / "report" / "nation_sheet"))
    assert back.count() == nation.count()
    assert spark.read.parquet(str(tmp_path / "report" / "region_2")).count() == region.count()


def test_fact_fact_join_is_sort_merge_when_broadcast_impossible(spark, sf_dir):
    # At 100 TB neither fact side fits in memory: the engine must fall
    # back to a shuffle join, not attempt a broadcast. Simulate by
    # disabling the broadcast threshold.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        plan = _plan(li.join(orders, li.l_orderkey == orders.o_orderkey))
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    q = spark.read.parquet(out).filter(F.col("event_type") == "click").select("event_id")
    plan = _plan(q)
    # The partition filter must prune directories at the scan, not
    # filter rows post-read.
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert q.count() > 0


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=8)
    write_bucketed(li, "b_lineitem", ["l_orderkey"], n_buckets=8)
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    try:
        joined = a.join(b.hint("merge"), a.o_orderkey == b.l_orderkey)
        plan = _plan(joined)
        # Both sides pre-bucketed on the join key: no shuffle exchange at all.
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_shuffle_join_equals_plain_join(spark, sf_dir):
    from spk_sl_validation_spark.operators.skew import salted_shuffle_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_n"))
        .filter(F.col("event_type") != "error")  # leave some left rows unmatched
    )
    for how in ("inner", "left"):
        salted = salted_shuffle_join(ev, dim, on=["event_type"], n_salts=4, how=how)
        plain = ev.join(dim, ["event_type"], how)
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_foreach_batch_sink_is_idempotent_across_restart(spark, sf_dir, tmp_path):
    """Exactly-once file sink via foreachBatch: partition the output by
    batch id and overwrite that partition on (re)play — a replayed batch
    after a checkpoint restart overwrites its own previous output instead
    of appending duplicates. This is the standard idempotent-sink recipe
    for sinks without transactional commit."""
    from spk_sl_validation_spark.streaming.pipeline import stream_events

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(df, batch_id):
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )

    def run_once():
        q = (
            stream_events(spark, sf_dir)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_events = load_table(spark, sf_dir, "events").count()
    first = spark.read.parquet(out)
    assert first.count() == n_events

    # "Restart": a second availableNow run from the same checkpoint sees
    # no new files; and even if a batch were replayed, the dynamic
    # partition overwrite keeps the sink duplicate-free.
    run_once()
    again = spark.read.parquet(out)
    assert again.count() == n_events
    assert again.select("event_id").distinct().count() == n_events


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Compaction rewrites a fragmented parquet dir into size-targeted
    files, preserving every row."""
    from spk_sl_validation_spark.sources.readers import load_table
    from spk_sl_validation_spark.sources.sinks import compact_small_files

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(50).write.parquet(frag)

    stats = compact_small_files(spark, frag, out, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_before"] == 50
    assert stats["files_after"] < 50
    assert spark.read.parquet(out).count() == orders.count()
    import glob

    n_out_files = len([f for f in glob.glob(out + "/*.parquet")])
    assert n_out_files == stats["files_after"]


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """DPP: a selective dim-side filter must prune fact PARTITIONS at
    runtime via the reused broadcast (subquery dynamicpruning filter in
    the scan) — at 100 TB this is the difference between scanning one
    date/tenant partition and scanning the table."""
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_dpp")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive")], ["event_type", "kind"]
    )
    q = fact.join(dim.filter(F.col("kind") == "interactive"), "event_type").select(
        "event_id", "event_type"
    )
    plan = _plan(q)
    assert "dynamicpruning" in plan.lower()
    assert q.count() > 0


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a shuffle join whose one partition dwarfs the
    rest must be re-planned at runtime with the skewed partition split
    (skew=true in the final adaptive plan) — the no-manual-salting
    path for moderate skew."""
    conf_keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        left = spark.range(150_000).select(
            F.when(F.col("id") < 120_000, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1_000).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
        j = left.join(right, "k")
        # Trigger the action through THIS DataFrame's query execution —
        # a write spawns a separate execution whose adaptive re-plan we
        # couldn't inspect afterwards.
        assert len(j.collect()) == 120_000
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan
        assert "AQEShuffleRead skewed" in final_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_layout_gives_both_columns_locality(spark, sf_dir, tmp_path):
    """Z-order clustering must shrink per-file footer min/max spans on
    BOTH clustered columns (single-column range clustering gives one
    column perfect locality and leaves the other at ~full span)."""
    import glob

    import pyarrow.parquet as pq

    from spk_sl_validation_spark.sources.sinks import write_zordered

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = str(tmp_path / "events_zorder")
    write_zordered(ev, out, ["user_id", "value"], n_files=16, bits=8)

    def spans(col):
        lo = ev.agg(F.min(col)).first()[0]
        hi = ev.agg(F.max(col)).first()[0]
        full = float(hi - lo) or 1.0
        fracs = []
        for f in glob.glob(f"{out}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            fracs.append(float(max(maxs) - min(mins)) / full)
        return fracs

    u_fracs, v_fracs = spans("user_id"), spans("value")
    assert len(u_fracs) > 4
    # median per-file span must be well under the full range on BOTH
    # dimensions — the multi-dimensional locality Z-order buys.
    med = lambda xs: sorted(xs)[len(xs) // 2]
    assert med(u_fracs) < 0.6, u_fracs
    assert med(v_fracs) < 0.6, v_fracs
    assert spark.read.parquet(out).count() == ev.count()


def test_bloom_pruned_join_equals_plain_join(spark, sf_dir):
    """Bloom pre-filtering the probe side before a shuffle join must be
    result-identical to the plain join (no false negatives) while
    shrinking the shuffled probe — the broadcast-Bloom join-pruning
    pattern for selective build sides."""
    from spk_sl_validation_spark.ext.sketches import BLOOM_K, bloom_pos_array, bloom_positions
    from spk_sl_validation_spark.ext.hashing import md5_long
    from pyspark.sql import functions as SF

    orders = load_table(spark, sf_dir, "orders")
    hot = load_table(spark, sf_dir, "customer").filter(SF.col("c_acctbal") > 9000)

    plain = orders.join(hot, orders.o_custkey == hot.c_custkey).select("o_orderkey", "c_custkey")

    m_bits = 4096
    bits = bloom_positions(hot, "c_custkey", m_bits).withColumn("__set", SF.lit(1))
    h = md5_long(SF.col("o_custkey").cast("string"))
    probe_pos = orders.select(
        "o_orderkey", "o_custkey", SF.explode(bloom_pos_array(h, m_bits)).alias("pos"),
    )
    pruned_keys = (
        probe_pos.join(SF.broadcast(bits), "pos", "left")
        .groupBy("o_orderkey", "o_custkey")
        .agg((SF.count("__set") == SF.lit(BLOOM_K)).alias("maybe"))
        .filter(SF.col("maybe"))
    )
    pruned = pruned_keys.join(hot, pruned_keys.o_custkey == hot.c_custkey).select(
        "o_orderkey", "c_custkey"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, pruned.collect()))


def test_dataset_checksum_partition_invariant(spark, sf_dir):
    """The commutative checksum must be identical for any partitioning
    or row order — the property that makes it computable distributed."""
    from spk_sl_validation_spark.sources.sinks import dataset_checksum

    nation = load_table(spark, sf_dir, "nation")
    a = dataset_checksum(nation).first()
    b = dataset_checksum(nation.repartition(13).sortWithinPartitions("n_name")).first()
    assert (a.n_rows, a.checksum) == (b.n_rows, b.checksum)
    # and it must actually detect change
    c = dataset_checksum(nation.limit(20)).first()
    assert c.checksum != a.checksum


def test_report_manifest_verifies_on_reread(spark, sf_dir, tmp_path):
    import json

    from spk_sl_validation_spark.sources.sinks import (
        dataset_checksum,
        write_report_with_manifest,
    )

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "report_m")
    manifest = write_report_with_manifest({"nation": nation, "region": region}, out)
    with open(out + "/manifest.json") as fh:
        on_disk = json.load(fh)
    assert manifest == on_disk
    # consumer-side verification: recompute from the written parquet
    for sheet in ("nation", "region"):
        back = spark.read.parquet(f"{out}/{sheet}")
        row = dataset_checksum(back).first()
        assert row.n_rows == on_disk[sheet]["n_rows"]
        assert row.checksum == on_disk[sheet]["checksum"]


def test_derived_pipelines_no_sort_merge_join(spark, sf_dir):
    """The parquet-derived full pipelines must stay all-broadcast: every
    build side is dim-sized (derived dims and slices), so a SortMergeJoin
    appearing means a broadcast hint was lost and the fact table would
    shuffle per join at 100 TB."""
    from spk_sl_validation_spark.plans.registry import all_queries

    qs = all_queries()
    for name in ("pipeline_spk_sl_main", "pipeline_spk_sl_v1", "pipeline_status_cleansing"):
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_near_dup_bucketed_plan_shape(spark, sf_dir):
    """The banded near-dup plan must move vectors only via the (band,
    bucket, block) shuffle + the pair-dedup aggregate. The mega-bucket
    census adds one SKINNY shuffle (map-side partial count on (band,
    bucket) — ≤ 2^bits·n_bands rows cross the wire) and one bounded
    BroadcastExchange of that census; still no broadcast of a corpus
    matrix, no SortMergeJoin, no driver collect in the plan."""
    import re

    from spk_sl_validation_spark.ext.similarity import near_dup_pairs_bucketed
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = near_dup_pairs_bucketed(emb, 0.4)._jdf.queryExecution().executedPlan().toString()
    n_shuffles = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    assert n_shuffles == 3, (
        f"expected exactly 3 shuffles (census partial-count + block group + pair dedup): "
        f"{n_shuffles}"
    )
    assert plan.count("BroadcastExchange") == 1  # the census, never the vectors
    assert "SortMergeJoin" not in plan
    # one exploded (band, bucket) scan per side of the census join, not
    # a per-band union (8 scans at 4 bands)
    assert plan.count("FileScan") == 2
    assert "Union" not in plan
    assert "FlatMapGroupsInArrow" in plan


def test_write_zorder_bounds_both_dims(spark, sf_dir, tmp_path):
    """Z-order layout: every file's footer bounds BOTH cluster columns
    tightly, unlike a single-column sort which leaves the other
    column's per-file span at the full domain — the property that
    makes either-key predicates prune files."""
    import glob

    import pyarrow.parquet as pq

    from spk_sl_validation_spark.sources.sinks import write_clustered, write_zorder

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")

    def spans(path, col):
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            out.append(max(maxs) - min(mins))
        return out

    zpath = str(tmp_path / "z")
    xpath = str(tmp_path / "x")
    write_zorder(li, zpath, "l_orderkey", "l_partkey", n_files=16)
    write_clustered(li, xpath, ["l_orderkey"], n_files=16)

    g_x = li.agg(F.max("l_orderkey") - F.min("l_orderkey")).first()[0]
    g_y = li.agg(F.max("l_partkey") - F.min("l_partkey")).first()[0]

    # z-order: both dims bounded in the large majority of files (range
    # partitioner boundaries straddle z-cells, so a few files span
    # wider — the expected file-hit fraction for an either-key point
    # predicate is the MEAN span fraction, which must stay low).
    for col, g in (("l_orderkey", g_x), ("l_partkey", g_y)):
        zs = spans(zpath, col)
        assert sum(s <= 0.55 * g for s in zs) >= 0.75 * len(zs), (col, zs, g)
        assert sum(zs) / len(zs) < 0.5 * g, (col, zs, g)
    # single-column clustering: its own column tight, the OTHER at ~full span
    assert all(s < 0.3 * g_x for s in spans(xpath, "l_orderkey"))
    assert max(spans(xpath, "l_partkey")) > 0.9 * g_y

    assert spark.read.parquet(zpath).count() == li.count()


def test_top_k_per_group_gets_window_group_limit(spark, sf_dir):
    """Catalyst's InferWindowGroupLimit must rewrite the rank-limit
    window into a partial+final WindowGroupLimit pair — the map-side
    bound that makes plain rank-limited windows hot-key-safe (the
    round-8 domain_cap finding, pinned on the general operator: every
    rank-tail in the engine inherits this)."""
    import re

    from spk_sl_validation_spark.operators import relational as R
    from spk_sl_validation_spark.sources.readers import load_table

    import pyspark.sql.functions as F

    li = load_table(spark, sf_dir, "lineitem")
    df = R.top_k_per_group(
        li, ["l_suppkey"], [F.col("l_extendedprice").desc(), F.col("l_orderkey")], 5
    )
    fmt = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    n = len(re.findall(r"\(\d+\) WindowGroupLimit", fmt))
    assert n >= 2, f"WindowGroupLimit pair missing:\n{fmt[:1500]}"


def test_write_bucketed_never_deletes_other_databases_default_table(spark):
    """Round-8 review finding: with a non-default database current,
    tableExists('t') checks other.t while <warehouse>/t belongs to
    default.t — the orphan cleanup must NOT fire and rmtree live data.
    The guard is the currentDatabase()=='default' gate."""
    from spk_sl_validation_spark.operators.skew import write_bucketed

    spark.sql("CREATE DATABASE IF NOT EXISTS wbdb")
    spark.sql("DROP TABLE IF EXISTS default.wb_guard_t")
    spark.sql("DROP TABLE IF EXISTS wbdb.wb_guard_t")
    spark.range(5).write.mode("overwrite").saveAsTable("default.wb_guard_t")
    try:
        spark.catalog.setCurrentDatabase("wbdb")
        write_bucketed(
            spark.range(7).withColumnRenamed("id", "k"), "wb_guard_t", ["k"], 4
        )
        assert spark.table("wbdb.wb_guard_t").count() == 7
        # the default-db table's data must be untouched
        assert spark.table("default.wb_guard_t").count() == 5
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP TABLE IF EXISTS default.wb_guard_t")
        spark.sql("DROP TABLE IF EXISTS wbdb.wb_guard_t")
        spark.sql("DROP DATABASE IF EXISTS wbdb")


def test_write_bucketed_cleanup_skips_remote_warehouse(spark, tmp_path, monkeypatch):
    """Round-9 review finding: with a REMOTE warehouse URI whose path
    component also exists locally (s3a://bucket/wh vs /wh on the
    driver), the orphan sweep must not rmtree the unrelated local
    directory — the guard is the scheme in ('', 'file') gate."""
    import os

    from spk_sl_validation_spark.operators.skew import write_bucketed

    local_twin = tmp_path / "wh" / "wb_remote_t"
    local_twin.mkdir(parents=True)
    (local_twin / "keep.txt").write_text("live data")
    real = spark.conf.get("spark.sql.warehouse.dir")

    class FakeConf:
        def get(self, key, default=None):
            if key == "spark.sql.warehouse.dir":
                return f"s3a://bucket{tmp_path}/wh"
            return spark.conf.get(key, default)

        def set(self, k, v):
            spark.conf.set(k, v)

    monkeypatch.setattr(type(spark), "conf", property(lambda self: FakeConf()))
    try:
        spark.sql("DROP TABLE IF EXISTS wb_remote_t")
        write_bucketed(
            spark.range(3).withColumnRenamed("id", "k"), "wb_remote_t", ["k"], 2
        )
        assert os.path.exists(local_twin / "keep.txt"), "remote-URI sweep hit local fs"
    finally:
        monkeypatch.undo()
        spark.sql("DROP TABLE IF EXISTS wb_remote_t")
    assert spark.conf.get("spark.sql.warehouse.dir") == real
