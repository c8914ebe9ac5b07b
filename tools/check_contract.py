"""Local replica of the driver's correctness gate.

Runs entry(spark) as a smoke check, then every queries()[name] at
sf0.01 against oracle_sql()[name] in DuckDB: row count, schema
(column names), and an order-insensitive value hash. Exit 1 on any
mismatch. Usage:  python tools/check_contract.py [name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canonical(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    return str(v)


def frame_fingerprint(pdf) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        "\x1f".join(canonical(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(pdf), cols, h


def oracle_memory_limit_mb(spark) -> int:
    """DuckDB memory limit for the oracles: half of the host RAM left
    beside the driver JVM, whose ``spark.driver.memory`` counts for at
    most half the host. DuckDB's default, 80 % of RAM, ignores the JVM
    in the same process tree: an sf0.1 sweep's Python process reached
    9.3 GB, at the basket_association_rules oracle, next to a 4.6 GB
    JVM and was OOM-killed."""
    with open("/proc/meminfo") as fh:
        total_mb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:")) // 1024
    driver_mb = spark.sparkContext._jvm.org.apache.spark.util.Utils.memoryStringToMb(
        spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    )
    return (total_mb - min(driver_mb, total_mb // 2)) // 2


def main() -> int:
    import duckdb

    import __spark_entry__ as contract
    from spk_sl_validation_spark.session import build_session, release

    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            print("usage: check_contract.py [--json OUT.json] [name ...]", file=sys.stderr)
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = set(args)
    results: dict[str, dict] = {}
    # Codegen tripwire (round 11): with the default
    # spark.sql.codegen.fallback=true a janino compile failure (the
    # 64 KB "Code grows beyond" class that cost r10 three interpreted-
    # HOF walls) silently runs the stage interpreted — correct
    # results, 4-10x the wall. The sweep runs with fallback=false so
    # any registered query whose whole-stage codegen fails to COMPILE
    # turns red here instead of surfacing as unexplained bench drift.
    # (tests/test_codegen_tripwire.py pins both behaviors.)
    spark = build_session(app_name="check-contract")
    spark.conf.set("spark.sql.codegen.fallback", "false")

    t0 = time.time()
    smoke = contract.entry(spark)
    n = smoke.count()
    print(f"entry() smoke: {n} rows, schema={[f.name for f in smoke.schema]} ({time.time()-t0:.1f}s)")
    assert n >= 0

    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{oracle_memory_limit_mb(spark)}MB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = contract.queries(), contract.oracle_sql()
    failures = []
    for name, builder in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spdf = builder(spark, SF_DIR).toPandas()
        # drop the query's cached/checkpointed state, as bench.py does:
        # hundreds of builders in one session otherwise pile it up
        release(spark)
        s_n, s_cols, s_hash = frame_fingerprint(spdf)
        ddf = con.execute(oracles[name]).df()
        d_n, d_cols, d_hash = frame_fingerprint(ddf)
        ok = (s_n, s_cols, s_hash) == (d_n, d_cols, d_hash)
        results[name] = {
            "check": "value_hash",
            "ok": ok,
            "spark_rows": s_n,
            "oracle_rows": d_n,
            "cols_match": s_cols == d_cols,
            "hash_match": s_hash == d_hash,
        }
        status = "OK " if ok else "FAIL"
        print(
            f"  {name:28s} {status} spark={s_n} duck={d_n} "
            f"cols_match={s_cols == d_cols} hash_match={s_hash == d_hash} ({time.time()-t0:.1f}s)"
        )
        if not ok:
            failures.append(name)
            if s_cols != d_cols:
                print(f"    spark cols: {s_cols}\n    duck  cols: {d_cols}")
            else:
                merged = spdf.sort_values(list(spdf.columns)).head(3)
                print(f"    spark head:\n{merged}")
                print(f"    duck  head:\n{ddf.sort_values(list(ddf.columns)).head(3)}")

    print(f"\n{len(results) - len(failures)} oracle-matched, {len(failures)} FAILED: {failures}")
    if json_out:
        import json

        summary = {
            "sf_dir": SF_DIR,
            "n_queries": len(results),
            "n_value_checked": sum(1 for r in results.values() if r.get("check") == "value_hash"),
            "n_failed": len(failures),
            "queries": results,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
