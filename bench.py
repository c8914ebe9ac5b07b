"""Benchmark harness (driver contract).

Runs the registry's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

    python bench.py                               # the headline set
    python bench.py web_url_dedup dedup_pipeline  # any registered queries;
                                                  # metric "selected_queries_*"

Each query is executed with a noop write (forces full computation on
the executors, no driver-side collect) — what a cluster run would
measure.

Attributability (round-3 contract): per query, one unmeasured warm-up
run (JVM/codegen/file-index warm) followed by ``BENCH_RUNS`` measured
runs. ``queries`` reports per-query MEDIANS (the headline ``value`` is
their sum — robust to one-off host hiccups); ``queries_detail`` adds
min, spread and measured-run codegen compiles per query and ``host``
fingerprints the machine, so a cross-round delta can be attributed to
a plan change vs host drift by ratio, not guesswork. BENCH_HISTORY.md
keeps one row per round.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Pinned measured-run count (after 1 unmeasured warm-up per query).
RUNS = int(os.environ.get("BENCH_RUNS", "3"))

# Sampled at IMPORT time, before the Spark JVM and warm-up runs exist:
# sampling at fingerprint-build time reads the bench's own load
# (measured >=1.7 even from a 0.04-load shell), making the committed
# load1 context useless for drift attribution.
try:
    _LOAD1_AT_LAUNCH: float | None = round(os.getloadavg()[0], 2)
except OSError:
    _LOAD1_AT_LAUNCH = None


def _host_fingerprint() -> dict:
    import platform

    import pyspark

    from perfbench.run import source_rev

    return {
        "cpus": os.cpu_count(),
        "platform": platform.platform(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        # attribution: which code produced the numbers, and how busy the
        # host was at measurement start (day-to-day drift has measured
        # 2x+ on this box — per-query deltas without a rev+load context
        # are uninterpretable). git_rev is None outside a repository and
        # names the last commit of a dirty tree; src_sha hashes the
        # package sources, so it tells both cases apart.
        **source_rev(),
        "load1_at_start": _LOAD1_AT_LAUNCH,
    }


def _py_worker_calibrator(spark, runs: int) -> dict:
    """Fixed-size Arrow/pandas_udf workload, sf-INDEPENDENT: 4M longs
    through a numpy pipeline in 32 partitions, noop-written like every
    query. pricing_summary calibrates JVM-side host drift, but a
    JVM-only calibrator cannot see Python-WORKER contention (fork/
    spawn latency, Arrow transfer, numpy throughput) — the r10 driver
    bench moved the pandas_udf-bound family 1.2-1.4x while the JVM
    calibrator moved 1.02x, and this number is what attributes that.
    """
    import pandas as pd  # noqa: F401 — resolved by get_type_hints below
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _mix_impl(v):
        import numpy as np

        x = v.to_numpy(dtype="float64")
        for _ in range(8):
            x = np.sqrt(x * 1.0000001 + 1.0)
        return pd.Series(x)

    # annotations set explicitly (not inline) because this module uses
    # `from __future__ import annotations`: stringized inline hints
    # fail pandas_udf's type inference for locally-imported pandas
    _mix_impl.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _mix = pandas_udf(_mix_impl, "double")

    samples: list[float] = []
    for run in range(runs + 1):  # run 0 = unmeasured warm-up
        t0 = time.time()
        (
            spark.range(0, 4_000_000, 1, 32)
            .select(_mix(F.col("id")).alias("v"))
            .selectExpr("sum(v) AS s")
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        if run > 0:
            samples.append(time.time() - t0)
    return {
        "median": round(statistics.median(samples), 3),
        "min": round(min(samples), 3),
        "max": round(max(samples), 3),
    }


def py_worker_cpu_s(spark) -> float:
    """CPU seconds so far of the driver JVM's descendant processes (the
    Python worker daemon and its workers): utime+stime+cutime+cstime
    from ``/proc/<pid>/stat``. The cutime/cstime terms keep the workers
    the daemon has already reaped. The difference of two readings is
    the Python-worker CPU of what ran between them."""
    import collections

    children: dict[int, list[int]] = collections.defaultdict(list)
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # fields after "(comm)": state, ppid, ..., utime at index 11
        fields = stat[stat.rindex(")") + 2:].split()
        children[int(fields[1])].append(int(entry))
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])
    total, stack = 0, list(children[spark.sparkContext._gateway.proc.pid])
    while stack:
        pid = stack.pop()
        total += ticks[pid]
        stack.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


def main(names: list[str] | None = None) -> None:
    """Time ``names`` (any registered queries), default the headline set."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from spk_sl_validation_spark.plans.registry import REGISTRY, headline_queries
    from spk_sl_validation_spark.session import build_session, codegen_compiles, release

    specs = headline_queries()  # also loads the registry
    if names:
        unknown = [name for name in names if name not in REGISTRY]
        if unknown:
            sys.exit(f"not registered: {', '.join(unknown)}")
        specs = {name: REGISTRY[name] for name in names}
    # A chosen subset is not the headline total: name its lines apart.
    metric = "selected_queries" if names else "headline_queries"

    spark = build_session(app_name="bench")

    # warm-up: JVM/codegen/filesystem caches
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Python-worker calibrator BEFORE the query loop (it also warms
    # the Python worker pool the pandas_udf queries reuse).
    py_cal = _py_worker_calibrator(spark, RUNS)

    medians: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name, spec in specs.items():
        samples: list[float] = []
        py_cpu: list[float] = []
        warmup_s = 0.0
        compiles = 0
        for run in range(RUNS + 1):  # run 0 = unmeasured warm-up
            c0 = codegen_compiles(spark)
            p0 = py_worker_cpu_s(spark)
            t0 = time.time()
            spec.builder(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            if run > 0:
                samples.append(dt)
                compiles += codegen_compiles(spark) - c0
                py_cpu.append(py_worker_cpu_s(spark) - p0)
            else:
                warmup_s = dt
            # Isolate measurements: drop cached/checkpointed RDDs and
            # broadcast blocks between runs. Without this, leaked session
            # state piles up across the suite and later queries pay its
            # GC bill — measured 2.6x total inflation at sf0.1.
            release(spark)
        med = statistics.median(samples)
        medians[name] = round(med, 3)
        detail[name] = {
            "median": round(med, 3),
            "min": round(min(samples), 3),
            "max": round(max(samples), 3),
            "stdev": round(statistics.stdev(samples), 3) if len(samples) > 1 else 0.0,
            # honesty field (r12, verdict item 8): run 0's wall. Any
            # one-time session-scoped cost a query amortizes — JVM/
            # codegen warm-up, per-session fixture-manifest builds
            # (webcure_queries._materialized) — lands HERE, visibly,
            # instead of silently vanishing from the medians.
            "warmup_s": round(warmup_s, 3),
            # Janino compiles during the measured runs. Non-zero after
            # the warm-up means the generated-code cache is thrashing.
            "codegen_compiles": compiles,
            # CPU of the Python workers per measured run: the share of a
            # query's cost that an Arrow-batched or JVM rewrite can move.
            "py_worker_cpu_s": round(statistics.median(py_cpu), 3),
        }

    host = _host_fingerprint()
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Detailed line first; the compact contract line LAST. The driver keeps a
    # byte-bounded tail of stdout, which truncated the head of the single long
    # line in r5/r6 ("parsed": null) — a short final line always survives the
    # tail capture intact.
    print(
        json.dumps(
            {
                "metric": f"{metric}_detail",
                "queries_detail": detail,
                "py_worker_calibrator": py_cal,
                "runs": RUNS,
                "aggregation": "median",
                "host": host,
                "sf": sf_val,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": f"{metric}_total_wall_clock",
                "value": round(sum(medians.values()), 3),
                "unit": "sec",
                "queries": medians,
                "py_worker_calibrator": py_cal["median"],
                "sf": sf_val,
                "git_rev": host["git_rev"],
                "src_sha": host["src_sha"],
                "runs": RUNS,
                "aggregation": "median",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
