"""Time a subset of registered queries with bench.py's methodology
(noop sink, 1 unmeasured warm-up + N measured runs, median), plus the
JVM anchor (pricing_summary) and the Python-worker calibrator for
drift attribution. Works on ANY registered query, not just headline.

    python tools/bench_some.py web_curation_pipeline web_url_dedup
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))


def main() -> None:
    names = sys.argv[1:]
    from bench import _py_worker_calibrator

    from spk_sl_validation_spark.plans.registry import all_queries
    from spk_sl_validation_spark.session import build_session, release

    spark = build_session(app_name="bench_some")
    specs = all_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    py_cal = _py_worker_calibrator(spark, RUNS)

    out: dict[str, dict] = {}
    for name in names:
        samples: list[float] = []
        for run in range(RUNS + 1):
            t0 = time.time()
            specs[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            if run > 0:
                samples.append(dt)
            release(spark)
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "min": round(min(samples), 3),
            "max": round(max(samples), 3),
        }
    print(json.dumps({"queries": out, "py_worker_calibrator": py_cal, "sf_dir": SF_DIR}))
    spark.stop()


if __name__ == "__main__":
    main()
