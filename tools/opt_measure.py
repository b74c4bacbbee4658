#!/usr/bin/env python
"""Per-query optimization measurement harness (r16).

For each named catalog query: build the DataFrame at
$SPARK_GRAFT_SF_DIR (default sf0.1), capture `.explain("formatted")`
to plans/<dir>/<name>_<suffix>.txt, and time the noop-sink execution
(guide §1.4) REPS times with bench.py's `run_once`, printing per-rep
seconds + bench.py's `median`.

Usage:
  python tools/opt_measure.py [--suffix=before] [--reps=3] [--no-plan]
                              [--dir=r17] q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402 — the measurement core
from data_engineering_bootcamp_spark.operators.dedup import release_caches  # noqa: E402
from data_engineering_bootcamp_spark.plans.catalog import QUERIES  # noqa: E402
from data_engineering_bootcamp_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = "before"
    reps = 3
    plan = True
    plan_dir = "r17"
    names: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--dir="):
            plan_dir = a.split("=", 1)[1]
        elif a == "--no-plan":
            plan = False
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", plan_dir,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm(spark, sf_dir)

    results: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        if plan:
            try:
                df = fn(spark, sf_dir)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
                    fh.write(txt)
            except Exception as exc:  # noqa: BLE001
                print(f"PLAN-FAIL {name}: {exc}", flush=True)
            finally:
                try:
                    release_caches()
                except Exception:
                    pass
        per: list[float] = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            try:
                per.append(bench.run_once(spark, fn, sf_dir))
            except Exception as exc:  # noqa: BLE001
                print(f"RUN-FAIL {name}: {exc}", flush=True)
                break
        spark.sparkContext.setJobDescription(None)
        med = bench.median(per) if per else None
        results[name] = {"reps": per, "median": med}
        print(f"{name}: median={med} reps={per}", flush=True)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
