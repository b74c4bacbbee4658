#!/usr/bin/env python
"""One-off perf measurement of the catalog entries bench.py OMITS
(VERDICT r12 #7: 30+ entries never appear in HEADLINE, so their sf0.1
wall time was never committed; the sf0.01 gate times them every round,
but scale behavior was unmeasured).

Methodology is bench.py's by construction — the same `warm`,
`run_once` (noop-write execution, released caches and GC gap between
runs) and `median` over 3 reps per entry on the shared session, cpu
marker + loadavg bracketing so a contended run is detectable
post-hoc — over
`set(QUERIES) - set(HEADLINE)`. Three entry classes get a `class`
annotation in the artifact so the numbers are read correctly:

  - "replay":    the 31-day composed replays — wall is ~90%% driver-side
                 plan composition (documented in bench.py's HEADLINE
                 comment), measured here anyway so the number exists.
  - "allpairs":  deliberately-quadratic baselines kept out of HEADLINE
                 because their cost IS the point of their twin entry.
  - "batch"/"streaming"/"write": everything else, by surface.

Perf gate (VERDICT r13 #8): per-entry medians compare against the
committed baseline BENCH_tail_baseline.json with CLASS-APPROPRIATE
thresholds — batch/write 2x (the headline discipline), streaming/
replay/allpairs 3x (micro-batch machinery and driver-side plan
composition swing harder run-to-run than batch plans). The threshold
scales by the host-speed ratio (marker_now / marker_then, capped at
bench.HOST_FACTOR_CAP), the slow predicate is bench.is_slow (the one
tools/gate_check.py uses), and a tripped entry is re-timed once (best
sample kept) before it fails. Exit 2 on confirmed
regressions; --no-perf-gate reports ratios without failing;
--update-baseline rewrites the baseline from this run (idle host,
after intentional changes).

Usage: python tools/bench_tail.py [sf_dir] [--out=PATH]
         [--no-perf-gate] [--update-baseline]
Writes BENCH_tail.json at the repo root by default.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402 — HEADLINE and the measurement core
from data_engineering_bootcamp_spark.plans.catalog import QUERIES  # noqa: E402
from data_engineering_bootcamp_spark.session import get_spark  # noqa: E402

REPLAYS = {"pipeline_replay_31d", "scd_replay_31d", "users_cumulated_replay_31d"}
ALLPAIRS = {"embedding_neardup_allpairs", "ngram_jaccard_allpairs"}

BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_tail_baseline.json",
)
CLASS_RATIO = {
    "batch": 2.0,
    "write": 2.0,
    "streaming": 3.0,
    "replay": 3.0,
    "allpairs": 3.0,
}


def _klass(name: str) -> str:
    if name in REPLAYS:
        return "replay"
    if name in ALLPAIRS:
        return "allpairs"
    if name.startswith("streaming_"):
        return "streaming"
    if name.endswith("_rollup") or name in {"metadata_scan", "insert_select_rollup"}:
        return "write"
    return "batch"


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_tail.json",
    )
    no_perf_gate = "--no-perf-gate" in sys.argv[1:]
    update_baseline = "--update-baseline" in sys.argv[1:]
    for f in sys.argv[1:]:
        if f.startswith("--out="):
            out_path = f.split("=", 1)[1]
    baseline = None
    if os.path.exists(BASELINE_PATH):
        with open(BASELINE_PATH) as fh:
            baseline = json.load(fh)
    tail = [q for q in QUERIES if q not in set(bench.HEADLINE)]
    load_start = os.getloadavg()
    cpu_marker = bench.cpu_marker()[1]
    spark = get_spark(app_name="bench-tail")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm(spark, sf_dir)

    timings: dict[str, float] = {}
    reps_out: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in tail:
        per_rep: list[float] = []
        for _ in range(3):
            try:
                per_rep.append(bench.run_once(spark, QUERIES[name], sf_dir))
            except Exception as exc:  # noqa: BLE001 — fault isolation
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                break
        # an entry that errored mid-run records ONLY under errors —
        # a median of 1-2 surviving reps must not read as a 3-rep median
        if per_rep and name not in errors:
            timings[name] = bench.median(per_rep)
            reps_out[name] = per_rep
        print(f"{name:34s} {timings.get(name, float('nan')):7.3f}s "
              f"{per_rep}", flush=True)

    # class-thresholded perf gate against the committed baseline
    perf_fails: list[str] = []
    ratios: dict[str, float] = {}
    if baseline is not None:
        base_times = baseline.get("times", {})
        base_marker = baseline.get("cpu_marker_sec") or cpu_marker
        host_factor = min(
            bench.HOST_FACTOR_CAP, max(1.0, cpu_marker / base_marker)
        )
        for name, now in sorted(timings.items()):
            base = base_times.get(name)
            if not base:
                continue
            cap = CLASS_RATIO[_klass(name)] * host_factor
            slow = bench.is_slow(now, base, cap)
            if slow:
                # confirm once: a lone contended sample must not fail
                try:
                    now = min(now, bench.run_once(spark, QUERIES[name], sf_dir))
                except Exception:  # noqa: BLE001 — keep prior sample
                    pass
                slow = bench.is_slow(now, base, cap)
            ratio = ratios[name] = round(now / base, 2)
            if slow:
                perf_fails.append(name)
                print(
                    f"SLOW {name}: {now:.2f}s = {ratio:.2f}x base "
                    f"{base:.2f}s (cap {cap:.2f}x, class "
                    f"{_klass(name)})", flush=True,
                )
    doc = {
        "metric": "tail_queries_total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "n_queries": len(timings),
        "bench_reps": 3,
        "cpu_marker_sec": cpu_marker,
        "loadavg_start": list(load_start),
        "loadavg_end": list(os.getloadavg()),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "queries_reps": reps_out,
        "classes": {n: _klass(n) for n in timings},
        "errors": errors,
        "perf_ratios": ratios,
        "perf_fails": perf_fails,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}: total {doc['value']} s over {len(timings)}")
    if update_baseline and not errors:
        with open(BASELINE_PATH, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "cpu_marker_sec": cpu_marker,
                    "times": timings,
                    "classes": {n: _klass(n) for n in timings},
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"baseline updated: {BASELINE_PATH}")
    if perf_fails:
        print(
            f"PERF: {len(perf_fails)} tail entr"
            f"{'y' if len(perf_fails) == 1 else 'ies'} regressed past "
            f"the class threshold: {', '.join(perf_fails)}"
            + (" [overridden by --no-perf-gate]" if no_perf_gate else "")
        )
    if errors:
        return 1
    if perf_fails and not no_perf_gate:
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
