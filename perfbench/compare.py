"""Read benchmark result files; print them, or A/B two commits.

    python3 perfbench/compare.py show RESULTS
    python3 perfbench/compare.py json RESULTS
    python3 perfbench/compare.py ab PARENT CHANGE

``RESULTS``, ``PARENT`` and ``CHANGE`` are directories laid out like
``.perfbench/results`` (``<workload>/seed<n>-trace<t>.json``), one per
commit.  ``show`` prints every end-to-end metric of every workload with
its unit, median, quartiles and sample count; ``json`` writes the same
summary, with one traced run's per-layer metrics, as JSON (the form of
``baseline-4core.json``).  ``ab`` applies the
benchmark's acceptance rule to untraced runs paired by seed:

* improved: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's
  quartile spread;
* regressed: the change's median is worse than the parent's by more
  than the metric's bound;
* unresolved: the parent's own spread is wider than the bound, unless
  every change run beats every parent run;
* otherwise within bound.

It then compares the traced runs' counters seed by seed and flags every
counter that is not identical, and it flags runs whose host markers
read more than 1.5x the median marker (a throttled host).
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import E2E  # noqa: E402

# per-layer counters that must repeat exactly for the same code and seed
COUNTERS = (
    "plans.jobs",
    "plans.stages",
    "plans.tasks",
    "plans.tasks_failed",
    "plans.sql_executions",
    "plans.shuffle_write_bytes",
    "plans.shuffle_records",
    "plans.input_bytes",
    "plans.broadcast_bytes",
    "sources.scan_rows",
    "sources.scan_bytes",
    "sources.write_files",
    "operators.python_rows",
    "operators.python_bytes_sent",
    "operators.python_bytes_returned",
    "operators.persisted_rdds",
    "operators.spill_bytes",
    "streaming.triggers",
    "streaming.input_rows",
    "streaming.state_rows",
    "streaming.watermark_dropped",
)
DEFAULT_BOUND = 0.25


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile above the median with at least ten of
    ``n`` samples beyond it, if there is one."""
    pct = math.floor(100 * (n - 10) / n) if n > 10 else 0
    return pct if pct > 50 else None


def percentile(values: list[float], pct: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(pct / 100 * len(s)) - 1))]


def load(root: str) -> dict[str, dict[tuple[int, int], dict]]:
    """{workload: {(seed, trace): record}}"""
    out: dict[str, dict[tuple[int, int], dict]] = {}
    for path in glob.glob(os.path.join(root, "*", "seed*-trace[01].json")):
        with open(path) as f:
            r = json.load(f)
        out.setdefault(r["workload"], {})[(r["seed"], r["trace"])] = r
    return out


def bounds() -> dict[str, float]:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def throttled(records: list[dict]) -> list[str]:
    out = []
    for key in ("single_thread_marker_s", "multi_core_marker_s"):
        med = statistics.median(r["host"][key] for r in records)
        out += [
            f"seed {r['seed']}: {key} {r['host'][key]:.3f} vs median {med:.3f}"
            for r in records
            if r["host"][key] > 1.5 * med
        ]
    return out


def pooled_samples(records: list[dict], field: str) -> list[float]:
    """Every timed sample of ``field`` in the untraced passes of ``records``;
    one run takes too few for a tail with ten samples beyond it."""
    out: list[float] = []
    for r in records:
        for p in r["passes"]:
            if not p["traced"]:
                for e in p["entries"]:
                    v = e.get(field)
                    out.extend(v if isinstance(v, list) else [] if v is None else [v])
    return out


def summary(root: str) -> dict:
    """Per workload: median, quartiles and sample count of every
    end-to-end metric over the untraced runs, pooled tails, throttled
    runs, and the per-layer metrics of the lowest-seed traced run."""
    out = {}
    for wl, runs in sorted(load(root).items()):
        plain = [r for (_, t), r in sorted(runs.items()) if t == 0]
        traced = [r for (_, t), r in sorted(runs.items()) if t == 1]
        entry: dict = {"seeds": [r["seed"] for r in plain], "metrics": {}}
        for name, (unit, better) in E2E.items():
            v = [r["metrics"][name] for r in plain if name in r["metrics"]]
            if v:
                q1, med, q3 = quartiles(v)
                entry["metrics"][name] = {
                    "median": med, "q1": q1, "q3": q3, "n": len(v), "unit": unit, "better": better
                }
        for key in ("query_s", "trigger_ms"):
            pooled = pooled_samples(plain, key)
            pct = tail_percentile(len(pooled))
            if pct:
                entry["metrics"][f"{key}.tail_pooled"] = {
                    "percentile": pct, "value": percentile(pooled, pct), "n": len(pooled),
                    "unit": E2E[key + ".tail"][0],
                }
        entry["throttled"] = throttled(plain) if plain else []
        if traced:
            entry["layers"] = {"seed": traced[0]["seed"], **traced[0]["layers"]}
            entry["host"] = traced[0]["host"]
        out[wl] = entry
    return out


def show(root: str) -> None:
    for wl, entry in summary(root).items():
        print(f"{wl}  ({len(entry['seeds'])} untraced runs, seeds {entry['seeds']})")
        for name, m in entry["metrics"].items():
            if "percentile" in m:
                print(f"  {name:22s} p{m['percentile']} = {m['value']:.5g} {m['unit']} n={m['n']}")
            else:
                print(
                    f"  {name:22s} {m['median']:12.5g} {m['unit']:7s} "
                    f"[{m['q1']:.5g}, {m['q3']:.5g}] n={m['n']} {m['better']} is better"
                )
        for line in entry["throttled"]:
            print(f"  THROTTLED {line}")


def ab(parent_root: str, change_root: str) -> int:
    parent, change, bound_of = load(parent_root), load(change_root), bounds()
    bad = 0
    for wl in sorted(set(parent) & set(change)):
        p_runs = {s: r for (s, t), r in parent[wl].items() if t == 0}
        c_runs = {s: r for (s, t), r in change[wl].items() if t == 0}
        seeds = sorted(set(p_runs) & set(c_runs))
        print(f"{wl}: {len(seeds)} seed pairs")
        for name, (unit, better) in E2E.items():
            pv = [p_runs[s]["metrics"].get(name) for s in seeds]
            cv = [c_runs[s]["metrics"].get(name) for s in seeds]
            if not seeds or None in pv or None in cv:
                continue
            sign = 1 if better == "lower" else -1
            wins = sum(sign * (p - c) > 0 for p, c in zip(pv, cv))
            q1, pm, q3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            bound = bound_of.get(name, DEFAULT_BOUND)
            worse = sign * (cm - pm) / pm if pm else 0.0
            if wins >= 0.9 * len(seeds) and abs(cm - pm) > q3 - q1 and sign * (pm - cm) > 0:
                verdict = "improved"
            elif pm and (q3 - q1) / pm > bound and not all(
                sign * (p - c) > 0 for p in pv for c in cv
            ):
                verdict = "unresolved (parent spread wider than bound)"
            elif worse > bound:
                verdict, bad = f"REGRESSED by {worse:.1%} (bound {bound:.0%})", bad + 1
            else:
                verdict = "within bound"
            print(
                f"  {name:18s} parent {pm:.5g} [{q1:.5g}, {q3:.5g}]  change {cm:.5g} "
                f"[{c1:.5g}, {c3:.5g}] {unit}  wins {wins}/{len(seeds)}  {verdict}"
            )
        for s in sorted({s for (s, t) in parent[wl] if t} & {s for (s, t) in change[wl] if t}):
            pl, cl = parent[wl][(s, 1)]["layers"], change[wl][(s, 1)]["layers"]
            for k in COUNTERS:
                if pl.get(k) != cl.get(k):
                    print(f"  counter {k} seed {s}: {pl.get(k)} -> {cl.get(k)}")
        for side, runs in (("parent", p_runs), ("change", c_runs)):
            for line in throttled(list(runs.values())) if runs else ():
                print(f"  THROTTLED {side} {line}")
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    if len(argv) == 2 and argv[0] == "show":
        show(argv[1])
        return 0
    if len(argv) == 2 and argv[0] == "json":
        print(json.dumps(summary(argv[1]), indent=1))
        return 0
    if len(argv) == 3 and argv[0] == "ab":
        return ab(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
