"""Closed-loop benchmark of the query catalog, end to end and per layer.

    python3 perfbench/run.py --workload bootcamp_sql --seed 1 --seconds 14 --trace 0

One run, in one process, from the root of a checkout:

1. make the inputs: generated tables with rows permuted by ``--seed``
   (``datagen``), and the DuckDB oracle answers, both cached under
   ``.perfbench/``;
2. record the host (cores, load, CPU markers);
3. set up: import the engine, ``session.get_spark``, first scan, first
   local relation, first Python worker -> ``setup_s``;
4. verify pass, untimed, which is also the warm-up: every entry's output
   is compared with its oracle through ``tests.oracle_harness.compare``;
5. timed passes over the entries in a seed-permuted order: as many
   whole passes as take ``--seconds`` on the reference host
   (``workloads.timed_passes``), the same number on any host; an entry
   is ``QUERIES[name]`` plus a ``noop`` write, then ``release_caches()``.

``--trace 1`` alternates untraced and traced passes.  A traced pass
forces each plan, reads each entry's counters from Spark's status stores
(``ledger``) and records spans.  The run reports per-layer counters and
self times from the traced passes, and the tracing overhead as traced
minus untraced ``pass_s``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (entry runs, verify pass included) and ``metrics`` (the
end-to-end metrics of ``BENCHMARK.json``, or with ``--trace 1`` its
per-layer ones).  Every metric is printed above it, and the full record
(per-entry samples, host record) is written to
``.perfbench/results/<workload>/seed<seed>-trace<t>.json``, with the
spans of a traced run beside it.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import host  # noqa: E402
from workloads import SF, WORKLOADS, timed_passes, unit_of  # noqa: E402


def oracle_answers(entries: list[str], base_dir: str) -> dict:
    """DuckDB oracle output per entry, computed once per checkout on the
    unpermuted tables (the answers do not depend on row order)."""
    from data_engineering_bootcamp_spark.plans.catalog import ORACLES
    from tests.oracle_harness import duck_con

    cache = os.path.join(WORK, "oracle", os.path.basename(base_dir))
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name in entries:
        sql = ORACLES[name]
        path = os.path.join(cache, f"{name}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.pkl")
        if not os.path.exists(path):
            con = con or duck_con(base_dir)
            con.sql(sql).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            out[name] = pickle.load(f)
    return out


class Spans:
    """Spans kept in memory until the run ends: run id, name (its prefix
    is the layer), start and end in epoch seconds, parent index."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def add(self, run_id: str, name: str, start: float, end: float, parent=None) -> int:
        self.rows.append({"id": run_id, "name": name, "start": start, "end": end, "parent": parent})
        return len(self.rows) - 1

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part their children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.rows:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.rows):
            if "." not in s["name"]:
                continue  # an entry's root span only groups its children
            covered = sum(
                max(0.0, min(c["end"], s["end"]) - max(c["start"], s["start"]))
                for c in kids.get(i, ())
            )
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out


class Runner:
    """Runs catalog entries one at a time and keeps the failure count."""

    def __init__(self, spark, data_dir: str, listener, ledger) -> None:
        from data_engineering_bootcamp_spark.operators.dedup import release_caches
        from data_engineering_bootcamp_spark.plans.catalog import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.listener = listener
        self.ledger = ledger
        self.queries = QUERIES
        self.release_caches = release_caches
        self.attempted = 0
        self.failed: list[dict] = []
        self.spans = Spans()

    def cleanup(self) -> None:
        """Stop any stream an entry left running and drop its caches, so a
        fault cannot leak into the next entry."""
        for q in self.spark.streams.active:
            q.stop()
        self.release_caches()

    def _persisted(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def verify(self, name: str, expected) -> None:
        from tests.oracle_harness import compare

        self.attempted += 1
        try:
            problems = compare(self.queries[name](self.spark, self.data_dir), expected)
        except Exception as exc:  # noqa: BLE001 — one entry must not end the run
            problems = [f"{type(exc).__name__}: {exc}"]
        finally:
            self.cleanup()
            self.listener.drain()
            gc.collect()
        if problems:
            self.failed.append({"entry": name, "phase": "verify", "problems": problems[:3]})

    def timed(self, name: str, run_id: str, traced: bool) -> dict:
        """One timed entry run; with ``traced`` also its counters and spans."""
        self.attempted += 1
        rec: dict = {"entry": name}
        mark = self.ledger.mark() if traced else None
        before = self._persisted() if traced else set()
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            if traced:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            rec.update(query_s=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        except Exception as exc:  # noqa: BLE001 — one entry must not end the run
            self.failed.append({"entry": name, "phase": run_id, "problems": [repr(exc)[:500]]})
        finally:
            persisted = len(self._persisted() - before) if traced else 0
            r0 = time.perf_counter()
            self.cleanup()
            rec["release_s"] = time.perf_counter() - r0
        progress = self.listener.drain()
        rec["trigger_ms"] = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        rec["stream_rows"] = sum(p.get("numInputRows", 0) for p in progress)
        if traced and "query_s" in rec:
            import ledger

            q0 = time.perf_counter()
            counters = ledger.trigger_stats(progress)
            counters.update(self.ledger.read(mark))
            counters["operators.persisted_rdds"] = persisted
            rec["counters"] = counters
            rec["read_s"] = time.perf_counter() - q0
            self._spans(run_id, w0, rec, progress)
        # untimed hygiene: drop the Py4J handles the entry left, so the
        # JVM can free what they pin before the next entry starts
        g0 = time.perf_counter()
        gc.collect()
        rec["gc_gap_s"] = time.perf_counter() - g0
        return rec

    def _spans(self, run_id: str, w0: float, rec: dict, progress: list[dict]) -> None:
        import ledger

        steps = [
            ("plans.build", rec["build_s"]),
            ("plans.plan", rec["plan_s"]),
            ("plans.exec", rec["exec_s"]),
            ("operators.release", rec["release_s"]),
            ("trace.read", rec["read_s"]),
        ]
        root = self.spans.add(run_id, "entry", w0, w0 + sum(d for _, d in steps))
        t, ids = w0, {}
        for name, d in steps:
            ids[name] = self.spans.add(run_id, name, t, t + d, root)
            t += d
        build_end = w0 + rec["build_s"]
        for p in progress:
            s, e = ledger.trigger_span(p)
            # streaming entries run their streams inside the catalog call
            parent = ids["plans.build"] if s < build_end else ids["plans.exec"]
            self.spans.add(run_id, "streaming.trigger", s, e, parent)


def set_up(data_dir: str) -> tuple:
    """Session start and warm-up, timed from the first engine import."""
    w0, t0 = time.time(), time.perf_counter()
    from data_engineering_bootcamp_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from data_engineering_bootcamp_spark.sources.readers import load_table

    load_table(spark, data_dir, "lineitem").count()
    spark.createDataFrame([(1,)], "warm int").count()
    spark.range(1).mapInPandas(lambda batches: batches, "id long").collect()
    t2 = time.perf_counter()
    times = {"session.start_s": t1 - t0, "session.warm_s": t2 - t1}
    spans = [
        ("session.start", w0, w0 + t1 - t0),
        ("session.warm", w0 + t1 - t0, w0 + t2 - t0),
    ]
    return spark, times, spans


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def summarise(passes: list[dict], setup: dict, rss_bytes: int, runner: Runner) -> dict[str, float]:
    """End-to-end metrics, from the untraced passes."""
    plain = [p for p in passes if not p["traced"]]
    samples = [r["query_s"] for p in plain for r in p["entries"] if "query_s" in r]
    triggers = [t for p in plain for r in p["entries"] for t in r["trigger_ms"]]
    m: dict[str, float] = {
        "setup_s": setup["session.start_s"] + setup["session.warm_s"],
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "query_s.p50": statistics.median(samples),
        "peak_rss_mb": rss_bytes / 2**20,
        "error_rate": len(runner.failed) / runner.attempted,
    }
    # tails need more samples than one run takes: compare.py pools runs
    if triggers:
        m["trigger_ms.p50"] = statistics.median(triggers)
        rows = sum(r["stream_rows"] for p in plain for r in p["entries"])
        m["stream_rows_per_s"] = rows / (sum(triggers) / 1e3)
    return m


def layer_metrics(passes: list[dict], setup: dict, runner: Runner) -> dict:
    """Per-layer counters and times summed per traced pass, median over
    traced passes; layer self times and tracing overhead."""
    traced = [p for p in passes if p["traced"]]
    per_pass = []
    for p in traced:
        acc: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            acc[key] = acc.get(key, 0) + v

        for r in p["entries"]:
            for k, v in r.get("counters", {}).items():
                add(k, v)
            for k in ("build_s", "plan_s", "exec_s"):
                add(f"plans.{k}", r.get(k, 0))
            add("operators.release_s", r["release_s"])
            add("trace.read_s", r.get("read_s", 0))
        # executor busy share of the entries' wall time on all cores: far
        # below 1 means the pass waits on the Spark driver, not on tasks
        wall = sum(r.get("query_s", 0) for r in p["entries"])
        acc["plans.core_busy"] = acc.get("plans.executor_run_s", 0) / (wall * host.cpu_count())
        per_pass.append(acc)
    keys = sorted({k for acc in per_pass for k in acc})
    out = {k: statistics.median(acc.get(k, 0) for acc in per_pass) for k in keys}
    out.update(setup)
    for layer, s in runner.spans.self_times().items():
        per = 1 if layer == "session" else len(traced)
        out[f"{layer}.self_s"] = s / per
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
        p["wall_s"] for p in passes if not p["traced"]
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "data_engineering_bootcamp_spark")):
        print(f"perfbench: no engine package beside {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    entries = WORKLOADS[args.workload]

    threads = host.cpu_count()
    tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(threads),
        # the inputs are ~2 MB: a 2 GiB heap is ample and keeps the run
        # small on a shared host (the engine's default asks for 16 GiB)
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
        # Python workers import the engine from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    phases = {"start": time.perf_counter()}
    data_dir = datagen.prepare(os.path.join(WORK, "data"), SF, args.seed)
    base_dir = datagen.prepare(os.path.join(WORK, "data"), SF, 0)
    expected = oracle_answers(entries, base_dir)
    rng = random.Random(args.seed)

    def order() -> list[str]:
        return rng.sample(entries, len(entries)) if args.seed else list(entries)

    hostrec = host.record(threads)
    phases["inputs"] = time.perf_counter()

    spark = None
    try:
        with host.RssSampler() as rss:
            spark, setup, setup_spans = set_up(data_dir)
            phases["setup"] = time.perf_counter()
            import ledger

            listener = ledger.StreamListener()
            spark.streams.addListener(listener)
            runner = Runner(spark, data_dir, listener, ledger.Ledger(spark) if args.trace else None)
            for name, s, e in setup_spans:
                runner.spans.add("setup", name, s, e)
            for name in order():
                runner.verify(name, expected[name])
            phases["verify"] = time.perf_counter()
            passes: list[dict] = []
            for i in range(timed_passes(args.workload, args.seconds)):
                traced = bool(args.trace) and i % 2 == 1
                p0 = time.perf_counter()
                recs = [runner.timed(n, f"{n}#{i}", traced) for n in order()]
                # the pass as the user sees it: the harness's GC gaps are out
                wall = time.perf_counter() - p0 - sum(r["gc_gap_s"] for r in recs)
                passes.append({"traced": traced, "wall_s": wall, "entries": recs})
            phases["timed"] = time.perf_counter()
            spark.streams.removeListener(listener)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    phases["stop"] = time.perf_counter()
    hostrec["loadavg_end"] = os.getloadavg()

    metrics = summarise(passes, setup, rss.peak_bytes, runner)
    layers = layer_metrics(passes, setup, runner) if args.trace else {}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "entries": entries,
        "sf": SF,
        "host": hostrec,
        "phase_s": {k: phases[k] - phases["start"] for k in phases},
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
        "layers": layers,
        "passes": passes,
    }
    out_dir = os.path.join(WORK, "results", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(runner.spans.rows, f)

    for k, v in sorted({**metrics, **layers}.items()):
        print(f"{args.workload:16s} {k:34s} {v:16.6g} {unit_of(k)}")
    for fail in runner.failed:
        print(f"FAILED {fail['entry']} ({fail['phase']}): {fail['problems'][0]}"[:400])
    values, listed = (layers, spec["per_layer"]) if args.trace else (metrics, spec["end_to_end"])
    result = {
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
