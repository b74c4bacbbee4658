#!/usr/bin/env python
"""Composed-replay depth sweep: prove linear plan growth (VERDICT r11 #4).

The r11 `scd_incremental` rewrite's claim is that a composed replay's
plan now grows LINEARLY with window length — the pre-r11 form
referenced its history input twice (historical/current filter-split +
UNION), so Catalyst analysis of an n-advance composition visited
2^n history subtrees and the 31-day replay NEEDED its checkpoint
cadence just to finish. This sweep drives the same advance loop as
`plans/catalog_late.q_scd_replay_31d` with NO mid-window checkpoint at
depths 8 / 16 / 31 / 62 / 93 and records, per depth:

  - t_build_sec:    wall time of the advance loop. Classic (non-
                    Connect) PySpark creates each Dataset EAGERLY, so
                    Catalyst analysis runs at every transformation —
                    t_build IS the cumulative analysis cost, and
                    t_build / depth (per-advance analysis) is the
                    linearity measurement: constant ⇒ linear total,
                    vs the pre-r11 form whose per-advance analysis
                    doubled (the catalog_late.py cadence-sweep comment
                    records 54.7 s for a 2^8 window at gate scale).
  - t_analyze_sec:  queryExecution().analyzed() on the final frame —
                    ~0 by construction (already analyzed eagerly);
                    kept to prove that's where the time ISN'T.
  - t_optimize_sec: wall time through the physical plan
                    (executedPlan(), includes optimization + planning)
  - t_exec_sec:     wall time to execute the whole composition as one
                    job — grows superlinearly with depth (single-job
                    codegen/scheduling of an ever-deeper pipeline),
                    which is WHY the production replay keeps its
                    checkpoint cadence as a perf choice.
  - n_out_rows / out_hash: execution result fingerprint. Events end
                    Jan 30, so depths past 31 extend every entity's
                    final 'none' range: row count is constant from
                    depth 31 on while end_d (and the hash) advance.

plus a correctness check: the depth-31 NO-checkpoint result must equal
the gated checkpointed `scd_replay_31d` exactly (same rows), so the
sweep proves the checkpoint cadence is a PERF choice, not a semantic
one. Days past 31 have no events in the January window, so every
entity snapshots as dominant='none' from day 32 on — the advance keeps
extending ranges, which exercises plan growth without inventing data.

Usage: python tools/replay_depth.py [sf_dir] [--out=PATH]
         [--cadence=N] [--ckpt-mode=lazy|eager|parquet]
         [--depths=8,16,31] [--no-aqe] [--no-codegen] [--skip-parity]
Writes one JSON document (default REPLAY_DEPTH.json at repo root).

--ckpt-mode (r14, VERDICT r13 #5): how the mid-window checkpoint
materializes. 'lazy' = localCheckpoint(eager=False) (the r13 form);
'eager' = localCheckpoint(eager=True) — truncates the plan NOW, so
per-advance analysis is O(cadence) and t_build goes linear in depth
(production default since r14); 'parquet' = write/read the state at
each boundary (full lineage cut + a durable restart point — the shape
a production replay on object storage would use).

Linearity criterion printed per depth pair: t(2d)/t(d) for analysis —
~2 is linear; the pre-r11 form would be ~2^d (unrunnable past ~16).

Root-cause axes (VERDICT r12 #4 — WHY does single-job execution of the
uncheckpointed composition grow superlinearly while analysis is
linear?): `--no-aqe` disables adaptive execution (each shuffle-stage
materialization under AQE re-runs the cost-based re-optimizer over the
WHOLE remaining plan — O(depth) re-plans x O(depth) plan size =
O(depth^2) optimizer work in one job), `--no-codegen` disables
whole-stage codegen (per-stage Janino compilation), and `--cadence=N`
measures the wall-vs-cadence tradeoff the production replays encode.
Run the tool once per axis and diff the t_exec columns.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

DEPTHS = [8, 16, 31, 62, 93]

# Scratch dirs created by parquet-mode runs. The returned DataFrame
# READS from them, so they can only be removed after the depth's
# fingerprint executes — main() drains this list per depth (ADVICE
# r14: don't leak a mkdtemp per sweep, and don't mkdtemp at all for
# lazy/eager modes).
_SCRATCH_DIRS: list = []


def _drain_scratch() -> None:
    import shutil

    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


def build_replay(spark, sf_dir: str, days: int, cadence: int,
                 ckpt_mode: str = "lazy"):
    """The q_scd_replay_31d loop, parameterized (days, checkpoint
    cadence; cadence 0 = never checkpoint — the pure composed plan;
    ckpt_mode per the module doc)."""
    import tempfile

    from data_engineering_bootcamp_spark.operators.scd import scd_incremental
    from data_engineering_bootcamp_spark.plans.catalog_ext import (
        _dominant_daily,
    )

    scratch = None
    if ckpt_mode == "parquet":
        scratch = tempfile.mkdtemp(prefix="replay_depth_pq_")
        _SCRATCH_DIRS.append(scratch)

    dom = _dominant_daily(spark, sf_dir)
    firstd = dom.groupBy("user_id").agg(F.min("d").alias("fd"))
    # densify once (VERDICT r14 #6, mirrors q_scd_replay_31d): the
    # per-day snapshot becomes a single pushed filter over this
    # checkpointed leaf instead of a filter+join+select per advance.
    # Users whose first day falls AFTER the sweep horizon must be
    # excluded (r15 ADVICE): F.sequence(fd, days) with fd > days
    # generates a DESCENDING fd..days range, injecting spurious
    # (user, 'none') rows at shallow depths (8/16) that the replayed
    # pipeline's own firstd.where(fd <= day) filter never produced.
    dense = (
        firstd.where(F.col("fd") <= F.lit(days))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("fd"), F.lit(days))).alias("d"),
        )
        .join(dom, ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.coalesce(F.col("dominant"), F.lit("none")).alias("dominant"),
        )
        .localCheckpoint(eager=True)
    )
    hist_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("dominant", T.StringType()),
            T.StructField("start_d", T.IntegerType()),
            T.StructField("end_d", T.IntegerType()),
        ]
    )
    history = spark.createDataFrame([], hist_schema)
    for day in range(1, days + 1):
        snap = dense.where(F.col("d") == day)
        history = scd_incremental(
            history, snap, "user_id", "d", ["dominant"], day
        )
        if cadence > 0 and day % cadence == 0:
            if ckpt_mode == "eager":
                history = history.localCheckpoint(eager=True)
            elif ckpt_mode == "parquet":
                path = f"{scratch}/d{day}"
                history.write.mode("overwrite").parquet(path)
                history = spark.read.parquet(path)
            else:
                history = history.localCheckpoint(eager=False)
    return history


def fingerprint(df) -> tuple[int, int]:
    """(row count, order-insensitive content hash) without collecting
    the rows: decimal sum of per-row xxhash64 over all columns
    (decimal(38,0) — a long sum overflows under ANSI mode)."""
    agg = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(agg["n"]), int(agg["h"] or 0)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.path.abspath(args[0]) if args else "/root/testdata/sf0.01"
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "REPLAY_DEPTH.json",
    )
    cadence = 0
    ckpt_mode = "lazy"
    depths = DEPTHS
    aqe = True
    codegen = True
    skip_parity = False
    for f in sys.argv[1:]:
        if f.startswith("--out="):
            out_path = f.split("=", 1)[1]
        elif f.startswith("--cadence="):
            cadence = int(f.split("=", 1)[1])
        elif f.startswith("--ckpt-mode="):
            ckpt_mode = f.split("=", 1)[1]
            assert ckpt_mode in ("lazy", "eager", "parquet"), ckpt_mode
        elif f.startswith("--depths="):
            depths = [int(x) for x in f.split("=", 1)[1].split(",")]
        elif f == "--no-aqe":
            aqe = False
        elif f == "--no-codegen":
            codegen = False
        elif f == "--skip-parity":
            skip_parity = True
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("replay-depth")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.codegen.wholeStage", str(codegen).lower())
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    doc: dict = {
        "sf_dir": sf_dir,
        "cadence": cadence,
        "ckpt_mode": ckpt_mode,
        "aqe": aqe,
        "codegen": codegen,
        "depths": {},
    }
    for days in depths:
        t0 = time.perf_counter()
        df = build_replay(
            spark, sf_dir, days, cadence=cadence, ckpt_mode=ckpt_mode
        )
        t_build = time.perf_counter() - t0
        qe = df._jdf.queryExecution()
        t0 = time.perf_counter()
        qe.analyzed()
        t_analyze = time.perf_counter() - t0
        t0 = time.perf_counter()
        qe.executedPlan()
        t_optimize = time.perf_counter() - t0
        t0 = time.perf_counter()
        n, h = fingerprint(df)
        t_exec = time.perf_counter() - t0
        _drain_scratch()
        doc["depths"][str(days)] = {
            "t_build_sec": round(t_build, 2),
            "t_analyze_sec": round(t_analyze, 2),
            "t_optimize_sec": round(t_optimize, 2),
            "t_exec_sec": round(t_exec, 2),
            "n_out_rows": n,
            "out_hash": h,
        }
        print(
            f"depth {days:3d}: build {t_build:6.2f}s  analyze "
            f"{t_analyze:6.2f}s  optimize {t_optimize:6.2f}s  exec "
            f"{t_exec:6.2f}s  rows {n}",
            flush=True,
        )
    # linearity ratios on the doubling pairs
    for a, b in [(8, 16), (16, 31), (31, 62), (62, 93)]:
        if str(a) not in doc["depths"] or str(b) not in doc["depths"]:
            continue
        ta = doc["depths"][str(a)]["t_analyze_sec"]
        tb = doc["depths"][str(b)]["t_analyze_sec"]
        if ta > 0:
            print(
                f"analyze t({b})/t({a}) = {tb / ta:.2f}  "
                f"(depth ratio {b / a:.2f}; linear ⇒ ≈ depth ratio)"
            )
    if skip_parity:
        with open(out_path, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        print(f"wrote {out_path} (parity check skipped)")
        return 0
    # correctness: depth-31 no-checkpoint ≡ the gated checkpointed form
    from data_engineering_bootcamp_spark.plans.catalog import QUERIES

    gated = QUERIES["scd_replay_31d"](spark, sf_dir)
    # same output projection as the gated entry for the compare
    mine = build_replay(spark, sf_dir, 31, cadence=0).select(
        "user_id",
        F.col("dominant").alias("event_type"),
        "start_d",
        "end_d",
    )
    n_g, h_g = fingerprint(gated)
    n_m, h_m = fingerprint(mine)
    match = (n_g, h_g) == (n_m, h_m)
    doc["no_checkpoint_31d_equals_gated"] = match
    print(f"depth-31 no-checkpoint ≡ gated checkpointed form: {match}")
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    return 0 if match else 1


if __name__ == "__main__":
    raise SystemExit(main())
