"""The measurement core in bench.py shared by bench.py, tools/bench_tail.py,
tools/opt_measure.py and tools/gate_check.py: one timed run, its
release path, the median rule, the marker and the slow predicate."""

from __future__ import annotations

import pytest

import bench
from data_engineering_bootcamp_spark.operators.dedup import _persist


def test_run_once_keeps_earlier_reps_and_reports_the_fault(spark, sf_small):
    calls = []

    def fn(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 2:
            raise RuntimeError("rep 2 broke")
        return spark.range(100)

    # the callers' rep loop: keep what succeeded, record the fault, stop
    per_rep, error = [], None
    for _ in range(3):
        try:
            per_rep.append(bench.run_once(spark, fn, sf_small))
        except RuntimeError as exc:
            error = str(exc)
            break
    assert len(per_rep) == 1 and per_rep[0] >= 0.0
    assert error == "rep 2 broke"
    assert calls == [sf_small, sf_small]


def test_run_once_failure_releases_caches_and_streams(spark):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    def fn(spark, sf_dir):
        _persist(spark.range(1000)).count()
        (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.format("memory").queryName("bench_core_leak")
            .start()
        )
        raise RuntimeError("streaming entry broke")

    try:
        with pytest.raises(RuntimeError, match="streaming entry broke"):
            bench.run_once(spark, fn, "unused")
        assert jsc.getPersistentRDDs().size() == before
        assert spark.streams.active == []
    finally:
        for q in spark.streams.active:
            q.stop()


@pytest.mark.parametrize(
    "reps, extended, want",
    [
        ([5.0], False, 5.0),
        ([3.0, 1.0, 2.0], False, 2.0),
        ([0.1, 0.2], False, 0.15),
        ([1.0, 10.0, 2.0, 3.0], False, 2.5),
        # guardrail-extended: the lower middle, never a contended sample
        ([1.0, 9.5, 2.0, 9.0], True, 2.0),
        ([7.3, 15.7, 6.1, 6.5], True, 6.5),
        # an odd extended count is a plain median
        ([1.0, 9.0, 2.0], True, 2.0),
    ],
)
def test_median(reps, extended, want):
    assert bench.median(reps, extended=extended) == want


def test_cpu_marker_best_and_mean():
    best, mean = bench.cpu_marker(1)
    assert 0 < best <= mean


@pytest.mark.parametrize(
    "now, base, cap, want",
    [
        (2.5, 1.0, 2.0, True),
        (2.004, 1.0, 2.0, False),  # the ratio is compared as printed
        (1.8, 0.5, 2.0, False),    # sub-floor baseline, under the abs cap
        (6.0, 0.5, 2.0, True),     # sub-floor baseline, over the abs cap
        (3.0, 1.0, 4.0, False),
    ],
)
def test_is_slow(now, base, cap, want):
    assert bench.is_slow(now, base, cap) is want
