"""The benchmark's workloads (the catalog entries each pass runs) and
the units of its metrics.

Every workload is a closed loop with one client: one Spark driver
process runs its entries one after another on ``local[<cores>]``, each
to completion (a ``noop`` write forces full execution), and starts the
next only when the previous one has returned.  All read the generated
tables at ``SF`` (see ``datagen``); the largest, ``lineitem``, is 60k
rows and the whole set is ~2 MB of parquet, far below the Spark
driver's heap, so no workload's working set exceeds what Spark can hold
in memory.
"""

from __future__ import annotations

SF = 0.01

# Why each list: BENCHMARK.json and README.md.
WORKLOADS: dict[str, list[str]] = {
    "bootcamp_sql": [
        "pricing_summary",
        "top_customers",
        "grouping_sets",
        "funnel_conversion",
        "sessionization",
        "semi_anti_customers",
        "merge_upsert",
    ],
    "curation_ingest": [
        "neardup_clusters",
        "unigram_encode_corpus",
        "streaming_tumbling_hits",
        "streaming_upsert_sink",
        "orc_roundtrip_rollup",
    ],
}

# Median warm pass time on the 4-core reference host (s).  A run makes
# as many timed passes as take ``--seconds`` there, and that same number
# on any host: the engine's JIT does not settle on these workloads (every
# pass compiles generated code anew, see ``plans.codegen_compiles``), so
# each pass runs faster than the one before, and a pass count that
# followed the host's speed would measure a slow host earlier in that
# descent than a fast one.
PASS_S = {"bootcamp_sql": 3.5, "curation_ingest": 10.0}


def timed_passes(workload: str, seconds: float) -> int:
    """Timed passes of one run: ``seconds`` worth on the reference host,
    at least two."""
    return max(2, round(seconds / PASS_S[workload]))


# End-to-end figures: unit and better direction.  BENCHMARK.json lists
# those every workload has (trigger and stream figures exist only where
# streams run, and a per-run tail needs more samples than a run takes);
# the result files and ``compare.py show`` carry all of them.
E2E = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "query_s.p50": ("s", "lower"),
    "query_s.tail": ("s", "lower"),
    "trigger_ms.p50": ("ms", "lower"),
    "trigger_ms.tail": ("ms", "lower"),
    "stream_rows_per_s": ("rows/s", "higher"),
    "peak_rss_mb": ("MiB", "lower"),
    "error_rate": ("ratio", "lower"),
}


def unit_of(name: str) -> str:
    """Unit of an end-to-end or per-layer metric, from its name."""
    if name in E2E:
        return E2E[name][0]
    if "_bytes" in name:
        return "bytes"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("core_busy", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"
