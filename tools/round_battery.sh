#!/bin/bash
# Round-end evidence battery (the standing step since r9/r10): the full
# oracle gate across every robustness axis, plus the test suite, each
# logged to a committed artifact. Run at final HEAD on an otherwise
# idle box: ./tools/round_battery.sh
# Each run overwrites the same files (GATECHECK.log,
# GATECHECK_<axis>.log, PYTEST.log); git history keeps older runs.
#
# Axes (all via tools/gate_check.py, a vanilla SparkSession):
#   1. UTC sf0.01 full registry (the driver's own gate semantics)
#   2. TZ robustness: America/New_York session timezone
#   3. sf0.1 scale-up for the scalable-oracle entries (the 12
#      exclusions are entries whose DuckDB ORACLES are deliberately
#      quadratic/exhaustive baselines -- infeasible at sf0.1 by design)
#   4. sf0.001 scale-down (degenerate groups/windows/bands)
#   5. AQE + whole-stage codegen OFF
#   6. ANSI mode flipped (Spark 4 defaults it ON, so the axis is OFF)
#   7. single-partition shuffle layout (spark.sql.shuffle.partitions=1)
#   8. legacy Arrow batch size 7 -- FULL registry since r11 (r10 ran
#      only the 19 Arrow-dependent entries; VERDICT r10 #6)
#   9. row-shuffled input (new r11): every table rewritten in
#      deterministic pseudo-random row order (tools/make_shuffled_sf.py)
#      -- proves no entry depends on input row order (window
#      tie-breaks, collect_list assumptions, arrival-order argmax)
#  10. half-hour-offset TZ (new r12): Asia/Kolkata (+05:30). A
#      whole-hour western axis (New_York) can miss session-TZ literal
#      parses whose shift direction lands in a rowless gap; the first
#      Kolkata run caught exactly that (pricing_summary's cutoff
#      literal excluded the 26 midnight-valued boundary rows; fixed
#      with utc_ts_lit)
set -u
cd "$(dirname "$0")/.."
TD=/root/testdata

# oracles that are deliberately quadratic / exhaustive -> excluded at sf0.1
SF01_EXCLUDE="corpus_curation_pipeline corpus_curation_pipeline_learned \
doc_winnow_neardup_pairs \
embedding_neardup embedding_neardup_allpairs minhash_lsh_pairs \
neardup_clusters neardup_clusters_star ngram_jaccard_allpairs \
ngram_jaccard_pairs simhash_pairs streaming_neardup_admission"
SF01_ONLY=$(python - <<EOF
from data_engineering_bootcamp_spark.plans.catalog import QUERIES
excl = set("""$SF01_EXCLUDE""".split())
print(" ".join(n for n in QUERIES if n not in excl))
EOF
)

run() { # run <logfile> <args...>
  local log="$1"; shift
  echo "=== $log: gate_check $*"
  python tools/gate_check.py "$@" >"$log" 2>&1
  echo "exit=$?" >>"$log"
  tail -2 "$log"
}

run "GATECHECK.log"        "$TD/sf0.01"
run "GATECHECK_tz.log"     --tz=America/New_York "$TD/sf0.01"
run "GATECHECK_tzhalf.log" --tz=Asia/Kolkata "$TD/sf0.01"
# shellcheck disable=SC2086
run "GATECHECK_sf01.log"   "$TD/sf0.1" $SF01_ONLY
run "GATECHECK_sf0001.log" "$TD/sf0.001"
run "GATECHECK_noaqe.log"  --conf=spark.sql.adaptive.enabled=false \
    --conf=spark.sql.codegen.wholeStage=false "$TD/sf0.01"
run "GATECHECK_ansi.log"   --conf=spark.sql.ansi.enabled=false \
    "$TD/sf0.01"
run "GATECHECK_p1.log"     --conf=spark.sql.shuffle.partitions=1 \
    "$TD/sf0.01"
run "GATECHECK_arrow7.log" \
    --conf=spark.sql.execution.arrow.maxRecordsPerBatch=7 \
    "$TD/sf0.01"

# ABSOLUTE path: Spark streaming sources resolve relative paths against
# the Hadoop FS working dir, not the process cwd — a relative sf_dir
# fails all 8 streaming entries with UNABLE_TO_INFER_SCHEMA
echo "=== GATECHECK_shuffled.log: row-order invariance"
SHUF_DIR="$PWD/.scratch/sf0.01_shuffled"
python tools/make_shuffled_sf.py "$TD/sf0.01" "$SHUF_DIR"
run "GATECHECK_shuffled.log" "$SHUF_DIR" --no-perf-gate

echo "=== PYTEST.log: full suite"
python -m pytest tests/ -q >"PYTEST.log" 2>&1
echo "exit=$?" >>"PYTEST.log"
tail -3 "PYTEST.log"
