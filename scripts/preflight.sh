#!/usr/bin/env bash
# Pre-snapshot gate: never commit a round without a compiling tree, and
# never close a round blind to testdata drift.
# Round 3 shipped a non-compiling snapshot (VERDICT round 3); round 8
# closed green-looking while a regenerated events.parquet had silently
# switched footer shape and crashed five queries at analysis time
# (VERDICT round 8) — compile-only gating cannot catch data-dependent
# breaks, so this script now also runs a DATA SMOKE: the
# timestamp-strict queries plus one relational representative, end to
# end against sf0.001 with the DuckDB oracle compare. Run before every
# milestone commit; run `sbt -batch test` too when time allows.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch "Test/compile"
echo "preflight OK: main + test sources compile"

# Commit-protocol specs (manifest publish, head hint, vacuum floor,
# vacuum): every table the engine writes goes through them, so a
# regression there fails here by name, before any data smoke.
sbt -batch "testOnly graft.sinks.ManifestSinkSpec graft.sinks.DeltaManifestSpec"
echo "preflight OK: commit-protocol specs"

# Footer-schema drift guard (round 10): the r8 drift class was caught by
# the smoke only because it CRASHED; a footer change that silently
# reshapes semantics would sail through. Diff every table's parquet
# footer at every SF against the pinned snapshot — fail loudly, by name.
python3 scripts/check_footers.py

# Benchmark pure-part tests (perfbench/: the SSE generator, the
# frame-to-trigger mapping, the tail-percentile rule) — a generator or
# stats regression fails here, before any benchmark run.
python3 -m unittest discover -s perfbench -p 'test_*.py'
echo "preflight OK: benchmark pure-part tests"

SMOKE_QUERIES="q01_pricing_summary,q17b_asof_custom_operator,q59_interval_join_attribution,q63_time_range_join,q95_sliding_time_window,q97_data_profile"
SMOKE_DIR=$(mktemp -d /tmp/preflight_smoke.XXXXXX)
trap 'rm -rf "$SMOKE_DIR"' EXIT
SPARK_GRAFT_CPUS=4 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.001 $SMOKE_DIR $SMOKE_QUERIES" \
  > /dev/null
python3 scripts/check_oracle.py /root/testdata/sf0.001 "$SMOKE_DIR"
echo "preflight OK: data smoke green (timestamp-strict + relational rep)"
