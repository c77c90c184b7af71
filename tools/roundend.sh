#!/bin/bash
# Round-end local gate (r16 verdict #6): the full contract swept at BOTH
# scale factors (the driver's sf0.01 gate dir plus the cheap sf0.001
# sweep that exercises every SF-coupled fixture — store builds, JDBC
# stride bounds, watermark calibrations), each recorded as a committed
# snapshot JSON, followed by the per-key perf-drift gate against the
# prior round's bench record.
#
# Failure discipline (r17 review): the output dir is wiped BEFORE each
# sweep and sbt's exit code is checked directly — a Verify crash can
# never leave a previous run's parquet in place for selfcheck to
# certify as green.
#
# Usage: tools/roundend.sh [prior BENCH_FULL record]   (default: r21's)
# FUZZ_SEED env overrides the fresh fuzz seed (default: today's date, so
# every round-end sweeps a new input-space sample on top of the pinned
# seed-0 plan — r19 verdict #3).
set -eo pipefail
cd "$(dirname "$0")/.."
PRIOR="${1:-BENCH_FULL_r21_builder.json}"
FUZZ_SEED="${FUZZ_SEED:-$(date +%Y%m%d)}"

run_sweep() {  # run_sweep <dataDir> <outDir> <snapshotJson> <label>
  local DATA="$1" OUT="$2" SNAP="$3" LABEL="$4"
  rm -rf "$OUT"
  local LOG; LOG=$(mktemp)
  if ! SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $DATA $OUT" >"$LOG" 2>&1; then
    tail -30 "$LOG"; echo "FATAL: Verify crashed ($LABEL)"; exit 1
  fi
  if grep -E '\[verify\]' "$LOG"; then
    echo "FATAL: keys threw ($LABEL) (lines above)"; exit 1
  fi
  rm -f "$LOG"
  python3 tools/selfcheck.py "$DATA" "$OUT" --json "$SNAP"
  # the sweep is a GATE: any failing key (oracle or envelope) aborts —
  # selfcheck's own exit code only covers contract problems
  python3 - "$SNAP" "$LABEL" <<'PYEOF'
import json, sys
rec = json.load(open(sys.argv[1]))
bad = [k for k, v in rec.items() if not k.startswith("_") and not v["pass"]]
if bad:
    sys.exit(f"FATAL ({sys.argv[2]}): {len(bad)} failing keys: {bad[:10]}")
PYEOF
}

for SF in 0.01 0.001; do
  run_sweep "/root/testdata/sf$SF" "/tmp/roundend_sf$SF" \
            "tools/roundend_sf$SF.json" "clean sf$SF"
done

# Fuzz sweeps at sf0.001 (r19 verdict #3): the PINNED seed-0 plan (must
# stay green — regression test) AND a fresh rotating seed (must ALSO be
# green — still a fuzzer). Any fresh-seed divergence: fix with oracle
# parity, then consider folding that case into the pinned plan.
python3 tools/fuzzsweep.py /root/testdata/sf0.001 /tmp/graft-fuzzdata
run_sweep /tmp/graft-fuzzdata /tmp/roundend_fuzz0 \
          tools/fuzzsweep_sf0.001.json "fuzz seed 0 (pinned)"
python3 tools/fuzzsweep.py --seed "$FUZZ_SEED" /root/testdata/sf0.001 \
        "/tmp/graft-fuzzdata-seed$FUZZ_SEED"
run_sweep "/tmp/graft-fuzzdata-seed$FUZZ_SEED" /tmp/roundend_fuzzfresh \
          tools/fuzzsweep_fresh_sf0.001.json "fuzz seed $FUZZ_SEED"
python3 - "$FUZZ_SEED" <<'PYEOF'
import json, sys
p = "tools/fuzzsweep_fresh_sf0.001.json"
rec = json.load(open(p)); rec["_seed"] = int(sys.argv[1])
json.dump(rec, open(p, "w"), indent=1)
PYEOF

python3 tools/selfcheck.py --perf BENCH_FULL.json "$PRIOR"
echo "roundend: snapshots in tools/roundend_sf{0.01,0.001}.json,"
echo "  tools/fuzzsweep_sf0.001.json (pinned), tools/fuzzsweep_fresh_sf0.001.json (seed $FUZZ_SEED)"
