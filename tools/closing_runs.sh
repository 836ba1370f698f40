#!/bin/bash
# Round-closing evidence protocol (r11): N full bench runs back to back,
# each calibration-stamped by bench.py itself; JSON lines appended to
# the given output file (default plans/r11/bench_closing_runs.jsonl)
# with a run_tag. Usage: tools/closing_runs.sh [N] [tag] [outfile]
# A run whose bench.py exits non-zero, or whose last stdout line is not
# JSON, records nothing and stops the protocol with a non-zero exit;
# bench.py's stderr passes through.
set -u -o pipefail
N="${1:-5}"
TAG="${2:-r11_closing}"
OUT="${3:-plans/r11/bench_closing_runs.jsonl}"
cd "$(dirname "$0")/.."
for i in $(seq 1 "$N"); do
  line=$(SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    python bench.py | tail -1) || {
    echo "run $i: bench.py failed (exit $?); nothing recorded" >&2
    exit 1
  }
  if ! printf '%s' "$line" | python -c 'import json, sys; json.load(sys.stdin)' 2>/dev/null; then
    echo "run $i: last bench.py line is not JSON; nothing recorded" >&2
    exit 1
  fi
  printf '{"run_tag": "%s_run%s", "bench": %s}\n' "$TAG" "$i" "$line" >> "$OUT"
  echo "run $i done"
done
