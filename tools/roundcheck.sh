#!/usr/bin/env bash
# Round-end validation — run as the LAST act of a round (verdict r8 #3: the
# round-8 snapshot shipped "FAILURES: 0" claims that were stale within
# minutes of a mid-round testdata regen). Re-drives the full correctness
# gate against whatever the testdata is RIGHT NOW and prints the corpus
# fingerprint so the artifacts record which corpus they certify.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_roundcheck}"
# Optional round tag: `tools/roundcheck.sh <sf_dir> <out> 16` commits the
# per-query gate record as GATE_r16.json in the repo root, so a failed
# driver-side CORRECTNESS scrape (r15: landed as `{}`) never again leaves
# a round without its correctness record.
#
# Subset run: set SPARK_GRAFT_ONLY to a comma-separated list of full query
# names (e.g. `q142_iceberg_roundtrip,q145_iceberg_partitioned`). Verify then
# runs only those queries, check.py compares only their outputs, and the gate
# record carries the list as `"only": [...]` (`null` on a full run), so a
# subset result is never read as the full-inventory gate.
ROUND="${3:-}"
GATE_JSON=""
if [ -n "$ROUND" ]; then GATE_JSON="$(pwd)/GATE_r${ROUND}.json"; fi

# xxh64Cte-chain oracles plan at ~30k memory mappings each; the default
# vm.max_map_count (65530) makes DuckDB's mmap fail intermittently as
# "bad allocation" with RAM to spare (round 13). This script only reads the
# limit; raising it is the host administrator's call.
MAX_MAP_COUNT="$(cat /proc/sys/vm/max_map_count 2>/dev/null || echo unknown)"
if [ "$MAX_MAP_COUNT" = unknown ] || [ "$MAX_MAP_COUNT" -lt 1048576 ]; then
  echo "warning: vm.max_map_count is $MAX_MAP_COUNT (< 1048576): DuckDB oracles may fail with \"bad allocation\"" >&2
fi

echo "== compile =="
sbt -batch compile | tail -1

echo "== verify @ ${SF_DIR} =="
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" tools/run.sh graft.Verify "$SF_DIR" "$OUT" 2>/tmp/roundcheck_verify_err.log
grep '\[verify\]' /tmp/roundcheck_verify_err.log || true

echo "== corpus fingerprint =="
python3 -c "import json; print(json.dumps(json.load(open('$OUT/verify_manifest.json')), indent=1))"

echo "== duckdb oracle compare =="
GRAFT_GATE_JSON="$GATE_JSON" python3 tools/check.py "$SF_DIR" "$OUT" | tail -5
if [ -n "$GATE_JSON" ]; then
  echo "== gate record =="
  python3 -c "import json; d=json.load(open('$GATE_JSON')); print(d['n_ok'], 'ok /', d['n_queries'], 'queries,', d['failures'], 'failures')"
fi
