#!/usr/bin/env bash
# Oracle-check a few queries at sf0.001, sf0.01 and sf0.1 in one command:
# graft.Verify (through tools/run_main.sh, so no sbt lock) dumps the
# listed queries, then tools/check.py compares each dump with its DuckDB
# oracle, floats bit-exact. Usage:
#   tools/verify_queries.sh <q1,q2,...> [testdata-root] [out-root]
# testdata-root holds sf0.001/, sf0.01/ and sf0.1/ (default: $GRAFT_TESTDATA);
# out-root receives one dump per scale factor (default: a fresh temp dir);
# relative paths resolve against the repository root.
# Run `sbt compile` first. Exit code = number of (scale factor, query)
# pairs that did not PASS — a misspelt query name counts as a failure.
set -uo pipefail
cd "$(dirname "$0")/.."
[ $# -ge 1 ] || { sed -n '2,11p' "$0" >&2; exit 2; }
QUERIES=$1
N=$(tr ',' '\n' <<<"$QUERIES" | grep -c .)
DATA=${2:-${GRAFT_TESTDATA:?pass testdata-root or set GRAFT_TESTDATA}}
OUT=${3:-$(mktemp -d)}
mkdir -p "$OUT"
fails=0
for sf in sf0.001 sf0.01 sf0.1; do
  echo "== $sf"
  if ! tools/run_main.sh graft.Verify "$DATA/$sf" "$OUT/$sf" "$QUERIES" \
      >"$OUT/$sf.log" 2>&1; then
    echo "FAIL $sf: graft.Verify exited non-zero (see $OUT/$sf.log)"
    fails=$((fails + N))
    continue
  fi
  grep '\[verify\].*failed' "$OUT/$sf.log"
  python3 tools/check.py "$DATA/$sf" "$OUT/$sf" | tee "$OUT/$sf.check"
  fails=$((fails + N - $(grep -c '^PASS ' "$OUT/$sf.check")))
done
echo "verify_queries: $fails failing check(s); dumps in $OUT"
exit "$fails"
