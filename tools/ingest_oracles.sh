#!/usr/bin/env bash
# Oracle gate for the ingest path: runs the registry queries that read log
# objects through IngestReader, Coerce and the collection jobs (q21-q24,
# q46, q53, q201) with graft.Verify into a temporary directory, then checks
# every result against its DuckDB oracle with tools/check.py. A query that
# crashes in Verify fails through failed.json.
#
# Usage: tools/ingest_oracles.sh <sf_dir>    (the sf0.01 test-data directory)
# Exits non-zero when any of the queries crashed or mismatched.
set -uo pipefail
[ $# -eq 1 ] || { echo "usage: $0 <sf_dir>" >&2; exit 2; }
sf=$(cd "$1" && pwd) || exit 2
cd "$(dirname "$0")/.." || exit 2
work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
out=$work/out
SPARK_GRAFT_ONLY=q21_,q22_,q23_,q24_,q46_,q53_,q201_ \
  sbt --batch "runMain graft.Verify $sf $out" > "$work/verify.log" 2>&1
verify=$?
grep -F '[verify]' "$work/verify.log"
if [ ! -f "$out/oracle_sql.json" ]; then
  tail -n 40 "$work/verify.log"
  echo "graft.Verify did not finish (exit $verify)" >&2
  exit 1
fi
python3 tools/check.py "$out" "$sf"
checked=$?
[ "$verify" -eq 0 ] && [ "$checked" -eq 0 ]
