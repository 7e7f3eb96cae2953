#!/usr/bin/env bash
# Cross-SF correctness sweep: dump + DuckDB-compare every oracle-paired
# query at MULTIPLE scale factors, not just the driver's sf0.01.
#
# Why: tie-break and empty-group bugs fire only at specific data shapes —
# r10 caught q80/q83 ordering bugs at sf0.1 and a q54 total-order bug at
# sf0.001 that sf0.01 never showed. One command keeps the sweep in the
# loop before every round close.
#
# Usage: tools/cross_sf_check.sh [sf-dir ...]   (default: sf0.001 sf0.1)
set -u
cd "$(dirname "$0")/.."
sfs=("$@")
[ ${#sfs[@]} -eq 0 ] && sfs=(/root/testdata/sf0.001 /root/testdata/sf0.1)
fail=0
for sf in "${sfs[@]}"; do
  name=$(basename "$sf")
  out="/tmp/graft_verify_$name"
  echo "== $name: dumping to $out"
  sbt -batch "set fork := true" "runMain graft.Verify $sf $out" \
    > "/tmp/graft_verify_$name.log" 2>&1 \
    || { echo "== $name: VERIFY DRIVER FAILED (see /tmp/graft_verify_$name.log)"; fail=1; continue; }
  echo "== $name: oracle compare"
  # print every non-PASS row (failing and engine-only query names) and
  # the totals; a failing query fails the sweep
  python3 tools/oracle_check.py "$out" "$sf" > "$out.oracle.txt" 2>&1 \
    || fail=1
  grep -v '^PASS ' "$out.oracle.txt"
done
exit $fail
