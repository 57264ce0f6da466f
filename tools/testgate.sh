#!/usr/bin/env bash
# Test gate: run the full ScalaTest suite and append one JSON line per
# run to TESTGATE.jsonl (tracked). Round 4 shipped a red suite without
# noticing because the oracle gate alone stayed green; this records the
# suite status alongside each round so a red suite is visible in the
# repo history, not just in a transient sbt invocation. The line also
# carries the total wall time and, per suite, the sum of its tests'
# durations in seconds (ScalaTest's -oD, set in build.sbt), so the slow
# suites are visible against the Tier-1 time budget.
#
# Usage: tools/testgate.sh <round-label>
set -u
cd "$(dirname "$0")/.."
label="${1:-adhoc}"
log=$(mktemp)
trap 'rm -f "$log"' EXIT
t0=$(date +%s)
sbt -batch test > "$log" 2>&1
wall=$(( $(date +%s) - t0 ))
out=$(tail -40 "$log")
line=$(echo "$out" | grep -E "^\[(info|error)\] (Tests:|Failed:|Passed:)" | tr '\n' ' ')
status=fail
echo "$out" | grep -q "All tests passed" && status=pass
# "[info] FooSpec:" opens a suite; "[info] - name ... (1 minute, 2 seconds,
# 3 milliseconds)" closes a test with its duration
suites=$(sed 's/\x1b\[[0-9;]*m//g' "$log" | awk '
  BEGIN { unit["hour"] = 3600; unit["minute"] = 60; unit["second"] = 1
          unit["millisecond"] = 0.001 }
  /^\[info\] [A-Za-z0-9_.]+:$/ { s = $2; sub(/:$/, "", s); next }
  s != "" && /^\[info\] - / && match($0, /\(([0-9]+ [a-z]+(, )?)+\)$/) {
    n = split(substr($0, RSTART + 1, RLENGTH - 2), parts, ", ")
    for (i = 1; i <= n; i++) {
      split(parts[i], f, " ")
      u = f[2]; sub(/s$/, "", u)
      t[s] += f[1] * unit[u]
    }
    if (!(s in seen)) { seen[s] = 1; order[++k] = s }
  }
  END {
    for (i = 1; i <= k; i++)
      printf "%s\"%s\":%.1f", (i > 1 ? "," : ""), order[i], t[order[i]]
  }')
commit=$(git rev-parse --short HEAD)
printf '{"round":"%s","commit":"%s","status":"%s","detail":"%s","wall_s":%d,"suite_s":{%s}}\n' \
  "$label" "$commit" "$status" "$(echo "$line" | sed 's/"/\\"/g; s/\[info\] //g; s/\[error\] //g')" \
  "$wall" "$suites" \
  >> TESTGATE.jsonl
echo "testgate: $status ($commit)"
[ "$status" = pass ]
