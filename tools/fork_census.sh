#!/usr/bin/env bash
# Count the processes a command forks through common file and identity
# tools (Hadoop's local filesystem shells out to some of them when its
# native library is missing).
#
#   tools/fork_census.sh <command> [args...]
#   tools/fork_census.sh python3 perfbench/run.py --workload maintenance_writes --seed 8 --trace 0
#
# Logging wrappers for each tool go first on PATH for the command; after
# it exits, one count per tool is printed and the command's exit status
# is returned. The wrappers live under target/ (never the system temp
# dir, where perfbench counts a new entry as a leak) and are deleted on
# exit.
set -euo pipefail

tools=(chmod chown ls stat df du id groups)
[ $# -gt 0 ] || { echo "usage: $0 <command> [args...]" >&2; exit 2; }

repo=$(cd "$(dirname "$0")/.." && pwd)
mkdir -p "$repo/target"
wrap=$(mktemp -d "$repo/target/fork_census.XXXXXX")
trap 'rm -rf "$wrap"' EXIT
mkdir "$wrap/bin"
log="$wrap/forks.log"
: > "$log"

for t in "${tools[@]}"; do
  real=$(command -v "$t") || continue
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$t" "$log" "$real" > "$wrap/bin/$t"
  chmod +x "$wrap/bin/$t"
done

echo "fork_census: every wrapped fork pays a shell and a log write, so a" \
  "census run is never a timing run" >&2

rc=0
PATH="$wrap/bin:$PATH" "$@" || rc=$?

echo "fork census (wrapped command: forks):"
total=0
for t in "${tools[@]}"; do
  n=$(grep -cx "$t" "$log" || true)
  total=$((total + n))
  printf '  %-7s %d\n' "$t" "$n"
done
printf '  %-7s %d\n' total "$total"
exit "$rc"
