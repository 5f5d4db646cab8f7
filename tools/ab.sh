#!/bin/bash
# Paired, interleaved perfbench A/B between two commits.
#
#   tools/ab.sh <refA> <refB> [workloads] [seeds]
#
# workloads and seeds are comma-separated (defaults: curate,ingest,
# dedup_graph and 11,12,13). Each ref's committed tree is exported
# (git archive, so nothing is registered in this repository's .git)
# into its own directory under ${TMPDIR:-/tmp}/graft_ab, one per
# commit and reused by later calls; each arm builds with its own
# perfbench/run.py into its own .bench_build. Then, for every seed
# and workload, arm A runs and then arm B, both untraced for
# BENCHMARK.json's run_seconds. Every run's result line goes to
# graft_ab/ab-<A>-<B>.json (run.py's stderr to graft_ab/ab.log); the
# summary prints, per workload and end-to-end metric, both arms'
# medians and B/A.
#
# Uncommitted work can be measured as a commit without moving any
# branch: tools/ab.sh HEAD "$(git stash create)" curate 11,12,13
# (stage new files first: `git stash create` ignores untracked ones).
set -euo pipefail

if [ $# -lt 2 ]; then
  sed -n '2,20p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi
REPO=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
A=$(git -C "$REPO" rev-parse --verify "$1^{commit}")
B=$(git -C "$REPO" rev-parse --verify "$2^{commit}")
WORKLOADS=${3:-curate,ingest,dedup_graph}
SEEDS=${4:-11,12,13}
AB_DIR=${TMPDIR:-/tmp}/graft_ab
SECONDS_PER_RUN=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$REPO/BENCHMARK.json")
RECORD="$AB_DIR/ab-${A:0:12}-${B:0:12}.json"
mkdir -p "$AB_DIR"

arm_dir() { echo "$AB_DIR/${1:0:12}"; }

for sha in "$A" "$B"; do
  dir=$(arm_dir "$sha")
  if [ ! -d "$dir" ]; then
    mkdir -p "$dir.tmp"
    git -C "$REPO" archive "$sha" | tar -x -C "$dir.tmp"
    mv "$dir.tmp" "$dir"
  fi
  echo "[ab] building ${sha:0:12} in $dir" >&2
  (cd "$dir" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()')
done

: > "$RECORD.lines"
for seed in ${SEEDS//,/ }; do
  for wl in ${WORKLOADS//,/ }; do
    for arm in A B; do
      sha=$A; [ "$arm" = B ] && sha=$B
      echo "[ab] seed $seed $wl arm $arm (${sha:0:12})" >&2
      line=$(cd "$(arm_dir "$sha")" && python3 perfbench/run.py --workload "$wl" \
        --seed "$seed" --seconds "$SECONDS_PER_RUN" --trace 0 2>>"$AB_DIR/ab.log" | tail -n 1) || line=""
      case "$line" in
        \{*) ;;
        *) line='{"correct": false, "attempted": 0, "failed": 0, "metrics": {}}' ;;
      esac
      printf '{"arm": "%s", "ref": "%s", "workload": "%s", "seed": %s, "result": %s}\n' \
        "$arm" "$sha" "$wl" "$seed" "$line" >> "$RECORD.lines"
    done
  done
done

python3 - "$RECORD" "$A" "$B" <<'EOF'
import json, statistics, sys
record, a, b = sys.argv[1:]
runs = [json.loads(l) for l in open(record + ".lines")]
json.dump({"A": a, "B": b, "runs": runs}, open(record, "w"), indent=1)
print(f"A = {a[:12]}  B = {b[:12]}  record: {record}")
for wl in dict.fromkeys(r["workload"] for r in runs):
    arms = {x: [r["result"] for r in runs if r["workload"] == wl and r["arm"] == x] for x in "AB"}
    print(f"\n{wl}: " + "  ".join(
        f"{x} {sum(r['correct'] for r in rs)}/{len(rs)} correct, "
        f"{sum(r['failed'] for r in rs)} failed ops" for x, rs in arms.items()))
    print(f"  {'metric':<22}{'median A':>12}{'median B':>12}{'B/A':>8}")
    names = dict.fromkeys(n for rs in arms.values() for r in rs for n in r["metrics"])
    for n in names:
        med = [statistics.median([r["metrics"][n]["value"] for r in rs if n in r["metrics"]] or [float("nan")])
               for rs in arms.values()]
        ratio = med[1] / med[0] if med[0] else float("nan")
        print(f"  {n:<22}{med[0]:>12.4g}{med[1]:>12.4g}{ratio:>8.3f}")
EOF
rm -f "$RECORD.lines"
