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
# and workload, both arms run untraced for BENCHMARK.json's
# run_seconds: A then B at even positions in the seed list, B then A
# at odd ones, so neither arm always runs first. Every run's result
# line goes to graft_ab/ab-<A>-<B>-<UTC time>.json (run.py's stderr
# to graft_ab/ab.log), so a rerun of the same pair keeps the earlier
# record. The summary prints, per workload and end-to-end
# metric: both arms' medians, B/A, how many seed pairs B won (ties
# count for neither), A's interquartile spread as a share of its
# median, the metric's bound, and a reading: "worse" when B's median
# is worse than A's by more than the bound, else "unresolved" when
# A's spread exceeds the bound (unless every B run beats every A
# run), else "ok".
#
# Uncommitted work can be measured as a commit without moving any
# branch: tools/ab.sh HEAD "$(git stash create)" curate 11,12,13
# (stage new files first: `git stash create` ignores untracked ones).
set -euo pipefail

if [ $# -lt 2 ]; then
  sed -n '2,27p' "$0" | sed 's/^# \{0,1\}//' >&2
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
RECORD="$AB_DIR/ab-${A:0:12}-${B:0:12}-$(date -u +%Y%m%dT%H%M%S).json"
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
pos=0
for seed in ${SEEDS//,/ }; do
  order="A B"; [ $((pos % 2)) = 1 ] && order="B A"
  pos=$((pos + 1))
  for wl in ${WORKLOADS//,/ }; do
    for arm in $order; do
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

python3 - "$RECORD" "$A" "$B" "$REPO/BENCHMARK.json" <<'EOF'
import json, statistics, sys
record, a, b, bench = sys.argv[1:]
e2e = {m["name"]: m for m in json.load(open(bench))["end_to_end"]}
runs = [json.loads(l) for l in open(record + ".lines")]
json.dump({"A": a, "B": b, "runs": runs}, open(record, "w"), indent=1)
print(f"A = {a[:12]}  B = {b[:12]}  record: {record}")
for wl in dict.fromkeys(r["workload"] for r in runs):
    by_seed = {x: {r["seed"]: r["result"] for r in runs if r["workload"] == wl and r["arm"] == x}
               for x in "AB"}
    print(f"\n{wl}: " + "  ".join(
        f"{x} {sum(r['correct'] for r in rs.values())}/{len(rs)} correct, "
        f"{sum(r['failed'] for r in rs.values())} failed ops" for x, rs in by_seed.items()))
    print(f"  {'metric':<22}{'median A':>12}{'median B':>12}{'B/A':>8}"
          f"{'B won':>8}{'IQR A':>8}{'bound':>7}  reading")
    names = dict.fromkeys(n for rs in by_seed.values() for r in rs.values() for n in r["metrics"])
    for n in names:
        vals = {x: {s: r["metrics"][n]["value"] for s, r in rs.items() if n in r["metrics"]}
                for x, rs in by_seed.items()}
        med = [statistics.median(v.values()) if v else float("nan") for v in vals.values()]
        ratio = med[1] / med[0] if med[0] else float("nan")
        m = e2e.get(n)
        if m is None:
            print(f"  {n:<22}{med[0]:>12.4g}{med[1]:>12.4g}{ratio:>8.3f}")
            continue
        lower = m["better"] == "lower"
        beats = lambda x, y: x < y if lower else x > y
        pairs = [(vals["A"][s], vals["B"][s]) for s in vals["A"] if s in vals["B"]]
        won = sum(beats(vb, va) for va, vb in pairs)
        q = statistics.quantiles(vals["A"].values(), n=4) if len(vals["A"]) > 1 else [0, 0, 0]
        iqr = (q[2] - q[0]) / abs(med[0]) if med[0] else float("nan")
        worse = (ratio - 1 if lower else 1 - ratio) if med[0] else float("nan")
        all_better = bool(vals["B"]) and all(beats(vb, va)
            for vb in vals["B"].values() for va in vals["A"].values())
        reading = ("worse" if worse > m["bound"]
                   else "unresolved" if iqr > m["bound"] and not all_better else "ok")
        print(f"  {n:<22}{med[0]:>12.4g}{med[1]:>12.4g}{ratio:>8.3f}"
              f"{f'{won}/{len(pairs)}':>8}{iqr:>8.3f}{m['bound']:>7.2f}  {reading}")
EOF
rm -f "$RECORD.lines"
