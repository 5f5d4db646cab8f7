#!/usr/bin/env python3
"""Runs the benchmark over many seeds and summarises the spread.

    python3 perfbench/record.py --seeds 1-10 --sets 2 --out results.json
    python3 perfbench/record.py --seeds 1 --trace --out traced.json

For each set, each workload and each seed, runs perfbench/run.py once
(sequentially) and keeps its result line. Prints, per workload and
end-to-end metric, each set's median and quartile spread (the distance
between the first and third quartile over the median, as
statistics.quantiles(n=4) gives them) and the second set's median over
the first's. With --trace, runs traced and keeps the full run records
instead (per-layer metrics, spans, tracing overhead inputs).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as fh:
        rec_path = fh.name
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
             "--record", rec_path],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            return None, None
        line = json.loads(out.stdout.strip().splitlines()[-1])
        with open(rec_path) as fh:
            return line, json.load(fh)
    finally:
        os.unlink(rec_path)


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]

    results = {}
    for s in range(args.sets):
        for w in workloads:
            for seed in seeds(args.seeds):
                line, rec = run(w, seed, seconds, args.trace)
                key = f"set{s + 1}/{w}"
                entry = {"seed": seed, "line": line}
                if args.trace:
                    entry["record"] = rec
                results.setdefault(key, []).append(entry)
                ok = line is not None and line["correct"]
                print(f"{key} seed {seed}: {'ok' if ok else 'FAILED'}", file=sys.stderr, flush=True)

    summary = {}
    if not args.trace:
        for w in workloads:
            for m in spec["end_to_end"]:
                row = {"bound": m["bound"], "better": m["better"]}
                meds = []
                for s in range(args.sets):
                    vals = [e["line"]["metrics"][m["name"]]["value"]
                            for e in results[f"set{s + 1}/{w}"] if e["line"]]
                    if len(vals) < 2:
                        continue
                    meds.append(statistics.median(vals))
                    row[f"set{s + 1}_median"] = meds[-1]
                    row[f"set{s + 1}_spread"] = spread(vals)
                if len(meds) == 2:
                    row["set2_over_set1"] = meds[1] / meds[0]
                summary[f"{w}/{m['name']}"] = row
                print(f"{w:12s} {m['name']:22s} " + " ".join(
                    f"{k}={v:.4g}" for k, v in row.items() if isinstance(v, float)))
    with open(args.out, "w") as fh:
        json.dump({"seconds": seconds, "sets": args.sets, "seeds": seeds(args.seeds),
                   "summary": summary, "runs": results}, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
