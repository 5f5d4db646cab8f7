#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and
graft's sources with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The run itself is one JVM
(graftbench.Main) that generates the inputs from the seed, sets up,
runs the workload for --seconds, and writes a record; this script then
checks the outputs against DuckDB and prints, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("ingest", "curate", "dedup_graph")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240
HEAP = "7g"
# C1 only: the measured passes are cold, and on four cores C2's compile
# threads would compete with Spark's tasks for the whole run.
JIT = ["-XX:TieredStopAtLevel=1"]
# Softly reachable objects (reflection data, Spark's and Scala's caches;
# ~12 MB of dedup_graph's live heap) are by default cleared once their
# last use is older than a span scaled by the heap left free at the
# previous collection, so whether peak_heap_mb counts them would depend
# on GC timing. With this span they stay until the heap is nearly full.
SOFT_REFS = ["-XX:SoftRefLRUPolicyMSPerMB=10000000"]

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        files += sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))
        files += sorted(f for f in glob.glob(os.path.join(top, "**", "*"), recursive=True)
                        if os.path.isfile(f) and not f.endswith(".scala"))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources.
    Returns the runtime classpath."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh, open(cp_file) as cf:
            cp = cf.read().strip()
            if fh.read().strip() == digest and all(map(os.path.exists, cp.split(os.pathsep))):
                return cp
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp, ARCHIVE):
        if os.path.exists(f):
            os.unlink(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building harness and graft sources with sbt")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        output, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit("build timed out")
    lines = output.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(output[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f}s")
    train_archive(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return cp


def java_cmd(cp, work, extra):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + JIT + SOFT_REFS + extra + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + ["-cp", cp, "graftbench.Main", "--work", work]


def wait(proc, timeout):
    """Waits for the JVM's process group; kills it on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def train_archive(cp):
    """Runs every workload once, unmeasured, and has the JVM write the
    classes it loaded to a class-data-sharing archive. Runs map the
    archive, which takes most of class loading out of the cold pass."""
    work = os.path.join(WORK, "cds-training")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log("recording the class-data-sharing archive")
    t0 = time.time()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as logf:
            proc = subprocess.Popen(
                java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off"])
                + ["--workload", "train"],
                cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
            rc = wait(proc, TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.unlink(ARCHIVE)  # runs go on without an archive
    log(f"archive {'recorded' if os.path.exists(ARCHIVE) else 'not recorded'} "
        f"in {time.time() - t0:.1f}s")


def run_jvm(cp, args, work):
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(cp, work, cds) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        rc = wait(proc, RUN_TIMEOUT_S - 20)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full run record (JSON) here")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft's sources (src/main/scala/graft) are not in this checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp = build()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        rec = run_jvm(cp, args, work)
        t1 = time.time()
        check_failures = checks.check(rec)
        log(f"jvm {t1 - t0:.1f}s, checks {time.time() - t1:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = list(rec["failures"]) + check_failures
    attempted = int(rec["attempted"])
    # a failed check marks the outputs wrong, not an extra operation
    failed = min(attempted, int(rec["failed"]) + len(check_failures))
    rec["check_failures"] = check_failures
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
    for f in failures[:20]:
        log(f"FAILED: {f}")

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = rec["per_layer"] if args.trace else rec["metrics"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in names}
    # the full table, by name and unit, before the result line
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    e2e_units["error_rate"] = "ratio"
    rec["metrics"]["error_rate"] = failed / max(1, attempted)
    for name, value in sorted(rec["metrics"].items()):
        print(f"{args.workload} {name} {value:.6g} {e2e_units.get(name, '')}")
    print(f"{args.workload} op_tail_percentile p{rec['op_tail_percentile']} "
          f"over {rec['op_count']} ops")
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for name, value in sorted(rec["per_layer"].items()):
            print(f"{args.workload} {name} {value:.6g} {units.get(name, '')}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
