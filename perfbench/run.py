#!/usr/bin/env python3
"""Reference-workload benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the harness (perfbench/build.sbt:
the library sources plus perfbench/src) once per source digest, generates
the workload's inputs from the seed (cached by seed and scale, outside
every timed window), launches one JVM running local[nproc], checks the
outputs, and prints one JSON line last: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.

Workloads, metrics and the layer -> end-to-end predictions are described
in perfbench/DESIGN.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# workload -> (generator part, scale as a share of the reference corpus)
WORKLOADS = {
    "ref_pipeline": ("raw", 0.01),
    "medallion_trickle": ("trickle", 0.01),
    "lakehouse_upsert": ("lakehouse", 0.005),
    "review_curation": ("curation", 0.002),
}
DRIVER_HEAP = "3g"
JVM_TIMEOUT_S = 160
KEEP_CORPORA = 12
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_digest(root):
    files = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """sbt compile once per source digest; returns the runtime classpath."""
    cp_file = f"{HERE}/target/runtime-classpath.txt"
    stamp = f"{state}/build.stamp"
    digest = source_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("perfbench: building harness (sbt compile)")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=840)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def prune_corpora(cache):
    dirs = sorted(glob.glob(f"{cache}/seed*"), key=os.path.getmtime)
    for d in dirs[:-KEEP_CORPORA]:
        shutil.rmtree(d, ignore_errors=True)


def tail(xs):
    """(value, label): the highest of p99.9/p99/p95/p90/p75/p50 with at
    least ten samples beyond it; the maximum when fewer than twenty."""
    s = sorted(xs)
    for p in (0.999, 0.99, 0.95, 0.9, 0.75, 0.5):
        if len(s) * (1 - p) >= 10:
            return s[math.ceil(round(p * len(s), 6)) - 1], f"p{p * 100:g}"
    return s[-1], "max"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(f"{root}/src/main/scala/graft") or not os.path.exists(f"{root}/BENCHMARK.json"):
        log("perfbench: run from the repository root (src/main/scala/graft and BENCHMARK.json)")
        return 2
    with open(f"{root}/BENCHMARK.json") as f:
        spec = json.load(f)

    state = f"{root}/.bench_build/perfbench"
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)

    import checks
    import gen
    part, scale = WORKLOADS[args.workload]
    cache = f"{state}/corpus"
    t = time.time()
    data = gen.ensure(cache, part, args.seed, scale)
    os.utime(os.path.dirname(data))
    prune_corpora(cache)
    log(f"perfbench: inputs {data} ready in {time.time() - t:.1f}s")

    work = f"{state}/run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    cores = len(os.sched_getaffinity(0))
    out = f"{work}/result.json"
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--data", data,
            "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--out", out])
    try:
        launched = time.time()
        subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, check=True,
                       timeout=JVM_TIMEOUT_S)
        with open(out) as f:
            res = json.load(f)
        try:
            results = checks.run_all(data, res["checks"])
        except Exception as e:  # a check that cannot run is a failed check
            results = [("checks_ran", False, f"{type(e).__name__}: {e}")]
        recall = None
        if "curation" in res["checks"]:
            recall = checks.planted_recall(data, res["checks"]["curation"]["pairs"])
        if args.trace:
            spans = f"{state}/traces/{args.workload}-seed{args.seed}.jsonl"
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(f"{work}/spans.jsonl", spans)
            print(f"# spans written to {os.path.relpath(spans, root)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in results:
        log(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    for e in res["errors"]:
        log(f"failed operation: {e}")
    attempted = res["attempted"] + len(results)
    failed = res["failed"] + sum(1 for _, ok, _ in results if not ok)
    correct = all(ok for _, ok, _ in results)

    setup_s = (res["session_ready_ms"] / 1e3 - launched) + statistics.median(res["staging_s"])
    values = {"setup_s": setup_s}
    for side in ("main", "side"):
        xs = res[f"{side}_ms"]
        if xs:
            values[f"{side}_p50_ms"] = statistics.median(xs)
            value, label = tail(xs)
            print(f"# {side}_tail_ms {value:.1f} ms ({label} of {len(xs)} samples)")
    layers = dict(res["layers"], **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
    if recall is not None:
        layers["ext.planted_recall"] = recall
    with open(f"{data}/summary.json") as f:
        summary = f.read()
    print(f"# workload {args.workload} seed {args.seed} scale {scale} ({part} inputs, {summary})")
    print(f"# env nproc {cores}, driver heap {res['env']['driver_heap_mb']} MB, "
          f"Spark {res['env']['spark']}, local[{res['env']['cores']}]")
    print(f"# peak RSS (VmHWM) {res['peak_rss_mb']:.1f} MB")
    print(f"# fail_ratio {failed}/{attempted} (failed operations and failed checks "
          f"over attempted operations and checks)")
    print(f"# setup: JVM start to session ready "
          f"{res['session_ready_ms'] / 1e3 - launched:.3f}s, staging reps {res['staging_s']}")

    if args.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in values}
        absent = [m["name"] for m in spec["end_to_end"] if m["name"] not in values]
        if absent:
            log(f"perfbench: no samples for {absent}")
            correct = False
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
