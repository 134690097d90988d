#!/usr/bin/env python3
"""Paired A/B of two source trees on one perfbench workload.

    python3 tools/ab.py --base TREE --change TREE --workload W --pairs N \\
        --seed-base S [--seconds 6] [--trace 0|1] [--out ab.jsonl]
    python3 tools/ab.py --report ab.jsonl

Each tree is a checkout with its own perfbench/ and BENCHMARK.json. The
harness of each tree is built once, up front, through that tree's own
perfbench/run.py. Pair i runs seed S+i on both trees with
`perfbench/run.py` from the tree's root, base first on even pairs and
change first on odd ones. Every run's `#` lines, its result line, its
exit code and the tail of its stderr go to one new JSONL file as they
finish; `--report` prints the summary again from such a file.

Per metric the summary gives each side's median (q1/q3), the change in
the median, the per-pair values, the pairs the change wins, the median
gap against the base's IQR, the samples behind each run's value (the
`# <side>_tail_ms ... (<label> of N samples)` lines), and a verdict:

  holds       the change wins at least 90 % of the pairs, and its median
              is better than the base's by more than the base's IQR;
  unresolved  anything else.

"Better" is the metric's `better` field in the base tree's
BENCHMARK.json. Quartiles are the inclusive (linear) ones of
`statistics.quantiles`. A pair at fault (a run that exited non-zero,
printed no result, was not `correct` or failed an operation) is listed
under "faults" and never dropped: its values still count where they
exist, and it is never a win.
"""
import argparse
import importlib.util
import json
import math
import os
import re
import statistics
import subprocess
import sys

SAMPLES = re.compile(r"^# (\w+)_tail_ms .* \(\S+ of (\d+) samples\)$")


def parse_run(stdout):
    """(comment lines, result dict or None) from one run.py stdout."""
    comments, result = [], None
    for line in stdout.splitlines():
        line = line.strip()
        if line.startswith("#"):
            comments.append(line)
        elif line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
    return comments, result


def samples(comments):
    """metric name -> sample count, from the `# main_tail_ms` lines."""
    out = {}
    for c in comments:
        m = SAMPLES.match(c)
        if m:
            out[f"{m.group(1)}_p50_ms"] = int(m.group(2))
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fault(rec):
    """Why a run is at fault, or None."""
    if rec["rc"] != 0:
        return f"exit {rec['rc']}"
    res = rec["result"]
    if res is None:
        return "no result line"
    if not res.get("correct", False):
        return "incorrect"
    if res.get("failed", 0):
        return f"{res['failed']} failed of {res.get('attempted')}"
    return None


def summarize(records, better):
    """Per-metric statistics and the verdict over paired run records.

    `better` maps a metric name to "lower" or "higher". Returns
    (rows, faults): one dict per metric, and one line per run at fault.
    """
    pairs = {}
    for r in records:
        pairs.setdefault(r["pair"], {})[r["side"]] = r
    order = sorted(pairs)
    faults, at_fault = [], set()
    for p in order:
        for side in ("base", "change"):
            r = pairs[p].get(side)
            why = "missing" if r is None else fault(r)
            if why:
                at_fault.add(p)
                seed = r["seed"] if r else "?"
                faults.append(f"pair {p} (seed {seed}) {side}: {why}")

    def value(p, side, name):
        r = pairs[p].get(side)
        if r is None or r["result"] is None:
            return None
        m = r["result"].get("metrics", {}).get(name)
        return None if m is None else m["value"]

    names = []
    for p in order:
        for side in ("base", "change"):
            r = pairs[p].get(side)
            if r and r["result"]:
                names += [n for n in r["result"].get("metrics", {}) if n not in names]
    rows = []
    for name in names:
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        per_pair = [(p, value(p, "base", name), value(p, "change", name)) for p in order]
        xs = [b for _, b, _ in per_pair if b is not None]
        ys = [c for _, _, c in per_pair if c is not None]
        if not xs or not ys:
            continue
        bq, cq = quartiles(xs), quartiles(ys)
        wins = sum(1 for p, b, c in per_pair
                   if p not in at_fault and b is not None and c is not None
                   and sign * (c - b) > 0)
        gap = sign * (cq[1] - bq[1])  # > 0: the change is better
        iqr = bq[2] - bq[0]
        holds = wins >= math.ceil(0.9 * len(order)) and gap > iqr
        n = {side: [samples(pairs[p][side]["comments"]).get(name)
                    for p in order if side in pairs[p]] for side in ("base", "change")}
        rows.append({
            "metric": name, "base": bq, "change": cq,
            "delta_pct": 100.0 * (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan"),
            "pairs": [(b, c) for _, b, c in per_pair], "wins": wins, "n_pairs": len(order),
            "gap": gap, "base_iqr": iqr, "samples": n,
            "verdict": "holds" if holds else "unresolved"})
    return rows, faults


def fmt(x):
    if x is None:
        return "-"
    return f"{x:.0f}" if abs(x) >= 100 else f"{x:.2f}" if abs(x) >= 1 else f"{x:.3g}"


def pct(x):
    return "-" if math.isnan(x) else f"{x:+.1f} %"


def report(records, better, out=sys.stdout):
    rows, faults = summarize(records, better)
    if records:
        seeds = sorted({r["seed"] for r in records})
        head = records[0]
        print(f"{head['workload']}, {len({r['pair'] for r in records})} pairs, "
              f"seeds {seeds[0]}-{seeds[-1]}, --seconds {head['seconds']:g}, "
              f"--trace {head['trace']}; base {head['base']} -> change {head['change']}",
              file=out)
    print("| metric | base median (q1/q3) | change median (q1/q3) | change | "
          "change wins | gap vs base IQR | samples per run (base; change) | verdict |",
          file=out)
    print("|---|---|---|---|---|---|---|---|", file=out)

    def span(ns):
        ns = [x for x in ns if x is not None]
        return "-" if not ns else f"{min(ns)}" if min(ns) == max(ns) else f"{min(ns)}-{max(ns)}"

    zero = [r["metric"] for r in rows if all(v == 0 for pv in r["pairs"] for v in pv)]
    rows = [r for r in rows if r["metric"] not in zero]
    for r in rows:
        b, c = r["base"], r["change"]
        print(f"| `{r['metric']}` | {fmt(b[1])} ({fmt(b[0])}/{fmt(b[2])}) | "
              f"{fmt(c[1])} ({fmt(c[0])}/{fmt(c[2])}) | {pct(r['delta_pct'])} | "
              f"{r['wins']}/{r['n_pairs']} | {fmt(r['gap'])} vs {fmt(r['base_iqr'])} | "
              f"{span(r['samples']['base'])}; {span(r['samples']['change'])} | "
              f"{r['verdict']} |", file=out)
    for r in rows:
        print(f"{r['metric']} per pair (base/change): " +
              ", ".join(f"{fmt(b)}/{fmt(c)}" for b, c in r["pairs"]), file=out)
    if zero:
        print("0 on every run: " + ", ".join(zero), file=out)
    print("faults: " + ("; ".join(faults) if faults else "none"), file=out)
    return rows, faults


def load_better(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}


def build(tree):
    """Build a tree's harness through its own perfbench/run.py."""
    path = os.path.join(tree, "perfbench", "run.py")
    spec = importlib.util.spec_from_file_location(f"run_{abs(hash(tree))}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    state = os.path.join(tree, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    mod.build(tree, state)


def run_one(tree, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    comments, result = parse_run(p.stdout)
    return {"rc": p.returncode, "comments": comments, "result": result,
            "stderr_tail": p.stderr.splitlines()[-20:]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="ab.jsonl")
    ap.add_argument("--report", metavar="JSONL", help="summarize a kept JSONL, run nothing")
    args = ap.parse_args()

    if args.report:
        with open(args.report) as f:
            records = [json.loads(line) for line in f if line.strip()]
        if not records:
            print("no records", file=sys.stderr)
            return 2
        report(records, load_better(records[0]["base"]))
        return 0
    if not (args.base and args.change and args.workload and args.seed_base is not None):
        ap.error("--base, --change, --workload and --seed-base are required to run")
    trees = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    for side, tree in trees.items():
        print(f"ab: building {side} ({tree})", file=sys.stderr, flush=True)
        build(tree)
    records = []
    with open(args.out, "x") as out:  # one A/B per file: pairs are keyed by index
        for i in range(args.pairs):
            seed = args.seed_base + i
            sides = ("base", "change") if i % 2 == 0 else ("change", "base")
            for pos, side in enumerate(sides):
                rec = {"pair": i, "seed": seed, "side": side, "position": pos,
                       "workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "base": trees["base"], "change": trees["change"]}
                rec.update(run_one(trees[side], args, seed))
                records.append(rec)
                out.write(json.dumps(rec) + "\n")
                out.flush()
                res = rec["result"] or {}
                print(f"ab: pair {i} seed {seed} {side}: rc {rec['rc']} correct "
                      f"{res.get('correct')} failed {res.get('failed')}",
                      file=sys.stderr, flush=True)
    report(records, load_better(trees["base"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
