#!/usr/bin/env python3
"""Diff two ISOLATION_r<N>.json artifacts (TimeEntries --json output).

Usage: isolation_diff.py OLD.json NEW.json [--factor 2.0]

Prints entries whose min-of-reps time regressed by more than --factor,
entries that FAILED in NEW (TimeEntries writes a failed entry's min as
NaN), entries that disappeared, and new or recovered entries
(informational). Exit 1 if any entry failed or any regression exceeds
the factor — the per-round CI gate that would have
caught the r16 quality-classifier trainer regression (142 s at sf0.1,
invisible to the aggregate bench band because the entry post-dated the
last recorded bench).
"""
import json
import math
import sys


def load(path):
    with open(path) as f:
        data = json.load(f)
    # artifact shape: {"entries": {name: {"min": s, "med": s}}, ...} or a
    # bare {name: {...}} map — accept both.
    return data.get("entries", data)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    factor = 2.0
    for a in sys.argv[1:]:
        if a.startswith("--factor"):
            factor = float(a.split("=", 1)[1] if "=" in a else sys.argv[sys.argv.index(a) + 1])
    old, new = load(args[0]), load(args[1])
    floor = 0.5  # ignore sub-noise entries: a 0.1->0.3 s swing is JIT, not a regression
    regressed, failed = [], []
    for name, rec in sorted(new.items()):
        n = rec["min"]
        if math.isnan(n):
            failed.append(name)
            continue
        if name not in old:
            print(f"new        {name:40s} min={n:7.2f}s")
            continue
        o = old[name]["min"]
        if math.isnan(o):
            print(f"recovered  {name:40s} min={n:7.2f}s (failed in OLD)")
            continue
        if n > max(o * factor, floor):
            regressed.append((name, o, n))
    for name in sorted(set(old) - set(new)):
        print(f"removed    {name:40s} (was min={old[name]['min']:.2f}s)")
    for name, o, n in sorted(regressed, key=lambda r: r[2] / max(r[1], 1e-9), reverse=True):
        print(f"REGRESSED  {name:40s} {o:7.2f}s -> {n:7.2f}s ({n / max(o, 1e-9):.1f}x)")
    for name in failed:
        print(f"FAILED     {name:40s} (min is NaN in NEW)")
    if not regressed and not failed:
        print(f"== no >{factor}x regressions across {len(new)} entries")
    sys.exit(1 if regressed or failed else 0)


if __name__ == "__main__":
    main()
