"""Statistics and verdict of tools/ab.py on canned perfbench output.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab  # noqa: E402

BETTER = {"setup_s": "lower", "main_p50_ms": "lower", "side_p50_ms": "lower"}


def stdout(side_ms, main_ms=200.0, setup=10.0, correct=True, failed=0, n_side=3):
    res = {"correct": correct, "attempted": 20, "failed": failed, "metrics": {
        "setup_s": {"value": setup, "unit": "s"},
        "main_p50_ms": {"value": main_ms, "unit": "ms"},
        "side_p50_ms": {"value": side_ms, "unit": "ms"}}}
    return "\n".join([
        f"# main_tail_ms {main_ms * 1.5:.1f} ms (max of 12 samples)",
        f"# side_tail_ms {side_ms * 1.2:.1f} ms (max of {n_side} samples)",
        "# fail_ratio 0/20 (failed operations and failed checks over attempted operations and checks)",
        json.dumps(res)])


def records(base, change, change_kw=None):
    out = []
    for i, (b, c) in enumerate(zip(base, change)):
        for side, v in (("base", b), ("change", c)):
            kw = change_kw if side == "change" and change_kw else {}
            comments, result = ab.parse_run(stdout(v, **kw))
            out.append({"pair": i, "seed": 100 + i, "side": side, "rc": 0,
                        "comments": comments, "result": result})
    return out


def row(rows, name):
    return next(r for r in rows if r["metric"] == name)


class AbStats(unittest.TestCase):
    BASE = [5890.0, 4985.0, 5560.0, 7119.0, 5431.0]
    CHANGE = [4344.0, 4174.0, 4268.0, 4146.0, 4559.0]

    def test_parse_keeps_comments_and_result(self):
        comments, result = ab.parse_run("noise\n" + stdout(100.0, n_side=7))
        self.assertEqual(len(comments), 3)
        self.assertEqual(result["metrics"]["side_p50_ms"]["value"], 100.0)
        self.assertEqual(ab.samples(comments), {"main_p50_ms": 12, "side_p50_ms": 7})

    def test_medians_quartiles_wins_and_verdict(self):
        rows, faults = ab.summarize(records(self.BASE, self.CHANGE), BETTER)
        r = row(rows, "side_p50_ms")
        self.assertEqual(faults, [])
        self.assertEqual(r["base"], (5431.0, 5560.0, 5890.0))
        self.assertEqual(r["change"], (4174.0, 4268.0, 4344.0))
        self.assertEqual(r["wins"], 5)
        self.assertAlmostEqual(r["gap"], 1292.0)
        self.assertAlmostEqual(r["base_iqr"], 459.0)
        self.assertEqual(r["verdict"], "holds")
        self.assertEqual(r["samples"]["base"], [3] * 5)
        # identical main/setup values on both sides: no wins, no gap
        self.assertEqual(row(rows, "main_p50_ms")["wins"], 0)
        self.assertEqual(row(rows, "main_p50_ms")["verdict"], "unresolved")

    def test_a_gap_inside_the_base_iqr_is_unresolved(self):
        change = [b - 100.0 for b in self.BASE]  # wins 5/5, gap 100 < IQR 459
        r = row(ab.summarize(records(self.BASE, change), BETTER)[0], "side_p50_ms")
        self.assertEqual(r["wins"], 5)
        self.assertEqual(r["verdict"], "unresolved")

    def test_fewer_than_nine_in_ten_wins_is_unresolved(self):
        base = [1000.0] * 10
        change = [500.0] * 8 + [1500.0] * 2
        r = row(ab.summarize(records(base, change), BETTER)[0], "side_p50_ms")
        self.assertEqual(r["wins"], 8)
        self.assertEqual(r["verdict"], "unresolved")
        change = [500.0] * 9 + [1500.0]
        r = row(ab.summarize(records(base, change), BETTER)[0], "side_p50_ms")
        self.assertEqual(r["verdict"], "holds")

    def test_higher_is_better_flips_the_sign(self):
        better = dict(BETTER, side_p50_ms="higher")
        r = row(ab.summarize(records(self.BASE, self.CHANGE), better)[0], "side_p50_ms")
        self.assertEqual(r["wins"], 0)
        self.assertLess(r["gap"], 0)
        self.assertEqual(r["verdict"], "unresolved")

    def test_a_pair_at_fault_is_reported_kept_and_never_a_win(self):
        # every change run failed an operation
        recs = records(self.BASE, self.CHANGE, change_kw={"failed": 1})
        rows, faults = ab.summarize(recs, BETTER)
        self.assertEqual(len(faults), 5)
        self.assertIn("pair 0 (seed 100) change: 1 failed of 20", faults)
        r = row(rows, "side_p50_ms")
        self.assertEqual(r["wins"], 0)
        self.assertEqual(len(r["pairs"]), 5)  # values kept
        self.assertEqual(r["verdict"], "unresolved")
        # a crashed run and an incorrect one
        recs = records(self.BASE, self.CHANGE)
        recs[1].update(rc=1, result=None, comments=[])
        recs[2]["result"]["correct"] = False
        rows, faults = ab.summarize(recs, BETTER)
        self.assertEqual(faults, ["pair 0 (seed 100) change: exit 1",
                                  "pair 1 (seed 101) base: incorrect"])
        r = row(rows, "side_p50_ms")
        self.assertEqual(r["pairs"][0], (5890.0, None))
        self.assertEqual(r["wins"], 3)

    def test_report_prints_the_table(self):
        recs = records(self.BASE, self.CHANGE)
        for r in recs:
            r.update(workload="review_curation", seconds=6, trace=0, base="/a", change="/b")
        buf = io.StringIO()
        ab.report(recs, BETTER, out=buf)
        text = buf.getvalue()
        self.assertIn("| `side_p50_ms` | 5560 (5431/5890) | 4268 (4174/4344) | -23.2 % | "
                      "5/5 | 1292 vs 459 | 3; 3 | holds |", text)
        self.assertIn("side_p50_ms per pair (base/change): 5890/4344, 4985/4174", text)
        self.assertIn("faults: none", text)
        # a metric that is 0 on every run collapses to one line
        for r in recs:
            r["result"]["metrics"]["etl.tasks"] = {"value": 0.0, "unit": "count"}
        buf = io.StringIO()
        ab.report(recs, BETTER, out=buf)
        self.assertIn("0 on every run: etl.tasks", buf.getvalue())
        self.assertNotIn("`etl.tasks`", buf.getvalue())


if __name__ == "__main__":
    unittest.main()
