"""Tests of the benchmark itself: the generator is deterministic, and every
output check fails on deliberately corrupted output.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import shutil
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

SCALE = 0.0005
# scratch space inside the checkout's build dir, which .gitignore names
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".bench_build", "perfbench", "test-tmp")


def load_json(path):
    with open(path) as f:
        return json.load(f)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class Tmp(unittest.TestCase):
    def setUp(self):
        os.makedirs(TMP, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=TMP)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


class GeneratorTest(Tmp):
    def test_same_seed_same_bytes(self):
        for part in gen.PARTS:
            a, b = f"{self.dir}/{part}-a", f"{self.dir}/{part}-b"
            gen.generate(part, 7, SCALE, a)
            gen.generate(part, 7, SCALE, b)
            self.assertTrue(same_tree(a, b), part)

    def test_other_seed_other_bytes(self):
        gen.generate("curation", 7, SCALE, f"{self.dir}/a")
        gen.generate("curation", 8, SCALE, f"{self.dir}/b")
        self.assertFalse(same_tree(f"{self.dir}/a", f"{self.dir}/b"))

    def test_planted_shares_recorded(self):
        gen.generate("curation", 7, 0.001, self.dir)
        meta = load_json(f"{self.dir}/meta.json")
        self.assertLess(meta["distinct_texts"], meta["docs"])
        self.assertTrue(meta["near_pairs"])


class MedallionCheckTest(Tmp):
    """A correct medallion output built with DuckDB, then corrupted."""

    def setUp(self):
        super().setUp()
        data = f"{self.dir}/in"
        gen.generate("trickle", 3, SCALE, data)
        self.m = {"root": f"{self.dir}/m", "details": f"{data}/base/details",
                  "reviews": f"{data}/base/reviews"}
        con = duckdb.connect()
        for side, src in (("details", self.m["details"]), ("reviews", self.m["reviews"])):
            os.makedirs(f"{self.dir}/m/bronze_{side}")
            shutil.copy(f"{src}/part-0.parquet", f"{self.dir}/m/bronze_{side}/part-0.parquet")
        os.makedirs(f"{self.dir}/m/silver")
        silver = checks.GOLD_SQL.split("SELECT title, CAST")[0] + "SELECT * FROM silver"
        con.execute(f"COPY ({silver.format(**self.m)}) TO "
                    f"'{self.dir}/m/silver/part-0.parquet' (FORMAT PARQUET)")
        gold = (checks.GOLD_SQL.format(**self.m)
                .replace("AS y,", "AS Year_of_publish,").replace("AS n\n", "AS users_count\n"))
        con.execute(f"COPY ({gold}) TO '{self.dir}/m/gold' "
                    f"(FORMAT PARQUET, PARTITION_BY (Year_of_publish))")
        self.m["sum_users"] = con.execute(
            f"SELECT COUNT(User_id) FROM read_parquet('{self.dir}/m/silver/*.parquet')").fetchone()[0]

    def failed(self):
        return [n for n, ok, _ in checks.check_medallion(self.m) if not ok]

    def test_correct_output_passes(self):
        self.assertEqual(self.failed(), [])

    def test_one_gold_row_dropped(self):
        f = sorted(os.path.join(d, x) for d, _, xs in os.walk(f"{self.dir}/m/gold") for x in xs)[0]
        t = pq.read_table(f)
        pq.write_table(t.slice(1), f)
        self.assertIn("gold_equals_duckdb", self.failed())

    def test_one_bronze_row_lost(self):
        f = f"{self.dir}/m/bronze_reviews/part-0.parquet"
        pq.write_table(pq.read_table(f).slice(1), f)
        self.assertIn("bronze_reviews_rows", self.failed())

    def test_wrong_sum_users(self):
        self.m["sum_users"] -= 1
        self.assertIn("gold_sum_users", self.failed())


class LakehouseCheckTest(Tmp):
    def setUp(self):
        super().setUp()
        self.data = f"{self.dir}/in"
        gen.generate("lakehouse", 3, SCALE, self.data)
        self.ops = [[3, "merge", 0], [4, "append", 0], [5, "delete", 0],
                    [6, "merge", 1], [7, "optimize", 0]]
        rows = list(checks.lakehouse_fold(self.data, self.ops).values())
        self.final = f"{self.dir}/final.parquet"
        self.write(rows)
        self.lh = {"final": self.final, "ops": self.ops, "fsck_missing": []}

    def write(self, rows):
        pq.write_table(pa.Table.from_pylist(rows), self.final)

    def failed(self):
        return [n for n, ok, _ in checks.check_lakehouse(self.data, self.lh) if not ok]

    def test_correct_table_passes(self):
        self.assertEqual(self.failed(), [])

    def test_one_merged_row_reverted(self):
        base = {r["Id"]: r for r in checks._rows(f"{self.data}/base.parquet")}
        rows = pq.read_table(self.final).to_pylist()
        i = next(i for i, r in enumerate(rows) if r["ver"] > 0 and r["Id"] in base)
        rows[i] = base[rows[i]["Id"]]
        self.write(rows)
        self.assertIn("table_equals_fold", self.failed())

    def test_deleted_row_resurrected(self):
        rows = pq.read_table(self.final).to_pylist()
        kept = {r["Id"] for r in rows}
        base = checks._rows(f"{self.data}/base.parquet")
        self.write(rows + [next(r for r in base if r["Id"] not in kept)])
        self.assertIn("table_equals_fold", self.failed())

    def test_fsck_missing_file(self):
        self.lh["fsck_missing"] = ["d-1234/part-0.parquet"]
        self.assertIn("fsck_clean", self.failed())


class CurationCheckTest(Tmp):
    def setUp(self):
        super().setUp()
        self.data = f"{self.dir}/in"
        meta = gen.generate("curation", 3, SCALE, self.data)
        texts = pq.read_table(f"{self.data}/docs.parquet").column("review_text").to_pylist()
        pq.write_table(pa.table({"doc": list(range(len(texts))), "chunk_text": texts}),
                       f"{self.dir}/chunks.parquet")
        docs = {i: t.lower().split() for i, t in enumerate(texts)}
        queries = load_json(f"{self.data}/meta.json")["queries"]
        self.cu = {"distinct": meta["distinct_texts"], "chunks": f"{self.dir}/chunks.parquet",
                   "queries": queries, "k": 5,
                   "results": [[list(x) for x in checks.bm25_topk(docs, q, 5)] for q in queries]}

    def failed(self):
        return [n for n, ok, _ in checks.check_curation(self.data, self.cu) if not ok]

    def test_correct_output_passes(self):
        self.assertEqual(self.failed(), [])

    def test_wrong_distinct_count(self):
        self.cu["distinct"] += 1
        self.assertIn("exact_dedup_count", self.failed())

    def test_one_search_result_swapped(self):
        q = next(i for i, r in enumerate(self.cu["results"]) if len(r) >= 2)
        r = self.cu["results"][q]
        r[0], r[1] = r[1], r[0]
        self.assertIn("bm25_topk_equals_brute_force", self.failed())


if __name__ == "__main__":
    unittest.main()
