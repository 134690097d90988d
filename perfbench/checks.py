"""Output checks for the benchmark workloads.

Each check returns a list of (name, ok, detail). They read what the
harness left on disk (Spark's parquet output, the TxLog table's final
contents) and compare it with an answer computed here, independently of
the program: DuckDB for the medallion, a last-writer-wins fold for the
TxLog table, and a brute-force BM25 for the search results.
"""
import collections
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

# Medallion.silverSql + goldSql in DuckDB's dialect: TO_DATE(s, 'yyyy')
# becomes strptime(s, '%Y'), and the string review_Time is cast to a
# timestamp before YEAR.
GOLD_SQL = """
WITH a AS (SELECT * FROM read_parquet('{details}/*.parquet')),
     b AS (SELECT * FROM read_parquet('{reviews}/*.parquet')),
     silver AS (
       SELECT b.Title AS title,
              YEAR(strptime(CAST(a.Year_of_publish AS VARCHAR), '%Y')) AS Year_of_publish,
              a.categories, b.User_id
       FROM a INNER JOIN b ON a.Title = b.Title
       WHERE YEAR(CAST(b.review_Time AS TIMESTAMP)) > 2010)
SELECT title, CAST(Year_of_publish AS INTEGER) AS y, categories,
       CAST(COUNT(User_id) AS BIGINT) AS n
FROM silver GROUP BY title, Year_of_publish, categories
"""

GOLD_READ = """
SELECT title, CAST(Year_of_publish AS INTEGER) AS y, categories,
       CAST(users_count AS BIGINT) AS n
FROM read_parquet('{gold}/*/*.parquet', hive_partitioning = true)
"""


def _count(con, glob):
    return con.execute(f"SELECT COUNT(*) FROM read_parquet('{glob}')").fetchone()[0]


def check_medallion(m):
    """Gold equals the DuckDB evaluation, and the conservation invariants
    hold: bronze rows = cleaned rows per side, and the last gold batch's
    sum_users = silver rows - silver rows with a NULL User_id."""
    con = duckdb.connect()
    root = m["root"]
    out = []
    for side, src in (("details", m["details"]), ("reviews", m["reviews"])):
        bronze, cleaned = _count(con, f"{root}/bronze_{side}/*.parquet"), _count(con, f"{src}/*.parquet")
        out.append((f"bronze_{side}_rows", bronze == cleaned, f"bronze {bronze} cleaned {cleaned}"))
    silver, nulls = con.execute(
        f"SELECT COUNT(*), COUNT(*) FILTER (WHERE User_id IS NULL) "
        f"FROM read_parquet('{root}/silver/*.parquet')").fetchone()
    su = m.get("sum_users")
    out.append(("gold_sum_users", su == silver - nulls,
                f"sum_users {su} silver {silver} null_User_id {nulls}"))
    want = GOLD_SQL.format(details=m["details"], reviews=m["reviews"])
    got = GOLD_READ.format(gold=f"{root}/gold")
    missing, extra = (con.execute(f"SELECT COUNT(*) FROM (({x}) EXCEPT ALL ({y}))").fetchone()[0]
                      for x, y in ((want, got), (got, want)))
    out.append(("gold_equals_duckdb", missing == 0 and extra == 0,
                f"{missing} rows missing, {extra} extra"))
    return out


# ---- lakehouse ------------------------------------------------------------

COLS = ["Id", "ver", "review_score", "review_text"]


def _rows(path, by_batch=False):
    t = pq.read_table(path, columns=(["batch"] if by_batch else []) + COLS).to_pylist()
    if not by_batch:
        return t
    out = collections.defaultdict(list)
    for r in t:
        out[r.pop("batch")].append(r)
    return out


def lakehouse_fold(data_dir, ops):
    """The table a last-writer-wins fold of the committed operations gives,
    applied in commit-version order: a merge row replaces the key's row
    when its `ver` is at least the current one, an append inserts, a
    delete removes, an optimize changes nothing."""
    with open(f"{data_dir}/meta.json") as f:
        deletes = json.load(f)["deletes"]
    merges = _rows(f"{data_dir}/merges.parquet", True)
    appends = _rows(f"{data_dir}/appends.parquet", True)
    table = {r["Id"]: r for r in _rows(f"{data_dir}/base.parquet")}
    for _, kind, idx in sorted(ops, key=lambda o: o[0]):
        if kind == "merge":
            for r in merges[idx]:
                cur = table.get(r["Id"])
                if cur is None or r["ver"] >= cur["ver"]:
                    table[r["Id"]] = r
        elif kind == "append":
            for r in appends[idx]:
                table[r["Id"]] = r
        elif kind == "delete":
            for i in deletes[idx]:
                table.pop(i, None)
    return table


def check_lakehouse(data_dir, lh):
    want = lakehouse_fold(data_dir, lh["ops"])
    got_rows = _rows(lh["final"])
    got = {r["Id"]: r for r in got_rows}
    dup = len(got_rows) - len(got)
    diff = sum(1 for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    return [("table_equals_fold", dup == 0 and diff == 0,
             f"{len(got_rows)} rows, {dup} duplicate keys, {diff} keys differ "
             f"from the fold of {len(lh['ops'])} commits"),
            ("fsck_clean", not lh["fsck_missing"], f"missing files {lh['fsck_missing']}")]


# ---- curation -------------------------------------------------------------

K1, B = 1.25, 0.75


def bm25_topk(docs, terms, k):
    """Exhaustive BM25 with Bm25's constants and rounding: idf in
    micro-nats rounded half-up, saturation floored to 2^-20. Every
    document holding a query term is scored; nothing is pruned."""
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    terms = sorted({t.lower() for t in terms})
    postings = {t: {} for t in terms}
    for doc, toks in docs.items():
        for t in toks:
            if t in postings:
                postings[t][doc] = postings[t].get(doc, 0) + 1
    scores = {}
    for t in terms:
        d = len(postings[t])
        if not d:
            continue
        idf = math.floor(math.log(1 + (n - d + 0.5) / (d + 0.5)) * 1e6 + 0.5)
        for doc, tf in postings[t].items():
            sat = (tf * (K1 + 1)) / (tf + K1 * ((1 - B) + B * (len(docs[doc]) / avgdl)))
            scores[doc] = scores.get(doc, 0.0) + idf * (math.floor(sat * 1048576.0) / 1048576.0)
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def check_curation(data_dir, cu):
    with open(f"{data_dir}/meta.json") as f:
        meta = json.load(f)
    out = [("exact_dedup_count", cu["distinct"] == meta["distinct_texts"],
            f"distinct {cu['distinct']} planted {meta['distinct_texts']}")]
    chunks = pq.read_table(cu["chunks"]).to_pylist()
    docs = {r["doc"]: r["chunk_text"].lower().split() for r in chunks}
    bad = [i for i, (q, got) in enumerate(zip(cu["queries"], cu["results"]))
           if [(d, s) for d, s in got] != bm25_topk(docs, q, cu["k"])]
    out.append(("bm25_topk_equals_brute_force", not bad and len(cu["results"]) == len(cu["queries"]),
                f"{len(bad)} of {len(cu['queries'])} queries differ {bad[:5]}"))
    return out


def planted_recall(data_dir, pairs_dir):
    """Share of planted near-duplicate pairs LSH verified. Pairs are over
    exact-dedup canonical ids (the smallest Id of each distinct text)."""
    with open(f"{data_dir}/meta.json") as f:
        near = json.load(f)["near_pairs"]
    texts = pq.read_table(f"{data_dir}/docs.parquet").column("review_text").to_pylist()
    canon = {}
    for i, t in enumerate(texts):
        canon.setdefault(t, i)
    found = {(r["id_a"], r["id_b"]) for r in pq.read_table(pairs_dir).to_pylist()}
    want = {tuple(sorted((canon[texts[a]], canon[texts[b]]))) for a, b in near}
    want = {p for p in want if p[0] != p[1]}
    return len(want & found) / len(want) if want else 1.0


def run_all(data_dir, checks):
    out = []
    for m in checks.get("medallion", []):
        out += check_medallion(m)
    if len(set(checks.get("sum_users_all_reps", []))) > 1:
        out.append(("sum_users_repeat", False, f"reps disagree {checks['sum_users_all_reps']}"))
    if "lakehouse" in checks:
        out += check_lakehouse(data_dir, checks["lakehouse"])
    if "curation" in checks:
        out += check_curation(data_dir, checks["curation"])
    if not out:
        out.append(("outputs_present", False, "the harness returned nothing to check"))
    return out
