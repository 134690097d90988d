#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Usage: python3 perfbench/gen.py <part> <seed> <scale> <out_dir>

`part` is one of raw, trickle, lakehouse, curation. `scale` is a share of
the reference corpus (212 404 books, 3 000 000 reviews). The same
(part, seed, scale) always writes the same bytes. `ensure()` caches each
part under <cache>/seed<seed>-scale<scale>/<part> and publishes it with
an atomic rename, so a half-written part is never read.

- raw: books_data.csv / Books_rating.csv in tools/gen_books.py's format,
  plus a one-eighth warm-up copy under warmup/.
- trickle: cleaned base details/reviews parquet and the increments the
  harness lands during the run (reviews every increment, books every
  BOOKS_EVERY-th one).
- lakehouse: an Id-keyed base table of cleaned reviews, merge (correction)
  batches, append batches, delete batches and read probes.
- curation: review texts with planted exact and near-duplicate copies at
  recorded shares, plus a fixed batch of top-k queries.
"""
import json
import math
import os
import random
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

N_BOOKS = 212_404
N_REVIEWS = 3_000_000
WORDS = [f"w{i}" for i in range(5000)]
PARTS = ("raw", "trickle", "lakehouse", "curation")

# trickle: increments are pre-generated for the longest allowed run
TRICKLE_MAX_SECONDS = 60
TRICKLE_RATE_PER_S = 2.0
BOOKS_EVERY = 8

# curation: planted shares, recorded in meta.json
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
SHORT_SHARE = 0.05
DOC_WORDS = 60
N_QUERIES = 12

DETAILS_SCHEMA = pa.schema([
    ("Title", pa.string()), ("description", pa.string()),
    ("authors", pa.string()), ("image", pa.string()),
    ("previewLink", pa.string()), ("publisher", pa.string()),
    ("publishedDate", pa.string()), ("infoLink", pa.string()),
    ("categories", pa.string()), ("Ratings_Count", pa.float32()),
    ("Year_of_publish", pa.int32())])
REVIEWS_SCHEMA = pa.schema([
    ("Id", pa.string()), ("Title", pa.string()), ("User_id", pa.string()),
    ("profileName", pa.string()), ("Review_helpfulness", pa.float32()),
    ("review_score", pa.float32()), ("review_time_unix", pa.int64()),
    ("review_Time", pa.string()), ("review_summary", pa.string()),
    ("review_text", pa.string())])
LAKE_SCHEMA = REVIEWS_SCHEMA.append(pa.field("ver", pa.int64()))


def rng(seed, part):
    return random.Random(seed * 1000 + PARTS.index(part))


def write_parquet(rows, schema, path):
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema)}
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


# ---- raw CSVs (tools/gen_books.py format) ---------------------------------

def write_raw(rnd, out, n_books, n_reviews):
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/books_data.csv", "w") as f:
        f.write("title,description,authors,image,previewLink,publisher,"
                "publishedDate,infoLink,categories,ratingsCount\n")
        for i in range(n_books):
            authors = "', '".join(f"Author {rnd.randrange(50000)}"
                                  for _ in range(1 + (i % 3 == 0)))
            cats = "', '".join(f"Cat{rnd.randrange(30)}"
                               for _ in range(1 + (i % 5 == 0)))
            img = "garbage" if rnd.random() < 0.03 else f"http://img/{i}"
            date = (str(1950 + rnd.randrange(70)) if rnd.random() < 0.25
                    else f"{1950 + rnd.randrange(70)}-{1 + rnd.randrange(9):02d}"
                         f"-{1 + rnd.randrange(27):02d}")
            rc = "bad" if rnd.random() < 0.05 else str(rnd.randrange(9000))
            desc = " ".join(rnd.choice(WORDS) for _ in range(12))
            f.write(f"Book {i},{desc},\"['{authors}']\",{img},http://prev/{i},"
                    f"Pub{i % 2000},{date},http://info/{i},\"['{cats}']\",{rc}\n")
    with open(f"{out}/Books_rating.csv", "w") as f:
        f.write("Id,Title,Price,User_id,profileName,review/helpfulness,"
                "review/score,review/time,review/summary,review/text\n")
        for i in range(n_reviews):
            b = rnd.randrange(n_books)
            help_ = rnd.choice(["0/0", "", f"{rnd.randrange(30)}/{1 + rnd.randrange(30)}",
                                f"{rnd.randrange(30)}/{1 + rnd.randrange(30)}"])
            score = "garbage" if rnd.random() < 0.08 else str(1 + rnd.randrange(5))
            t = 1_000_000_000 + rnd.randrange(600_000_000)
            text = " ".join(rnd.choice(WORDS) for _ in range(20))
            f.write(f"{i},Book {b},,u{rnd.randrange(400000)},Name {i},{help_},"
                    f"{score},{t},summary {i},{text}\n")


def gen_raw(seed, scale, out):
    rnd = rng(seed, "raw")
    nb, nr = round(N_BOOKS * scale), round(N_REVIEWS * scale)
    write_raw(rnd, out, nb, nr)
    write_raw(rnd, f"{out}/warmup", max(1, nb // 8), max(1, nr // 8))
    return {"books": nb, "reviews": nr}


# ---- cleaned rows ---------------------------------------------------------

def book_rows(rnd, i):
    """Cleaned details rows of book i: the authors x categories explode."""
    authors = [f"Author {rnd.randrange(50000)}" for _ in range(1 + (i % 3 == 0))]
    cats = [f"Cat{rnd.randrange(30)}" for _ in range(1 + (i % 5 == 0))]
    year = 1950 + rnd.randrange(70)
    date = str(year) if rnd.random() < 0.25 else f"{year}-{1 + rnd.randrange(9):02d}-01"
    rc = float(rnd.randrange(9000))
    desc = " ".join(rnd.choice(WORDS) for _ in range(12))
    return [(f"Book {i}", desc, a, f"http://img/{i}", f"http://prev/{i}",
             f"Pub{i % 2000}", date, f"http://info/{i}", c, rc, year)
            for a in authors for c in cats]


def review_row(rnd, rid, title, ver=None):
    t = 1_000_000_000 + rnd.randrange(600_000_000)
    row = (rid, title, f"u{rnd.randrange(400000)}", f"Name {rid}",
           float(rnd.randrange(101)), float(1 + rnd.randrange(5)), t,
           time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t)),
           f"summary {rid}", " ".join(rnd.choice(WORDS) for _ in range(20)))
    return row if ver is None else row + (ver,)


def gen_trickle(seed, scale, out):
    rnd = rng(seed, "trickle")
    nb, nr = round(N_BOOKS * scale), round(N_REVIEWS * scale)
    for d in ("base/details", "base/reviews", "inc/reviews", "inc/books"):
        os.makedirs(f"{out}/{d}", exist_ok=True)
    details = [r for i in range(nb) for r in book_rows(rnd, i)]
    write_parquet(details, DETAILS_SCHEMA, f"{out}/base/details/part-0.parquet")
    reviews = [review_row(rnd, str(i), f"Book {rnd.randrange(nb)}") for i in range(nr)]
    write_parquet(reviews, REVIEWS_SCHEMA, f"{out}/base/reviews/part-0.parquet")
    n_inc = math.ceil(TRICKLE_MAX_SECONDS * TRICKLE_RATE_PER_S) + 1
    per_inc = max(20, nr // 100)
    books, rid = nb, nr
    for k in range(n_inc):
        if k % BOOKS_EVERY == 0:
            new = [r for i in range(books, books + 4) for r in book_rows(rnd, i)]
            write_parquet(new, DETAILS_SCHEMA, f"{out}/inc/books/{k:05d}.parquet")
            books += 4
        rows = [review_row(rnd, str(rid + j), f"Book {rnd.randrange(books)}")
                for j in range(per_inc)]
        write_parquet(rows, REVIEWS_SCHEMA, f"{out}/inc/reviews/{k:05d}.parquet")
        rid += per_inc
    return {"base_books": nb, "base_review_rows": nr, "increments": n_inc,
            "rows_per_increment": per_inc, "rate_per_s": TRICKLE_RATE_PER_S,
            "books_every": BOOKS_EVERY}


# ---- lakehouse ------------------------------------------------------------

def lake_id(i):
    return f"r{i:08d}"


def gen_lakehouse(seed, scale, out):
    rnd = rng(seed, "lakehouse")
    n = round(N_REVIEWS * scale)
    nb = max(1, round(N_BOOKS * scale))
    os.makedirs(out, exist_ok=True)
    base = [review_row(rnd, lake_id(i), f"Book {rnd.randrange(nb)}", 0) for i in range(n)]
    write_parquet(base, LAKE_SCHEMA, f"{out}/base.parquet")
    batch = max(10, n // 200)
    merges = []
    for b in range(200):
        if b % 2 == 0:  # narrow: a contiguous key range
            lo = rnd.randrange(n - batch)
            ids = range(lo, lo + batch)
        else:           # scattered: keys across the whole table
            ids = rnd.sample(range(n), batch)
        merges += [(b,) + review_row(rnd, lake_id(i), f"Book {rnd.randrange(nb)}", b + 1)
                   for i in ids]
    write_parquet(merges, pa.schema([("batch", pa.int32())] + list(LAKE_SCHEMA)),
                  f"{out}/merges.parquet")
    appends = [(b,) + review_row(rnd, f"a{b:05d}-{j:04d}", f"Book {rnd.randrange(nb)}", 0)
               for b in range(600) for j in range(max(5, batch // 2))]
    write_parquet(appends, pa.schema([("batch", pa.int32())] + list(LAKE_SCHEMA)),
                  f"{out}/appends.parquet")
    deletes = [[lake_id(i) for i in rnd.sample(range(n), 5)] for _ in range(100)]
    equals = [[lake_id(rnd.randrange(n)) for _ in range(3)] for _ in range(200)]
    ranges = []
    for _ in range(200):
        lo = 1_000_000_000 + rnd.randrange(600_000_000)
        ranges.append([lo, lo + 600_000])
    meta = {"rows": n, "merge_batches": 200, "merge_batch_rows": batch,
            "append_batches": 600, "append_batch_rows": max(5, batch // 2),
            "deletes": deletes, "equals": equals, "ranges": ranges}
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)
    return {k: v for k, v in meta.items() if not isinstance(v, list)}


# ---- curation -------------------------------------------------------------

def gen_curation(seed, scale, out):
    rnd = rng(seed, "curation")
    n = round(N_REVIEWS * scale)
    os.makedirs(out, exist_ok=True)
    # Zipf-like vocabulary so BM25 idf varies across terms
    cum, acc = [], 0.0
    for i in range(len(WORDS)):
        acc += 1.0 / (i + 1) ** 0.8
        cum.append(acc)
    texts, near = [], []
    for i in range(n):
        u = rnd.random()
        if i > 0 and u < EXACT_DUP_SHARE:
            texts.append(texts[rnd.randrange(i)])
        elif i > 0 and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = rnd.randrange(i)
            toks = texts[src].split(" ")
            if len(toks) < DOC_WORDS:  # short texts have no near copies
                texts.append(texts[src])
                continue
            toks[rnd.randrange(len(toks))] = f"edit{rnd.randrange(10 ** 6)}"
            texts.append(" ".join(toks))
            near.append([src, i])
        elif u < EXACT_DUP_SHARE + NEAR_DUP_SHARE + SHORT_SHARE:
            texts.append(" ".join(rnd.choices(WORDS, cum_weights=cum, k=3)))
        else:
            texts.append(" ".join(rnd.choices(WORDS, cum_weights=cum, k=DOC_WORDS)))
    pq.write_table(pa.table({"Id": pa.array(range(n), pa.int64()),
                             "review_text": pa.array(texts, pa.string())}),
                   f"{out}/docs.parquet", compression="snappy")
    queries = [rnd.sample(WORDS[20:2000], 2 + q % 2) for q in range(N_QUERIES)]
    meta = {"docs": n, "distinct_texts": len(set(texts)),
            "exact_dup_share": EXACT_DUP_SHARE, "near_dup_share": NEAR_DUP_SHARE,
            "short_share": SHORT_SHARE, "near_pairs": near, "queries": queries}
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)
    return {k: v for k, v in meta.items() if not isinstance(v, list)}


GENERATORS = {"raw": gen_raw, "trickle": gen_trickle,
              "lakehouse": gen_lakehouse, "curation": gen_curation}


def generate(part, seed, scale, out):
    """Write one part into `out` (created); returns its summary dict."""
    os.makedirs(out, exist_ok=True)
    summary = GENERATORS[part](seed, scale, out)
    with open(f"{out}/summary.json", "w") as f:
        json.dump(summary, f, sort_keys=True)
    return summary


def ensure(cache, part, seed, scale):
    """Cached generate: the part's directory, built once per (seed, scale)."""
    final = os.path.join(cache, f"seed{seed}-scale{scale}", part)
    if not os.path.exists(os.path.join(final, "summary.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(part, seed, scale, tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return final


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] not in PARTS:
        sys.exit(f"usage: gen.py {{{','.join(PARTS)}}} <seed> <scale> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
                              sys.argv[4])))
