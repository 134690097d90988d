package graft.ops

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{PipelineOps, TextAnalysis}

/** Dataset-assembly catalog (extension tier, SURVEY.md §7.5): the
  * operators that turn a cleaned/deduped corpus into training data —
  * as-of enrichment, bloom-pruned filtering, split assignment, packing,
  * decontamination. All fully oracle-checked (DuckDB has native ASOF
  * JOIN; md5 and the window arithmetic are engine-identical).
  */
object PipelineQueries {

  private val SPLITS = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))

  val defs: Seq[QueryDef] = Seq(

    QueryDef("ext_asof_join",
      "as-of backward join: latest order at/before each event date per user (union-merge, one shuffle — no range explosion)",
      """WITH r AS (SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS last_price
        |           FROM orders GROUP BY o_custkey, o_orderdate),
        |l AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date FROM events)
        |SELECT l.event_id, l.user_id, l.event_date,
        |  r.o_orderdate AS asof_date, r.last_price
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.event_date >= r.o_orderdate""".stripMargin) { (s, dir) =>
      val events = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).alias("event_date"))
      // uniquify right per (key, ts) so as-of tie-handling is deterministic
      val orders = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).alias("last_price"))
      AsofJoin.asofBackward(events, "user_id", "event_date",
        orders, "o_custkey", "o_orderdate", Seq("last_price"),
        asofTsCol = "asof_date")
    },

    QueryDef("ext_bloom_semi",
      "bloom-prefiltered semi-join: orders of BUILDING-segment customers (bloom prunes scan-side, exact verify on survivors)",
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey")
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      BloomSemi.semiJoin(orders, cust, "o_custkey", "c_custkey")
    },

    QueryDef("ext_split_assign",
      "deterministic content-hash train/val/test split (80/10/10, stable across corpus growth)", {
      val Seq(b1, b2) = PipelineOps.splitBoundsHex(SPLITS).dropRight(1)
      s"""SELECT doc_id, lang,
         |  CASE WHEN h < '$b1' THEN 'train' WHEN h < '$b2' THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h FROM documents)""".stripMargin
    }) { (s, dir) =>
      PipelineOps.assignSplit(
        Tables.load(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", SPLITS)
    },

    QueryDef("ext_pack_budget",
      "token-budget chunk packing: pack_id per doc (512-token budget, per-lang, doc_id order)",
      """WITH t AS (SELECT doc_id, lang,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_toks FROM documents),
        |c AS (SELECT doc_id, lang, n_toks,
        |  SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_toks AS prior FROM t)
        |SELECT doc_id, lang, n_toks, CAST(prior // 512 AS INT) AS pack_id FROM c""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        col("lang"), TextAnalysis.tokenCount(col("text")).alias("n_toks"))
      PipelineOps.budgetPack(docs, "lang", "doc_id", "n_toks", 512)
    },

    QueryDef("ext_pack_concat",
      "materialized training sequences: docs concatenated per (lang, pack_id) in doc order",
      """WITH t AS (SELECT doc_id, lang, text,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_toks FROM documents),
        |c AS (SELECT doc_id, lang, text,
        |  CAST((SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_toks) // 512 AS INT) AS pack_id FROM t)
        |SELECT lang, pack_id, COUNT(*) AS n_docs,
        |  array_to_string(list_transform(list_sort(list(struct_pack(o := doc_id, t := text))), x -> x.t), ' ') AS pack_text
        |FROM c GROUP BY lang, pack_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        col("lang"), col("text"),
        TextAnalysis.tokenCount(col("text")).alias("n_toks"))
      PipelineOps.concatPacks(
        PipelineOps.budgetPack(docs, "lang", "doc_id", "n_toks", 512),
        "lang", "doc_id", "text")
    },

    // The flagship composition: every stage is an already-oracled
    // operator, chained the way a real corpus-prep run chains them —
    // proof the pieces compose end-to-end, checked as ONE cross-engine
    // query (quality gate → exact dedup → deterministic split → report).
    QueryDef("ext_pipeline_e2e",
      "end-to-end corpus prep: quality gate (>= 0.5) → exact content-hash dedup (min doc_id wins; text never shuffles) → 80/10/10 split → per-(split, lang) doc/token report", {
      val Seq(b1, b2) = PipelineOps.splitBoundsHex(SPLITS).dropRight(1)
      s"""WITH q AS (SELECT doc_id, lang, text,
         |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_toks,
         |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct
         |FROM documents),
         |g AS (SELECT doc_id, lang, md5(text) AS doc_hash, CAST(n_toks AS BIGINT) AS n_toks FROM q
         |      WHERE (CASE WHEN n_toks < 5 THEN n_toks / 5.0 WHEN n_toks > 10000 THEN 0.5 ELSE 1.0 END)
         |        * (CASE WHEN punct > 0.3 THEN 0.3 ELSE 1.0 END) >= 0.5),
         |c AS (SELECT doc_hash, MIN(doc_id) AS doc_id FROM g GROUP BY doc_hash),
         |d AS (SELECT g.* FROM g JOIN c ON g.doc_hash = c.doc_hash AND g.doc_id = c.doc_id),
         |s AS (SELECT lang, n_toks,
         |  CASE WHEN h < '$b1' THEN 'train' WHEN h < '$b2' THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT lang, n_toks, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h FROM d))
         |SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
         |FROM s GROUP BY split, lang""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // dedup key is a 16-byte content hash, not the text: at corpus
      // scale the wide text column must never ride the dedup shuffle
      val gated = docs
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .select(col("doc_id"), col("lang"), md5(col("text")).alias("doc_hash"),
          TextAnalysis.tokenCount(col("text")).cast("long").alias("n_toks"))
      val dedup = gated.join(
        gated.groupBy("doc_hash").agg(min("doc_id").alias("doc_id")),
        Seq("doc_hash", "doc_id"))
      PipelineOps.assignSplit(dedup, "doc_id", SPLITS)
        .groupBy("split", "lang")
        .agg(count(lit(1)).alias("n_docs"), sum("n_toks").alias("n_tokens"))
    },

    // Two "versions" are carved deterministically from one table (v1 =
    // doc_id < 450; v2 = doc_id >= 50 with every 7th text revised), so
    // both engines construct identical snapshots and the full-outer
    // diff classification is checked end to end.
    QueryDef("ext_corpus_diff",
      "corpus-version diff: added/removed/changed/unchanged by content hash across two snapshots (full-outer join on id; text never shuffles)",
      """WITH v1 AS (SELECT doc_id, md5(text) AS h, 1 AS p FROM documents WHERE doc_id < 450),
        |v2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h, 1 AS p
        |       FROM documents WHERE doc_id >= 50)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.p IS NULL THEN 'added' WHEN v2.p IS NULL THEN 'removed'
        |       WHEN v1.h IS DISTINCT FROM v2.h THEN 'changed' ELSE 'unchanged' END AS status
        |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") < 450)
      val v2 = docs.filter(col("doc_id") >= 50)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      PipelineOps.corpusDiff(v1, v2, "doc_id", "text")
    },

    QueryDef("ext_sample_per_group",
      "deterministic k-per-group sampling: 20 smallest-md5 docs per source (count-capped complement of the rate-based stratified sample; runs on the custom TopKPerKey operator)",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin) { (s, dir) =>
      PipelineOps.samplePerGroup(
        Tables.load(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", k = 20)
    },

    QueryDef("ext_profile",
      "one-pass column profiling: per-column row/non-null/exact-distinct counts and min/max (the ANALYZE surface; single aggregation job via Expand)",
      """SELECT 'doc_id' AS "column", COUNT(*) AS n_rows, COUNT(doc_id) AS n_nonnull,
        |  COUNT(DISTINCT doc_id) AS n_distinct, CAST(MIN(doc_id) AS VARCHAR) AS min_val,
        |  CAST(MAX(doc_id) AS VARCHAR) AS max_val FROM documents
        |UNION ALL
        |SELECT 'lang', COUNT(*), COUNT(lang), COUNT(DISTINCT lang),
        |  MIN(lang), MAX(lang) FROM documents
        |UNION ALL
        |SELECT 'source', COUNT(*), COUNT(source), COUNT(DISTINCT source),
        |  MIN(source), MAX(source) FROM documents
        |UNION ALL
        |SELECT 'n_chars', COUNT(*), COUNT(n_chars), COUNT(DISTINCT n_chars),
        |  CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents""".stripMargin) { (s, dir) =>
      PipelineOps.profile(Tables.load(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
    },

    // Sliding-window chunking is pure integer/slice arithmetic, so the
    // WHOLE operator is oracled — chunk counts, boundaries, and the
    // joined chunk text are recomputed bit-for-bit by DuckDB.
    QueryDef("ext_chunk_text",
      "sliding token-window chunking: 64-token windows, stride 48 (context-window preparation; fully oracled, no staging)",
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk FROM documents),
        |c AS (SELECT doc_id, tk, len(tk) AS n,
        |  CASE WHEN len(tk) <= 64 THEN 1 ELSE CAST((len(tk) - 64 + 47) // 48 AS INT) + 1 END AS n_chunks FROM t)
        |SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
        |  CAST(greatest(least(64, n - u.i * 48), 0) AS INT) AS n_chunk_tokens,
        |  array_to_string(tk[u.i * 48 + 1 : u.i * 48 + 64], ' ') AS chunk_text
        |FROM c, UNNEST(range(0, n_chunks)) AS u(i)""".stripMargin) { (s, dir) =>
      PipelineOps.chunkByTokens(Tables.load(s, dir, "documents"),
        "doc_id", "text", chunkSize = 64, stride = 48)
    },

    // T5-style span corruption (Raffel et al. 2020) — the denoising-
    // objective data generator: mask ~12.5% of tokens, runs of masked
    // tokens collapse to ONE numbered sentinel in the corrupted text,
    // and the target spells each sentinel followed by the tokens it
    // hides. Mask decisions are md5-keyed (no rand() — the split/
    // stratified-sample discipline), so every engine, epoch, and
    // partitioning derives the identical corruption. Span numbering is
    // a running sum of span-starts per doc; pieces reassemble with an
    // order-pinned join (sort_array of (pos, piece) / string_agg ORDER
    // BY pos). Scale shape: one posexplode + two narrow windows + one
    // per-doc agg — nothing wider than (doc, pos, token) shuffles.
    QueryDef("ext_span_corrupt",
      "T5 span corruption: md5-keyed ~12.5% token masking, runs → numbered sentinels, corrupted + target texts per doc",
      """WITH tokt AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
        |tok AS (SELECT doc_id, CAST(u.i AS INT) - 1 AS pos, tk[u.i] AS token
        |  FROM tokt, UNNEST(range(1, len(tk) + 1)) AS u(i)),
        |f AS (SELECT doc_id, pos, token,
        |  substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 1) IN ('0', '1') AS m
        |  FROM tok),
        |g AS (SELECT *, COALESCE(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), false) AS m_prev FROM f),
        |h AS (SELECT *,
        |  SUM(CASE WHEN m AND NOT m_prev THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM g),
        |p AS (SELECT doc_id, pos, span_id, m,
        |  CASE WHEN NOT m THEN token
        |       WHEN m AND NOT m_prev THEN '<extra_id_' || CAST(span_id AS VARCHAR) || '>' END AS cp,
        |  CASE WHEN m THEN
        |    (CASE WHEN NOT m_prev THEN '<extra_id_' || CAST(span_id AS VARCHAR) || '> ' ELSE '' END) || token END AS tp
        |  FROM h)
        |SELECT doc_id,
        |  COALESCE(string_agg(cp, ' ' ORDER BY pos) FILTER (WHERE cp IS NOT NULL), '') AS corrupted,
        |  COALESCE(string_agg(tp, ' ' ORDER BY pos) FILTER (WHERE tp IS NOT NULL), '') AS target,
        |  CAST(COALESCE(MAX(span_id), 0) AS BIGINT) AS n_spans
        |FROM p GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(lower(col("text"))))
          .as(Seq("pos", "token")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val h = tok
        .withColumn("m", substring(md5(concat(col("doc_id").cast("string"),
          lit(":"), col("pos").cast("string"))), 1, 1).isin("0", "1"))
        .withColumn("m_prev", coalesce(lag(col("m"), 1).over(w), lit(false)))
        .withColumn("span_id",
          sum((col("m") && !col("m_prev")).cast("long")).over(w))
      val cp = when(!col("m"), col("token"))
        .when(col("m") && !col("m_prev"),
          concat(lit("<extra_id_"), col("span_id"), lit(">")))
      val tp = when(col("m"), concat(
        when(!col("m_prev"),
          concat(lit("<extra_id_"), col("span_id"), lit("> ")))
          .otherwise(lit("")), col("token")))
      def joinPieces(piece: org.apache.spark.sql.Column) =
        array_join(transform(
          filter(sort_array(collect_list(struct(col("pos"), piece.alias("p")))),
            x => x.getField("p").isNotNull),
          x => x.getField("p")), " ")
      h.groupBy("doc_id").agg(
        joinPieces(cp).alias("corrupted"),
        joinPieces(tp).alias("target"),
        coalesce(max(col("span_id")), lit(0L)).alias("n_spans"))
    },

    // Unigram LM scoring: the ln() derivation is Spark-side math (staged
    // as micro-nat LONGs — see UnigramLm's determinism note), and the
    // scoring join + exact integer sum + single final division are
    // recomputed by DuckDB over the staged vocabulary. CAST(SUM AS
    // BIGINT) in the oracle: DuckDB sums BIGINT into HUGEINT, which
    // pandas renders as float64 — the round-2 dtype trap.
    QueryDef("ext_text_lm_score",
      "unigram LM quality score: micro-nat log-probs trained on doc_id < 250, mean log-prob per doc (scoring oracled over staged vocab)",
      ("""WITH tok AS (SELECT doc_id, u.t AS token
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t)),
         |""" +
       s"""v AS (SELECT token, lp_micro FROM read_parquet('${QueryDef.StageSql}/lm_vocab/*.parquet')),
         |o AS (SELECT lp_micro AS oov FROM read_parquet('${QueryDef.StageSql}/lm_oov/*.parquet')),
         |""" +
       """s AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(COALESCE(v.lp_micro, o.oov)) AS BIGINT) AS lp_sum
         |  FROM tok LEFT JOIN v USING (token) CROSS JOIN o GROUP BY doc_id)
         |SELECT doc_id, n_tokens, lp_sum,
         |  CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6) AS avg_lp FROM s""").stripMargin) { (s, dir) =>
      import graft.ext.UnigramLm
      val docs = Tables.load(s, dir, "documents")
      val counts = UnigramLm.unigramCounts(docs.filter(col("doc_id") < 250), "text")
      val total = UnigramLm.totalTokens(counts)
      val oov = UnigramLm.oovMicro(total)
      val stage = QueryDef.stageDir(dir)
      // reference-slice LM: exact-integer micro-nats, deterministic —
      // staged once per sf (the stagedInput discipline)
      Fixtures.stagedInput(dir, "lm_vocab", 1)(
        UnigramLm.vocab(counts, total, minCount = 2))
      Fixtures.stagedInput(dir, "lm_oov", 1)(
        s.createDataFrame(Seq(Tuple1(oov))).toDF("lp_micro").coalesce(1))
      UnigramLm.score(docs, "doc_id", "text",
        s.read.parquet(s"$stage/lm_vocab"), oov)
    },

    // Interpolated bigram LM — the CCNet perplexity filter one order up
    // from ext_text_lm_score: p̂(w₂|w₁) = λ·c(w₁w₂)/c(w₁) +
    // (1−λ)·c(w₂)/total (Jelinek–Mercer), micro-nat tables staged, and
    // the scoring join + exact integer sum + single division recomputed
    // by DuckDB. The backoff COALESCE chain (bigram → w₂ unigram → OOV
    // floor) is the same in both engines, so pruned/unseen bigrams land
    // on identical values.
    QueryDef("ext_text_lm_bigram",
      "interpolated bigram LM score: Jelinek–Mercer λ=0.75 trained on doc_id < 250, mean bigram log-prob per doc (scoring oracled over staged tables)",
      ("""WITH tkt AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM tkt, UNNEST(range(1, len(tk))) AS u(i)),
         |""" +
       s"""b AS (SELECT w1, w2, lp_micro FROM read_parquet('${QueryDef.StageSql}/bglm_bigram/*.parquet')),
         |un AS (SELECT token, lp_micro FROM read_parquet('${QueryDef.StageSql}/bglm_uni/*.parquet')),
         |o AS (SELECT oov FROM read_parquet('${QueryDef.StageSql}/bglm_oov/*.parquet')),
         |""" +
       """s AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(COALESCE(b.lp_micro, un.lp_micro, o.oov)) AS BIGINT) AS lp_sum
         |  FROM bg LEFT JOIN b ON bg.w1 = b.w1 AND bg.w2 = b.w2
         |  LEFT JOIN un ON bg.w2 = un.token CROSS JOIN o GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, lp_sum,
         |  CAST(lp_sum AS DOUBLE) / (n_bigrams * 1e6) AS avg_lp FROM s""").stripMargin) { (s, dir) =>
      import graft.ext.BigramLm
      val docs = Tables.load(s, dir, "documents")
      val (bg, uni, oov) = BigramLm.train(s,
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val stage = QueryDef.stageDir(dir)
      Fixtures.stagedInput(dir, "bglm_bigram", 1)(bg)
      Fixtures.stagedInput(dir, "bglm_uni", 1)(uni)
      Fixtures.stagedInput(dir, "bglm_oov", 1)(
        s.createDataFrame(Seq(Tuple1(oov))).toDF("oov").coalesce(1))
      BigramLm.score(docs, "doc_id", "text",
        s.read.parquet(s"$stage/bglm_bigram"),
        s.read.parquet(s"$stage/bglm_uni"), oov)
    },

    // BPE tokenizer training (Sennrich et al. 2016): merges learned on
    // the vocabulary-sized word-count table (driver loop collects ONE
    // row per merge — the ANN-codebook discipline), application by
    // plain string-replace over sep-joined symbols — semantics shared
    // EXACTLY by Java String.replace and DuckDB replace, so the oracle
    // replays tokenization from the staged merge list bit-for-bit (the
    // merge-selection argmax + tie-break is BpeSpec's job; the staged-
    // candidates precedent of the ANN entries). Final tokenization is
    // position-exploded per word.
    QueryDef("ext_bpe_tokenize",
      "BPE tokenizer: 6 merges trained on the word-count table, tokenization replayed from the staged merge list",
      s"""WITH RECURSIVE wc AS (SELECT u.t AS word, COUNT(*) AS cnt
         |  FROM (SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t)
         |  WHERE regexp_matches(u.t, '^[a-z0-9]+$$')
         |  GROUP BY 1),
         |m AS (SELECT rank, a, b FROM read_parquet('${QueryDef.StageSql}/bpe_merges/*.parquet')),
         |n AS (SELECT COUNT(*) AS k FROM m),
         |it AS (
         |  SELECT word, cnt, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS sym, 0 AS step FROM wc
         |  UNION ALL
         |  SELECT it.word, it.cnt,
         |    replace(it.sym, '|' || m.a || '|' || m.b || '|', '|' || m.a || m.b || '|'),
         |    it.step + 1
         |  FROM it JOIN m ON m.rank = it.step),
         |f AS (SELECT word, cnt, sym FROM it, n WHERE it.step = n.k),
         |t AS (SELECT word, cnt, list_filter(string_split(sym, '|'), x -> len(x) > 0) AS tk FROM f)
         |SELECT word, cnt, CAST(u.i AS INT) - 1 AS pos, tk[u.i] AS token
         |FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)""".stripMargin) { (s, dir) =>
      import graft.ext.Bpe
      val (merges, trained) = Bpe.trainCached(s"$dir#bpe_docs",
        Bpe.wordCounts(Tables.load(s, dir, "documents"), "text"), k = 6)
      // stagedInput, not a raw overwrite: ext_bpe_token_count stages the
      // SAME path, and two concurrent overwrites of one dir race on the
      // _temporary commit (seen failing in Bench's concurrent pass) —
      // the fixture lock serializes them and writes once
      Fixtures.stagedInput(dir, "bpe_merges", 1)(
        Bpe.mergesFrame(s, merges).coalesce(1))
      Bpe.tokenized(trained)
    },

    // BPE serving: per-document token counts under the trained
    // vocabulary — the packing-budget input (chunk/pack entries count
    // whitespace tokens; a real budget counts TOKENIZER tokens). The
    // (word → n_tokens) map is vocabulary-sized and broadcasts; words
    // outside the trained alphabet fall back to their character count
    // (the byte-fallback story: every tokenizer needs a path for
    // unseen symbols). One shared fit serves both BPE entries via
    // Bpe.trainCached.
    QueryDef("ext_bpe_token_count",
      "BPE token budget per doc: broadcast (word → n_tokens) map from the trained merges, char-count fallback off-alphabet",
      s"""WITH RECURSIVE m AS (SELECT rank, a, b FROM read_parquet('${QueryDef.StageSql}/bpe_merges/*.parquet')),
         |n AS (SELECT COUNT(*) AS k FROM m),
         |wc AS (SELECT u.t AS word, COUNT(*) AS cnt
         |  FROM (SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t)
         |  WHERE regexp_matches(u.t, '^[a-z0-9]+$$')
         |  GROUP BY 1),
         |it AS (
         |  SELECT word, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS sym, 0 AS step FROM wc
         |  UNION ALL
         |  SELECT it.word,
         |    replace(it.sym, '|' || m.a || '|' || m.b || '|', '|' || m.a || m.b || '|'),
         |    it.step + 1
         |  FROM it JOIN m ON m.rank = it.step),
         |v AS (SELECT word, CAST(len(list_filter(string_split(sym, '|'), x -> len(x) > 0)) AS BIGINT) AS nt
         |  FROM it, n WHERE it.step = n.k),
         |dw AS (SELECT doc_id, u.t AS word
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t))
         |SELECT doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(COALESCE(v.nt, length(dw.word))) AS BIGINT) AS n_bpe_tokens
         |FROM dw LEFT JOIN v USING (word)
         |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import graft.ext.{Bpe, TfIdf}
      val docs = Tables.load(s, dir, "documents")
      val (merges, trained) = Bpe.trainCached(s"$dir#bpe_docs",
        Bpe.wordCounts(docs, "text"), k = 6)
      // stage the merges here too: the oracle must replay them even when
      // this entry runs without ext_bpe_tokenize (identical content —
      // the shared trainCached fit makes the write idempotent, and the
      // stagedInput lock removes the concurrent-overwrite race with it)
      Fixtures.stagedInput(dir, "bpe_merges", 1)(
        Bpe.mergesFrame(s, merges).coalesce(1))
      val vocab = Bpe.tokenized(trained)
        .groupBy("word").agg(count(lit(1)).alias("nt"))
      TfIdf.tokenized(docs, "doc_id", "text")
        .withColumnRenamed("token", "word")
        .join(broadcast(vocab), Seq("word"), "left")
        .groupBy(col("doc").alias("doc_id"))
        .agg(count(lit(1)).alias("n_words"),
          sum(coalesce(col("nt"), length(col("word")).cast("long")))
            .alias("n_bpe_tokens"))
    },

    // Deterministic training shuffle — the dataloader-order op: a
    // reproducible global permutation via md5 keys (no rand(): same
    // input → same order on any cluster, any partitioning), bucketed
    // into 16 shards by the first hex nibble with an in-shard position.
    // Scale shape: one shuffle on the shard key, ordering is per-shard
    // (never a global sort); shard files then stream to trainers in
    // (shard, pos) order. The salt in the key makes epoch N+1 a fresh
    // permutation by changing one literal.
    QueryDef("ext_shuffle_shards",
      "deterministic training shuffle: md5-keyed order, 16 hex-nibble shards + in-shard position (reproducible epochs, no rand())",
      """WITH h AS (SELECT doc_id,
        |  md5(CAST(doc_id AS VARCHAR) || ':shuf42') AS hx FROM documents)
        |SELECT doc_id, substr(hx, 1, 1) AS shard,
        |  row_number() OVER (PARTITION BY substr(hx, 1, 1) ORDER BY hx, doc_id) AS pos
        |FROM h""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":shuf42")))
            .alias("hx"))
        .withColumn("shard", substring(col("hx"), 1, 1))
        .withColumn("pos", row_number().over(Window.partitionBy("shard")
          .orderBy(col("hx"), col("doc_id"))))
        .select("doc_id", "shard", "pos")
    },

    // TF-IDF: the ln(N/df) derivation is Spark-side math staged as
    // micro-nat LONGs (UnigramLm's determinism pattern); DuckDB
    // recomputes tokenization, term frequencies, the integer score
    // product, and the per-doc top-k over the staged IDF table.
    QueryDef("ext_text_tfidf",
      "TF-IDF top-5 terms per doc: integer micro-nat IDF staged, exact tf*idf ranking on the custom TopKPerKey operator",
      ("""WITH tok AS (SELECT doc_id AS doc, u.t AS token
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t)),
         |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY doc, token),
         |""" +
       s"""v AS (SELECT token, idf_micro FROM read_parquet('${QueryDef.StageSql}/tfidf_idf/*.parquet')),
         |""" +
       """sc AS (SELECT tf.doc, tf.token, tf.tf, tf.tf * v.idf_micro AS score
         |  FROM tf JOIN v USING (token))
         |SELECT doc, token, tf, score FROM sc
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY doc ORDER BY score DESC, token) <= 5""").stripMargin) { (s, dir) =>
      import graft.ext.TfIdf
      val docs = Tables.load(s, dir, "documents")
      val tok = TfIdf.tokenized(docs, "doc_id", "text")
      val stage = QueryDef.stageDir(dir)
      TfIdf.idf(tok, docs.count())
        .write.mode("overwrite").parquet(s"$stage/tfidf_idf")
      TfIdf.topTerms(TfIdf.termFreq(tok),
        s.read.parquet(s"$stage/tfidf_idf"), k = 5)
    },

    // BM25 ranked retrieval (Robertson & Zaragoza 2009): tf saturation +
    // length normalization on top of TfIdf's scan shapes. The BM25-form
    // IDF is staged as micro-nat LONGs; avgdl derives in-engine from a
    // staged one-row integer stats table; the saturation is a fixed
    // IEEE expression tree over exact integers (bit-identical across
    // engines) floored to dyadic, so per-doc sums are order-free. The
    // oracle SQL mirrors Bm25.saturation's association order EXACTLY —
    // edit them together or the last ulp diverges.
    QueryDef("ext_text_bm25",
      "BM25 scores for a 4-term query: micro-nat IDF staged, dyadic-floored saturation, exact order-free per-doc sums",
      ("""WITH tok AS (SELECT doc_id AS doc, u.t AS token
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t)),
         |lens AS (SELECT doc_id AS doc,
         |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS len FROM documents),
         |""" +
       s"""v AS (SELECT token, idf_micro FROM read_parquet('${QueryDef.StageSql}/bm25_idf/*.parquet')),
         |st AS (SELECT CAST(total_toks AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
         |  FROM read_parquet('${QueryDef.StageSql}/bm25_stats/*.parquet')),
         |""" +
       """tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok JOIN v USING (token) GROUP BY 1, 2),
         |sc AS (SELECT tf.doc, v.idf_micro * (floor(
         |    ((CAST(tf.tf AS DOUBLE) * 2.25) /
         |     (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / st.avgdl))))
         |    * 1048576.0) / 1048576.0) AS s
         |  FROM tf JOIN v USING (token) JOIN lens ON tf.doc = lens.doc CROSS JOIN st)
         |SELECT doc, SUM(s) AS bm25_micro FROM sc GROUP BY doc""").stripMargin) { (s, dir) =>
      import graft.ext.{Bm25, TfIdf}
      val terms = Seq("spark", "merge", "window", "scan")
      val docs = Tables.load(s, dir, "documents")
      val tok = TfIdf.tokenized(docs, "doc_id", "text")
      val lens = Bm25.docLengths(docs, "doc_id", "text")
      val stage = QueryDef.stageDir(dir)
      Bm25.idf(tok, docs.count(), terms)
        .write.mode("overwrite").parquet(s"$stage/bm25_idf")
      Bm25.stats(lens).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/bm25_stats")
      Bm25.score(tok, lens, s.read.parquet(s"$stage/bm25_idf"),
        s.read.parquet(s"$stage/bm25_stats"))
    },

    // BM25 serving over the LAKEHOUSE — the retrieval analog of
    // ext_ann_lakehouse: the inverted index (one posting row per
    // (token, doc) with tf and the doc length denormalized in) lives IN
    // a txlog table bucket-partitioned by pmod(hash(token), 16), so a
    // query's terms derive their exact buckets DRIVER-SIDE and the scan
    // opens only those partitions — per-query read cost follows
    // |terms|/16 of the index, not the corpus, and the index gets
    // ACID/time-travel for free. Corpus stats ride a one-row staged
    // table; the query-term IDF is computed FROM the index's own df and
    // staged micro-nat; scoring is ext_text_bm25's exact dyadic tree.
    // The oracle recomputes the full result from raw documents — proving
    // the index path equals a corpus scan — while the requires pin that
    // the scan actually pruned.
    QueryDef("ext_bm25_lakehouse",
      "BM25 serving from a bucket-pruned txlog posting-list table: term probes prune partitions before postings are read; scores oracled vs a corpus recompute",
      ("""WITH tok AS (SELECT doc_id AS doc, u.t AS token
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t)),
         |lens AS (SELECT doc_id AS doc,
         |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS len FROM documents),
         |""" +
       s"""v AS (SELECT token, idf_micro FROM read_parquet('${QueryDef.StageSql}/bm25lh_idf/*.parquet')),
         |st AS (SELECT CAST(total_toks AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
         |  FROM read_parquet('${QueryDef.StageSql}/bm25lh_stats/*.parquet')),
         |""" +
       """tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok JOIN v USING (token) GROUP BY 1, 2),
         |sc AS (SELECT tf.doc, v.idf_micro * (floor(
         |    ((CAST(tf.tf AS DOUBLE) * 2.25) /
         |     (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / st.avgdl))))
         |    * 1048576.0) / 1048576.0) AS s
         |  FROM tf JOIN v USING (token) JOIN lens ON tf.doc = lens.doc CROSS JOIN st)
         |SELECT doc, SUM(s) AS bm25_micro FROM sc GROUP BY doc""").stripMargin) { (s, dir) =>
      import graft.ext.{Bm25, TfIdf}
      import graft.ops.TxLog
      val terms = Seq("hash", "sort", "batch", "line")
      val docs = Tables.load(s, dir, "documents")
      val stage = QueryDef.stageDir(dir)
      // the index is append-only and input-deterministic — build once
      // per sf; a production pipeline refreshes it incrementally like
      // ext_tfidf_incremental's df tables
      val table = Fixtures.immutableTable(dir, "bm25lh", 1) { t =>
        TxLog.setProperties(t, Map(
          "graft.generated.bkt" -> "pmod(hash(token), 16)",
          "graft.partition.columns" -> "bkt"))
        TxLog.append(
          TfIdf.termFreq(TfIdf.tokenized(docs, "doc_id", "text"))
            .join(Bm25.docLengths(docs, "doc_id", "text"), Seq("doc")), t)
      }
      val statsPath = Fixtures.stagedInput(dir, "bm25lh_stats", 1)(
        Bm25.stats(Bm25.docLengths(docs, "doc_id", "text")).coalesce(1))
      val statsDf = s.read.parquet(statsPath)
      val probes = TxLog.deriveGeneratedEqProbes(table, None,
        Map("token" -> terms))
      require(probes.contains("bkt"),
        "term probes must derive their bucket partitions")
      val pruned = TxLog.readPruned(s, table, Map.empty, Map.empty,
        eqProbes = probes)
      require(pruned.inputFiles.length < TxLog.activeFiles(table).size,
        "non-probed token buckets must be pruned")
      val matched = pruned.filter(col("token").isInCollection(terms))
      // query-term IDF from the index's own document frequencies
      matched.groupBy("token").agg(count(lit(1)).alias("df"))
        .crossJoin(broadcast(statsDf))
        .select(col("token"),
          round(log(lit(1d) + (col("n_docs").cast("double") - col("df") +
            lit(0.5)) / (col("df") + lit(0.5))) * 1e6).cast("long")
            .alias("idf_micro"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/bm25lh_idf")
      val avgdl = col("total_toks").cast("double") /
        col("n_docs").cast("double")
      matched
        .join(broadcast(s.read.parquet(s"$stage/bm25lh_idf")), Seq("token"))
        .crossJoin(broadcast(statsDf))
        .select(col("doc"), (col("idf_micro") *
          Bm25.saturation(col("tf"), col("len"), avgdl)).alias("s"))
        .groupBy("doc").agg(sum(col("s")).alias("bm25_micro"))
    },

    // Block-max BM25 top-k — the SERVING shape real retrieval runs at
    // 100 TB (the block-max WAND family, Ding & Suel 2011): full scoring
    // touches every posting of every query term; top-k only needs the
    // postings of blocks whose impact UPPER BOUND can still beat the
    // current k-th score. The index stores, beside the postings
    // (partitioned by fixed-width doc block), a per-(token, block)
    // impact bound max(idf·saturation) — exact dyadic, computed once at
    // build since idf is corpus-global. Serving: (1) bootstrap θ by
    // fully scoring the RAREST term's docs (the MaxScore candidate
    // generator — reads follow the shortest posting list); (2) keep
    // blocks with Σ-of-bounds ≥ θ — every other block provably cannot
    // host a top-k doc; (3) score only those blocks' postings. The
    // candidate-block read prunes at the PARTITION level (inputFiles
    // require), and the oracle recomputes the full-scoring top-k from
    // raw documents independently — proving the pruned path EQUALS the
    // exhaustive one. Production layout composes this with
    // ext_bm25_lakehouse's token bucketing (token dirs × doc blocks).
    QueryDef("ext_bm25_topk",
      "block-max BM25 top-10: per-block impact bounds prune posting reads below the k-th score; result oracled vs an exhaustive corpus recompute",
      """WITH tok AS (SELECT doc_id AS doc, u.t AS token
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
        |  UNNEST(tk) AS u(t)),
        |lens AS (SELECT doc_id AS doc,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS len FROM documents),
        |stn AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_toks,
        |  CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
        |v0 AS (SELECT token, COUNT(DISTINCT doc) AS df FROM tok
        |  WHERE token IN ('dup', 'key', 'merge') GROUP BY token),
        |v AS (SELECT token, CAST(round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS idf_micro
        |  FROM v0 CROSS JOIN stn),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok JOIN v USING (token) GROUP BY 1, 2),
        |sc AS (SELECT tf.doc, v.idf_micro * (floor(
        |    ((CAST(tf.tf AS DOUBLE) * 2.25) /
        |     (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / stn.avgdl))))
        |    * 1048576.0) / 1048576.0) AS s
        |  FROM tf JOIN v USING (token) JOIN lens ON tf.doc = lens.doc CROSS JOIN stn),
        |agg AS (SELECT doc, SUM(s) AS bm25_micro FROM sc GROUP BY doc)
        |SELECT doc, bm25_micro, rk FROM (
        |  SELECT doc, bm25_micro,
        |    row_number() OVER (ORDER BY bm25_micro DESC, doc) AS rk FROM agg)
        |WHERE rk <= 10""".stripMargin) { (s, dir) =>
      import graft.ext.{Bm25, TfIdf}
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("dup", "key", "merge")
      val k = 10
      val blockW = 25
      val docs = Tables.load(s, dir, "documents")
      // index build, once per sf: postings (doc, token, tf, len)
      // partitioned by doc block, per-(token, block) impact bounds,
      // full-vocab micro-nat idf, one-row corpus stats
      val idx = Fixtures.immutableTable(dir, "bm25bm", 1) { t =>
        val tok = TfIdf.tokenized(docs, "doc_id", "text")
        val lens = Bm25.docLengths(docs, "doc_id", "text")
        Bm25.stats(lens).coalesce(1).write.parquet(s"$t/stats")
        Bm25.idfAll(tok, docs.count()).coalesce(1).write.parquet(s"$t/idf")
        val post = TfIdf.termFreq(tok).join(lens, Seq("doc"))
          .withColumn("blk", Bm25.blockOf(col("doc"), blockW))
        // one file per block dir: repartition on the partition column
        post.repartition(col("blk")).write.partitionBy("blk")
          .parquet(s"$t/postings")
        Bm25.blockMax(s.read.parquet(s"$t/postings"),
            s.read.parquet(s"$t/idf"), s.read.parquet(s"$t/stats"))
          .coalesce(1).write.parquet(s"$t/blockmax")
      }
      // corpus stats (1 row) and the query idf slice (|terms| rows) are
      // metadata-plane: collect once, re-attach as local relations so the
      // bootstrap/bounds/final-score actions don't each re-read and
      // re-filter the index sidecars (the st50 serving discipline)
      import s.implicits._
      val statsRow = s.read.parquet(s"$idx/stats").collect().head
      val statsDf = Seq((statsRow.getLong(0), statsRow.getLong(1)))
        .toDF("n_docs", "total_toks")
      val idfRows = s.read.parquet(s"$idx/idf")
        .filter(col("token").isInCollection(terms))
        .select("token", "idf_micro").collect()
      val idfQ = idfRows.map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("token", "idf_micro")
      // rarest term = highest idf (ties: token asc) — |terms| rows
      val rare = idfRows
        .maxBy(r => (r.getAs[Long]("idf_micro"), r.getAs[String]("token")))
        .getAs[String]("token")
      val post = s.read.parquet(s"$idx/postings")
      val postQ = post.filter(col("token").isInCollection(terms))
      // bootstrap: full scores of the rare term's docs (left-semi join
      // bounded by the shortest posting list)
      val boot = Bm25.scoreFromPostings(
        postQ.join(postQ.filter(col("token") === rare).select("doc")
          .distinct(), Seq("doc"), "left_semi"), idfQ, statsDf)
      val ub = s.read.parquet(s"$idx/blockmax")
        .filter(col("token").isInCollection(terms))
        .groupBy("blk").agg(sum(col("max_c")).alias("ub"))
      val (_, cand) = Bm25.candidateBlocks(boot, ub, k)
      // open ONLY the candidate blocks' partition dirs (the IVF-probe
      // read shape — the file index itself is pruned, so the require
      // compares real listings, not a filter Catalyst may or may not
      // have pushed)
      val candPost = s.read.option("basePath", s"$idx/postings")
        .parquet(cand.map(b => s"$idx/postings/blk=$b"): _*)
        .filter(col("token").isInCollection(terms))
      require(candPost.inputFiles.length < post.inputFiles.length,
        "block-max bounds must prune posting blocks below θ")
      Bm25.scoreFromPostings(candPost, idfQ, statsDf)
        .orderBy(col("bm25_micro").desc, col("doc").asc).limit(k)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("bm25_micro").desc, col("doc").asc)))
    },

    // Hybrid retrieval — reciprocal-rank fusion (Cormack, Clarke &
    // Büttcher 2009) of a lexical and a semantic channel, the standard
    // RAG/search-serving composition: BM25 top-N and cosine top-N are
    // each a BOUNDED k-row list (at 100 TB the lexical list comes from
    // ext_bm25_topk's block-max pruned serving and the semantic one
    // from the IVF index — both read-bounded; here the exact forms keep
    // the oracle independent), fused by 1/(60+rank) so the fusion cost
    // follows 2N rows, never the corpus. Determinism: ranks are exact
    // integers (dyadic BM25 sums; the bit-stable f64 cosine fold), and
    // the RRF score is a fixed two-term sum of correctly-rounded
    // divisions — identical IEEE doubles in both engines. The oracle
    // recomputes BOTH channels from raw tables (ln at micro-nat
    // rounding, the ext_bm25_topk precedent) and re-fuses.
    QueryDef("ext_hybrid_retrieval",
      "hybrid retrieval: RRF(60) fusion of BM25 top-50 and cosine top-50 into a fused top-20; both channels and the fusion replayed independently",
      {
        def d(x: String, y: String) =
          s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
        val np = s"(sqrt(${d("q.embedding", "q.embedding")}) * sqrt(${d("n.embedding", "n.embedding")}))"
        val cosQ = s"(CASE WHEN $np = 0 THEN NULL ELSE ${d("q.embedding", "n.embedding")} / $np END)"
        """WITH tok AS (SELECT doc_id AS doc, u.t AS token
          |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
          |  UNNEST(tk) AS u(t)),
          |lens AS (SELECT doc_id AS doc,
          |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS len FROM documents),
          |stn AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_toks,
          |  CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
          |v0 AS (SELECT token, COUNT(DISTINCT doc) AS df FROM tok
          |  WHERE token IN ('spark', 'merge', 'window', 'scan') GROUP BY token),
          |v AS (SELECT token, CAST(round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS idf_micro
          |  FROM v0 CROSS JOIN stn),
          |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok JOIN v USING (token) GROUP BY 1, 2),
          |sc AS (SELECT tf.doc, v.idf_micro * (floor(
          |    ((CAST(tf.tf AS DOUBLE) * 2.25) /
          |     (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / stn.avgdl))))
          |    * 1048576.0) / 1048576.0) AS s
          |  FROM tf JOIN v USING (token) JOIN lens ON tf.doc = lens.doc CROSS JOIN stn),
          |agg AS (SELECT doc, SUM(s) AS bm25_micro FROM sc GROUP BY doc),
          |bl AS (SELECT doc, rb FROM (SELECT doc,
          |    row_number() OVER (ORDER BY bm25_micro DESC, doc) AS rb FROM agg)
          |  WHERE rb <= 50),
          |""".stripMargin +
        s"""al AS (SELECT doc, ra FROM (SELECT n_id AS doc,
          |    row_number() OVER (ORDER BY score DESC, n_id) AS ra
          |  FROM (SELECT n.vec_id AS n_id, $cosQ AS score
          |        FROM embeddings q, embeddings n
          |        WHERE q.vec_id = 0 AND n.vec_id <> 0)) WHERE ra <= 50),
          |f AS (SELECT COALESCE(bl.doc, al.doc) AS doc,
          |  COALESCE(1.0/(60+rb), 0.0) + COALESCE(1.0/(60+ra), 0.0) AS rrf
          |  FROM bl FULL JOIN al ON bl.doc = al.doc)
          |SELECT doc, rrf, rk FROM (SELECT doc, rrf,
          |  row_number() OVER (ORDER BY rrf DESC, doc) AS rk FROM f)
          |WHERE rk <= 20""".stripMargin
      }) { (s, dir) =>
      import graft.ext.{Bm25, Rrf, Similarity, TfIdf}
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("spark", "merge", "window", "scan")
      val n = 50
      val docs = Tables.load(s, dir, "documents")
      val tok = TfIdf.tokenized(docs, "doc_id", "text")
      val lens = Bm25.docLengths(docs, "doc_id", "text")
      // corpus stats (1 row) and the query idf slice (|terms| rows) are
      // metadata-plane: collect each ONCE and re-attach as local
      // relations (the st50/ext_bm25_topk serving discipline) instead of
      // a parquet write + read-back per run; n_docs comes from the stats
      // row (docLengths keeps zero-token docs, so it equals docs.count())
      import s.implicits._
      val statsRow = Bm25.stats(lens).collect().head
      val statsDf = Seq((statsRow.getLong(0), statsRow.getLong(1)))
        .toDF("n_docs", "total_toks")
      val idfQ = Bm25.idf(tok, statsRow.getLong(0), terms)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("token", "idf_micro")
      val bl = Bm25.score(tok, lens, idfQ, statsDf)
        .withColumn("rb", row_number().over(
          Window.orderBy(col("bm25_micro").desc, col("doc").asc)))
        .filter(col("rb") <= n).select("doc", "rb")
      val emb = Tables.load(s, dir, "embeddings")
      val al = Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = n)
        .select(col("n_id").alias("doc"), col("rank").alias("ra"))
      Rrf.fuse(Seq((bl, "rb"), (al, "ra")), k = 20)
    },

    // Retrieval evaluation — the metrics pass every retrieval pipeline
    // runs after build/serve: per query, recall@10, MRR@20 and NDCG@10
    // of a ranked run against a relevance set. Determinism: ranks are
    // exact (dyadic BM25, doc-asc ties); recall and MRR are single
    // IEEE divisions of exact integers; the NDCG log2 discount is
    // ln-based (identical ratio — the constant cancels) with each
    // 1/ln(1+rank) term MICRO-ROUNDED to a LONG (the idf precedent),
    // so DCG/IDCG are exact integer sums and NDCG one division. Scale
    // shape: at 100 TB the run comes from the bounded top-k servers
    // (block-max BM25, IVF), so evaluation touches |queries|·k rows
    // plus one corpus pass for the relevance counts — the run table
    // never holds more than k rows per query.
    QueryDef("ext_retrieval_metrics",
      "retrieval evaluation: per-query recall@10, MRR@20, micro-rounded NDCG@10 of the BM25 run vs token-relevance sets",
      """WITH q(qid, token) AS (VALUES (1, 'dup'), (1, 'sort'), (2, 'merge'),
        |  (2, 'key'), (3, 'vector'), (3, 'window')),
        |rlv(qid, token) AS (VALUES (1, 'dup'), (2, 'key'), (3, 'vector')),
        |tok AS (SELECT doc_id AS doc, u.t AS token
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
        |  UNNEST(tk) AS u(t)),
        |lens AS (SELECT doc_id AS doc,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS len FROM documents),
        |stn AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_toks,
        |  CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
        |v0 AS (SELECT token, COUNT(DISTINCT doc) AS df FROM tok
        |  WHERE token IN ('dup', 'sort', 'merge', 'key', 'vector', 'window') GROUP BY token),
        |v AS (SELECT token, CAST(round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS idf_micro
        |  FROM v0 CROSS JOIN stn),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok JOIN v USING (token) GROUP BY 1, 2),
        |sc AS (SELECT q.qid, tf.doc, v.idf_micro * (floor(
        |    ((CAST(tf.tf AS DOUBLE) * 2.25) /
        |     (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / stn.avgdl))))
        |    * 1048576.0) / 1048576.0) AS sx
        |  FROM tf JOIN q USING (token) JOIN v USING (token)
        |  JOIN lens ON tf.doc = lens.doc CROSS JOIN stn),
        |agg AS (SELECT qid, doc, SUM(sx) AS bm FROM sc GROUP BY 1, 2),
        |run AS (SELECT qid, doc, rank FROM (SELECT qid, doc,
        |    row_number() OVER (PARTITION BY qid ORDER BY bm DESC, doc) AS rank
        |  FROM agg) WHERE rank <= 20),
        |reld AS (SELECT rlv.qid, t.doc
        |  FROM (SELECT DISTINCT doc, token FROM tok) t JOIN rlv USING (token)),
        |nrel AS (SELECT qid, COUNT(*) AS n_rel FROM reld GROUP BY 1),
        |hits AS (SELECT run.qid, run.rank FROM run
        |  JOIN reld ON run.qid = reld.qid AND run.doc = reld.doc),
        |per AS (SELECT qid,
        |  CAST(SUM(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
        |  CAST(SUM(CASE WHEN rank <= 10 THEN CAST(round(1e6 / ln(1 + rank)) AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_micro,
        |  1.0 / MIN(rank) AS mrr FROM hits GROUP BY 1),
        |idcg AS (SELECT qid, CAST(list_sum(list_transform(
        |    generate_series(1, LEAST(n_rel, 10)),
        |    r -> CAST(round(1e6 / ln(1 + r)) AS BIGINT))) AS BIGINT) AS idcg_micro
        |  FROM nrel)
        |SELECT CAST(n.qid AS BIGINT) AS qid, n.n_rel,
        |  COALESCE(p.hits10, 0) AS hits10,
        |  CAST(COALESCE(p.hits10, 0) AS DOUBLE) / CAST(n.n_rel AS DOUBLE) AS recall10,
        |  COALESCE(p.mrr, 0.0) AS mrr,
        |  COALESCE(p.dcg_micro, 0) AS dcg_micro, i.idcg_micro,
        |  CAST(COALESCE(p.dcg_micro, 0) AS DOUBLE) / CAST(i.idcg_micro AS DOUBLE) AS ndcg10
        |FROM nrel n JOIN idcg i ON n.qid = i.qid
        |LEFT JOIN per p ON n.qid = p.qid""".stripMargin) { (s, dir) =>
      import graft.ext.{Bm25, TfIdf}
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val queries = Seq(
        (1L, Seq("dup", "sort"), "dup"),
        (2L, Seq("merge", "key"), "key"),
        (3L, Seq("vector", "window"), "vector"))
      val qt = queries.flatMap { case (q, ts, _) => ts.map(t => (q, t)) }
        .toDF("qid", "token")
      val rl = queries.map { case (q, _, r) => (q, r) }.toDF("qid", "token")
      val allTerms = queries.flatMap(_._2).distinct
      val docs = Tables.load(s, dir, "documents")
      val tok = TfIdf.tokenized(docs, "doc_id", "text")
      val lens = Bm25.docLengths(docs, "doc_id", "text")
      val statsDf = Bm25.stats(lens)
      // one grouped pass feeds the run, the idf AND the relevance sets
      // (relevance tokens ⊆ query tokens): a (doc, token, tf) row exists
      // iff the doc contains the token, and df = its per-token count
      val tfAll = tok.filter(col("token").isInCollection(allTerms))
        .groupBy("doc", "token").agg(count(lit(1)).alias("tf"))
        .persist()
      val nDocs = docs.count()
      val idfDf = tfAll.groupBy("token").agg(count(lit(1)).alias("df"))
        .select(col("token"),
          round(log(lit(1d) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) * 1e6).cast("long").alias("idf_micro"))
      val avgdl = col("total_toks").cast("double") /
        col("n_docs").cast("double")
      val run = tfAll
        .join(broadcast(qt), Seq("token"))
        .join(broadcast(idfDf), Seq("token"))
        .join(lens, Seq("doc"))
        .crossJoin(broadcast(statsDf))
        .select(col("qid"), col("doc"), (col("idf_micro") *
          Bm25.saturation(col("tf"), col("len"), avgdl)).alias("sx"))
        .groupBy("qid", "doc").agg(sum(col("sx")).alias("bm"))
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("bm").desc, col("doc").asc)))
        .filter(col("rank") <= 20)
      val relDocs = tfAll
        .join(broadcast(rl), Seq("token")).select("qid", "doc")
      val nRel = relDocs.groupBy("qid").agg(count(lit(1)).alias("n_rel"))
      val disc = (r: org.apache.spark.sql.Column) =>
        round(lit(1e6) / log(lit(1d) + r.cast("double"))).cast("long")
      val per = run.join(relDocs, Seq("qid", "doc"))
        .groupBy("qid").agg(
          sum(when(col("rank") <= 10, 1L).otherwise(0L)).alias("hits10"),
          sum(when(col("rank") <= 10, disc(col("rank"))).otherwise(0L))
            .alias("dcg_micro"),
          (lit(1.0) / min(col("rank"))).alias("mrr"))
      nRel.join(per, Seq("qid"), "left")
        .select(col("qid"), col("n_rel"),
          coalesce(col("hits10"), lit(0L)).alias("hits10"),
          (coalesce(col("hits10"), lit(0L)).cast("double") /
            col("n_rel").cast("double")).alias("recall10"),
          coalesce(col("mrr"), lit(0.0)).alias("mrr"),
          coalesce(col("dcg_micro"), lit(0L)).alias("dcg_micro"),
          aggregate(transform(
            sequence(lit(1L), least(col("n_rel"), lit(10L))),
            r => disc(r)), lit(0L), (a, x) => a + x).alias("idcg_micro"))
        .withColumn("ndcg10", col("dcg_micro").cast("double") /
          col("idcg_micro").cast("double"))
    },

    // Entity-resolution fuzzy join — the record-linkage step that maps
    // dirty surface forms onto canonical entities (products, authors,
    // domains) before joins and dedup can key on them. Scale shape:
    // match the DISTINCT name dictionary, not raw rows (names are
    // vocabulary-sized; 100 TB of rows equi-join back to the matched
    // dictionary afterwards), block candidates on the first token (the
    // classic blocking key — bounded blocks, never all-pairs across
    // blocks), and verify survivors with exact Levenshtein — an integer
    // both engines define identically, so the oracle replays blocking
    // AND verification bit-for-bit. Like the LSH dedup entries, blocking
    // recall is a documented trade (a first-token typo escapes the
    // block); the verify stage is exact on what blocking admits.
    QueryDef("ext_fuzzy_join",
      "entity-resolution fuzzy self-join: distinct-name dictionary, first-token blocking, exact levenshtein ≤ 3 verify",
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM n a JOIN n b
        |  ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
        | AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin) { (s, dir) =>
      val names = Tables.load(s, dir, "part").select("p_name").distinct()
      val a = names.select(col("p_name").alias("name_a"),
        split(col("p_name"), " ").getItem(0).alias("blk"))
      val b = names.select(col("p_name").alias("name_b"),
        split(col("p_name"), " ").getItem(0).alias("blk"))
      a.join(b, Seq("blk")).filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 3)
        .select("name_a", "name_b", "dist")
    },

    QueryDef("ext_quality_threshold",
      "quality gate: keep docs at/above the exact 75th-percentile quality score (the C4/Gopher-style filter step)",
      """WITH q AS (SELECT doc_id,
        |  (CASE WHEN n_toks < 5 THEN n_toks / 5.0 WHEN n_toks > 10000 THEN 0.5 ELSE 1.0 END)
        |  * (CASE WHEN punct > 0.3 THEN 0.3 ELSE 1.0 END) AS quality
        |FROM (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_toks,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct
        |FROM documents)),
        |t AS (SELECT quantile_cont(quality, 0.75) AS thr FROM q)
        |SELECT doc_id, quality FROM q, t WHERE quality >= thr""".stripMargin) { (s, dir) =>
      val q = Tables.load(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).alias("quality"))
      val thr = q.agg(expr("percentile(quality, 0.75)").alias("thr"))
      q.crossJoin(broadcast(thr)).filter(col("quality") >= col("thr"))
        .select("doc_id", "quality")
    },

    // Token-blocklist safety filter — the taboo-word gate (C4's badwords
    // list, Dolma/RefinedWeb's NSFW filters): fraction of tokens that hit
    // a blocklist, keep documents below a threshold. The blocklist joins
    // as a BROADCAST table (real lists run to thousands of terms — an
    // isin literal would stop scaling and stop being maintainable); the
    // fraction is one IEEE division of two exact integers, so the
    // keep/drop decision is bit-identical cross-engine. Scale shape:
    // tokenize → broadcast left join → per-doc partial agg; nothing
    // wider than (doc, long) shuffles.
    QueryDef("ext_blocklist_filter",
      "token-blocklist filter: flagged-token fraction via broadcast terms join, keep frac < 0.12 (the C4/Dolma taboo-word gate)",
      """WITH tok AS (SELECT doc_id, u.t AS token
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
        |  UNNEST(tk) AS u(t)),
        |f AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN token IN ('slow', 'scan', 'batch') THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |  FROM tok GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_flagged,
        |  CAST(n_flagged AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS flag_frac
        |FROM f
        |WHERE CAST(n_flagged AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.12""".stripMargin) { (s, dir) =>
      import s.implicits._
      val blocklist = Seq("slow", "scan", "batch").toDF("token")
        .withColumn("flagged", lit(1L))
      import graft.ext.TfIdf
      TfIdf.tokenized(Tables.load(s, dir, "documents"), "doc_id", "text")
        .join(broadcast(blocklist), Seq("token"), "left")
        .groupBy(col("doc").alias("doc_id"))
        .agg(count(lit(1)).alias("n_tokens"),
          sum(coalesce(col("flagged"), lit(0L))).alias("n_flagged"))
        .withColumn("flag_frac", col("n_flagged").cast("double") /
          col("n_tokens").cast("double"))
        .filter(col("flag_frac") < 0.12)
    },

    // PII redaction — the scrubbing pass before any corpus release
    // (Dolma §PII, FineWeb): regex families for emails, phones, and
    // IPv4s replaced by typed placeholders, per-row match counts kept
    // for the audit trail. The PII-bearing text is CONSTRUCTED
    // deterministically from customer columns (email from c_name,
    // phone and IP from c_custkey arithmetic) — both engines build the
    // identical string, then run the identical RE2-safe patterns, so
    // the redacted text and counts hash-match exactly. Families apply
    // in a fixed order in both engines (Pii.redact / Pii.redactSql
    // share one list — they cannot drift). Whole pass is scan-side
    // codegen'd expression work: no shuffle, no UDF — at 100 TB it
    // pipelines with the read.
    QueryDef("ext_pii_redact",
      "PII scrub: email/phone/IPv4 regex families → typed placeholders + audit counts, all scan-side (the Dolma pre-release pass)", {
      import graft.ext.Pii
      s"""WITH t AS (SELECT c_custkey,
         |  lower(c_mktsegment) || ' segment contact ' ||
         |  lower(replace(c_name, '#', '.')) || '@example.com call ' ||
         |  lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
         |  lpad(CAST((c_custkey * 3) % 1000 AS VARCHAR), 3, '0') || '-' ||
         |  lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
         |  lpad(CAST((c_custkey * 11) % 10000 AS VARCHAR), 4, '0') ||
         |  ' node 10.' ||
         |  CAST(c_custkey % 256 AS VARCHAR) || '.' ||
         |  CAST((c_custkey * 7) % 256 AS VARCHAR) || '.' ||
         |  CAST((c_custkey * 13) % 256 AS VARCHAR) AS text
         |  FROM customer)
         |SELECT c_custkey,
         |  ${Pii.countSql("text", Pii.EmailRe)} AS n_email,
         |  ${Pii.countSql("text", Pii.PhoneRe)} AS n_phone,
         |  ${Pii.countSql("text", Pii.Ipv4Re)} AS n_ip,
         |  ${Pii.redactSql("text")} AS redacted
         |FROM t""".stripMargin
    }) { (s, dir) =>
      import graft.ext.Pii
      val k = col("c_custkey")
      val text = concat(lower(col("c_mktsegment")), lit(" segment contact "),
        lower(translate(col("c_name"), "#", ".")), lit("@example.com call "),
        lpad((k % 100).cast("string"), 2, "0"), lit("-"),
        lpad(((k * 3) % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((k * 7) % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((k * 11) % 10000).cast("string"), 4, "0"), lit(" node 10."),
        (k % 256).cast("string"), lit("."),
        ((k * 7) % 256).cast("string"), lit("."),
        ((k * 13) % 256).cast("string"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), text.alias("text"))
        .select(col("c_custkey"),
          Pii.countMatches(col("text"), Pii.EmailRe).cast("long").alias("n_email"),
          Pii.countMatches(col("text"), Pii.PhoneRe).cast("long").alias("n_phone"),
          Pii.countMatches(col("text"), Pii.Ipv4Re).cast("long").alias("n_ip"),
          Pii.redact(col("text")).alias("redacted"))
    },

    QueryDef("ext_sample_stratified",
      "deterministic stratified sample: per-lang keep rates via md5-prefix intervals (sampleBy without rand())", {
      import graft.ext.PipelineOps.rateHex
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h FROM documents)
         |WHERE h < CASE WHEN lang = 'en' THEN '${rateHex(0.5)}'
         |              WHEN lang = 'fr' THEN '${rateHex(0.25)}'
         |              ELSE '${rateHex(0.1)}' END""".stripMargin
    }) { (s, dir) =>
      PipelineOps.stratifiedSample(
        Tables.load(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
    },

    QueryDef("ext_zorder_key",
      "Morton z-order key over two bucketed dimensions (the clusterBy key behind OPTIMIZE ZORDER BY)", {
      val z = graft.functions.ZOrder.interleaveSql(
        "(o_custkey & 255)", "(o_orderkey & 255)", bits = 8)
      s"SELECT o_orderkey, $z AS z FROM orders"
    }) { (s, dir) =>
      Tables.load(s, dir, "orders").select(col("o_orderkey"),
        graft.functions.ZOrder.interleave2(
          col("o_custkey").bitwiseAND(lit(255)),
          col("o_orderkey").bitwiseAND(lit(255)), bits = 8).alias("z"))
    },

    // Same grid as ext_zorder_key so the two layout keys are comparable;
    // the oracle recomputes the per-bit rotate/flip walk as nested
    // subqueries (HilbertKey.xy2dSql) — a bit-for-bit cross-engine check
    // of the curve, not just a row count.
    QueryDef("ext_hilbert_key",
      "Hilbert curve key over two bucketed dimensions (higher-locality alternative to the Morton key as an OPTIMIZE clusterBy key)", {
      val walk = graft.functions.HilbertKey.xy2dSql(
        "o_custkey & 255", "o_orderkey & 255", bits = 8,
        from = "orders", passCols = Seq("o_orderkey"))
      s"SELECT o_orderkey, _hd AS h FROM ($walk)"
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      Tables.load(s, dir, "orders").select(col("o_orderkey"),
        call_function("hilbert_key",
          col("o_custkey").bitwiseAND(lit(255)).cast("long"),
          col("o_orderkey").bitwiseAND(lit(255)).cast("long"),
          lit(8)).alias("h"))
    },

    QueryDef("ext_contamination",
      "benchmark decontamination: fraction of distinct 3-gram shingles shared with the benchmark subset (doc_id < 20)",
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |       ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END AS shl FROM tok),
        |b AS (SELECT DISTINCT u.s FROM sh, UNNEST(list_distinct(shl)) AS u(s) WHERE doc_id < 20),
        |c AS (SELECT doc_id, u.s FROM sh, UNNEST(list_distinct(shl)) AS u(s) WHERE doc_id >= 20),
        |shr AS (SELECT c.doc_id, COUNT(*) AS n_shared FROM c JOIN b ON c.s = b.s GROUP BY c.doc_id),
        |tot AS (SELECT doc_id, len(list_distinct(shl)) AS n_total FROM sh WHERE doc_id >= 20)
        |SELECT t.doc_id, s.n_shared, t.n_total,
        |  CAST(s.n_shared AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS contamination
        |FROM shr s JOIN tot t ON s.doc_id = t.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      PipelineOps.contamination(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text", n = 3)
    },

    // Temperature mixing: the rate DERIVATION (α-weighted budget shares)
    // is driver-side float math that no cross-engine hash could pin, so
    // the computed per-source hex thresholds are STAGED and both engines
    // apply the identical deterministic md5-interval filter; the
    // derivation itself is pinned in TemperatureMixSpec (α=1 ⇒ every rate
    // equals budgetFrac exactly; α=0 ⇒ even budget split; caps at 1).
    QueryDef("ext_mix_temperature",
      "temperature-weighted corpus mixing: α=0.5 budget shares per source, deterministic md5-interval application (filter oracled over staged thresholds)",
      s"""WITH thr AS (SELECT source, thr FROM read_parquet('${QueryDef.StageSql}/mix_rates/*.parquet'))
         |SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
         |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val rates = PipelineOps.temperatureRates(docs, "source", "n_chars",
        alpha = 0.5, budgetFrac = 0.4)
      val thrDf = s.createDataFrame(rates.toSeq.map { case (src, r) =>
        (src, PipelineOps.rateHex(r)) }).toDF("source", "thr")
      val stage = QueryDef.stageDir(dir)
      thrDf.coalesce(1).write.mode("overwrite").parquet(s"$stage/mix_rates")
      docs.join(broadcast(s.read.parquet(s"$stage/mix_rates")), Seq("source"))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < col("thr"))
        .select("doc_id", "source")
    },

    // The 100 TB shape of ext_contamination: shingles carried as xxhash64
    // (8 bytes) instead of strings. Spark's xxhash64 has no DuckDB
    // equivalent, so both hash sets are staged and the oracle recomputes
    // the broadcast semi-join + per-doc counts over the identical staged
    // inputs (the string entry above keeps full shingling oracled).
    QueryDef("ext_contamination_hashed",
      "benchmark decontamination over 8-byte shingle hashes (corpus-scale variant; join+counts oracled over staged hash sets)",
      s"""WITH c AS (SELECT doc_id, h FROM read_parquet('${QueryDef.StageSql}/contam_corpus/*.parquet')),
         |b AS (SELECT DISTINCT h FROM read_parquet('${QueryDef.StageSql}/contam_bench/*.parquet')),
         |shr AS (SELECT doc_id, COUNT(*) AS n_shared FROM c JOIN b USING (h) GROUP BY doc_id),
         |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM c GROUP BY doc_id)
         |SELECT t.doc_id, s.n_shared, t.n_total,
         |  CAST(s.n_shared AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS contamination
         |FROM shr s JOIN tot t ON s.doc_id = t.doc_id""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.load(s, dir, "documents")
      val ch = PipelineOps.shingleHashSet(
        docs.filter(col("doc_id") >= 20), "doc_id", "text", n = 3)
      val bh = PipelineOps.shingleHashSet(
        docs.filter(col("doc_id") < 20), "doc_id", "text", n = 3).select("h")
      val stage = QueryDef.stageDir(dir)
      ch.write.mode("overwrite").parquet(s"$stage/contam_corpus")
      bh.write.mode("overwrite").parquet(s"$stage/contam_bench")
      PipelineOps.contaminationFromHashes(
        s.read.parquet(s"$stage/contam_corpus"),
        s.read.parquet(s"$stage/contam_bench"), "doc_id")
    },

    QueryDef("ext_dedup_ngram_span",
      "cross-document duplicated 5-token spans: per-doc count + ratio of spans shared with any other doc (boilerplate detector)",
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
        |       ELSE list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' ')) END AS shl FROM tok),
        |sp AS (SELECT doc_id, u.s FROM sh, UNNEST(list_distinct(shl)) AS u(s)),
        |d AS (SELECT s FROM sp GROUP BY s HAVING COUNT(*) > 1),
        |pd AS (SELECT sp.doc_id, COUNT(*) AS n_dup FROM sp JOIN d ON sp.s = d.s GROUP BY sp.doc_id),
        |tot AS (SELECT doc_id, len(list_distinct(shl)) AS n_spans FROM sh)
        |SELECT t.doc_id, p.n_dup, t.n_spans,
        |  CAST(p.n_dup AS DOUBLE) / CAST(t.n_spans AS DOUBLE) AS dup_ratio
        |FROM pd p JOIN tot t ON p.doc_id = t.doc_id""".stripMargin) { (s, dir) =>
      PipelineOps.duplicatedSpans(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 5)
    },

    // Incremental IDF refresh: the base corpus contributes only its
    // persisted (token, df) table — its text is never rescanned. The
    // oracle reads the SAME staged base table but recomputes the batch
    // side from raw text, so the check covers both the merge arithmetic
    // and the batch tokenization.
    QueryDef("ext_tfidf_incremental",
      "incremental IDF refresh: persisted base df-table + fresh batch → merged df + micro-nat IDF without rescanning the base corpus",
      ("""WITH tok AS (SELECT doc_id, u.t AS token
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents WHERE doc_id >= 300),
         |  UNNEST(tk) AS u(t)),
         |bdf AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
         |""" +
       s"""base AS (SELECT token, df FROM read_parquet('${QueryDef.StageSql}/inc_idf_base/*.parquet')),
         |nd AS (SELECT n_docs FROM read_parquet('${QueryDef.StageSql}/inc_idf_ndocs/*.parquet')),
         |""" +
       """m AS (SELECT token, CAST(SUM(df) AS BIGINT) AS df
         |  FROM (SELECT * FROM base UNION ALL SELECT * FROM bdf) GROUP BY token)
         |SELECT token, df,
         |  CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1e6) AS BIGINT) AS idf_micro
         |FROM m CROSS JOIN nd""").stripMargin) { (s, dir) =>
      import graft.ext.TfIdf
      val docs = Tables.load(s, dir, "documents")
      val base = docs.filter(col("doc_id") < 300)
      val batch = docs.filter(col("doc_id") >= 300)
      val stage = QueryDef.stageDir(dir)
      // the pre-existing index side of the incremental merge —
      // deterministic, staged once per sf
      Fixtures.stagedInput(dir, "inc_idf_base", 1)(
        TfIdf.docFreq(TfIdf.tokenized(base, "doc_id", "text")))
      val nDocs = base.count() + batch.count()
      Fixtures.stagedInput(dir, "inc_idf_ndocs", 1)(
        s.createDataFrame(Seq(Tuple1(nDocs))).toDF("n_docs").coalesce(1))
      TfIdf.mergeIdf(Seq(
        s.read.parquet(s"$stage/inc_idf_base"),
        TfIdf.docFreq(TfIdf.tokenized(batch, "doc_id", "text"))), nDocs)
    },

    // Keyed MERGE ("upsert") into a txlog table — the Delta-style write
    // path (reference M:127-132) without Delta jars: latest version per
    // key wins, incoming batch beats existing on ties, one atomic
    // versioned commit. Both input frames are staged so the oracle
    // replays the identical merge window.
    QueryDef("ext_upsert_merge",
      "MERGE into a txlog parquet table: per-key latest-version-wins upsert (updates + brand-new keys), atomic versioned commit",
      s"""WITH b AS (SELECT *, 0 AS _src FROM read_parquet('${QueryDef.StageSql}/upsert_base/*.parquet')),
         |u AS (SELECT *, 1 AS _src FROM read_parquet('${QueryDef.StageSql}/upsert_updates/*.parquet')),
         |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC, _src DESC) AS rn
         |      FROM (SELECT * FROM b UNION ALL SELECT * FROM u))
         |SELECT c_custkey, c_name, c_acctbal, version FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val base = cust.withColumn("version", lit(1L))
      val updates = cust.filter(pmod(col("c_custkey"), lit(5)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("version", lit(2L))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L)
          .withColumn("version", lit(1L)))
      val stage = QueryDef.stageDir(dir)
      Fixtures.stagedInput(dir, "upsert_base", 1)(base)
      Fixtures.stagedInput(dir, "upsert_updates", 1)(updates)
      val target = java.nio.file.Files
        .createTempDirectory("graft_upsert").toString + "/t"
      // v1 = base load, v2 = merge
      TxLog.overwrite(s.read.parquet(s"$stage/upsert_base"), target)
      TxLog.merge(s, target,
        s.read.parquet(s"$stage/upsert_updates"), Seq("c_custkey"), "version")
      TxLog.read(s, target)
    }
  )
}
