package graft.ops

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, Dsir, Multimodal, QualityClassifier, Similarity, TextAnalysis}
import graft.ops.Fixtures.StagedInputOps
import graft.functions.{GraftFunctions, VectorFunctions}

/** Extension-tier catalog (SURVEY.md §7.5): dedup, similarity search, text
  * analysis, multimodal plumbing over `documents` / `embeddings`.
  *
  * Oracle notes: cosine scores match DuckDB bit-for-bit because both sides
  * promote Float→Double per element and fold sequentially (see
  * [[graft.functions.VectorFunctions]]); hash-based ops (MinHash, SimHash,
  * fingerprints) use Spark's xxhash64 which has no DuckDB equivalent →
  * rows-only checks + ScalaTest oracles instead.
  */
object ExtQueries {

  // staged-parquet oracle helpers shared with PipelineQueries
  import QueryDef.{StageSql, stageDir}

  private val COS = {
    // shared SQL fragment: sequential-f64 cosine between two FLOAT[] lists.
    // Zero-norm guard mirrors VectorFunctions.cosine returning NULL: a raw
    // division gives NaN here, and DuckDB sorts NaN above all reals, so an
    // unguarded zero-norm vector would pass thresholds and win rank slots
    // in the oracle while Spark drops it.
    def d(x: String, y: String) =
      s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
    val np = s"(sqrt(${d("q.embedding", "q.embedding")}) * sqrt(${d("n.embedding", "n.embedding")}))"
    s"(CASE WHEN $np = 0 THEN NULL ELSE ${d("q.embedding", "n.embedding")} / $np END)"
  }

  private val TOKS =
    """list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0))"""

  /** Oracle SQL for a rotated-PQ entry: integer-micro ADC shortlist over
    * staged codes+LUT, exact rerank over the staged ROTATED vectors
    * (cosine is rotation-invariant, so ranks are comparable to the
    * unrotated entries). `prefix` keys the stage subdirs. */
  private def rotatedPqOracle(prefix: String): String = {
    def d(x: String, y: String) =
      s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
    val np = s"(sqrt(${d("q.vec", "q.vec")}) * sqrt(${d("n.vec", "n.vec")}))"
    val cosV = s"(CASE WHEN $np = 0 THEN NULL ELSE ${d("q.vec", "n.vec")} / $np END)"
    s"""WITH v AS (SELECT id, vec FROM read_parquet('$StageSql/${prefix}_vecs/*.parquet')),
       |cd AS (SELECT n_id, sub, code FROM read_parquet('$StageSql/${prefix}_codes/*.parquet')),
       |l AS (SELECT q_id, sub, code, lm FROM read_parquet('$StageSql/${prefix}_lut/*.parquet')),
       |a AS (SELECT l.q_id, cd.n_id, CAST(SUM(l.lm) AS BIGINT) AS adc
       |      FROM cd JOIN l ON cd.sub = l.sub AND cd.code = l.code
       |      WHERE cd.n_id <> l.q_id GROUP BY l.q_id, cd.n_id),
       |s AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS sr FROM a) WHERE sr <= 20),
       |re AS (SELECT s.q_id, s.n_id, $cosV AS score
       |       FROM s JOIN v q ON q.id = s.q_id JOIN v n ON n.id = s.n_id)
       |SELECT q_id, n_id, score, rank FROM (
       |  SELECT q_id, n_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
       |  FROM re)
       |WHERE rank <= 5""".stripMargin
  }

  /** Shared rotated-PQ builder: rotate by `r` (scan-side literal
    * transform), stage rotated vectors, train/encode/LUT with the cached
    * PQ model, ADC shortlist (codes ⋈ broadcast LUT, integer-micro sums),
    * exact rerank over the staged rotated vectors. */
  private def rotatedPqTopK(s: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String, r: Array[Array[Double]]): org.apache.spark.sql.DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.load(s, dir, "embeddings")
    val stage = stageDir(dir)
    // The rotated corpus and its PQ codes are the INDEX — "one build,
    // served for every query batch" (the bm25lh/annlake fixture
    // discipline): staged once per (sf, rotation/model fingerprint),
    // re-read by every serving pass and by the oracle. fanOut below the
    // two per-row hot spots — the 64×64 rotation and the PQ argmin
    // encode — which otherwise run single-task off 1-file scans (§2.5;
    // measured 0.6 s + 1.4 s single-core jobs).
    Fixtures.stagedInput(dir, s"${prefix}_vecs", 1,
        fp = graft.ext.IvfIndex.Model.fp(r.iterator.flatten))(
      Tables.fanOut(emb).select(col("vec_id").alias("id"),
        graft.ext.OpqIndex.rotate(col("embedding"), r).alias("vec")))
    val rotated = s.read.parquet(s"$stage/${prefix}_vecs")
    val model = graft.ext.PqIndex.trainCached(s"$dir#$prefix", rotated, "vec",
      dim = 64, m = 8, nCodes = 16)
    Fixtures.stagedInput(dir, s"${prefix}_codes", 1, fp = model.fingerprint)(
      model.encode(
        Tables.fanOut(rotated).select(col("id").alias("n_id"),
          col("vec").cast("array<double>").alias("vec")),
        "vec", "codes")
        .select(col("n_id"), posexplode(col("codes")).as(Seq("sub", "code"))))
    model.lutMicro(rotated.filter(col("id") < 10)
      .select(col("id").alias("q_id"),
        col("vec").cast("array<double>").alias("vec")))
      .write.mode("overwrite").parquet(s"$stage/${prefix}_lut")
    val cd = s.read.parquet(s"$stage/${prefix}_codes")
    val lut = s.read.parquet(s"$stage/${prefix}_lut")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("n_id").asc)
    val shortlist = cd.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("n_id") =!= col("q_id"))
      .groupBy("q_id", "n_id").agg(sum("lm").alias("adc"))
      .withColumn("_sr", row_number().over(w)).filter(col("_sr") <= 20)
      .select("q_id", "n_id")
    Similarity.topKFromCandidates(shortlist,
      rotated.filter(col("id") < 10), rotated, k = 5)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- deduplication ---------------------------------------------------
    QueryDef("ext_dedup_exact",
      "exact dedup: canonical id + copy count per identical text",
      "SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS copies FROM documents GROUP BY text") { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", Seq("text"))
        .select("canonical_id", "copies")
    },

    // Dedup reporting: the cluster-size histogram a 100 TB dedup job emits
    // as its run summary (how much of the corpus is duplicated, and in what
    // shape — many pairs vs few giant clusters drive opposite follow-ups).
    // Keyed on the bag-of-words fingerprint (the ext_dedup_keep_best
    // cluster key) so the synthetic corpus — which has no byte-identical
    // texts — still yields a non-trivial histogram. Two tiny aggregations
    // over the keyed cluster table; output is O(max cluster size) rows
    // regardless of corpus size.
    QueryDef("ext_dedup_cluster_stats",
      "dedup run report: cluster-size histogram over bag-of-words dedup clusters (n_clusters + n_docs per size)",
      """WITH c AS (SELECT COUNT(*) AS copies FROM documents
        |  GROUP BY md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0))), ' ')))
        |SELECT copies AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(copies) AS BIGINT) AS n_docs
        |FROM c GROUP BY copies""".stripMargin) { (s, dir) =>
      val bag = array_sort(array_distinct(Dedup.tokens(col("text"))))
      Dedup.exact(
          Tables.load(s, dir, "documents")
            .withColumn("bag_key", md5(concat_ws(" ", bag))),
          "doc_id", Seq("bag_key"))
        .groupBy(col("copies").alias("cluster_size"))
        .agg(count(lit(1)).alias("n_clusters"), sum("copies").alias("n_docs"))
    },

    // Canonicalization POLICY, not just canonical-id selection: real dedup
    // keeps the best representative of each cluster (longest / highest
    // quality), not the smallest id. Cluster key here is the sorted distinct
    // token bag (order/count-insensitive near-dup — catches shuffled copies
    // exact dedup misses), fingerprinted to a string key so the shuffle
    // carries 32 bytes instead of the token array. Keep rule: max n_chars,
    // ties to the smallest doc_id — deterministic in both engines.
    QueryDef("ext_dedup_keep_best",
      "bag-of-words dedup with keep-best policy: md5(sorted token bag) clusters, keep longest doc (tie: min id)",
      """WITH t AS (SELECT doc_id, n_chars,
        |  md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0))), ' ')) AS bag_key
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars,
        |  row_number() OVER (PARTITION BY bag_key ORDER BY n_chars DESC, doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY bag_key) AS cluster_size
        |  FROM t)
        |SELECT doc_id, n_chars, CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bag = array_sort(array_distinct(Dedup.tokens(col("text"))))
      val w = Window.partitionBy("bag_key")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5(concat_ws(" ", bag)).alias("bag_key"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("cluster_size", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "n_chars", "cluster_size")
    },

    // Corpus-frequency heavy hitters: tokens present in ≥25% of documents —
    // the data-driven stopword / boilerplate-vocabulary discovery step that
    // precedes quality filtering at fleet scale. Exact (groupBy on distinct
    // per-doc tokens), one shuffle keyed by token with map-side combine;
    // the corpus size joins in as a broadcast one-row aggregate, never a
    // driver-side collect.
    QueryDef("ext_heavy_hitters",
      "document-frequency heavy hitters: tokens in ≥25% of docs (df + doc_ratio)",
      """WITH tok AS (SELECT doc_id, u.t
        |  FROM (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tk FROM documents),
        |  UNNEST(tk) AS u(t)),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(COUNT(*) AS DOUBLE) / n_docs AS doc_ratio
        |FROM tok CROSS JOIN n
        |GROUP BY t, n_docs HAVING COUNT(*) * 4 >= n_docs""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val n = docs.agg(count(lit(1)).alias("n_docs"))
      docs.select(col("doc_id"),
          explode(array_distinct(Dedup.tokens(col("text")))).alias("token"))
        .groupBy("token").agg(count(lit(1)).alias("df"))
        .crossJoin(broadcast(n))
        .filter(col("df") * 4 >= col("n_docs"))
        .select(col("token"), col("df"),
          (col("df").cast("double") / col("n_docs")).alias("doc_ratio"))
    },

    // Count-Min sketch point-frequency estimates (Cormode & Muthukrishnan
    // 2005) — Space-Saving's complement: bounded-memory "how often did
    // THIS key occur" with a one-sided error. The sketch is a depth·width
    // counter TABLE built by one codegen'd bucket expression + grouped
    // count (mergeable by re-summing), estimation a broadcast join + min.
    // Everything is exact integers, so DuckDB replays every counter and
    // estimate bit-for-bit from the staged occurrence buckets; the entry
    // emits est alongside the true count — the one-sided bound
    // (est ≥ cnt) is require()d before returning.
    QueryDef("ext_countmin_freq",
      "Count-Min sketch (d=3, w=256) user-event frequencies vs exact counts — counters and min-estimates replayed exactly",
      s"""WITH o AS (SELECT item, r, b FROM read_parquet('$StageSql/cms_occ/*.parquet')),
         |c AS (SELECT r, b, COUNT(*) AS c FROM o GROUP BY 1, 2),
         |k AS (SELECT DISTINCT item, r, b FROM o),
         |e AS (SELECT k.item, MIN(c.c) AS cms_est
         |  FROM k JOIN c USING (r, b) GROUP BY k.item),
         |x AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM o WHERE r = 0 GROUP BY item)
         |SELECT x.item AS user_id, x.cnt, e.cms_est
         |FROM x JOIN e USING (item)""".stripMargin) { (s, dir) =>
      import graft.ext.CountMin
      val (depth, width) = (3, 256)
      val events = Tables.load(s, dir, "events")
      Fixtures.stagedInput(dir, "cms_occ", 1)(
        CountMin.occurrences(events, "user_id", depth, width))
      val sk = CountMin.sketch(events, "user_id", depth, width)
      val exact = events.groupBy(col("user_id").alias("item"))
        .agg(count(lit(1)).alias("cnt"))
      // one-sided error (cms_est >= cnt always) is pinned by SketchesSpec
      // and by the oracle hash over these exact integers — no extra
      // in-entry action re-running the join just to assert it
      exact
        .join(CountMin.estimate(exact, "item", sk, depth, width), Seq("item"))
        .select(col("item").alias("user_id"), col("cnt"), col("cms_est"))
    },

    // MinHash signatures are Spark-xxhash64-based (no DuckDB equivalent), so
    // the candidate stage stays Spark-side; the sets and the candidate pairs
    // are STAGED to parquet and the exact-Jaccard verify stage is recomputed
    // by DuckDB over the identical staged inputs — a real cross-engine check
    // of the verify join, not just a row count.
    QueryDef("ext_dedup_minhash_lsh",
      "MinHash(64)+LSH(16 bands) near-dup candidate pairs with exact shingle-Jaccard verify (verify stage oracled over staged candidates)",
      s"""WITH s AS (SELECT id, toks FROM read_parquet('$StageSql/minhash_sets/*.parquet')),
         |c AS (SELECT id_a, id_b FROM read_parquet('$StageSql/minhash_cands/*.parquet'))
         |SELECT c.id_a, c.id_b,
         |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) AS jaccard
         |FROM c JOIN s a ON c.id_a = a.id JOIN s b ON c.id_b = b.id
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) >= 0.2""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val hashed = Tables.load(s, dir, "documents").select(
        col("doc_id").alias("id"),
        Dedup.shingleHashes(col("text"), 3).alias("hs"))
      val sets = Dedup.shingleSets(hashed)
      val cands = Dedup.minhashBandCandidates(hashed, numHashes = 64, bands = 16)
      val stage = stageDir(dir)
      sets.write.mode("overwrite").parquet(s"$stage/minhash_sets")
      cands.write.mode("overwrite").parquet(s"$stage/minhash_cands")
      Dedup.verifyJaccard(
        s.read.parquet(s"$stage/minhash_cands"),
        s.read.parquet(s"$stage/minhash_sets"), threshold = 0.2)
    },

    // Incremental dedup: the day-2 operational shape of minhash dedup —
    // the corpus is banded ONCE into a persisted index (here: staged), a
    // new batch joins its bands against the index, so each increment costs
    // O(|batch|), never a corpus rescan. DuckDB recomputes cap + join +
    // Jaccard verify over the staged band tables and shingle sets.
    QueryDef("ext_dedup_incremental",
      "incremental near-dup check of a new batch (doc_id >= 250) against a persisted MinHash band index (doc_id < 250); cap+join+verify oracled over staged bands and sets",
      s"""WITH ib AS (SELECT id, band, band_hash FROM read_parquet('$StageSql/inc_index_bands/*.parquet')),
         |nb AS (SELECT id, band, band_hash FROM read_parquet('$StageSql/inc_new_bands/*.parquet')),
         |iok AS (SELECT band, band_hash FROM ib GROUP BY band, band_hash HAVING COUNT(*) <= 10000),
         |nok AS (SELECT band, band_hash FROM nb GROUP BY band, band_hash HAVING COUNT(*) <= 10000),
         |c AS (SELECT DISTINCT n.id AS id_new, i.id AS id_idx
         |      FROM (SELECT nb.* FROM nb JOIN nok USING (band, band_hash)) n
         |      JOIN (SELECT ib.* FROM ib JOIN iok USING (band, band_hash)) i
         |      USING (band, band_hash) WHERE n.id <> i.id),
         |ns AS (SELECT id, toks FROM read_parquet('$StageSql/inc_new_sets/*.parquet')),
         |idx AS (SELECT id, toks FROM read_parquet('$StageSql/inc_index_sets/*.parquet'))
         |SELECT c.id_new, c.id_idx,
         |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) AS jaccard
         |FROM c JOIN ns a ON c.id_new = a.id JOIN idx b ON c.id_idx = b.id
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) >= 0.2""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val docs = Tables.load(s, dir, "documents")
      def hashed(part: org.apache.spark.sql.DataFrame) = part.select(
        col("doc_id").alias("id"),
        Dedup.shingleHashes(col("text"), 3).alias("hs"))
      val idxHashed = hashed(docs.filter(col("doc_id") < 250))
      val newHashed = hashed(docs.filter(col("doc_id") >= 250))
      val stage = stageDir(dir)
      Dedup.minhashBandTable(idxHashed, numHashes = 64, bands = 16)
        .write.mode("overwrite").parquet(s"$stage/inc_index_bands")
      Dedup.minhashBandTable(newHashed, numHashes = 64, bands = 16)
        .write.mode("overwrite").parquet(s"$stage/inc_new_bands")
      Dedup.shingleSets(idxHashed)
        .write.mode("overwrite").parquet(s"$stage/inc_index_sets")
      Dedup.shingleSets(newHashed)
        .write.mode("overwrite").parquet(s"$stage/inc_new_sets")
      Dedup.verifyJaccardIncremental(
        Dedup.incrementalCandidates(
          s.read.parquet(s"$stage/inc_new_bands"),
          s.read.parquet(s"$stage/inc_index_bands")),
        s.read.parquet(s"$stage/inc_new_sets"),
        s.read.parquet(s"$stage/inc_index_sets"), threshold = 0.2)
    },

    // Signatures staged to parquet; DuckDB recomputes the pigeonhole
    // chunk-blocking, bucket cap, and Hamming verify bit-for-bit over the
    // identical staged signatures (>> then &-mask agree between arithmetic
    // and logical shifts, so signedness is immaterial).
    QueryDef("ext_dedup_simhash",
      "SimHash64 near-dup pairs (chunk-blocked, Hamming-verified; blocking+verify oracled over staged signatures)",
      s"""WITH s AS (SELECT id, sig FROM read_parquet('$StageSql/simhash_sigs/*.parquet')),
         |c AS (SELECT id, sig, u.chunk AS chunk, (sig >> (u.chunk * 16)) & 65535 AS chunk_val
         |      FROM s, (SELECT unnest([0, 1, 2, 3]) AS chunk) u),
         |ok AS (SELECT chunk, chunk_val FROM c GROUP BY chunk, chunk_val HAVING COUNT(*) <= 10000),
         |cc AS (SELECT c.id, c.sig, c.chunk, c.chunk_val FROM c JOIN ok USING (chunk, chunk_val))
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |FROM cc a JOIN cc b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.id < b.id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 12""".stripMargin) { (s, dir) =>
      val sigs = Dedup.simhashSigs(Tables.load(s, dir, "documents"),
        "doc_id", "text")
      val stage = stageDir(dir)
      sigs.write.mode("overwrite").parquet(s"$stage/simhash_sigs")
      Dedup.simhashPairsFromSigs(s.read.parquet(s"$stage/simhash_sigs"),
        maxHamming = 12, chunks = 4)
    },

    QueryDef("ext_dedup_jaccard_blocked",
      "blocked exact n-gram Jaccard pairs (lang + length blocking)",
      s"""WITH t AS (SELECT doc_id, lang, n_chars, $TOKS AS toks FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) AS jaccard
         |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 5
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) >= 0.5""".stripMargin) { (s, dir) =>
      Dedup.blockedJaccardPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", "lang", "n_chars", lenTol = 5, threshold = 0.5)
    },

    // Substring-level dedup (Lee et al. 2022, arXiv:2107.06499): the
    // duplicated-SPAN metrics whole-document near-dup can't see — verbatim
    // k-token windows repeated anywhere in the corpus, merged per document
    // into maximal spans. Window hashes staged; DuckDB recomputes the
    // corpus-wide duplicate set, the lag()-based interval union, and the
    // per-document rollup over the identical staged rows.
    QueryDef("ext_dedup_substring_spans",
      "duplicate-span (exact substring) dedup metrics: corpus-wide repeated 8-token windows merged into per-doc spans (rollup oracled over staged window hashes)",
      s"""WITH w AS (SELECT id, pos, h FROM read_parquet('$StageSql/sspan_windows/*.parquet')),
         |docs AS (SELECT id, n_tokens FROM read_parquet('$StageSql/sspan_docs/*.parquet')),
         |d AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) > 1),
         |m AS (SELECT w.id, w.pos FROM w JOIN d USING (h)),
         |g AS (SELECT id, pos, pos - LAG(pos) OVER (PARTITION BY id ORDER BY pos) AS gap FROM m),
         |cov AS (SELECT id,
         |  CAST(COUNT(*) AS BIGINT) AS dup_windows,
         |  CAST(SUM(CASE WHEN gap IS NULL OR gap >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
         |  CAST(SUM(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END) AS BIGINT) AS dup_tokens
         |  FROM g GROUP BY id)
         |SELECT docs.id AS doc_id, docs.n_tokens,
         |  COALESCE(cov.dup_windows, 0) AS dup_windows,
         |  COALESCE(cov.dup_spans, 0) AS dup_spans,
         |  COALESCE(cov.dup_tokens, 0) AS dup_tokens,
         |  CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / docs.n_tokens AS dup_fraction
         |FROM docs LEFT JOIN cov USING (id)
         |WHERE docs.n_tokens > 0""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val docs = Tables.load(s, dir, "documents")
      val windows = Dedup.windowHashes(docs, "doc_id", "text", k = 8)
      val counts = docs.select(col("doc_id").alias("id"),
        size(Dedup.tokens(col("text"))).cast("long").alias("n_tokens"))
      val stage = stageDir(dir)
      windows.write.mode("overwrite").parquet(s"$stage/sspan_windows")
      counts.write.mode("overwrite").parquet(s"$stage/sspan_docs")
      val cov = Dedup.duplicateSpans(
        s.read.parquet(s"$stage/sspan_windows"), k = 8)
      s.read.parquet(s"$stage/sspan_docs")
        .join(cov, Seq("id"), "left")
        .filter(col("n_tokens") > 0)
        .select(col("id").alias("doc_id"), col("n_tokens"),
          coalesce(col("dup_windows"), lit(0L)).alias("dup_windows"),
          coalesce(col("dup_spans"), lit(0L)).alias("dup_spans"),
          coalesce(col("dup_tokens"), lit(0L)).alias("dup_tokens"),
          (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens")).alias("dup_fraction"))
    },

    // Bucket assignments staged; DuckDB recomputes the bucket cap, the
    // within-bucket self-join, and the bit-stable f64 cosine verify.
    QueryDef("ext_dedup_embedding_neardup",
      "embedding near-dup pairs via hyperplane-LSH bucket + cosine verify (pairing+verify oracled over staged buckets)",
      s"""WITH b AS (SELECT id, vec, bucket FROM read_parquet('$StageSql/emb_buckets/*.parquet')),
         |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 10000),
         |bb AS (SELECT b.id, b.vec, b.bucket FROM b JOIN ok USING (bucket)),
         |pairs AS (SELECT a.id AS id_a, c.id AS id_b,
         |  CASE WHEN sqrt(list_dot_product(CAST(a.vec AS DOUBLE[]), CAST(a.vec AS DOUBLE[]))) * sqrt(list_dot_product(CAST(c.vec AS DOUBLE[]), CAST(c.vec AS DOUBLE[]))) = 0
         |       THEN NULL
         |       ELSE list_dot_product(CAST(a.vec AS DOUBLE[]), CAST(c.vec AS DOUBLE[]))
         |          / (sqrt(list_dot_product(CAST(a.vec AS DOUBLE[]), CAST(a.vec AS DOUBLE[]))) * sqrt(list_dot_product(CAST(c.vec AS DOUBLE[]), CAST(c.vec AS DOUBLE[])))) END AS cos
         |FROM bb a JOIN bb c ON a.bucket = c.bucket AND a.id < c.id)
         |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.3""".stripMargin) { (s, dir) =>
      // testdata embeddings are uniform-random (max pairwise cosine ≈ 0.48),
      // so the "near-dup" bar is 0.3 here; production corpora use ~0.9+
      val bucketed = Dedup.embeddingBuckets(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", nPlanes = 8)
      val stage = stageDir(dir)
      bucketed.write.mode("overwrite").parquet(s"$stage/emb_buckets")
      Dedup.embeddingPairsFromBuckets(
        s.read.parquet(s"$stage/emb_buckets"), threshold = 0.3)
    },

    // SemDeDup (Abbas et al., 2023): k-means-cluster the embedding space,
    // compare pairs only WITHIN a cell, drop all but one representative of
    // each near-identical group. Differs from ext_dedup_embedding_neardup
    // in both halves: blocking is k-means cells (the published recipe —
    // semantic neighborhoods, not random hyperplane buckets) and the
    // output is the keep/drop decision per document (keep = no
    // lower-id neighbor above the threshold), i.e. the actual dedup
    // verdict a pipeline acts on. Cells are staged, so DuckDB replays
    // pairing + cosine + the keep rule. Scale: nCells grows ~√n keeping
    // cells bounded; centroids broadcast; no cross-cell pairs exist.
    QueryDef("ext_dedup_semantic",
      "SemDeDup: k-means-cell blocking + within-cell cosine ≥ 0.3 → keep/drop verdict per doc (cells staged, full rule oracled)", {
      def d(x: String, y: String) =
        s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
      val np = s"(sqrt(${d("a.vec", "a.vec")}) * sqrt(${d("c.vec", "c.vec")}))"
      val cosC = s"(CASE WHEN $np = 0 THEN NULL ELSE ${d("a.vec", "c.vec")} / $np END)"
      s"""WITH b AS (SELECT id, vec, cell FROM read_parquet('$StageSql/sem_cells/*.parquet')),
         |pairs AS (SELECT a.id AS id_a, c.id AS id_b
         |  FROM b a JOIN b c ON a.cell = c.cell AND a.id < c.id
         |  WHERE $cosC >= 0.3)
         |SELECT b.id, b.id NOT IN (SELECT id_b FROM pairs) AS keep FROM b""".stripMargin
    }) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      // Cells of ~constant SIZE (nCells ∝ n), not a constant count — the
      // r8 probe measured fixed 16 cells as quadratic pair growth at 10×
      // data, and √n cells still leaves √n-sized cells. Training is
      // already sample-bounded (IvfIndex.train: 20k-row cap, 5 iters), so
      // centroid cost grows linearly with nCells and the within-cell
      // pairing stays ~125 comparisons per doc at ANY corpus size. Floor
      // of 16 keeps the small-sf oracle shape stable.
      val nCells = math.max(16, math.ceil(emb.count() / 125.0).toInt)
      val model = graft.ext.IvfIndex.trainCached(s"$dir#semdedup$nCells",
        emb, "embedding", nCells = nCells)
      val stage = stageDir(dir)
      // assignments staged under the quantizer's content FINGERPRINT —
      // reuse is conditional on bit-identical centroids, a drifted JVM
      // restages (the fp-keyed form of stage-fresh-per-run)
      Fixtures.stagedInput(dir, "sem_cells", 1, fp = model.fingerprint)(
        model.withCell(
            emb.select(col("vec_id").alias("id"),
              col("embedding").alias("vec")), "vec", "cell")
          .select("id", "vec", "cell"))
      val cells = s.read.parquet(s"$stage/sem_cells")
      val dropped = cells.alias("a")
        .join(cells.alias("c"), col("a.cell") === col("c.cell") &&
          col("a.id") < col("c.id"))
        .filter(VectorFunctions.cosineNative(col("a.vec"), col("c.vec")) >= 0.3)
        .select(col("c.id").alias("id")).distinct()
        .withColumn("_drop", lit(true))
      cells.select("id").join(dropped, Seq("id"), "left")
        .select(col("id"), col("_drop").isNull.alias("keep"))
    },

    // Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    // scaling laws"): in the data-abundant regime, dropping the EASY,
    // prototypical examples — those closest to their cluster centroid —
    // beats random subsampling. Reuses the SAME cached IVF coarse
    // quantizer as the ANN/semantic-dedup entries: assign each embedding
    // to its cell (scan-side codegen'd argmin, centroids an expression
    // constant), rank within the cell by cosine-to-centroid, drop the
    // most-prototypical quartile. Scale shape: the score is a broadcast
    // join against a |cells|-row centroid table + a per-cell window —
    // cells are size-bounded by construction (nCells ∝ n upstream), so
    // no window partition outgrows an executor; nothing all-pairs.
    // Oracle: cell assignments + centroids staged; DuckDB recomputes the
    // cosine from raw embeddings and replays ranking and the integer
    // quartile rule.
    QueryDef("ext_prune_prototypes",
      "SSL-prune: per-IVF-cell cosine-to-centroid ranking, drop the most-prototypical quartile (keep hard examples)", {
      def d(x: String, y: String) =
        s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
      val np = s"(sqrt(${d("e.embedding", "e.embedding")}) * sqrt(${d("c.centroid", "c.centroid")}))"
      val cosC = s"(CASE WHEN $np = 0 THEN NULL ELSE ${d("e.embedding", "c.centroid")} / $np END)"
      s"""WITH a AS (SELECT vec_id, cell FROM read_parquet('$StageSql/proto_cells/*.parquet')),
         |c AS (SELECT cell, centroid FROM read_parquet('$StageSql/proto_centroids/*.parquet')),
         |s AS (SELECT a.vec_id, a.cell, $cosC AS proto_sim
         |  FROM a JOIN embeddings e ON e.vec_id = a.vec_id
         |         JOIN c ON c.cell = a.cell),
         |r AS (SELECT vec_id, cell, proto_sim,
         |  row_number() OVER (PARTITION BY cell ORDER BY proto_sim DESC, vec_id) AS rk,
         |  COUNT(*) OVER (PARTITION BY cell) AS n FROM s)
         |SELECT vec_id, cell, proto_sim, rk FROM r WHERE rk > n // 4""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.ext.IvfIndex.trainCached(dir, emb, "embedding",
        nCells = 16)
      val stage = stageDir(dir)
      // assignments + centroids staged under the quantizer fingerprint
      // (the sem_cells discipline)
      Fixtures.stagedInput(dir, "proto_cells", 1, fp = model.fingerprint)(
        model.withCell(emb, "embedding", "cell")
          .select("vec_id", "cell"))
      Fixtures.stagedInput(dir, "proto_centroids", 1,
          fp = model.fingerprint)(
        model.centers.zipWithIndex.map { case (ctr, i) => (i, ctr) }
          .toDF("cell", "centroid")
          .coalesce(1))
      val centroids = s.read.parquet(s"$stage/proto_centroids")
      s.read.parquet(s"$stage/proto_cells")
        .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
        .join(broadcast(centroids), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          VectorFunctions.cosine(col("embedding"), col("centroid"))
            .alias("proto_sim"))
        .withColumn("rk", row_number().over(Window.partitionBy("cell")
          .orderBy(col("proto_sim").desc, col("vec_id").asc)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("cell")))
        .filter(col("rk") > expr("n DIV 4"))
        .select("vec_id", "cell", "proto_sim", "rk")
    },

    // The near-dup PAIR list is staged so both engines cluster the
    // identical graph; DuckDB computes reachability with a recursive CTE
    // (UNION-dedup bounds the fixpoint), Spark with iterative min-label
    // propagation (Dedup.connectedComponents) — two genuinely different
    // fixpoint algorithms agreeing on every vertex's cluster.
    QueryDef("ext_dedup_components",
      "duplicate-cluster assignment: connected components over MinHash near-dup pairs, canonical = min id (recursive-CTE oracle over staged pairs)",
      s"""WITH RECURSIVE e AS (
         |  SELECT id_a AS src, id_b AS dst FROM read_parquet('$StageSql/cc_pairs/*.parquet')
         |  UNION SELECT id_b, id_a FROM read_parquet('$StageSql/cc_pairs/*.parquet')),
         |r AS (SELECT src AS id, src AS reach FROM e
         |      UNION SELECT r.id, e.dst FROM r JOIN e ON e.src = r.reach)
         |SELECT id, MIN(reach) AS comp FROM r GROUP BY id""".stripMargin) { (s, dir) =>
      val pairs = Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", threshold = 0.2).select("id_a", "id_b")
      val stage = stageDir(dir)
      pairs.write.mode("overwrite").parquet(s"$stage/cc_pairs")
      Dedup.connectedComponents(s.read.parquet(s"$stage/cc_pairs"),
        "id_a", "id_b")
    },

    // ---- similarity search ----------------------------------------------
    QueryDef("ext_sim_cosine_scores",
      "exact cosine scores: 3 query vectors × corpus (bit-stable f64 fold)",
      s"SELECT q.vec_id AS q_id, n.vec_id AS n_id, $COS AS score FROM embeddings q, embeddings n WHERE q.vec_id < 3 AND n.vec_id <> q.vec_id") { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").alias("q_id"), col("embedding").alias("q_vec"))
      emb.select(col("vec_id").alias("n_id"), col("embedding").alias("n_vec"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          VectorFunctions.cosineNative(col("q_vec"), col("n_vec")).alias("score"))
    },

    QueryDef("ext_sim_topk_bruteforce",
      "brute-force cosine top-5 per query (10 queries), window top-k",
      s"""SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM (SELECT q.vec_id AS q_id, n.vec_id AS n_id, $COS AS score
         |        FROM embeddings q, embeddings n
         |        WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id))
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    },

    QueryDef("ext_sim_topk_aggregator",
      "same top-5 via the typed TopKAggregator (bounded partial agg — the 100TB-scale strategy; same oracle as the window variant)",
      s"""SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM (SELECT q.vec_id AS q_id, n.vec_id AS n_id, $COS AS score
         |        FROM embeddings q, embeddings n
         |        WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id))
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val topk = udaf(new graft.functions.TopKAggregator(5))
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").alias("q_id"), col("embedding").alias("q_vec"))
      emb.select(col("vec_id").alias("n_id"), col("embedding").alias("n_vec"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          VectorFunctions.cosineNative(col("q_vec"), col("n_vec")).alias("score"))
        .groupBy("q_id")
        .agg(topk(col("n_id"), col("score")).alias("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t._1").alias("n_id"),
          col("t._2").alias("score"), (col("pos") + 1).alias("rank"))
    },

    // Hard-negative mining — the contrastive-training data op: for each
    // query vector, the top-k most-similar docs INSIDE a band that
    // excludes both easy negatives (below the floor — random pairs
    // cluster near cosine 0) and near-duplicates (above the semantic-
    // dedup τ=0.3 this catalog uses — a positive leaking in as a
    // "negative" poisons the contrastive loss). Same bit-stable cosine
    // fold as the top-k entries, band compares on exact doubles; at
    // 100 TB the candidate generation runs through the IVF probes like
    // ext_ann_lakehouse (band-filtering candidates, widening nProbe),
    // and the window stays bounded per query.
    QueryDef("ext_hard_negatives",
      "hard-negative mining: per query, cosine top-5 within the (0.12, 0.3) band — similar but provably not near-dup",
      s"""SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM (SELECT q.vec_id AS q_id, n.vec_id AS n_id, $COS AS score
         |        FROM embeddings q, embeddings n
         |        WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
         |  WHERE score > 0.12 AND score < 0.3)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").alias("q_id"), col("embedding").alias("q_vec"))
      emb.select(col("vec_id").alias("n_id"), col("embedding").alias("n_vec"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          VectorFunctions.cosineNative(col("q_vec"), col("n_vec")).alias("score"))
        .filter(col("score") > 0.12 && col("score") < 0.3)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("n_id").asc)))
        .filter(col("rank") <= 5)
    },

    // ANN entries: the hash/k-means candidate generation stays Spark-side
    // (no DuckDB equivalent), but the candidate (q_id, n_id) pairs are
    // staged and DuckDB recomputes scoring + ranking against the embeddings
    // table — recall remains ScalaTest's job, correctness of the score/rank
    // path is now cross-engine.
    // Streaming ANN-index maintenance — st16's incremental-index shape
    // applied to the similarity tier: the index's POSTINGS (n_id, cell)
    // are a TxLog table that every embeddings micro-batch APPENDS through
    // the native streaming sink; cells stay fixed (trained once, the
    // codegen'd NearestCellsL2 assignment rides the stream as a broadcast
    // constant), so ingest is append-only at any corpus size and query
    // serving probes the accumulated postings exactly like the batch IVF
    // entry. Score+rank oracled over the staged candidates, same as ivf.
    QueryDef("st31_stream_ivf_ingest",
      "streaming ANN index maintenance: embeddings stream → per-batch cell assignment → postings appended via the native txlog sink; queries probe the accumulated postings",
      s"""WITH c AS (SELECT q_id, n_id FROM read_parquet('$StageSql/st31_cands/*.parquet')),
         |s AS (SELECT c.q_id, c.n_id, $COS AS score
         |      FROM c JOIN embeddings q ON q.vec_id = c.q_id
         |             JOIN embeddings n ON n.vec_id = c.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM s)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      graft.streaming.SessionizeTws.configure(s)
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.ext.IvfIndex.trainCached(s"$dir#st31", emb,
        "embedding", nCells = 16)
      // ingest: stream the corpus, assign cells per micro-batch, append
      // postings to the index table
      // stage through the NORMALIZED reader (array<float> whatever the
      // lake shipped — the stageEventsDir principle applied to vectors):
      // the stream's schema then always matches the trained model's
      val srcDir = java.nio.file.Files.createTempDirectory("graft_st31_src")
      graft.Tables.load(s, dir, "embeddings")
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
      val postingsT =
        java.nio.file.Files.createTempDirectory("graft_st31").toString + "/t"
      val schema = s.read.parquet(srcDir.toString).schema
      val src = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .select(col("vec_id").alias("n_id"), col("embedding").alias("n_vec"))
      model.withCell(src, "n_vec", "cell")
        .select("n_id", "cell")
        .writeStream.format("graft.sources.txlog")
        .option("checkpointLocation", s"$srcDir-cp")
        .option("path", postingsT)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      // query: probe cells against the ACCUMULATED postings table
      val postings = graft.ops.TxLog.read(s, postingsT)
      val q = model.withProbeCells(
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id").alias("q_id"), col("embedding").alias("q_vec")),
          "q_vec", "cells", 4)
        .select(col("q_id"), explode(col("cells")).alias("cell"))
      val cands = postings.join(q, Seq("cell"))
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id").dropDuplicates("q_id", "n_id")
      val stage = stageDir(dir)
      cands.write.mode("overwrite").parquet(s"$stage/st31_cands")
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(s.read.parquet(s"$stage/st31_cands"),
        vecs.filter(col("id") < 10), vecs, k = 5)
    },

    QueryDef("ext_sim_topk_lsh",
      "ANN top-5 via hyperplane LSH + 1-bit multi-probe (score+rank oracled over staged candidates)",
      s"""WITH c AS (SELECT q_id, n_id FROM read_parquet('$StageSql/lsh_cands/*.parquet')),
         |s AS (SELECT c.q_id, c.n_id, $COS AS score
         |      FROM c JOIN embeddings q ON q.vec_id = c.q_id
         |             JOIN embeddings n ON n.vec_id = c.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM s)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cands = Similarity.lshCandidates(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding")
      val stage = stageDir(dir)
      cands.write.mode("overwrite").parquet(s"$stage/lsh_cands")
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(s.read.parquet(s"$stage/lsh_cands"),
        vecs.filter(col("id") < 10), vecs, k = 5)
    },

    QueryDef("ext_sim_topk_ivf",
      "ANN top-5 via IVF (k-means cells, 4-probe) — the √n-cell scale path (score+rank oracled over staged candidates)",
      s"""WITH c AS (SELECT q_id, n_id FROM read_parquet('$StageSql/ivf_cands/*.parquet')),
         |s AS (SELECT c.q_id, c.n_id, $COS AS score
         |      FROM c JOIN embeddings q ON q.vec_id = c.q_id
         |             JOIN embeddings n ON n.vec_id = c.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM s)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.ext.IvfIndex.trainCached(dir, emb, "embedding", nCells = 16)
      val cands = graft.ext.IvfIndex.candidates(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        model, nProbe = 4)
      val stage = stageDir(dir)
      cands.write.mode("overwrite").parquet(s"$stage/ivf_cands")
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(s.read.parquet(s"$stage/ivf_cands"),
        vecs.filter(col("id") < 10), vecs, k = 5)
    },

    // FILTERED ANN — the WHERE-clause vector-search shape (serve "top-k
    // similar WHERE lang = 'en'"): IVF candidates pre-filter on the
    // metadata predicate BEFORE the exact rerank, so the expensive
    // cosine runs only on qualifying rows; nProbe is raised to
    // compensate for the survivors the filter removes per cell (the
    // standard filtered-search trade — recall at equal probes drops
    // with selectivity, so probes widen). The predicate is re-applied
    // in the oracle: a Spark-side filter leak produces rows DuckDB
    // drops and the entry hash-mismatches.
    QueryDef("ext_ann_filtered",
      "filtered ANN: IVF candidates pre-filtered on a metadata predicate before the exact rerank; filter+score+rank oracled",
      s"""WITH c AS (SELECT q_id, n_id FROM read_parquet('$StageSql/annfilt_cands/*.parquet')),
         |s AS (SELECT c.q_id, c.n_id, $COS AS score
         |      FROM c JOIN embeddings q ON q.vec_id = c.q_id
         |             JOIN embeddings n ON n.vec_id = c.n_id
         |      WHERE n.label = 1)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM s)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      // same cached index as ext_sim_topk_ivf — a filtered query is a
      // QUERY-time variation, never a second index
      val model = graft.ext.IvfIndex.trainCached(dir, emb, "embedding",
        nCells = 16)
      val cands = graft.ext.IvfIndex.candidates(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        model, nProbe = 8)
      val labels = emb.select(col("vec_id").alias("n_id"), col("label"))
      val filtered = cands.join(labels, "n_id")
        .filter(col("label") === 1).select("q_id", "n_id")
      val stage = stageDir(dir)
      filtered.write.mode("overwrite").parquet(s"$stage/annfilt_cands")
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(
        s.read.parquet(s"$stage/annfilt_cands"),
        vecs.filter(col("id") < 10), vecs, k = 5)
    },

    // Two-level IVF — the 10⁵-cell fleet shape of the flat entry above:
    // queries route through a coarse codebook (trained over the fine
    // CENTROIDS) and rank only the fine cells inside their probed coarse
    // groups, so per-query centroid work is O(√cells) instead of
    // O(cells). Same oracle pattern: candidates staged, DuckDB recomputes
    // the exact cosine rerank.
    QueryDef("ext_sim_topk_ivf2",
      "ANN top-5 via two-level IVF (coarse→fine probing, O(√cells) centroid work per query); score+rank oracled over staged candidates",
      s"""WITH c AS (SELECT q_id, n_id FROM read_parquet('$StageSql/ivf2_cands/*.parquet')),
         |s AS (SELECT c.q_id, c.n_id, $COS AS score
         |      FROM c JOIN embeddings q ON q.vec_id = c.q_id
         |             JOIN embeddings n ON n.vec_id = c.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM s)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val fine = graft.ext.IvfIndex.trainCached(s"$dir#ivf2", emb,
        "embedding", nCells = 32)
      val cands = graft.ext.IvfIndex.twoLevelCandidates(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        fine, coarseCells = 6, nProbeCoarse = 3, nProbeFine = 8)
      val stage = stageDir(dir)
      cands.write.mode("overwrite").parquet(s"$stage/ivf2_cands")
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(s.read.parquet(s"$stage/ivf2_cands"),
        vecs.filter(col("id") < 10), vecs, k = 5)
    },

    // ANN over the LAKEHOUSE: the IVF cell assignment persisted as a
    // cell-PARTITIONED txlog table, so a query batch's probe set prunes
    // to its partitions BEFORE any vector byte is read — at 100 TB the
    // scan cost follows the probed cells (nProbe/nCells of the corpus),
    // not the table, and the index table gets txlog's ACID/time-travel
    // for free (reassignment after retraining is one overwrite). The
    // probe set itself is metadata-sized (≤ nCells ids). Exact cosine
    // rerank on the pruned candidates; score+rank oracled like the
    // other ANN entries.
    QueryDef("ext_ann_lakehouse",
      "ANN serving over a cell-partitioned txlog table: probe set prunes partitions before vectors are read; score+rank oracled over staged candidates",
      s"""WITH c AS (SELECT q_id, n_id FROM read_parquet('$StageSql/annlake_cands/*.parquet')),
         |s AS (SELECT c.q_id, c.n_id, $COS AS score
         |      FROM c JOIN embeddings q ON q.vec_id = c.q_id
         |             JOIN embeddings n ON n.vec_id = c.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM s)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.ext.IvfIndex.trainCached(s"$dir#annlake", emb,
        "embedding", nCells = 32)
      // the index TABLE is "one build, served for every query batch" — so
      // build it once per (sf, model) like ext_bm25_topk's index fixture.
      // The fixture key embeds the trained model's content fingerprint:
      // a process whose (seeded, deterministic) training ever drifted
      // would rebuild its own table instead of serving codes that no
      // longer match its probe assignments.
      val table = Fixtures.immutableTable(dir,
          s"annlake_idx_${model.fingerprint}", 1) { t =>
        graft.ops.TxLog.setProperties(t,
          Map("graft.partition.columns" -> "cell"))
        graft.ops.TxLog.append(model.withCell(
          emb.select(col("vec_id").alias("n_id"),
            col("embedding").alias("n_vec")), "n_vec", "cell"), t)
      }
      val q = model.withProbeCells(emb.filter(col("vec_id") < 5)
        .select(col("vec_id").alias("q_id"),
          col("embedding").alias("q_vec")), "q_vec", "cells", nProbe = 3)
        .select(col("q_id"), explode(col("cells")).alias("cell"))
      val probeCells = q.select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq
      val pruned = graft.ops.TxLog.readPruned(s, table, Map.empty,
        Map.empty, eqProbes = Map("cell" -> probeCells))
      require(pruned.inputFiles.length <
        graft.ops.TxLog.activeFiles(table).size,
        "the probe set must prune unprobed cell partitions")
      val cands = pruned.select("n_id", "cell").join(q, Seq("cell"))
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id").dropDuplicates("q_id", "n_id")
      val stage = stageDir(dir)
      cands.write.mode("overwrite").parquet(s"$stage/annlake_cands")
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(s.read.parquet(s"$stage/annlake_cands"),
        vecs.filter(col("id") < 5), vecs, k = 5)
    },

    // IVF-PQ over the LAKEHOUSE — the two serving entries composed, and
    // the true 100 TB read shape: PQ codes live IN a cell-partitioned
    // txlog table, so a query batch's probe set prunes partitions before
    // ANY byte is read, and what it reads per probed cell is the 8-byte
    // codes — not vectors. Full vectors are touched only by the exact
    // rerank of the (k × factor) shortlist. Per-query scan cost:
    // (nProbe/nCells) × corpus × 8 bytes + k·factor vectors — at 100 TB
    // of f32 embeddings that is a ~3000× byte reduction before the
    // rerank. The staged pieces replay BOTH stages in DuckDB, exactly
    // like ext_sim_topk_ivfpq.
    QueryDef("ext_ann_lakehouse_ivfpq",
      "IVF-PQ serving over a cell-partitioned txlog codes table: probe set prunes partitions, ADC reads 8-byte codes only, exact rerank bounded; BOTH stages oracled",
      s"""WITH cd AS (SELECT n_id, cell, sub, code FROM read_parquet('$StageSql/lkpq_codes/*.parquet')),
         |p AS (SELECT q_id, cell, qcm FROM read_parquet('$StageSql/lkpq_probes/*.parquet')),
         |l AS (SELECT q_id, sub, code, lm FROM read_parquet('$StageSql/lkpq_lut/*.parquet')),
         |a AS (SELECT p.q_id, cd.n_id, CAST(ANY_VALUE(p.qcm) + SUM(l.lm) AS BIGINT) AS adc
         |      FROM cd JOIN p ON cd.cell = p.cell
         |             JOIN l ON l.q_id = p.q_id AND l.sub = cd.sub AND l.code = cd.code
         |      WHERE cd.n_id <> p.q_id GROUP BY p.q_id, cd.n_id),
         |s AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS sr FROM a) WHERE sr <= 20),
         |re AS (SELECT s.q_id, s.n_id, $COS AS score
         |       FROM s JOIN embeddings q ON q.vec_id = s.q_id
         |              JOIN embeddings n ON n.vec_id = s.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM re)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.ext.IvfPq.trainCached(s"$dir#lkpq", emb,
        "embedding", dim = 64, nCells = 32, m = 8, nCodes = 16)
      // the INDEX table: (n_id, codes) partitioned by cell — one build,
      // served for every query batch; ACID + time travel for free, and a
      // retrain is one overwrite. Built once per (sf, model fingerprint)
      // like ext_bm25_topk's index fixture — see ext_ann_lakehouse.
      val table = Fixtures.immutableTable(dir,
          s"lkpq_idx_${model.fingerprint}", 1) { t =>
        graft.ops.TxLog.setProperties(t,
          Map("graft.partition.columns" -> "cell"))
        // fanOut below the PQ-residual encode (single-task off a 1-file
        // scan, §2.5), then key the staged write by cell so the table
        // keeps one file per cell dir instead of fanOut-tasks × cells
        graft.ops.TxLog.append(
          model.encode(Tables.fanOut(emb), "vec_id", "embedding")
            .repartition(col("cell")), t)
      }
      val probeSet = model.probes(emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", nProbe = 3)
      val probeCells = probeSet.select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq
      val pruned = graft.ops.TxLog.readPruned(s, table, Map.empty,
        Map.empty, eqProbes = Map("cell" -> probeCells))
      require(pruned.inputFiles.length <
        graft.ops.TxLog.activeFiles(table).size,
        "the probe set must prune unprobed cell partitions")
      val stage = stageDir(dir)
      pruned.select(col("n_id"), col("cell"),
          posexplode(col("codes")).as(Seq("sub", "code")))
        .write.mode("overwrite").parquet(s"$stage/lkpq_codes")
      probeSet.write.mode("overwrite").parquet(s"$stage/lkpq_probes")
      model.lutMicro(emb.filter(col("vec_id") < 5)
          .select(col("vec_id").alias("q_id"),
            col("embedding").cast("array<double>").alias("vec")))
        .write.mode("overwrite").parquet(s"$stage/lkpq_lut")
      val sl = graft.ext.IvfPq.shortlistFromStaged(
        s.read.parquet(s"$stage/lkpq_codes"),
        s.read.parquet(s"$stage/lkpq_probes"),
        s.read.parquet(s"$stage/lkpq_lut"), shortlist = 20)
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(sl, vecs.filter(col("id") < 5),
        vecs, k = 5)
    },

    // SQ8: unlike the LSH/IVF entries (where only score+rank is oracled),
    // BOTH stages replay in DuckDB — int8 dots are exact integers in f64,
    // so the quantized shortlist is engine-deterministic, and the rerank
    // uses the same bit-stable f64 cosine as every other entry. Only the
    // quantization itself (Spark round-half-up on f32) stays Spark-side,
    // via the staged qvec columns.
    QueryDef("ext_sim_topk_sq8",
      "ANN top-5 via int8 scalar-quantized shortlist (4k) + exact f32 rerank (shortlist AND rerank oracled over staged quantized vectors)", {
      def qdot(x: String, y: String) =
        s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
      val qnp = s"sqrt(${qdot("q.qvec", "q.qvec")} * ${qdot("c.qvec", "c.qvec")})"
      val cosQ = s"(CASE WHEN $qnp = 0 THEN NULL ELSE ${qdot("q.qvec", "c.qvec")} / $qnp END)"
      val rnp = s"(sqrt(${qdot("s.q_vec", "s.q_vec")}) * sqrt(${qdot("s.n_vec", "s.n_vec")}))"
      val cosR = s"(CASE WHEN $rnp = 0 THEN NULL ELSE ${qdot("s.q_vec", "s.n_vec")} / $rnp END)"
      s"""WITH c AS (SELECT id, qvec, vec FROM read_parquet('$StageSql/sq8_corpus/*.parquet')),
         |q AS (SELECT id, qvec, vec FROM read_parquet('$StageSql/sq8_queries/*.parquet')),
         |sw AS (SELECT q.id AS q_id, c.id AS n_id, q.vec AS q_vec, c.vec AS n_vec, $cosQ AS cos_q
         |       FROM q JOIN c ON c.id <> q.id),
         |s AS (SELECT q_id, n_id, q_vec, n_vec FROM (
         |  SELECT q_id, n_id, q_vec, n_vec,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos_q DESC, n_id) AS sr FROM sw) WHERE sr <= 20),
         |re AS (SELECT s.q_id, s.n_id, $cosR AS score FROM s)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM re)
         |WHERE rank <= 5""".stripMargin
    }) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val quantized = emb.select(col("vec_id").alias("id"),
        Similarity.quantizeSq8(col("embedding")).alias("qvec"),
        col("embedding").alias("vec"))
      val stage = stageDir(dir)
      // the quantized corpus is the SQ8 INDEX (a pure deterministic
      // projection of embeddings — the input fingerprint alone keys it);
      // the 10-row query batch stays per-invocation (query-side work)
      Fixtures.stagedInput(dir, "sq8_corpus", 1)(quantized)
      quantized.filter(col("id") < 10)
        .write.mode("overwrite").parquet(s"$stage/sq8_queries")
      def shape(df: org.apache.spark.sql.DataFrame, p: String) = df.select(
        col("id").alias(s"${p}_id"), col("qvec").alias(s"${p}_q"),
        col("vec").alias(s"${p}_vec"))
      Similarity.sq8TopKFromQuantized(
        shape(s.read.parquet(s"$stage/sq8_corpus"), "n"),
        shape(s.read.parquet(s"$stage/sq8_queries"), "q"),
        k = 5, shortlistFactor = 4)
    },

    // PQ: the codebook training (m small k-means fits) stays Spark-side,
    // but BOTH scoring stages replay in DuckDB: the ADC shortlist is an
    // exact integer sum of staged micro-unit LUT hits over staged codes
    // (order-independent — the UnigramLm determinism trick applied to
    // ANN), and the rerank uses the shared bit-stable f64 cosine. This is
    // a stronger oracle than LSH/IVF (candidates-only): a wrong join key,
    // a dropped subspace, or a rank tie-break bug all hash-mismatch.
    QueryDef("ext_sim_topk_pq",
      "ANN top-5 via product quantization (8 subspaces x 16 codes): integer-micro ADC shortlist (4k) + exact rerank (BOTH stages oracled over staged codes+LUT)",
      s"""WITH cd AS (SELECT n_id, sub, code FROM read_parquet('$StageSql/pq_codes/*.parquet')),
         |l AS (SELECT q_id, sub, code, lm FROM read_parquet('$StageSql/pq_lut/*.parquet')),
         |a AS (SELECT l.q_id, cd.n_id, CAST(SUM(l.lm) AS BIGINT) AS adc
         |      FROM cd JOIN l ON cd.sub = l.sub AND cd.code = l.code
         |      WHERE cd.n_id <> l.q_id GROUP BY l.q_id, cd.n_id),
         |s AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS sr FROM a) WHERE sr <= 20),
         |re AS (SELECT s.q_id, s.n_id, $COS AS score
         |       FROM s JOIN embeddings q ON q.vec_id = s.q_id
         |              JOIN embeddings n ON n.vec_id = s.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM re)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.ext.PqIndex.trainCached(dir, emb, "embedding",
        dim = 64, m = 8, nCodes = 16)
      val stage = stageDir(dir)
      // the codes table is the PQ INDEX — one build per (sf, codebook
      // fingerprint), served for every query batch (the bm25lh/annlake
      // fixture discipline); serving below re-reads it every pass
      Fixtures.stagedInput(dir, "pq_codes", 1, fp = model.fingerprint)(
        model.encode(
          Tables.fanOut(emb).select(col("vec_id").alias("n_id"),
            col("embedding").cast("array<double>").alias("vec")),
          "vec", "codes")
          .select(col("n_id"),
            posexplode(col("codes")).as(Seq("sub", "code"))))
      model.lutMicro(emb.filter(col("vec_id") < 10)
        .select(col("vec_id").alias("q_id"),
          col("embedding").cast("array<double>").alias("vec")))
        .write.mode("overwrite").parquet(s"$stage/pq_lut")
      val cd = s.read.parquet(s"$stage/pq_codes")
      val lut = s.read.parquet(s"$stage/pq_lut")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
        .orderBy(col("adc").desc, col("n_id").asc)
      val shortlist = cd.join(broadcast(lut), Seq("sub", "code"))
        .filter(col("n_id") =!= col("q_id"))
        .groupBy("q_id", "n_id").agg(sum("lm").alias("adc"))
        .withColumn("_sr", row_number().over(w)).filter(col("_sr") <= 20)
        .select("q_id", "n_id")
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(shortlist,
        vecs.filter(col("id") < 10), vecs, k = 5)
    },

    // IVF-PQ residual composition (Jégou et al. 2011 §V; FAISS's
    // IndexIVFPQ): PQ quantizes the RESIDUAL vector − cell-centroid, so
    // the same 8-byte code budget covers a far smaller dynamic range —
    // recall rises at equal bytes (AnnClusteredRecallSpec gates the
    // margin over plain PQ). The ADC score adds a per-(query, probed
    // cell) integer term to the residual-LUT sum — BOTH integer micro
    // units, so the shortlist replays exactly in DuckDB over the staged
    // codes + probes + LUT, same strength as the PQ entry.
    QueryDef("ext_sim_topk_ivfpq",
      "ANN top-5 via IVF-PQ residual encoding (16 cells 4-probe, PQ 8x16 on residuals): integer-micro ADC (cell term + residual LUT) shortlist + exact rerank, BOTH stages oracled",
      s"""WITH cd AS (SELECT n_id, cell, sub, code FROM read_parquet('$StageSql/ivfpq_codes/*.parquet')),
         |p AS (SELECT q_id, cell, qcm FROM read_parquet('$StageSql/ivfpq_probes/*.parquet')),
         |l AS (SELECT q_id, sub, code, lm FROM read_parquet('$StageSql/ivfpq_lut/*.parquet')),
         |a AS (SELECT p.q_id, cd.n_id, CAST(ANY_VALUE(p.qcm) + SUM(l.lm) AS BIGINT) AS adc
         |      FROM cd JOIN p ON cd.cell = p.cell
         |             JOIN l ON l.q_id = p.q_id AND l.sub = cd.sub AND l.code = cd.code
         |      WHERE cd.n_id <> p.q_id GROUP BY p.q_id, cd.n_id),
         |s AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS sr FROM a) WHERE sr <= 20),
         |re AS (SELECT s.q_id, s.n_id, $COS AS score
         |       FROM s JOIN embeddings q ON q.vec_id = s.q_id
         |              JOIN embeddings n ON n.vec_id = s.n_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM re)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.ext.IvfPq.trainCached(s"$dir#ivfpq", emb,
        "embedding", dim = 64, nCells = 16, m = 8, nCodes = 16)
      val stage = stageDir(dir)
      // residual-code INDEX table: one build per (sf, model fingerprint),
      // served for every query batch (the pq_codes discipline)
      Fixtures.stagedInput(dir, "ivfpq_codes", 1, fp = model.fingerprint)(
        model.encode(Tables.fanOut(emb), "vec_id", "embedding")
          .select(col("n_id"), col("cell"),
            posexplode(col("codes")).as(Seq("sub", "code"))))
      model.probes(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          nProbe = 4)
        .write.mode("overwrite").parquet(s"$stage/ivfpq_probes")
      model.lutMicro(emb.filter(col("vec_id") < 10)
          .select(col("vec_id").alias("q_id"),
            col("embedding").cast("array<double>").alias("vec")))
        .write.mode("overwrite").parquet(s"$stage/ivfpq_lut")
      val sl = graft.ext.IvfPq.shortlistFromStaged(
        s.read.parquet(s"$stage/ivfpq_codes"),
        s.read.parquet(s"$stage/ivfpq_probes"),
        s.read.parquet(s"$stage/ivfpq_lut"), shortlist = 20)
      val vecs = emb.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      Similarity.topKFromCandidates(sl, vecs.filter(col("id") < 10),
        vecs, k = 5)
    },

    // OPQ-style rotated PQ: a fixed random orthonormal rotation (OpqIndex —
    // the RR baseline of Ge et al.'s OPQ) decorrelates dimensions before
    // the same 8×16 product quantizer. Rotation is a scan-side literal
    // transform (no shuffle); the ROTATED vectors are staged, so the DuckDB
    // oracle replays the full pipeline downstream of the rotation — the
    // integer-micro ADC shortlist over staged codes+LUT AND the exact
    // rerank over the staged rotated vectors (cosine is rotation-invariant,
    // so ranks are comparable to the unrotated entries).
    QueryDef("ext_sim_topk_opq",
      "ANN top-5 via OPQ (random orthonormal rotation + PQ 8x16): ADC shortlist + exact rerank, BOTH stages oracled over staged rotated vectors",
      rotatedPqOracle("opq")) { (s, dir) =>
      rotatedPqTopK(s, dir, "opq",
        graft.ext.OpqIndex.rotationMatrix(dim = 64))
    },

    // Trained OPQ (the parametric OPQ-P solution): PCA-decorrelate, then
    // deal principal components into subspaces balancing the variance
    // products, so no codebook starves while another saturates. Same
    // staged pipeline and oracle shape as the random-rotation entry —
    // only the matrix differs.
    QueryDef("ext_sim_topk_opq_trained",
      "ANN top-5 via trained OPQ (PCA + balanced eigenvalue allocation, Ge et al. parametric) + PQ 8x16, both stages oracled",
      rotatedPqOracle("opqt")) { (s, dir) =>
      rotatedPqTopK(s, dir, "opqt",
        graft.ext.OpqIndex.rotationCached(s"$dir#opqt")(
          graft.ext.OpqIndex.trainedRotation(
            Tables.load(s, dir, "embeddings"), "embedding", dim = 64, m = 8)))
    },

    // Full OPQ (non-parametric): the alternating Lloyd + Procrustes
    // trainer (OpqIndex.alternatingRotation, monotone-descent proof in
    // OpqSpec) producing the rotation; identical staged pipeline/oracle.
    // Completes the family: random R → parametric (PCA) → jointly
    // trained.
    QueryDef("ext_sim_topk_opq_full",
      "ANN top-5 via full OPQ (alternating minimization: Lloyd + orthogonal Procrustes) + PQ 8x16, both stages oracled",
      rotatedPqOracle("opqf")) { (s, dir) =>
      rotatedPqTopK(s, dir, "opqf",
        graft.ext.OpqIndex.rotationCached(s"$dir#opqf")(
          graft.ext.OpqIndex.alternatingRotation(
            Tables.load(s, dir, "embeddings"), "embedding", dim = 64, m = 8,
            iters = 3, sampleCap = 1000)._1))
    },

    // ---- text analysis ---------------------------------------------------
    // Unicode NFC normalization — the canonical-composition pass that
    // precedes hashing/dedup/tokenization on multilingual corpora ("é"
    // composed vs decomposed is the same text, different bytes). Native
    // codegen'd expression (functions.NfcNormalize), DuckDB nfc_normalize
    // as the oracle twin. The synthetic corpus is already NFC, so this is
    // an identity pass here; the composition cases are pinned in
    // NormalizeSpec.
    QueryDef("ext_text_normalize",
      "Unicode NFC normalization (native codegen'd expression) + post-normalization char count",
      "SELECT doc_id, nfc_normalize(text) AS text_nfc, CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc FROM documents") { (s, dir) =>
      GraftFunctions.register(s)
      Tables.load(s, dir, "documents").select(col("doc_id"),
        call_function("nfc_normalize", col("text")).alias("text_nfc"),
        length(call_function("nfc_normalize", col("text")))
          .cast("long").alias("n_chars_nfc"))
    },

    QueryDef("ext_text_token_count",
      "token counting: whitespace + BPE-ish (letter/digit runs + punct marks)",
      s"""SELECT doc_id,
         |  len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS n_tokens,
         |  len(regexp_extract_all(text, '${TextAnalysis.BPEISH_PATTERN}')) AS n_bpeish
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).alias("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).alias("n_bpeish"))
    },

    QueryDef("ext_text_quality",
      "quality features: char/token counts, chars-per-token, punct & stopword ratios",
      s"""WITH t AS (SELECT doc_id, text,
         |  list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks FROM documents)
         |SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
         |  CAST(length(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS chars_per_token,
         |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for','on','with','as','at','this','be'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio
         |FROM t""".stripMargin) { (s, dir) =>
      TextAnalysis.qualityFeatures(
        Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    // Oracle mirrors the argmax-with-ties rule exactly: highest stopword
    // ratio wins, equal ratios fall to the lexicographically larger lang
    // code (the struct-max order), all-zero → 'und'. Ratios are exact
    // int/int divisions so the comparisons agree bit-for-bit.
    QueryDef("ext_text_langid",
      "language ID via stopword-profile argmax (struct lang/confidence)",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, greatest(len(toks), 1) AS n,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for','on','with','as','at','this','be'], x))) AS DOUBLE) / greatest(len(toks), 1) AS r_en,
        |    CAST(len(list_filter(toks, x -> list_contains(['le','la','les','de','et','un','une','des','du','est','dans','que','pour','sur','avec','au'], x))) AS DOUBLE) / greatest(len(toks), 1) AS r_fr,
        |    CAST(len(list_filter(toks, x -> list_contains(['el','la','los','las','de','y','un','una','es','en','que','por','con','para','del','se'], x))) AS DOUBLE) / greatest(len(toks), 1) AS r_es,
        |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ein','eine','ist','in','von','zu','den','mit','auf','für','des','im'], x))) AS DOUBLE) / greatest(len(toks), 1) AS r_de,
        |    CAST(len(list_filter(toks, x -> list_contains(['的','是','在','了','和','有','我','不','这','他','中','大','来','上','国','个'], x))) AS DOUBLE) / greatest(len(toks), 1) AS r_zh
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(r_en, r_fr, r_es, r_de, r_zh) = 0 THEN 'und'
        |       WHEN r_zh >= r_fr AND r_zh >= r_es AND r_zh >= r_en AND r_zh >= r_de THEN 'zh'
        |       WHEN r_fr >= r_es AND r_fr >= r_en AND r_fr >= r_de THEN 'fr'
        |       WHEN r_es >= r_en AND r_es >= r_de THEN 'es'
        |       WHEN r_en >= r_de THEN 'en'
        |       ELSE 'de' END AS pred_lang,
        |  CASE WHEN greatest(r_en, r_fr, r_es, r_de, r_zh) = 0 THEN 0.0
        |       ELSE greatest(r_en, r_fr, r_es, r_de, r_zh) END AS confidence
        |FROM r""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text")).alias("pred"))
        .select(col("doc_id"), col("lang"),
          col("pred.lang").alias("pred_lang"),
          col("pred.confidence").alias("confidence"))
    },

    // The data card a dataset release ships: per (source, lang) document
    // counts, token totals, and quality mass — one grouped rollup over
    // the same token/quality operators the per-doc entries oracle, so a
    // 100 TB corpus summarizes in a single partial-aggregable pass.
    // quality_mass sums through DECIMAL(18,6): both engines round the
    // identical per-doc double to 6 dp, and the decimal sum is
    // order-independent — the catalog's standing double-aggregate rule.
    QueryDef("ext_corpus_datacard",
      "corpus data card: per (source, lang) doc count, token total, quality mass in one grouped pass",
      """WITH t AS (SELECT source, lang,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_toks,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct
        |FROM documents),
        |q AS (SELECT source, lang, n_toks,
        |  (CASE WHEN n_toks < 5 THEN n_toks / 5.0 WHEN n_toks > 10000 THEN 0.5 ELSE 1.0 END)
        |  * (CASE WHEN punct > 0.3 THEN 0.3 ELSE 1.0 END) AS quality
        |FROM t)
        |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_toks AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS quality_mass
        |FROM q GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextAnalysis.tokenCount(col("text")).alias("n_toks"),
          TextAnalysis.qualityScore(col("text")).alias("quality"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).alias("n_docs"),
          sum(col("n_toks").cast("long")).alias("n_tokens"),
          sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double").alias("quality_mass"))
    },

    QueryDef("ext_text_quality_score",
      "composite quality score in [0,1] (length + punctuation heuristics)",
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_toks,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct
        |FROM documents)
        |SELECT doc_id,
        |  (CASE WHEN n_toks < 5 THEN n_toks / 5.0 WHEN n_toks > 10000 THEN 0.5 ELSE 1.0 END)
        |  * (CASE WHEN punct > 0.3 THEN 0.3 ELSE 1.0 END) AS quality
        |FROM t""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).alias("quality"))
    },

    // MODEL-BASED quality filtering (the GPT-3/CCNet classifier stage;
    // Brown et al. 2020 §A, Wenzek et al. 2020): LR on hashed
    // bag-of-words, distilled to dyadic weights and scored SCAN-SIDE as
    // a codegen'd aggregate over the token array — no shuffle, no UDF,
    // no model object on executors; training is sample-capped so its
    // cost is flat in corpus size. On synthetic testdata the weak label
    // is a lexicon marker (a production pipeline labels reference-vs-
    // crawl); the entry's substance is the machinery: the staged
    // (doc, bucket) explosion × staged (bucket, w) model replays the
    // logit EXACTLY in DuckDB (dyadic sums are association-order-free),
    // and the keep verdict is the logit's sign, so no engine's exp()
    // ulps can flip it.
    QueryDef("ext_quality_classifier",
      "model-based quality filter: hashed-linear LR scored scan-side; exact dyadic logit + keep verdict replayed from staged buckets×weights",
      s"""WITH d AS (SELECT doc_id FROM read_parquet('$StageSql/qc_docs/*.parquet')),
         |t AS (SELECT doc_id, bucket FROM read_parquet('$StageSql/qc_toks/*.parquet')),
         |w AS (SELECT bucket, w FROM read_parquet('$StageSql/qc_model/*.parquet')),
         |b AS (SELECT w AS bias FROM w WHERE bucket = -1),
         |dots AS (SELECT t.doc_id, SUM(wt.w) AS dot
         |  FROM t JOIN w wt ON t.bucket = wt.bucket GROUP BY t.doc_id)
         |SELECT d.doc_id, COALESCE(dots.dot, 0) + b.bias AS logit,
         |  COALESCE(dots.dot, 0) + b.bias >= 0 AS keep
         |FROM d LEFT JOIN dots ON d.doc_id = dots.doc_id
         |CROSS JOIN b""".stripMargin) { (s, dir) =>
      val stage = stageDir(dir)
      val docs = Tables.load(s, dir, "documents")
      val labeled = docs.withColumn("label",
        array_contains(TextAnalysis.tokens(col("text")), "slow").cast("int"))
      val model = QualityClassifier.trainCached(s"$dir#qc_slow",
        labeled, "text", "label", dim = 512, maxSample = 20000)
      // tokens/doc list are input-deterministic; the model weights stage
      // under the model's content FINGERPRINT — a JVM whose training
      // drifted restages instead of serving stale bytes
      docs.select(col("doc_id")).stageInput(dir, "qc_docs")
      Fixtures.stagedInput(dir, "qc_toks", 1)(docs.select(col("doc_id"),
        explode(QualityClassifier.buckets(col("text"), 512))
          .alias("bucket")))
      Fixtures.stagedInput(dir, "qc_model", 1, fp = model.fingerprint)(
        QualityClassifier.modelFrame(s, model).coalesce(1))
      docs.select(col("doc_id"),
        QualityClassifier.logit(col("text"), model).alias("logit"),
        QualityClassifier.keep(col("text"), model).alias("keep"))
    },

    // DSIR data selection (Xie et al. 2023): importance-resample the raw
    // corpus toward a trusted target slice. Hashed uni+bigram log-ratio
    // weights, trained driver-side from two bounded histogram passes,
    // scored scan-side as a codegen'd aggregate (dyadic weights — the
    // ext_quality_classifier exactness discipline), then the top 20% of
    // each SOURCE kept via a source-partitioned window (never a global
    // sort: selection parallelizes across domains at 100 TB, and the
    // sorted payload is (logw, doc_id), not documents). On synthetic
    // testdata the target slice is three sources standing in for a
    // curated reference corpus; the oracle replays scoring AND the rank
    // rule exactly from the staged (doc, bucket) pairs × weight table.
    QueryDef("ext_dsir_selection",
      "DSIR importance resampling: hashed-ngram log-ratio weights scored scan-side, per-source top-20% keep; exact replay from staged buckets×weights",
      s"""WITH d AS (SELECT doc_id, source FROM read_parquet('$StageSql/dsir_docs/*.parquet')),
         |t AS (SELECT doc_id, bucket FROM read_parquet('$StageSql/dsir_toks/*.parquet')),
         |w AS (SELECT bucket, w FROM read_parquet('$StageSql/dsir_model/*.parquet')),
         |lw AS (SELECT t.doc_id, SUM(wt.w) AS s
         |  FROM t JOIN w wt ON t.bucket = wt.bucket GROUP BY t.doc_id),
         |sc AS (SELECT d.doc_id, d.source, COALESCE(lw.s, 0.0) AS logw
         |  FROM d LEFT JOIN lw ON d.doc_id = lw.doc_id),
         |rk AS (SELECT doc_id, source, logw,
         |  row_number() OVER (PARTITION BY source ORDER BY logw DESC, doc_id) AS rk,
         |  COUNT(*) OVER (PARTITION BY source) AS n FROM sc)
         |SELECT doc_id, source, logw,
         |  rk <= CAST(ceil(n * 0.2) AS BIGINT) AS keep
         |FROM rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val target = docs.filter(col("source").isin("src1", "src2", "src3"))
      // maxSample exceeds every test-scale corpus, so the capped limit()
      // is total (deterministic); at production scale the cap bounds the
      // two training passes and only scoring touches the full corpus.
      // Cached per JVM — the streaming variant (st47) reuses this fit.
      val model = Dsir.trainCached(s"$dir#dsir_src123", target, docs, "text",
        dim = 1024, maxSample = 1000000)
      docs.select(col("doc_id"), col("source")).stageInput(dir, "dsir_docs")
      Fixtures.stagedInput(dir, "dsir_toks", 1)(docs.select(col("doc_id"),
        explode(Dsir.ngramBuckets(col("text"), 1024)).alias("bucket")))
      Fixtures.stagedInput(dir, "dsir_model", 1, fp = model.fingerprint)(
        Dsir.modelFrame(s, model).coalesce(1))
      val scored = docs.select(col("doc_id"), col("source"),
        Dsir.logWeight(col("text"), model).alias("logw"))
      val bySource = Window.partitionBy("source")
      val rk = row_number().over(
        bySource.orderBy(col("logw").desc, col("doc_id").asc))
      scored
        .withColumn("rk", rk)
        .withColumn("n", count(lit(1)).over(bySource))
        .select(col("doc_id"), col("source"), col("logw"),
          (col("rk") <= ceil(col("n") * 0.2)).alias("keep"))
    },

    // Gopher quality rules (Rae et al. 2021, Table A1 — the filter set
    // most open-data pipelines start from), as a rule-by-rule verdict so
    // a pipeline can both gate on `pass` and audit WHICH rule rejected a
    // document. All arithmetic is exact int/int → one IEEE division, so
    // the booleans agree bit-for-bit across engines. Thresholds are the
    // published ones (50–100k tokens, mean token length 3–10, symbol
    // ratio < 0.1, ≥2 common-word hits).
    QueryDef("ext_quality_gopher",
      "Gopher quality rules: per-rule booleans + overall pass verdict per doc",
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks FROM documents),
        |r AS (SELECT doc_id, len(toks) AS n_toks,
        |  CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE) / greatest(len(toks), 1) AS mean_len,
        |  CAST(len(list_filter(toks, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE) / greatest(len(toks), 1) AS sym_ratio,
        |  len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for','on','with','as','at','this','be'], lower(x)))) AS n_stop
        |FROM t)
        |SELECT doc_id,
        |  n_toks >= 50 AND n_toks <= 100000 AS r_n_tokens,
        |  mean_len >= 3 AND mean_len <= 10 AS r_mean_len,
        |  sym_ratio < 0.1 AS r_symbol,
        |  n_stop >= 2 AS r_common_words,
        |  n_toks >= 50 AND n_toks <= 100000 AND mean_len >= 3 AND mean_len <= 10
        |    AND sym_ratio < 0.1 AND n_stop >= 2 AS pass
        |FROM r""".stripMargin) { (s, dir) =>
      val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it",
        "that", "for", "on", "with", "as", "at", "this", "be")
      val toks = TextAnalysis.tokens(col("text"))
      val nToks = size(col("toks"))
      val denom = greatest(nToks, lit(1))
      val meanLen = aggregate(transform(col("toks"), t => length(t)),
        lit(0), (a, x) => a + x).cast("double") / denom
      val symRatio = size(filter(col("toks"),
        t => t.contains("#") || t.contains("..."))).cast("double") / denom
      val nStop = size(filter(col("toks"),
        t => lower(t).isInCollection(stop)))
      Tables.load(s, dir, "documents")
        .withColumn("toks", toks)
        .select(col("doc_id"),
          (nToks >= 50 && nToks <= 100000).alias("r_n_tokens"),
          (meanLen >= 3 && meanLen <= 10).alias("r_mean_len"),
          (symRatio < 0.1).alias("r_symbol"),
          (nStop >= 2).alias("r_common_words"))
        .withColumn("pass", col("r_n_tokens") && col("r_mean_len") &&
          col("r_symbol") && col("r_common_words"))
    },

    QueryDef("ext_text_scrub",
      "PII-ish scrubbing: mask emails and URLs (RE2-safe patterns)",
      s"""SELECT doc_id, regexp_replace(regexp_replace(text,
         | '${TextAnalysis.EMAIL_PATTERN}', '<EMAIL>', 'g'),
         | '${TextAnalysis.URL_PATTERN}', '<URL>', 'g') AS text_scrubbed
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.scrub(col("text")).alias("text_scrubbed"))
    },

    QueryDef("ext_text_repetition",
      "max single-token frequency ratio (Gopher-style repetition filter)",
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(list_max(list_transform(list_distinct(toks),
        |       w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)
        |  / CAST(greatest(len(toks), 1) AS DOUBLE) AS rep_ratio
        |FROM t""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text")).alias("rep_ratio"))
    },

    // One row per distinct (doc, fingerprint): sortable for the verifier
    // (raw array columns crash its pandas sort) — the array-typed form
    // stays available as TextAnalysis.fingerprintsDf / fingerprints.
    // The shingle hashes are Spark-xxhash64 (staged); the winnowing
    // band-min pass is pure arithmetic, recomputed by DuckDB over the
    // staged hashes (list slices clamp identically in both engines; an
    // empty hash array yields one NULL fingerprint in both).
    QueryDef("ext_text_fingerprint",
      "winnowing-style rolling-hash document fingerprints (xxhash64), band-min pass oracled over staged hashes",
      s"""WITH h AS (SELECT id, hs FROM read_parquet('$StageSql/fp_hashes/*.parquet')),
         |b AS (SELECT id, hs, greatest(CAST(ceil(len(hs) / 4.0) AS INT), 1) AS nb FROM h)
         |SELECT DISTINCT b.id AS doc_id, list_min(b.hs[u.i*4+1 : u.i*4+4]) AS fp
         |FROM b, UNNEST(range(0, b.nb)) AS u(i)""".stripMargin) { (s, dir) =>
      GraftFunctions.register(s)
      val hashed = Tables.load(s, dir, "documents").select(
        col("doc_id").alias("id"),
        Dedup.shingleHashes(col("text"), 5).alias("hs"))
      val stage = stageDir(dir)
      hashed.write.mode("overwrite").parquet(s"$stage/fp_hashes")
      s.read.parquet(s"$stage/fp_hashes")
        .select(col("id").alias("doc_id"),
          explode(TextAnalysis.fingerprintBands(col("hs"), 4)).alias("fp"))
    },

    // ---- multimodal ------------------------------------------------------
    QueryDef("ext_mm_media_table",
      "media table: opaque binary payload + typed metadata columns",
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  source, octet_length(encode(text)) AS n_bytes
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.mediaTable(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source")
        .select("media_id", "kind", "source", "n_bytes")
    },

    // The stub codec is deterministic arithmetic over payload length, so
    // even the decode pass is oracle-checkable end-to-end.
    QueryDef("ext_mm_decode",
      "partition-wise decode pass over media payloads (stub codec)",
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n FROM documents)
        |SELECT media_id, kind,
        |  CAST(256 + n % 1024 AS INT) AS width,
        |  CAST(256 + (n // 7) % 1024 AS INT) AS height,
        |  CAST(CASE WHEN kind = 'image' THEN 1 ELSE 1 + n % 30 END AS INT) AS n_frames,
        |  true AS ok
        |FROM m""".stripMargin) { (s, dir) =>
      implicit val sp = s
      import s.implicits._
      val media = Multimodal.mediaTable(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source").as[Multimodal.MediaItem]
      Multimodal.decodeAll(media).toDF()
    },

    // posexplode to (media_id, f_idx, f_val): same array-sortability rule as
    // ext_text_fingerprint; the Array[Float] form stays the library output.
    // The stub codec's slots are integer byte-sums (order-free, exact in
    // f32), so the payload bytes are STAGED and DuckDB recomputes every
    // feature slot via unnest+group-by — the dedup family's staged-parquet
    // pattern applied to the multimodal path.
    QueryDef("ext_mm_features",
      "batched feature extraction from payload bytes (stub codec), one row per feature slot; slot sums oracled over staged bytes",
      s"""WITH b AS (SELECT media_id, bs FROM read_parquet('$StageSql/mm_bytes/*.parquet')),
         |slots AS (SELECT media_id, CAST(r.i AS INT) AS f_idx FROM b, UNNEST(range(0, 16)) AS r(i)),
         |u AS (SELECT media_id, CAST(u.i % 16 AS INT) AS f_idx, bs[CAST(u.i AS INT) + 1] AS v
         |      FROM b, UNNEST(range(0, len(bs))) AS u(i)),
         |sums AS (SELECT media_id, f_idx, SUM(v) AS sm FROM u GROUP BY media_id, f_idx)
         |SELECT slots.media_id, slots.f_idx, CAST(COALESCE(sums.sm, 0) AS REAL) AS f_val
         |FROM slots LEFT JOIN sums ON slots.media_id = sums.media_id AND slots.f_idx = sums.f_idx""".stripMargin) { (s, dir) =>
      implicit val sp = s
      import s.implicits._
      val media = Multimodal.mediaTable(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source").as[Multimodal.MediaItem]
      val stage = stageDir(dir)
      Fixtures.stagedInput(dir, "mm_bytes", 1)(
        media.map(m => (m.media_id, m.payload.map(b => b & 0xff)))
          .toDF("media_id", "bs"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"),
          posexplode(col("features")).as(Seq("f_idx", "f_val")))
    },

    QueryDef("ext_mm_frame_sample",
      "frame sampling over decoded video rows",
      """WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n
        |           FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, CAST(u.frame_idx AS INT) AS frame_idx
        |FROM m, UNNEST(range(0, 1 + n % 30, 10)) AS u(frame_idx)""".stripMargin) { (s, dir) =>
      implicit val sp = s
      import s.implicits._
      val media = Multimodal.mediaTable(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source").as[Multimodal.MediaItem]
      Multimodal.sampleFrames(Multimodal.decodeAll(media))
    },

    // Perceptual-hash image dedup — the multimodal twin of the SimHash
    // text entry: dHash(64) per image through the once-per-partition
    // codec shape, then 4×16-bit Hamming bands (Manku et al. 2007's
    // table construction — LOSSLESS at radius ≤3 by pigeonhole, pinned
    // in PhashSpec) as the equi-join candidate stage, exact
    // bit_count(xor) verify on survivors. Never all-pairs: candidates
    // follow band-bucket sizes. The decode is engine-specific (the stub
    // codec's byte-fold), so hashes are STAGED — the minhash precedent —
    // and DuckDB replays banding AND the Hamming verify from the staged
    // hashes with its own bit arithmetic (arithmetic shift + mask gives
    // identical band values for signed 64-bit in both engines).
    QueryDef("ext_dedup_phash",
      "perceptual-hash image dedup: dHash(64) + 4×16-bit Hamming bands (lossless ≤3) + exact bit_count verify; banding+verify oracled over staged hashes",
      s"""WITH h AS (SELECT id, ph FROM read_parquet('$StageSql/phash_hashes/*.parquet')),
         |b AS (SELECT id, ph, j, (ph >> CAST(16 * j AS INT)) & 65535 AS bv
         |  FROM h CROSS JOIN range(4) AS t(j)),
         |c AS (SELECT DISTINCT a.id AS id_a, bb.id AS id_b
         |  FROM b a JOIN b bb ON a.j = bb.j AND a.bv = bb.bv AND a.id < bb.id)
         |SELECT c.id_a, c.id_b, CAST(bit_count(xor(x.ph, y.ph)) AS INT) AS dist
         |FROM c JOIN h x ON c.id_a = x.id JOIN h y ON c.id_b = y.id
         |WHERE bit_count(xor(x.ph, y.ph)) <= 3""".stripMargin) { (s, dir) =>
      implicit val sp = s
      import s.implicits._
      val images = Multimodal.mediaTable(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source").as[Multimodal.MediaItem]
        .filter(col("kind") === "image")
      Fixtures.stagedInput(dir, "phash_hashes", 1)(
        Multimodal.perceptualHashes(images))
      val h = s.read.parquet(s"${stageDir(dir)}/phash_hashes")
      val bands = Multimodal.phashBands(h)
      val cand = bands.select(col("j"), col("bv"), col("id").alias("id_a"))
        .join(bands.select(col("j"), col("bv"), col("id").alias("id_b")),
          Seq("j", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      cand
        .join(h.select(col("id").alias("id_a"), col("ph").alias("ph_a")),
          Seq("id_a"))
        .join(h.select(col("id").alias("id_b"), col("ph").alias("ph_b")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int")
            .alias("dist"))
        .filter(col("dist") <= 3)
    }
  )
}
