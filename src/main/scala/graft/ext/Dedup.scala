package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.GraftFunctions
import graft.functions.VectorFunctions.cosineNative

/** Deduplication family for large-scale corpus cleaning (SURVEY.md §7.5):
  * exact, MinHash+LSH, SimHash, blocked n-gram Jaccard, embedding near-dup.
  *
  * Scale design: no all-pairs comparison anywhere. Every near-dup variant is
  * (1) a per-row signature computed scan-side in codegen'd expressions,
  * (2) an equi-join on a bucket/band key (hash-partitionable shuffle whose
  * fan-out is bounded by bucket size), (3) an exact verify on the surviving
  * candidate pairs only. That is the standard MinHash-LSH shape that holds at
  * 100 TB: cost ≈ corpus scan + |candidates|, never |corpus|².
  */
object Dedup {

  /** Word tokens (lowercased, whitespace-split, empties dropped): the
    * native [[graft.functions.WsTokens]] byte scan, which needs
    * [[graft.functions.GraftExtensions]] or [[GraftFunctions.register]] on
    * the session (`Graft.session` installs the extensions). */
  def tokens(text: Column): Column = call_function("ws_tokens", lower(text))

  /** `xxhash64` of each [[tokens]] token, hashed in the scan
    * ([[graft.functions.WsTokenHashes]]): no token strings are built. */
  def tokenHashes(text: Column): Column =
    call_function("ws_token_hashes", lower(text))

  /** Distinct word set. */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram shingles as strings. */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) < n, array(array_join(t, " ")))
      .otherwise(transform(
        sequence(lit(0), size(t) - n),
        i => array_join(slice(t, i + 1, lit(n)), " ")))
  }

  /** Exact dedup: group identical keys, keep the smallest id as canonical.
    * (Hash-partitioned group-by; deterministic unlike dropDuplicates'
    * arbitrary-row-wins.) */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).alias("canonical_id"),
        count(lit(1)).alias("copies"))

  /** Shingle hashes without shingle strings: one xxhash64 per TOKEN
    * ([[tokenHashes]]), then the native
    * [[graft.functions.ShingleHashes]] rolling combiner produces the n-gram
    * hashes (same discriminative power as hashing joined shingle
    * strings, none of the string allocation). MATERIALIZE the result as a
    * column before deriving signatures. Requires [[GraftFunctions.register]]
    * (callers here handle it). */
  def shingleHashes(text: Column, shingleSize: Int): Column =
    call_function("shingle_hashes", tokenHashes(text), lit(shingleSize))

  /** MinHash signature from a MATERIALIZED hash-array column — the native
    * [[graft.functions.MinHashSig]] expression computes all seeds in one
    * generated loop over the array (the HOF formulation walks the array
    * once per seed). Requires [[GraftFunctions.register]] (callers here
    * handle it). */
  def minhashFromHashes(hashCol: Column, numHashes: Int): Column =
    call_function("minhash_sig", hashCol, lit(numHashes))

  /** Column-API convenience (single use only — for pipelines, prefer
    * materializing [[shingleHashes]] then [[minhashFromHashes]]). */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    minhashFromHashes(transform(shingleCol, s => xxhash64(s)), numHashes)

  /** Pick (bands, rowsPerBand) for a target Jaccard threshold: the LSH
    * S-curve's inflection sits at t ≈ (1/b)^(1/r); choose the split of
    * `numHashes` whose inflection lands closest to the target. Callers
    * tune recall/precision by nudging the threshold they pass here. */
  def bandsFor(numHashes: Int, threshold: Double): (Int, Int) = {
    val candidates = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map { b =>
        val r = numHashes / b
        (b, r, math.pow(1.0 / b, 1.0 / r))
      }
    val (b, r, _) = candidates.minBy { case (_, _, t) =>
      math.abs(t - threshold)
    }
    (b, r)
  }

  /** Drop bucket keys whose row count exceeds `cap` before a within-bucket
    * self-join: a hot bucket (empty/boilerplate texts collapsing to one
    * signature) is quadratic in its size — at corpus scale one such bucket
    * stalls the stage. Rows in over-cap buckets are *dropped from candidate
    * generation* (they are near-identical boilerplate; run [[exact]] dedup
    * first to collapse them).
    *
    * The size is a `count(1)` window partitioned by the bucket keys, so it
    * is counted inside the shuffle the join needs anyway: the output is
    * already hash-partitioned on the join keys, both sides of a self-join
    * read that one exchange (AQE reuses it), and the rows upstream of it
    * (the MinHash signatures) are computed once. A group-by joined back
    * made each side re-derive the rows in its own stage. The window's
    * buffer spills, so a hot bucket is never collected into memory, and
    * it is still dropped before any pair is enumerated. */
  private def capBuckets(rows: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    rows.withColumn("_bucket_n",
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("_bucket_n") <= cap)
      .drop("_bucket_n")

  /** Per-document distinct shingle-hash set — the exact-Jaccard verify
    * payload (8-byte hashes, not shingle strings). Input: (id, hs) from
    * [[shingleHashes]]. */
  def shingleSets(hashed: DataFrame): DataFrame =
    // sorted once per DOCUMENT so every pairwise verify downstream is a
    // primitive merge-walk (jaccardSorted) instead of a per-pair hash set
    hashed.select(col("id"),
      array_sort(array_distinct(col("hs"))).alias("toks"))

  /** Banded-LSH candidate pairs from (id, hs) shingle-hash rows.
    * Band rows carry ONLY (id, band, band_hash) — 24 bytes/row — through
    * the bands-way-replicated candidate shuffle; the heavy sets join in at
    * the verify stage, once per surviving candidate side.
    *
    * @return distinct (id_a, id_b) with id_a < id_b
    */
  def minhashBandCandidates(hashed: DataFrame, numHashes: Int, bands: Int,
      maxBucket: Int = 10000): DataFrame = {
    val banded = minhashBandTable(hashed, numHashes, bands)
    val capped = capBuckets(banded, Seq("band", "band_hash"), maxBucket)
    val a = capped.select(col("band"), col("band_hash"), col("id").alias("id_a"))
    val b = capped.select(col("band"), col("band_hash"), col("id").alias("id_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** (id, band, band_hash) MinHash band table — the PERSISTABLE DEDUP
    * INDEX. [[minhashBandCandidates]] is its self-join;
    * [[incrementalCandidates]] joins a new batch's band table against a
    * stored one, which is what dedup against a 100 TB corpus actually
    * looks like day-to-day: the corpus is banded once, each incremental
    * batch costs O(|batch|) — never a corpus rescan, never a corpus
    * self-join. Store partitioned/bucketed by (band, band_hash) and the
    * incremental join needs no corpus-side shuffle at all. */
  def minhashBandTable(hashed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    hashed
      .select(col("id"), minhashFromHashes(col("hs"), numHashes).alias("sig"))
      .select(col("id"),
        posexplode(array((0 until bands).map(b =>
          hash(lit(b), slice(col("sig"), b * rows + 1, rows))): _*))
          .as(Seq("band", "band_hash")))
  }

  /** Candidate (id_new, id_idx) pairs of a new batch against a stored
    * band-table index ([[minhashBandTable]]): equi-join on (band,
    * band_hash). Hot buckets are capped on BOTH sides (the blowup per
    * bucket is |new ∩ bucket| × |index ∩ bucket|; see [[capBuckets]]). */
  def incrementalCandidates(newBands: DataFrame, indexBands: DataFrame,
      maxBucket: Int = 10000): DataFrame = {
    val nb = capBuckets(newBands, Seq("band", "band_hash"), maxBucket)
      .select(col("band"), col("band_hash"), col("id").alias("id_new"))
    val ib = capBuckets(indexBands, Seq("band", "band_hash"), maxBucket)
      .select(col("band"), col("band_hash"), col("id").alias("id_idx"))
    nb.join(ib, Seq("band", "band_hash"))
      .filter(col("id_new") =!= col("id_idx"))
      .select("id_new", "id_idx")
      .dropDuplicates("id_new", "id_idx")
  }

  /** One micro-batch of the day-2 incremental-dedup ingest (the st42
    * entry and IncrementalDedupSpec's crash-replay case share this
    * body): band the batch, probe the PERSISTED index for candidates,
    * verify survivors by exact Jaccard, and land pairs + the batch's
    * bands/sets under the growing index. REPLAY-IDEMPOTENT: every write
    * goes to its own `batch=<id>` partition with OVERWRITE — a crash
    * between any write and the stream's checkpoint commit re-delivers
    * the batch, and the replay then replaces its own partitions
    * byte-equal instead of appending duplicates. The probe reads only
    * STRICTLY EARLIER batches, so a replayed batch never joins the
    * bands its first attempt already wrote. */
  def incrementalDedupBatch(s: SparkSession, hashed: DataFrame,
      batchId: Long, idxBands: String, idxSets: String, sink: String,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.2): Unit = {
    val b = minhashBandTable(hashed, numHashes, bands).localCheckpoint(true)
    val sets = shingleSets(hashed).localCheckpoint(true)
    if (new java.io.File(idxBands).exists()) {
      val priorBands = s.read.parquet(idxBands)
        .filter(col("batch") < batchId).drop("batch")
      val priorSets = s.read.parquet(idxSets)
        .filter(col("batch") < batchId).drop("batch")
      verifyJaccardIncremental(
        incrementalCandidates(b, priorBands), sets, priorSets, threshold)
        .write.mode("overwrite").parquet(s"$sink/batch=$batchId")
    }
    b.write.mode("overwrite").parquet(s"$idxBands/batch=$batchId")
    sets.write.mode("overwrite").parquet(s"$idxSets/batch=$batchId")
  }

  /** Verify incremental candidates with exact Jaccard across the two
    * shingle-set tables (batch side and index side). */
  def verifyJaccardIncremental(candidates: DataFrame, newSets: DataFrame,
      indexSets: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(newSets.withColumnRenamed("id", "id_new")
        .withColumnRenamed("toks", "toks_new"), Seq("id_new"))
      .join(indexSets.withColumnRenamed("id", "id_idx")
        .withColumnRenamed("toks", "toks_idx"), Seq("id_idx"))
      .select(col("id_new"), col("id_idx"),
        jaccardSorted(col("toks_new"), col("toks_idx")).alias("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact-Jaccard verify stage: join candidate pairs back to their
    * shingle-hash sets, keep pairs at/above `threshold`. */
  def verifyJaccard(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(sets.withColumnRenamed("id", "id_a")
        .withColumnRenamed("toks", "toks_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("id", "id_b")
        .withColumnRenamed("toks", "toks_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("toks_a"), col("toks_b")).alias("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Banded LSH candidate pairs + exact Jaccard verify (over distinct
    * shingle-hash sets — same granularity MinHash estimates, and cheaper
    * to carry through the join than shingle strings). Composition of
    * [[shingleHashes]] → [[minhashBandCandidates]] → [[verifyJaccard]];
    * at corpus scale, persist/checkpoint the hashed scan branch instead of
    * recomputing it per stage.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 10000): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val hashed = df.select(col(idCol).alias("id"),
      shingleHashes(col(textCol), shingleSize).alias("hs"))
    verifyJaccard(
      minhashBandCandidates(hashed, numHashes, bands, maxBucket),
      shingleSets(hashed), threshold)
  }

  /** Exact Jaccard over two pre-deduplicated arrays (hash-set form —
    * order-insensitive; prefer [[jaccardSorted]] on sorted sets). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** Exact Jaccard over two SORTED duplicate-free `array<long>` sets via
    * the native merge-walk ([[graft.functions.SortedIntersectSize]]):
    * |A∩B| / (|A| + |B| − |A∩B|), bit-identical to [[jaccard]] on distinct
    * inputs and allocation-free per pair — the verify-stage form for every
    * all-pairs block (r8 probe: per-pair hash sets dominated
    * ext_dedup_jaccard_blocked at 10× data). Callers must build sets with
    * `array_sort(array_distinct(...))` (see [[shingleSets]]). */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = call_function("sorted_intersect_size", a, b).cast(DoubleType)
    inter / (size(a).cast(DoubleType) + size(b).cast(DoubleType) - inter)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: chunk the 64-bit signature into `chunks`
    * pieces; by pigeonhole any pair within Hamming distance < chunks shares
    * at least one chunk, so candidates are an equi-join on (chunk_idx,
    * chunk_value). Verify with exact Hamming.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4, maxBucket: Int = 10000): DataFrame =
    simhashPairsFromSigs(simhashSigs(df, idCol, textCol), maxHamming, chunks,
      maxBucket)

  /** (id, sig) SimHash signature table — materialize/stage this once per
    * corpus; the pairing stage ([[simhashPairsFromSigs]]) reads it back. */
  def simhashSigs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).alias("id"), simhashValue(col(textCol)).alias("sig"))
  }

  /** Pigeonhole chunk-blocked pairing over a (id, sig) signature table,
    * Hamming-verified, hot buckets capped (see [[capBuckets]]). */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
      chunks: Int = 4, maxBucket: Int = 10000): DataFrame = {
    val width = 64 / chunks
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("sig"), c * width).bitwiseAND(lit((1L << width) - 1))): _*))
        .as(Seq("chunk", "chunk_val")))
    val capped = capBuckets(chunked, Seq("chunk", "chunk_val"), maxBucket)
    val a = capped.select(col("chunk"), col("chunk_val"),
      col("id").alias("id_a"), col("sig").alias("sig_a"))
    val b = capped.select(col("chunk"), col("chunk_val"),
      col("id").alias("id_b"), col("sig").alias("sig_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).alias("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash value via the native [[graft.functions.SimHash64]]
    * expression: one hash per token ([[tokenHashes]]), then a single
    * generated vote loop. Requires [[GraftFunctions.register]] on the
    * session. */
  def simhashValue(text: Column): Column =
    call_function("simhash64", tokenHashes(text))

  /** Blocked exact n-gram Jaccard pairs: equi-block on cheap metadata
    * (language + length BUCKET — both in the join key) then verify —
    * SQL-expressible, used as the oracle-checkable member of the near-dup
    * family.
    *
    * Scale shape (r8 probe finding): with only `lang` in the equi-key
    * (a handful of values) the pair enumeration is quadratic per language
    * — the length tolerance must ride the JOIN KEY, not a post-join
    * filter. One side buckets length at width lenTol+1; the other side
    * explodes to the ≤2 buckets its ±lenTol window can land in, so every
    * qualifying pair meets in exactly one (lang, bucket) block and blocks
    * stay tolerance-sized. A cheap exact prefilter (min set size ≥
    * threshold × max — implied by jaccard ≥ threshold) skips the array
    * intersection for hopeless pairs. Result set is IDENTICAL to the
    * declarative predicate; only the enumeration shrinks. */
  def blockedJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      lenCol: String, lenTol: Int, threshold: Double): DataFrame = {
    // carry 8-byte token hashes through the join instead of the token
    // strings: identical Jaccard values (collisions ~2^-64), a fraction of
    // the shuffle bytes; sorted once per doc so the per-pair verify is the
    // allocation-free merge-walk (jaccardSorted)
    GraftFunctions.register(df.sparkSession)
    val hashedSet = array_sort(array_distinct(tokenHashes(col(textCol))))
    val w = lenTol + 1
    val a = df.select(col(idCol).alias("id_a"), col(langCol).alias("lang"),
      col(lenCol).alias("len_a"), hashedSet.alias("toks_a"),
      floor(col(lenCol) / w).alias("blk"))
    val b = df.select(col(idCol).alias("id_b"), col(langCol).alias("lang"),
      col(lenCol).alias("len_b"), hashedSet.alias("toks_b"),
      explode(sequence(floor((col(lenCol) - lenTol) / w),
        floor((col(lenCol) + lenTol) / w))).alias("blk"))
    a.join(b, Seq("lang", "blk"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= lenTol)
      .filter(least(size(col("toks_a")), size(col("toks_b"))) >=
        greatest(size(col("toks_a")), size(col("toks_b"))) * threshold)
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("toks_a"), col("toks_b")).alias("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (id, vec, bucket) hyperplane-LSH bucket assignment — the stage to
    * materialize/checkpoint before pairing at corpus scale. */
  def embeddingBuckets(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val sig = Similarity.lshSignature(col(vecCol), Similarity.planes(nPlanes, dim, seed))
    df.select(col(idCol).alias("id"), col(vecCol).alias("vec"),
      sig.alias("bucket"))
  }

  /** Within-bucket cosine-verified pairing over a bucketed table; hot
    * buckets capped (see [[capBuckets]]). */
  def embeddingPairsFromBuckets(bucketed: DataFrame, threshold: Double,
      maxBucket: Int = 10000): DataFrame = {
    GraftFunctions.register(bucketed.sparkSession)
    val capped = capBuckets(bucketed, Seq("bucket"), maxBucket)
    val a = capped.select(col("bucket"), col("id").alias("id_a"),
      col("vec").alias("vec_a"))
    val b = capped.select(col("bucket"), col("id").alias("id_b"),
      col("vec").alias("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineNative(col("vec_a"), col("vec_b")).alias("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding near-dup: LSH-bucketed cosine > threshold pairs. Hot buckets
    * (all-zero / boilerplate embeddings collapsing to one signature) are
    * capped — see [[capBuckets]]. */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nPlanes: Int = 8, dim: Int = 64,
      seed: Long = 42L, maxBucket: Int = 10000): DataFrame =
    embeddingPairsFromBuckets(
      embeddingBuckets(df, idCol, vecCol, nPlanes, dim, seed),
      threshold, maxBucket)

  /** Connected components over an undirected near-dup pair list → one row
    * per vertex `(id, comp)`, `comp` = the smallest id reachable from `id`.
    *
    * Pair-wise dedup is not enough to pick survivors: near-duplication is
    * transitive in practice (A≈B, B≈C but A and C never became a candidate
    * pair), and keeping "the smaller id of each pair" can drop BOTH of A, C
    * or keep both. Components give each duplicate CLUSTER exactly one
    * canonical representative — the standard last stage of a corpus dedup
    * pipeline after [[minhashLshPairs]] / [[simhashPairs]].
    *
    * Algorithm: min-label propagation with pointer jumping. Every round
    * each vertex first takes the min of its own label and its neighbors'
    * labels (one hop), then replaces its label with its LABEL's label
    * (the pointer-jumping/path-halving step — labels are always vertex
    * ids, so the label table self-joins). One hop alone needs
    * graph-diameter rounds; the jump composes the label chain with
    * itself, so chain depth roughly halves per round and rounds are
    * O(log n) even for adversarially long chains (same bound as the
    * alternating large-star/small-star algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14, with
    * simpler rounds: the near-dup graphs this serves are many tiny
    * clusters, so per-round cost is dominated by the fixed shuffle, not
    * the fan-out those variants optimize). Non-convergence within
    * `maxIters` throws rather than returning silently-wrong labels.
    *
    * Each round's result is `localCheckpoint`ed: the iterative join plan
    * otherwise grows a level per round and analysis cost, not data, becomes
    * the bottleneck. On a multi-executor cluster prefer reliable
    * `checkpoint` (localCheckpoint pins blocks to executors and cannot
    * survive their loss).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 100): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").alias("src"), col(bCol).cast("long").alias("dst"))
      .union(pairs.select(col(bCol).cast("long").alias("src"), col(aCol).cast("long").alias("dst")))
      .distinct()
      .persist()
    var labels = edges.select(col("src").alias("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var round = 0
    var converged = false
    while (!converged && round < maxIters) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").alias("id"))
        .agg(min("comp").alias("nbr_comp"))
      val hopped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").alias("_old"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).alias("comp"))
      // pointer jump: comp ← comp(comp). Labels are vertex ids, so every
      // comp value has a labels row; monotone non-increasing, hence safe.
      val next = hopped
        .join(labels.select(col("id").alias("comp"),
          col("comp").alias("_jump")), Seq("comp"), "left")
        .select(col("id"), col("_old"),
          least(col("comp"), coalesce(col("_jump"), col("comp"))).alias("comp"))
        .localCheckpoint(true)
      converged = next.filter(col("comp") < col("_old")).isEmpty
      labels = next.drop("_old")
      round += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds — " +
        "graph diameter exceeds the cap; raise maxIters or switch to the " +
        "alternating-star algorithm (see scaladoc)")
    labels
  }

  /** Keep exactly one document per duplicate cluster: rows whose id is its
    * component's canonical (minimum) id survive; rows in no pair survive
    * untouched (left-anti join against the non-canonical vertex set). */
  def dropNearDuplicates(df: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("comp") =!= col("id"))
      .select(col("id").alias("_loser_id"))
    df.join(losers, df(idCol) === col("_loser_id"), "left_anti")
  }

  // ---------------------------------------------------------------------
  // Substring-level (duplicate-span) dedup — the EXACT-substring shape of
  // Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  // Better" (arXiv:2107.06499): whole-document near-dup misses the long
  // verbatim passages (licenses, boilerplate, quoted news wire) that
  // repeat across otherwise-distinct documents. Their suffix-array build
  // is single-machine; the distributed re-expression here is the standard
  // rolling-window one: every k-token window hashes to 8 bytes scan-side,
  // a window seen at >1 position corpus-wide marks its positions
  // duplicated, and per-document overlapping windows merge into maximal
  // spans with one lag() window function. Cost: one shuffle of
  // (id, pos, h) on h (O(corpus tokens), partial-aggregated) + a per-doc
  // sort — no suffix array, no driver state, holds at 100 TB.
  // ---------------------------------------------------------------------

  /** One row per k-token window: (id, pos, h) with `h` the order-sensitive
    * rolling hash of tokens[pos..pos+k). Computed scan-side from the
    * codegen'd [[shingleHashes]] expression — no shingle strings are ever
    * materialized. Requires [[GraftFunctions.register]]. */
  def windowHashes(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).alias("id"),
        shingleHashes(col(textCol), k).alias("_hs"))
      .select(col("id"), posexplode(col("_hs")).as(Seq("pos", "h")))

  /** Per-document duplicated-span metrics from a (id, pos, h) window
    * frame: `dup_windows` (positions whose window repeats ANYWHERE in the
    * corpus, including within-document), `dup_spans` (maximal merged
    * runs), `dup_tokens` (tokens covered by the union of duplicated
    * windows — overlaps counted once: a window starting within k of its
    * predecessor contributes only the gap). Documents with no duplicated
    * window are absent (join LEFT and coalesce to 0 downstream).
    *
    * The union-of-intervals size needs no interval tree: windows all have
    * length k, so sorted by start, each contributes min(gap, k) — one
    * lag() over (id, pos), fully distributed. */
  def duplicateSpans(windows: DataFrame, k: Int): DataFrame = {
    val dup = windows.groupBy("h")
      .agg(count(lit(1)).alias("_n")).filter(col("_n") > 1).select("h")
    val marked = windows.join(dup, Seq("h")).select("id", "pos")
    val w = Window.partitionBy("id").orderBy("pos")
    val starts = marked.withColumn("_gap", col("pos") - lag("pos", 1).over(w))
    starts.groupBy("id").agg(
      count(lit(1)).alias("dup_windows"),
      sum(when(col("_gap").isNull || col("_gap") >= k, 1L).otherwise(0L))
        .alias("dup_spans"),
      sum(when(col("_gap").isNull || col("_gap") >= k, k.toLong)
        .otherwise(col("_gap"))).alias("dup_tokens"))
  }

  /** Remove every duplicated span's tokens from the text (the Lee et al.
    * scrub): a token at index t is covered iff some duplicated window
    * starts in (t-k, t]. The per-document duplicated start positions ride
    * as ONE sorted array column (document-sized — bounded by definition),
    * and the native [[graft.functions.ScrubCoveredTokens]] merge-walk
    * keeps the uncovered tokens in O(tokens + starts) — no per-token
    * join, no per-token rescan of the starts array (the HOF `exists`
    * form was O(tokens × starts) on an adversarially all-duplicated
    * document), no second shuffle beyond the span detection itself.
    * Documents with nothing duplicated pass through verbatim. */
  def scrubDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val windows = windowHashes(df, idCol, textCol, k)
    val dup = windows.groupBy("h")
      .agg(count(lit(1)).alias("_n")).filter(col("_n") > 1).select("h")
    // reserved-name join key: the caller's idCol may itself be "id",
    // and drop("id") would take BOTH columns with it
    val dupStarts = windows.join(dup, Seq("h"))
      .groupBy("id").agg(sort_array(collect_list("pos")).alias("_starts"))
      .withColumnRenamed("id", "__sspan_id")
    df.join(dupStarts, df(idCol) === dupStarts("__sspan_id"), "left")
      .drop("__sspan_id")
      .withColumn(textCol,
        when(col("_starts").isNull, col(textCol)).otherwise(
          array_join(call_function("scrub_covered_tokens",
            tokens(col(textCol)), col("_starts"), lit(k)), " ")))
      .drop("_starts")
  }
}
