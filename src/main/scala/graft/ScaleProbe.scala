package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-tool main (VERDICT r6 item 9, extended full-catalog in r8): probe
  * EVERY catalog entry at ~sf1.0 — 10× the largest generated testdata —
  * and record the scaling ratio in PERF.md. Anything super-linear past
  * shuffle noise is a scale bug to chase; the flag line is ratio > 15×
  * at 10× data.
  *
  * No sf1.0 testdata exists, so the probe synthesizes it from sf0.1 with
  * 10× replication that deliberately BREAKS cross-replica similarity —
  * naive duplication would make every doc a 10-way near-dup family and
  * blow candidate pairs up quadratically, measuring the data not the
  * algorithm:
  *   - documents: replica i>0 gets a deterministic hash-shuffled token
  *     order (new 3-gram shingles → not a near-dup of its source) AND a
  *     deterministic REPLACEMENT of half its tokens (per-replica suffix):
  *     order-shuffling alone preserves the token MULTISET, so every
  *     order-independent signature — blocked Jaccard (threshold 0.5),
  *     SimHash, bag-of-words keys — saw 10-way cross-replica dup
  *     families and measured quadratic pair growth instead of the
  *     algorithm (r8 finding: 87×/77× at 10× data, both collapsing to
  *     linear once the multiset is actually broken). Half-replacement
  *     puts same-doc cross-replica Jaccard at 0.5/1.5 ≈ 0.33 < 0.5 and
  *     flips far more than 12/64 simhash bits, while within-replica
  *     duplicate structure is untouched (the token map is deterministic
  *     per replica);
  *   - embeddings: per-element deterministic jitter (≫ cosine-dup
  *     threshold);
  *   - events: user/event ids shifted per replica (join keys stay
  *     power-law within a replica, state scales linearly);
  *   - TPC-H fact tables (lineitem/orders/customer/supplier/part): every
  *     key column shifted by the same per-replica stride on BOTH sides of
  *     each FK, so joins stay within-replica and selectivities hold;
  *   - region/nation: broadcast dims, NOT replicated (as in a real 10×:
  *     dimensions don't grow with fact volume).
  * Replica 0 is byte-identical to sf0.1, so within-replica structure is
  * preserved at 10× volume.
  *
  * Each entry is timed min-of-2 at both scales (first run absorbs
  * staging/plan/JIT; min is the attributable data-path time) and the CSV
  * row prints as soon as the entry finishes, so a partial run still
  * yields data.
  */
object ScaleProbe {

  private val Sf01 = "/root/testdata/sf0.1"
  private val Sf1 = "/tmp/graft_sf1"

  /** write df as the single-file table layout Tables.load expects. */
  private def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_build_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    var src: java.nio.file.Path = null
    graft.ops.TxLog.listDir(Paths.get(tmp)).foreach { p => // fd-safe
      if (p.getFileName.toString.endsWith(".parquet")) src = p
    }
    Files.move(src, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def have(name: String): Boolean =
    Files.exists(Paths.get(s"$Sf1/$name.parquet"))

  /** Key stride safely above every key in the sf0.1 tables. */
  private val Stride = 100000000L

  /** Replicate a table 10×, shifting `keyCols` by the replica stride —
    * the same stride everywhere, so FK pairs land in the same replica. */
  private def replicateKeyed(spark: SparkSession, name: String,
      keyCols: Seq[String]): Unit = {
    if (have(name)) return
    val base = spark.read.parquet(s"$Sf01/$name.parquet")
    val replicas = (0 until 10).map { i =>
      keyCols.foldLeft(base)((df, k) =>
        df.withColumn(k, col(k) + lit(i * Stride)))
    }
    writeSingle(replicas.reduce(_ unionByName _), Sf1, name)
  }

  private def synthesize(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(Sf1))

    if (!have("documents")) {
      val docs = spark.read.parquet(s"$Sf01/documents.parquet")
      val docReplicas = (0 until 10).map { i =>
        if (i == 0) docs
        else {
          // deterministic per-replica token rewrite: half the tokens get a
          // replica suffix (breaks the MULTISET → order-independent
          // signatures can't match across replicas), then the order is
          // permuted by xxhash64(token, position, replica) (breaks
          // adjacency → shingle-based signatures can't either)
          val toks = transform(
            graft.ext.TextAnalysis.tokens(col("text")),
            t => when(pmod(xxhash64(t, lit(i)), lit(2)) === 0,
              concat(t, lit(s"x$i"))).otherwise(t))
          val shuffled = concat_ws(" ", transform(array_sort(
            transform(toks, (t, p) =>
              struct(xxhash64(t, p, lit(i)).alias("h"), t.alias("t")))),
            e => e.getField("t")))
          docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
            .withColumn("text", shuffled)
            .withColumn("n_chars", length(col("text")).cast("long"))
        }
      }
      writeSingle(docReplicas.reduce(_ unionByName _), Sf1, "documents")
    }

    if (!have("embeddings")) {
      val emb = spark.read.parquet(s"$Sf01/embeddings.parquet")
      val embReplicas = (0 until 10).map { i =>
        if (i == 0) emb
        else emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
          .withColumn("embedding", transform(col("embedding"), (x, j) =>
            (x * (lit(1.0) + pmod(xxhash64(lit(i), j), lit(97)).cast("double")
              / lit(200.0))).cast("float")))
      }
      writeSingle(embReplicas.reduce(_ unionByName _), Sf1, "embeddings")
    }

    if (!have("events")) {
      // ts passes through in whatever physical encoding the lake wrote
      // (nanos-long / NTZ / µs) — Tables.loadEvents adapts at read time
      val ev = spark.read.parquet(s"$Sf01/events.parquet")
      val evReplicas = (0 until 10).map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * 10000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L))
      }
      writeSingle(evReplicas.reduce(_ unionByName _), Sf1, "events")
    }

    // TPC-H: facts replicate with consistent key shifts; dims stay put
    replicateKeyed(spark, "lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicateKeyed(spark, "orders", Seq("o_orderkey", "o_custkey"))
    replicateKeyed(spark, "customer", Seq("c_custkey"))
    replicateKeyed(spark, "supplier", Seq("s_suppkey"))
    replicateKeyed(spark, "part", Seq("p_partkey"))
    Seq("region", "nation").foreach { d =>
      if (!have(d)) Files.copy(Paths.get(s"$Sf01/$d.parquet"),
        Paths.get(s"$Sf1/$d.parquet"))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    synthesize(spark)

    // full catalog by default; a name list as args narrows the probe
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    def minOf2(name: String, dir: String): Double =
      math.min(Harness.run(spark, name, dir), Harness.run(spark, name, dir))
    // JVM warmup on the small scale, discarded
    Harness.run(spark, names.head, Sf01)
    println("name,sf0.1_sec,sf1_sec,ratio,flag")
    names.foreach { n =>
      val t01 = minOf2(n, Sf01)
      val t1 = minOf2(n, Sf1)
      val r = t1 / t01
      val flag = if (r > 15.0) "FLAG" else ""
      println(f"$n,$t01%.2f,$t1%.2f,$r%.1fx,$flag")
      System.out.flush()
    }
    Graft.shutdown(spark)
  }
}
