package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{IvfIndex, Similarity}

/** ANN recall/latency study backing the graph-ANN design decision (see
  * PERF.md round-9): measures recall@10 and wall time of the IVF and
  * two-level-IVF candidate paths against exact brute force, on the sf0.1
  * embeddings and on a 10× deterministic replica (ScaleProbe's jitter
  * recipe). If IVF2 holds high recall at a fraction of brute-force cost
  * as the corpus grows, a partitioned HNSW tier buys little for its
  * build/shuffle complexity; if recall collapses, the graph tier is the
  * next investment. Args: [sfDir].
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = Graft.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    // 10× replica, ScaleProbe's deterministic per-element jitter (same
    // constants): replicas are real near-but-not-duplicate vectors, so
    // cells fill rather than collapse
    val emb10 = (0 until 10).map { i =>
      if (i == 0) emb1
      else emb1.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x * (lit(1.0) + pmod(xxhash64(lit(i), j), lit(97)).cast("double")
            / lit(200.0))).cast("float")))
    }.reduce(_ unionByName _)

    val K = 10
    def timeIt[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    def evalAt(tag: String, emb: DataFrame): Unit = {
      val cached = emb.cache(); cached.count()
      val queries = cached.filter(col("vec_id") < 10)
      val n = cached.count()
      val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
      val (truth, tBrute) = timeIt(pairs(
        Similarity.bruteForceTopK(cached, queries, "vec_id", "embedding", K)))
      val vecs = cached.select(col("vec_id").alias("id"),
        col("embedding").alias("vec"))
      val qVecs = vecs.filter(col("id") < 10)
      def recallOf(cands: DataFrame): (Double, Double, Long) = {
        val ((got, nCands), t) = timeIt {
          val c = cands.cache()
          val nc = c.count()
          val r = pairs(Similarity.topKFromCandidates(c, qVecs, vecs, K))
          c.unpersist()
          (r, nc)
        }
        ((got & truth).size.toDouble / truth.size, t, nCands)
      }
      val model = IvfIndex.train(cached, "embedding", nCells)
      val (rIvf, tIvf, cIvf) = recallOf(IvfIndex.candidates(
        cached, queries, "vec_id", "embedding", model,
        nProbe = math.max(4, nCells / 8)))
      val (rIvf2, tIvf2, cIvf2) = recallOf(IvfIndex.twoLevelCandidates(
        cached, queries, "vec_id", "embedding", model,
        coarseCells = math.max(6, math.sqrt(nCells.toDouble).toInt),
        nProbeCoarse = 3, nProbeFine = math.max(8, nCells / 4)))
      println(f"[ann] $tag%-6s n=$n%7d cells=$nCells%4d | brute ${tBrute}%6.2f s" +
        f" | ivf  r@$K=${rIvf}%5.3f ${tIvf}%6.2f s cands=$cIvf%8d" +
        f" | ivf2 r@$K=${rIvf2}%5.3f ${tIvf2}%6.2f s cands=$cIvf2%8d")
      cached.unpersist()
    }
    evalAt("sf0.1", emb1)
    evalAt("10x", emb10)
    Graft.shutdown(spark)
  }
}
