package graft

/** Flagship-pipeline throughput benchmark at the reference's data scale:
  * both cleaning notebooks + the full streaming medallion, with per-stage
  * wall times. Input corpus from `python3 perfbench/gen.py raw <seed> 1.0
  * <dir>` (212k books / 3M reviews — the Kaggle dataset's published
  * dimensions).
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val in = if (args.nonEmpty) args(0) else "/tmp/books_bench"
    val out = java.nio.file.Files.createTempDirectory("pipebench").toString
    val spark = Graft.session(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[pipeline] $name%-18s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }

    val details = timed("clean_details") {
      BookReviewEngine.cleanDetails(spark, s"$in/books_data.csv", s"$out/details")
    }
    val reviews = timed("clean_reviews") {
      BookReviewEngine.cleanReviews(spark, s"$in/Books_rating.csv", s"$out/reviews")
    }
    val gold = timed("medallion") {
      BookReviewEngine.runMedallion(spark, s"$out/details", s"$out/reviews", s"$out/m")
    }
    println(s"[pipeline] rows: details=${details.count()} reviews=${reviews.count()} " +
      s"silver=${spark.read.parquet(s"$out/m/silver").count()} gold=${gold.count()}")
    Graft.shutdown(spark)
  }
}
