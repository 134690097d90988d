package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.Graft
import graft.etl.Schemas

/** Streaming bronze→silver→gold medallion pipeline, re-expressing
  * Amazon_books_review_medallion_architecture.py on OSS Spark:
  *
  *   - Auto Loader (M:9-14) → parquet file stream source with explicit
  *     schema + `maxFilesPerTrigger` (incremental discovery).
  *   - Delta append sinks (M:34-39, M:73-78, M:127-132) → parquet append
  *     sinks with per-query checkpoints (same exactly-once bookkeeping).
  *   - Delta complete-mode gold (M:178-183) → `foreachBatch` overwrite
  *     (OSS file sinks cannot do complete mode; overwrite-per-trigger is
  *     the same materialized semantics).
  *   - Watermark-free stream-stream inner join (M:116-121) and watermark-
  *     free grouped aggregate (M:162-166) — state grows unboundedly by
  *     design, exactly like the reference; [[silverSql]] documents the
  *     bounded `withWatermark` variant for production.
  */
object Medallion {

  case class Paths(root: String) {
    val bronzeDetails = s"$root/bronze_details"
    val bronzeReviews = s"$root/bronze_reviews"
    val silver = s"$root/silver"
    val gold = s"$root/gold"
    def cp(name: String) = s"$root/_checkpoints/$name"
  }

  /** Bronze: incremental file ingest → append sink (M:9-14 + M:34-39).
    * Observed as `<sink-basename>` (e.g. `bronze_details`): per-batch row
    * counts ride the ingest for free — the reference's interactive
    * count() probes (M:44, M:83) made continuous. */
  def bronzeStream(spark: SparkSession, srcDir: String, schema: StructType,
      sinkDir: String, cpDir: String): StreamingQuery = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(srcDir)
    graft.streaming.Observability
      .observeQuality(src, new java.io.File(sinkDir).getName, Seq.empty)
      .writeStream.format("parquet")
      .option("checkpointLocation", cpDir).option("path", sinkDir)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
  }

  /** Bronze with Auto Loader-style schema tracking
    * (`cloudFiles.schemaLocation` + `addNewColumns`, M:12): observe the
    * landing zone's merged schema, evolve the schema tracked at
    * `schemaDir`, run the stream with it. Invoke again after new files
    * land — a new column is adopted on that restart (the checkpoint's
    * file log survives, so only unprocessed files read the wider schema);
    * downstream readers use `mergeSchema` and see NULLs for pre-drift
    * rows. See [[graft.streaming.SchemaEvolution]] / `SchemaDriftSpec`. */
  def bronzeStreamEvolving(spark: SparkSession, srcDir: String,
      schemaDir: String, sinkDir: String, cpDir: String): StreamingQuery = {
    val observed =
      spark.read.option("mergeSchema", "true").parquet(srcDir).schema
    val schema = graft.streaming.SchemaEvolution.track(spark, schemaDir, observed)
    bronzeStream(spark, srcDir, schema, sinkDir, cpDir)
  }

  /** The silver transform of M:116-121: reviews-side Title, post-join
    * YEAR filter, re-derived Year_of_publish (LEGACY `yyyy` parse). */
  val silverSql: String =
    """SELECT b.Title, a.authors, a.publisher,
      |  YEAR(TO_DATE(CAST(a.Year_of_publish AS STRING), 'yyyy')) AS Year_of_publish,
      |  a.categories, a.Ratings_Count, b.User_id, b.profileName,
      |  b.Review_helpfulness, b.review_score, b.review_Time
      |FROM Books_Details_bronze_temp a
      |INNER JOIN Books_reviews_bronze_temp b ON a.Title = b.Title
      |WHERE YEAR(b.review_Time) > 2010""".stripMargin

  /** Silver: stream-stream inner equi-join on Title (no watermark ⇒
    * symmetric-hash-join state on both sides, as in the reference).
    * Observed as `silver_quality`: join output rows + null rates on the
    * columns the gold aggregate depends on. */
  def silverStream(spark: SparkSession, p: Paths): StreamingQuery = {
    Graft.referenceSemantics(spark)
    spark.readStream.schema(Schemas.detailsCleaned).parquet(p.bronzeDetails)
      .createOrReplaceTempView("Books_Details_bronze_temp")
    spark.readStream.schema(Schemas.ratingsCleaned).parquet(p.bronzeReviews)
      .createOrReplaceTempView("Books_reviews_bronze_temp")
    graft.streaming.Observability
      .observeQuality(spark.sql(silverSql), "silver_quality",
        Seq("Title", "User_id", "review_score"))
      .writeStream.format("parquet")
      .option("checkpointLocation", p.cp("silver")).option("path", p.silver)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
  }

  /** The gold aggregate of M:162-166. */
  val goldSql: String =
    """SELECT title, Year_of_publish, categories, COUNT(User_id) AS users_count
      |FROM silver_temp GROUP BY title, Year_of_publish, categories""".stripMargin

  /** Gold: complete-mode grouped count, materialized per trigger via
    * foreachBatch overwrite (M:175-183), one file per `Year_of_publish`
    * partition. */
  def goldStream(spark: SparkSession, p: Paths): StreamingQuery = {
    spark.readStream.schema(Schemas.silver).parquet(p.silver)
      .createOrReplaceTempView("silver_temp")
    // complete mode re-reports the FULL result each trigger: read the
    // last gold_quality batch, never the sum across batches
    spark.sql(goldSql)
      .observe("gold_quality", count(lit(1)).alias("n_rows"),
        sum(col("users_count")).alias("sum_users"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", p.cp("gold"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // partition by publish year (SURVEY.md §4: exercises partition
        // pruning for year-scoped gold readers; the reference wrote
        // unpartitioned). Clustering the rows by year first writes one
        // file per year directory: written straight from the aggregate,
        // every state partition writes a file into every year it holds
        // (up to years × shuffle partitions files). The exchange is one
        // small extra stage; the stateful stage keeps its parallelism.
        batch.repartition(col("Year_of_publish")).write.mode("overwrite")
          .partitionBy("Year_of_publish").parquet(p.gold)
      }
      .trigger(Trigger.AvailableNow()).start()
  }

  /** End-to-end run over already-cleaned inputs; returns the gold table.
    * Stages run sequentially with AvailableNow (each drains its input),
    * mirroring one full pass of the reference's always-on topology. */
  def runAll(spark: SparkSession, detailsCleanedDir: String,
      reviewsCleanedDir: String, outRoot: String): DataFrame = {
    val p = Paths(outRoot)
    // the two bronze ingests are independent (own source/sink/checkpoint):
    // start both, drain both — the scheduler overlaps their fixed costs
    // (guide §2.6); silver still waits on both completed bronzes
    val bd = bronzeStream(spark, detailsCleanedDir, Schemas.detailsCleaned,
      p.bronzeDetails, p.cp("bronze_details"))
    val br = bronzeStream(spark, reviewsCleanedDir, Schemas.ratingsCleaned,
      p.bronzeReviews, p.cp("bronze_reviews"))
    bd.awaitTermination(); br.awaitTermination()
    silverStream(spark, p).awaitTermination()
    goldStream(spark, p).awaitTermination()
    spark.read.parquet(p.gold)
  }
}
