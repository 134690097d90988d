package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType}

import graft.Graft

/** Batch cleaning of raw book-ratings CSV → 10-column cleaned table,
  * re-expressing Amazon-book-review_books_reviews.py. Preserves the
  * reference's mean-imputation ordering quirk (nulls dropped BEFORE the
  * mean fill, so the fill is a no-op on score — SURVEY.md §7.4.4; the
  * no-op is therefore not run, see [[fillNulls]]) and its ANSI-off
  * division/cast semantics (x/0 → NULL, garbage cast → NULL).
  */
object ReviewsClean {

  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.format("csv")
      .option("header", "true").option("inferSchema", "true").load(path)

  /** helpfulness "x/y" → numerator/denominator floats → percentage
    * (reviews.py:42-52). 0/0 → NULL (ANSI off), later filled with 0. */
  def deriveHelpfulness(df: DataFrame): DataFrame =
    df.withColumn("Reviews", split(col("review/helpfulness"), "/").getItem(0))
      .withColumn("Helpfulness", split(col("review/helpfulness"), "/").getItem(1))
      .withColumn("Reviews", col("Reviews").cast(FloatType))
      .withColumn("Helpfulness", col("Helpfulness").cast(FloatType))
      .withColumn("Review_helpfulness",
        round(col("Reviews") / col("Helpfulness") * 100, 2).cast(FloatType))

  /** score → Float then drop null/unparseable rows (reviews.py:67-69). */
  def castAndDropScore(df: DataFrame): DataFrame =
    df.withColumn("review/score", col("review/score").cast(FloatType))
      .na.drop(Seq("review/score"))

  /** unix-seconds string → long + session-TZ formatted timestamp STRING
    * (reviews.py:76 — from_unixtime returns a string, kept that way). */
  def deriveTime(df: DataFrame): DataFrame =
    df.withColumn("review_time_unix", col("review/time").cast(LongType))
      .withColumn("review_Time", from_unixtime(col("review_time_unix")))

  /** Drop the 84%-null Price column (reviews.py:86-93). */
  def dropPrice(df: DataFrame): DataFrame = df.drop("Price")

  /** Per-column fills (reviews.py:104-107). The reference first takes
    * the global mean of score (reviews.py:102), then fills the text
    * columns with "N.A", `Review_helpfulness` with 0 and score with that
    * mean. The score fill is a no-op by construction: [[castAndDropScore]]
    * already dropped every NULL and NaN score (`na.drop` counts NaN as
    * NULL), so it is left out. Taking the mean cost a second pass over
    * the input, and when no score survived the mean was NULL and reading
    * it threw. */
  def fillNulls(df: DataFrame): DataFrame =
    df.na.fill(Map(
        "Title" -> "N.A", "User_id" -> "N.A", "profileName" -> "N.A",
        "review/summary" -> "N.A", "review/text" -> "N.A"))
      .na.fill(Map("Review_helpfulness" -> 0.0))

  /** Final 10-column shape with renames (reviews.py:113). */
  def finalProjection(df: DataFrame): DataFrame =
    df.select(
      col("Id").cast("string").alias("Id"), col("Title"), col("User_id"),
      col("profileName"), col("Review_helpfulness"),
      col("review/score").alias("review_score"),
      col("review_time_unix"), col("review_Time"),
      col("review/summary").alias("review_summary"),
      col("review/text").alias("review_text"))

  def pipeline(spark: SparkSession, raw: DataFrame): DataFrame = {
    Graft.referenceSemantics(spark)
    finalProjection(fillNulls(dropPrice(
      deriveTime(castAndDropScore(deriveHelpfulness(raw))))))
  }

  def run(spark: SparkSession, inPath: String, outPath: String): Unit =
    pipeline(spark, readRaw(spark, inPath)).write.mode("overwrite").parquet(outPath)
}
