package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{DetailsClean, ReviewsClean, Schemas}
import graft.medallion.Medallion

/** The switch-over facade: everything the reference's three notebooks do,
  * as three calls. A user of Rooban1030/Amazon-Books-Review replaces
  *
  *   - Amazon-book-review_books_details.py  → [[cleanDetails]]
  *   - Amazon-book-review_books_reviews.py  → [[cleanReviews]]
  *   - Amazon_books_review_medallion_architecture.py → [[runMedallion]]
  *
  * plus [[Graft.session]] instead of the Databricks runtime session.
  */
object BookReviewEngine {

  /** books_data.csv → cleaned 11-column parquet (details.py end-to-end),
    * read back with its declared schema, so no job infers it from the
    * footers. */
  def cleanDetails(spark: SparkSession, rawCsv: String, outParquet: String): DataFrame = {
    DetailsClean.run(spark, rawCsv, outParquet)
    spark.read.schema(Schemas.detailsCleaned).parquet(outParquet)
  }

  /** Books_rating.csv → cleaned 10-column parquet (reviews.py end-to-end),
    * read back with its declared schema as [[cleanDetails]] is. */
  def cleanReviews(spark: SparkSession, rawCsv: String, outParquet: String): DataFrame = {
    ReviewsClean.run(spark, rawCsv, outParquet)
    spark.read.schema(Schemas.ratingsCleaned).parquet(outParquet)
  }

  /** Streaming bronze→silver→gold over the two cleaned dirs; returns gold
    * (medallion.py end-to-end, availableNow drain). */
  def runMedallion(spark: SparkSession, detailsCleanedDir: String,
      reviewsCleanedDir: String, outRoot: String): DataFrame =
    Medallion.runAll(spark, detailsCleanedDir, reviewsCleanedDir, outRoot)
}
