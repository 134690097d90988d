package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.etl.{DetailsClean, ReviewsClean, Schemas}
import graft.medallion.Medallion

/** End-to-end bronze→silver→gold streaming medallion over the fixture
  * pipelines (the reference's full topology, SURVEY.md §3.3). */
class MedallionSpec extends SparkSpec {

  test("medallion: full streaming chain matches hand-computed gold") {
    val root = tmpDir("medallion")
    DetailsClean.run(spark, fixture("books_data.csv"), s"$root/details_cleaned")
    ReviewsClean.run(spark, fixture("Books_rating.csv"), s"$root/ratings_cleaned")

    val gold = Medallion.runAll(spark,
      s"$root/details_cleaned", s"$root/ratings_cleaned", s"$root/out")

    // Silver: reviews with YEAR>2010 are ids 1 and 5 (Book A) and id 4
    // (null Title filled "N.A" — which equi-joins the details row whose
    // null title was also filled "N.A": the fills happen upstream of the
    // join, so N.A matches N.A, faithful to the reference's ordering).
    // Book A details exploded to 4 author×category rows → 4×2 + 1 = 9.
    val silver = spark.read.parquet(s"$root/out/silver")
    assert(silver.count() === 9)
    assert(silver.columns.length === 11)

    // Gold: grouped by (title, year, categories).
    val rows = gold.collect().map(r =>
      (r.getAs[String]("title"), r.getAs[Int]("Year_of_publish"),
        r.getAs[String]("categories"), r.getAs[Long]("users_count"))).toSet
    assert(rows === Set(
      ("Book A", 1995, "Fiction", 4L), ("Book A", 1995, " Drama", 4L),
      ("N.A", 2010, "Memoir", 1L)))
  }

  test("medallion: gold writes one file per year, equal to a batch gold") {
    val root = tmpDir("medallion_layout")
    // 6 years × 24 titles, one category each: every year's gold groups
    // spread over every shuffle partition of the stateful aggregate
    val years = 2000 until 2006
    val titles = for (y <- years; i <- 0 until 24) yield (y, i, s"T-$y-$i")
    spark.createDataFrame(spark.sparkContext.parallelize(titles.map {
      case (y, i, t) => Row(t, null, s"A$i", null, null, "P", s"$y",
        null, if (i % 2 == 0) "Fiction" else "Drama", 1.0f, y)
    }, 3), Schemas.detailsCleaned).write.parquet(s"$root/details_cleaned")
    // i % 3 + 1 reviews after 2010 per title, and one in 2009 the
    // silver filter drops
    val reviews = titles.flatMap { case (y, i, t) =>
      (0 to i % 3 + 1).map(k => Row(s"$t-$k", t, s"u-$y-$i-$k", null, 0.5f,
        4.0f, 0L, if (k == 0) "2009-06-01" else "2012-03-04", null, null))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(reviews, 3),
      Schemas.ratingsCleaned).write.parquet(s"$root/ratings_cleaned")

    val gold = Medallion.runAll(spark,
      s"$root/details_cleaned", s"$root/ratings_cleaned", s"$root/out")

    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val spread = gold.groupBy("Year_of_publish").agg(countDistinct(pmod(
      hash(col("title"), col("Year_of_publish"), col("categories")),
      lit(parts))).as("n")).collect().map(_.getLong(1))
    assert(spread.toSeq === Seq.fill(years.size)(parts.toLong),
      "fixture: each year's groups hash to every aggregate partition")

    val yearDirs = new java.io.File(s"$root/out/gold").listFiles()
      .filter(_.getName.startsWith("Year_of_publish=")).sortBy(_.getName)
    assert(yearDirs.map(_.getName).toSeq ===
      years.map(y => s"Year_of_publish=$y"))
    yearDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"${d.getName} holds one parquet file")
    }

    spark.read.schema(Schemas.silver).parquet(s"$root/out/silver")
      .createOrReplaceTempView("silver_temp")
    val cols = Seq("title", "Year_of_publish", "categories", "users_count")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq)
        .sortBy(_.mkString("|"))
    val batch = rows(spark.sql(Medallion.goldSql))
    assert(batch.size === titles.size)
    assert(rows(gold) === batch)
    assert(gold.agg(sum("users_count")).head().getLong(0) ===
      titles.map(_._2 % 3 + 1).sum)
  }
}
