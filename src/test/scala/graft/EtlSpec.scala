package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.Row

import graft.etl.{DetailsClean, ReviewsClean}

/** Golden tests for the two batch cleaning pipelines over dirty fixtures
  * (FIXTURES.md §A — every dirty-data class the reference handles). */
class EtlSpec extends SparkSpec {

  lazy val details = DetailsClean.pipeline(
    spark, DetailsClean.readRaw(spark, fixture("books_data.csv"))).cache()
  lazy val reviews = ReviewsClean.pipeline(
    spark, ReviewsClean.readRaw(spark, fixture("Books_rating.csv"))).cache()

  test("details: double explode is a per-row cross product, no trim") {
    val a = details.filter(details("Title") === "Book A")
      .select("authors", "categories").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a === Set(
      ("Alice Smith", "Fiction"), ("Alice Smith", " Drama"),
      (" Bob Jones", "Fiction"), (" Bob Jones", " Drama")))
  }

  test("details: exact duplicates collapse (dropDuplicates)") {
    assert(details.filter(details("Title") === "Book A").count() === 4)
  }

  test("details: non-http URL row dropped, null URL row dropped by dropna-after-fill quirk") {
    // Book B: image='notaurl' fails the startswith filter.
    // Book C: image NULL passes the filter but dies at na.drop() because
    // the fill map doesn't cover url columns (SURVEY.md §7.4.5).
    val titles = details.select("Title").collect().map(_.getString(0)).toSet
    assert(!titles.contains("Book B") && !titles.contains("Book C"))
  }

  test("details: backslash and quote stripping") {
    val d = details.filter(details("Title") === "Book D")
      .select("authors", "publisher").collect().head
    assert(d.getString(0) === "DanDeacon")
    assert(d.getString(1) === "PBQ")
  }

  test("details: null publisher filled N.A; LEGACY lenient year parse") {
    val e = details.filter(details("Title") === "Book E")
      .select("publisher", "Year_of_publish").collect().head
    assert(e.getString(0) === "N.A")
    assert(e.getInt(1) === 1987) // '1987-xx' parsed leniently under LEGACY
  }

  test("details: null title filled N.A; year from yyyy-MM-dd") {
    assert(details.filter(details("Title") === "N.A").count() === 1)
    val a = details.filter(details("Title") === "Book A")
      .select("Year_of_publish").head()
    assert(a.getInt(0) === 1995)
  }

  test("reviews: garbage score row dropped; 4 rows survive") {
    assert(reviews.select("Id").collect().map(_.getString(0)).toSet
      === Set("1", "2", "4", "5"))
  }

  test("reviews: helpfulness percentage with 0/0→NULL→0 and NULL→0 fills") {
    val m = reviews.select("Id", "Review_helpfulness").collect()
      .map(r => r.getString(0) -> r.getFloat(1)).toMap
    assert(m === Map("1" -> 100.0f, "2" -> 0.0f, "4" -> 50.0f, "5" -> 0.0f))
  }

  test("reviews: null Title filled; from_unixtime is a UTC string") {
    val r4 = reviews.filter(reviews("Id") === "4").collect().head
    assert(r4.getAs[String]("Title") === "N.A")
    val r1 = reviews.filter(reviews("Id") === "1")
      .select("review_Time").head().getString(0)
    assert(r1 === "2011-03-13 07:06:40")
  }

  test("malformed CSV rows: PERMISSIVE keeps + flags, DROPMALFORMED drops") {
    val bad = tmpDir("badcsv") + "/in.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad),
      "a,b\n1,x\nnotanint,z\n2,y\n")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record").csv(bad)
      .cache()
    assert(permissive.count() === 3)
    assert(permissive.filter(permissive("_corrupt_record").isNotNull).count() === 1)
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("header", "true").option("mode", "DROPMALFORMED").csv(bad)
    // collect(), not count(): count() prunes every column, so the parser
    // never attempts the failing conversion and drops nothing
    assert(dropped.collect().length === 2)
    permissive.unpersist()
  }

  test("reviews: a CSV whose every score is unparseable cleans to an empty frame") {
    val raw = tmpDir("garbagescores") + "/Books_rating.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(raw),
      "Id,Title,Price,User_id,profileName,review/helpfulness,review/score," +
        "review/time,review/summary,review/text\n" +
        "1,Book A,,u1,Alice,7/7,garbage,1300000000,Great,Loved it\n" +
        "2,Book A,,u2,Bob,0/0,,1200000000,,Meh\n")
    val out = ReviewsClean.pipeline(spark, ReviewsClean.readRaw(spark, raw))
    assert(out.collect().isEmpty)
    assert(out.columns.length === 10)
  }

  test("cleanDetails and cleanReviews read back with the declared schemas, starting no job") {
    val root = tmpDir("readback")
    Seq(("books_data.csv", DetailsClean.run _, BookReviewEngine.cleanDetails _),
      ("Books_rating.csv", ReviewsClean.run _, BookReviewEngine.cleanReviews _))
      .foreach { case (csv, run, clean) =>
        val written = JobCount(spark)(run(spark, fixture(csv), s"$root/run-$csv"))
        var cleaned: org.apache.spark.sql.DataFrame = null
        val total = JobCount(spark) {
          cleaned = clean(spark, fixture(csv), s"$root/clean-$csv")
        }
        assert(total === written, s"$csv: the readback started jobs")
        assert(cleaned.schema === spark.read.parquet(s"$root/clean-$csv").schema)
      }
  }

  test("reviews: 10-column cleaned schema") {
    assert(reviews.columns.toSeq === Seq("Id", "Title", "User_id",
      "profileName", "Review_helpfulness", "review_score",
      "review_time_unix", "review_Time", "review_summary", "review_text"))
  }
}
