package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** The skipping metadata every data-adding write stages with its files:
  * per-file min/max stats and per-file bloom filters. These specs pin
  * what a commit records against plain per-file passes computed here,
  * under plain, partitioned and column-mapped layouts, and how many Spark
  * jobs a small append and a bloom-pruned lookup start. */
class StagingMetaSpec extends SparkSpec {
  import spark.implicits._

  private def table(): String = tmpDir("staging") + "/t"

  /** Row `i` of (id bigint, ts timestamp, name string, v double); every
    * tenth name is NULL. */
  private def row(i: Int) = (i.toLong * 7 % 1000,
    new java.sql.Timestamp(1700000000000L + i * 61000L),
    if (i % 10 == 0) null else f"name-${i * 13 % 500}%04d", i * 0.5)

  private def rows(n: Int, from: Int = 0): DataFrame =
    (from until from + n).map(row).toDF("id", "ts", "name", "v")

  /** Three staged files of 150, 100 and 50 rows: unequal, and all above
    * the 64-row filter floor, so the bloom sizing rule is visible. */
  private def threeFiles(): DataFrame =
    spark.sparkContext.parallelize(Seq(0 until 150, 150 until 250,
      250 until 300).map(_.map(row)), 3).flatMap(identity)
      .toDF("id", "ts", "name", "v")

  /** The last commit records exactly what plain per-file passes over its
    * added files compute: min/max per file (numerics and timestamps as
    * doubles, strings as strings; an all-NULL file records none), and
    * per (file, column) the `bloom_agg` bytes sized from the batch's
    * largest file row count (~3 % fpp, clamped). Columns are LOGICAL;
    * the files and the recorded metadata speak physical names. */
  private def assertPlainMeta(t: String, numeric: Seq[String],
      strings: Seq[String], bloom: Seq[String]): Unit = {
    val c = TxLog.commits(t).last
    val phys = TxLog.mappingAsOf(t).getOrElse(Map.empty[String, String])
      .withDefault(identity)
    val files = c.add.map(f => f -> spark.read.parquet(s"$t/$f"))
    def bounds[T](df: DataFrame, p: String, cast: Boolean)(
        get: (org.apache.spark.sql.Row, Int) => T): Option[(T, T)] = {
      val (mn, mx) = (min(col(p)), max(col(p)))
      val r = df.agg(if (cast) mn.cast("double") else mn,
        if (cast) mx.cast("double") else mx).head()
      Option.when(!r.isNullAt(0))((get(r, 0), get(r, 1)))
    }
    files.foreach { case (f, df) =>
      val num = numeric.map(phys).flatMap(p =>
        bounds(df, p, cast = true)(_.getDouble(_)).map(p -> _)).toMap
      val str = strings.map(phys).flatMap(p =>
        bounds(df, p, cast = false)(_.getString(_)).map(p -> _)).toMap
      assert(c.stats.getOrElse(f, Map.empty) === num, s"stats of $f")
      assert(c.sstats.getOrElse(f, Map.empty) === str, s"sstats of $f")
    }
    val counts = files.map { case (f, df) => f -> df.count() }.toMap
    val est = math.min(math.max(counts.values.max, 64L), 4000000L)
    val bits = math.min(est * 8L, 67108864L)
    graft.functions.GraftFunctions.register(spark)
    val want = (for {
      (f, df) <- files if counts(f) > 0
      p <- bloom.map(phys)
    } yield (f, p) -> df.agg(call_function("bloom_agg",
      xxhash64(col(p)), lit(est), lit(bits))).head()
      .getAs[Array[Byte]](0).toSeq).toMap
    val got =
      if (c.bloomAdd.isEmpty) Map.empty
      else spark.read.parquet(c.bloomAdd.map(b => s"$t/$b"): _*).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          r.getAs[Array[Byte]](2).toSeq).toMap
    assert(got === want, s"sidecar filters of ${c.bloomAdd}")
  }

  test("staged stats and blooms equal plain per-file passes") {
    val t = table()
    TxLog.append(threeFiles(), t, statsCols = Seq("id", "ts", "name"),
      bloomCols = Seq("id"))
    assert(TxLog.commits(t).last.add.size === 3)
    assertPlainMeta(t, Seq("id", "ts"), Seq("name"), Seq("id"))
    // declared columns, plus the column the sidecars already index
    TxLog.setProperties(t, Map("graft.stats.columns" -> "v,name",
      "graft.bloom.columns" -> "name"))
    TxLog.append(threeFiles(), t)
    assertPlainMeta(t, Seq("v"), Seq("name"), Seq("id", "name"))
  }

  test("a zero-row append records no stats and writes no sidecar") {
    val t = table()
    TxLog.append(rows(20), t, statsCols = Seq("id", "ts", "name"),
      bloomCols = Seq("id"))
    TxLog.append(rows(0), t, statsCols = Seq("id", "ts", "name"),
      bloomCols = Seq("id"))
    val c = TxLog.commits(t).last
    assert(c.op === "append" && c.add.nonEmpty)
    assert(c.stats.isEmpty && c.sstats.isEmpty && c.bloomAdd.isEmpty)
    assert(TxLog.read(spark, t).count() === 20L)
  }

  test("partitioned and column-mapped tables record under physical names") {
    val part = table()
    TxLog.setProperties(part, Map("graft.partition.columns" -> "p",
      "graft.stats.columns" -> "p,id,ts,name", "graft.bloom.columns" -> "id"))
    TxLog.append(threeFiles().withColumn("p",
      when(col("id") % 2 === 0, "even").otherwise("odd")), part)
    val pc = TxLog.commits(part).last
    assert(pc.add.forall(f => f.contains("/p=even/") || f.contains("/p=odd/")))
    // the partition value rides the path: it records no min/max
    assert(pc.stats.values.forall(!_.contains("p")))
    assertPlainMeta(part, Seq("id", "ts"), Seq("name"), Seq("id"))

    val mapped = table()
    TxLog.append(rows(40), mapped, bloomCols = Seq("id"))
    TxLog.enableColumnMapping(mapped)
    TxLog.renameColumn(mapped, "id", "key")
    TxLog.renameColumn(mapped, "name", "title")
    TxLog.append(threeFiles().withColumnRenamed("id", "key")
      .withColumnRenamed("name", "title"), mapped,
      statsCols = Seq("key", "ts", "title"))
    val mc = TxLog.commits(mapped).last
    assert(mc.stats.values.forall(_.keySet === Set("id", "ts")))
    assertPlainMeta(mapped, Seq("key", "ts"), Seq("title"), Seq("key"))
  }

  test("a small append to a stats- and bloom-declaring table runs at most 5 jobs") {
    val t = table()
    TxLog.setProperties(t, Map("graft.stats.columns" -> "id,ts",
      "graft.bloom.columns" -> "id"))
    TxLog.append(rows(400), t)
    // the data write, the one stats+bloom aggregation (split in two by
    // AQE), the indexed-columns read and the sidecar write
    val n = JobCount(spark)(TxLog.append(rows(37, 400), t))
    assert(n <= 5, s"a 37-row append ran $n Spark jobs")
    val c = TxLog.commits(t).last
    assert(c.stats.nonEmpty && c.bloomAdd.nonEmpty)
  }

  test("a bloom-pruned point lookup reads its sidecars without schema inference") {
    val t = table()
    TxLog.setProperties(t, Map("graft.bloom.columns" -> "id"))
    TxLog.append(threeFiles(), t)
    // the one job is the probe of the sidecar frame; its schema is given
    val n = JobCount(spark)(TxLog.filesForEquals(spark, t, "id", Seq(7L)))
    assert(n <= 1, s"filesForEquals ran $n Spark jobs")
  }
}
