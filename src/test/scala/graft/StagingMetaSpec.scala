package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** The skipping metadata every data-adding write stages with its files:
  * per-file min/max stats and per-file bloom filters. These specs pin
  * what a commit records against plain per-file passes computed here,
  * under plain, partitioned and column-mapped layouts, how many Spark
  * jobs a small append and a bloom-pruned lookup start, and how many
  * files an append stages. */
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
    * per (file, column) the `bloom_agg` bytes sized from that file's own
    * row count (~3 % fpp, clamped). Columns are LOGICAL; the files and
    * the recorded metadata speak physical names. */
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
    graft.functions.GraftFunctions.register(spark)
    val want = (for {
      (f, df) <- files if counts(f) > 0
      p <- bloom.map(phys)
    } yield {
      val est = math.min(math.max(counts(f), 64L), 4000000L)
      val bits = math.min(est * 8L, 67108864L)
      (f, p) -> df.agg(call_function("bloom_agg",
        xxhash64(col(p)), lit(est), lit(bits))).head()
        .getAs[Array[Byte]](0).toSeq
    }).toMap
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

  test("a converted directory records the bounds of plain per-file passes") {
    val dir = tmpDir("staging") + "/conv"
    // small row groups and splits: one file's rows reach several tasks,
    // whose partial bounds merge
    threeFiles().write.option("parquet.block.size", "2048").parquet(dir)
    val key = "spark.sql.files.maxPartitionBytes"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try TxLog.convertParquet(spark, dir, statsCols = Seq("id", "ts", "name"))
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(TxLog.commits(dir).last.add.size === 3)
    assertPlainMeta(dir, Seq("id", "ts"), Seq("name"), Seq.empty)
  }

  test("a small append to a stats- and bloom-declaring table runs at most 2 jobs") {
    val t = table()
    TxLog.setProperties(t, Map("graft.stats.columns" -> "id,ts",
      "graft.bloom.columns" -> "id"))
    TxLog.append(rows(400), t)
    // the data write, which collects the stats and filters, and the
    // sidecar write
    val n = JobCount(spark)(TxLog.append(rows(37, 400), t))
    assert(n <= 2, s"a 37-row append ran $n Spark jobs")
    val c = TxLog.commits(t).last
    assert(c.add.size === 1, "a 37-row append stages one file")
    assert(c.stats.nonEmpty && c.bloomAdd.nonEmpty)
    assertPlainMeta(t, Seq("id", "ts"), Seq.empty, Seq("id"))
  }

  test("a small append stages one file; a large one keeps its parallelism") {
    val t = table()
    TxLog.append(rows(37), t)
    assert(TxLog.commits(t).last.add.size === 1)
    // a shape the caller chose is kept
    TxLog.append(rows(37).repartition(3), t)
    assert(TxLog.commits(t).last.add.size === 3)
    // 400 000 bigint rows estimate 3.2 MB, above 48 files of a 64 KiB
    // target: the write keeps one file per partition of the frame
    TxLog.setProperties(t, Map("graft.autoCompact.targetSize" -> "65536"))
    val big = spark.range(400000).toDF("id")
    val parts = big.rdd.getNumPartitions
    assert(parts > 1)
    TxLog.append(big.select(col("id"), lit(null).cast("timestamp").as("ts"),
      lit(null).cast("string").as("name"),
      (col("id") % 1000).cast("double").as("v")), t)
    assert(TxLog.commits(t).last.add.size === parts)
    assert(TxLog.read(spark, t).count() === 400074L)
  }

  test("a column the sidecars index undeclared stays indexed, read from the log") {
    val t = table()
    TxLog.append(rows(200), t, bloomCols = Seq("name"))
    assert(TxLog.commits(t).last.bloomCols.values.toSeq === Seq(Seq("name")))
    // no sidecar is read to learn the indexed column: the data write and
    // the sidecar write are the only jobs
    val n = JobCount(spark)(TxLog.append(rows(37, 200), t))
    assert(n <= 2, s"a 37-row append ran $n Spark jobs")
    assertPlainMeta(t, Seq.empty, Seq.empty, Seq("name"))
    assert(TxLog.filesForEquals(spark, t, "name", Seq("name-0013")).nonEmpty)
  }

  test("sidecars committed without their indexed columns are still read for them") {
    val t = table()
    TxLog.append(rows(200), t, bloomCols = Seq("name"))
    // an older log: the commit does not record the sidecar's columns
    val logDir = java.nio.file.Paths.get(t, "_txlog")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val old = table()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(old, "_txlog"))
    java.nio.file.Files.list(java.nio.file.Paths.get(t)).forEach { p =>
      val n = p.getFileName.toString
      if (n != "_txlog") org.apache.commons.io.FileUtils.copyDirectory(
        p.toFile, java.nio.file.Paths.get(old, n).toFile)
    }
    java.nio.file.Files.list(logDir).forEach { p =>
      val node = mapper.readTree(p.toFile)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.remove("bloomCols")
      mapper.writeValue(
        java.nio.file.Paths.get(old, "_txlog", p.getFileName.toString).toFile,
        node)
    }
    assert(TxLog.commits(old).forall(_.bloomCols.isEmpty))
    TxLog.append(rows(37, 200), old)
    assert(TxLog.commits(old).last.bloomCols.values.toSeq === Seq(Seq("name")))
    assertPlainMeta(old, Seq.empty, Seq.empty, Seq("name"))
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
