package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** TxLog partition columns — the Delta `partitionValues` analog
  * (Delta records a partition tuple per add-file in its log; here the
  * Hive-style path IS the record): declared `graft.partition.columns`
  * makes every write path stage Hive-layout files, reads reconstruct the
  * stripped columns from the path, and planning prunes on partition
  * equality BEFORE stats. */
class TxLogPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def table(): String = tmpDir("txlog_part") + "/t"

  private def mkPartitioned(): String = {
    val t = table()
    // declare partitioning after a seed write (the property commit needs
    // a version to land on); the seed file predates the declaration and
    // stays unpartitioned — exactly the mixed-era shape a real table has
    TxLog.append(Seq((1L, "a", 2019)).toDF("k", "v", "y"), t)
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((2L, "b", 2020), (3L, "c", 2020)).toDF("k", "v", "y"), t)
    TxLog.append(Seq((4L, "d", 2021)).toDF("k", "v", "y"), t)
    t
  }

  test("declared partition columns stage Hive-layout files and reads reconstruct them") {
    val t = mkPartitioned()
    val partFiles = TxLog.activeFiles(t).filter(_.contains("y="))
    assert(partFiles.nonEmpty, "partitioned appends must nest y=<value> dirs")
    assert(partFiles.forall(
      _.matches(""".*d-[0-9a-f]+/y=\d+/part-.*\.parquet""")), partFiles)
    val got = TxLog.read(spark, t)
    assert(got.columns.toSeq === Seq("k", "v", "y"))
    assert(got.schema("y").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(got.as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 2019), (2L, "b", 2020), (3L, "c", 2020), (4L, "d", 2021)))
  }

  test("partition equality prunes files before stats") {
    val t = mkPartitioned()
    val all = TxLog.activeFiles(t)
    val eq2021 = TxLog.filesForRanges(t, Map("y" -> (2021.0, 2021.0)))
    // the 2021 partition survives; 2020 partitions are pruned by their
    // exact path value; the pre-declaration seed file has no stats and
    // must be kept (stats-less files always pass)
    assert(eq2021.exists(_.contains("y=2021")))
    assert(!eq2021.exists(_.contains("y=2020")), eq2021)
    assert(eq2021.size < all.size)
    val pruned = TxLog.readPruned(spark, t,
        Map("y" -> (2020.0, 2020.0)), Map.empty)
      .filter(col("y") === 2020)
    assert(pruned.as[(Long, String, Int)].collect().toSet ===
      Set((2L, "b", 2020), (3L, "c", 2020)))
  }

  test("SQL WHERE on the partition column prunes through the relation") {
    val t = mkPartitioned()
    val view = s"pt_${System.nanoTime()}"
    spark.sql(
      s"""CREATE OR REPLACE TEMP VIEW $view
         |USING graft.sources.txlog OPTIONS (path '$t')""".stripMargin)
    val out = spark.sql(s"SELECT k, v FROM $view WHERE y = 2021")
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((4L, "d")))
    // plan-level evidence: the pruned read plans fewer files than the
    // snapshot holds (the relation routes WHERE bounds into readPruned)
    val planned = TxLog.readPruned(spark, t,
      Map("y" -> (2020.0, 2021.0)), Map.empty,
      eqProbes = Map("y" -> Seq(2021)))
    assert(planned.inputFiles.length < TxLog.activeFiles(t).size,
      s"expected fewer than ${TxLog.activeFiles(t).size} planned files")
  }

  test("merge and optimizeSmall rewrites preserve the partition layout") {
    val t = mkPartitioned()
    TxLog.merge(spark, t, Seq((2L, "B", 2020)).toDF("k", "v", "y"),
      Seq("k"), "y") // same version → tie → incoming wins
    val afterMerge = TxLog.read(spark, t).as[(Long, String, Int)]
      .collect().toSet
    assert(afterMerge.contains((2L, "B", 2020)))
    // merge rewrote through writeData, which consults the declared
    // layout: every rewritten file is Hive-partitioned
    TxLog.optimizeSmall(spark, t, minFileSizeBytes = Long.MaxValue)
    assert(TxLog.activeFiles(t).forall(_.contains("y=")),
      TxLog.activeFiles(t))
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      afterMerge)
  }

  test("deletion vectors compose with partitioned files") {
    val t = mkPartitioned()
    TxLog.deleteVectors(spark, t, col("k") === 3L)
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 2019), (2L, "b", 2020), (4L, "d", 2021)))
    // readPruned returns files row-unfiltered (callers own exactness):
    // the DV'd row 3 must be gone, and the y=2020 partition is pruned to
    // its file plus the stats-less seed file
    val pruned = TxLog.readPruned(spark, t,
        Map("y" -> (2020.0, 2020.0)), Map.empty)
      .filter(col("y") === 2020)
    assert(pruned.select("k").as[Long].collect().toSet === Set(2L))
  }

  test("partitioned commits stamp protocol v4 so a v3-era reader refuses") {
    val t = mkPartitioned()
    val logDir = java.nio.file.Paths.get(t, "_txlog")
    val partCommits = java.nio.file.Files.list(logDir).iterator().asScala
      .toSeq.sortBy(_.getFileName.toString)
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p)))
      .filter(_.contains("y="))
    assert(partCommits.nonEmpty)
    assert(partCommits.forall(_.contains("\"protocolVersion\":4")),
      partCommits.map(_.take(160)))
  }

  test("null partition values round-trip and never satisfy a range predicate") {
    val t = table()
    TxLog.append(Seq((0L, "seed", Option(1))).toDF("k", "v", "y"), t)
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((1L, "x", None: Option[Int]),
      (2L, "w", Option(7))).toDF("k", "v", "y"), t)
    assert(TxLog.read(spark, t).as[(Long, String, Option[Int])]
      .collect().toSet ===
      Set((0L, "seed", Some(1)), (1L, "x", None), (2L, "w", Some(7))))
    val keep = TxLog.filesForRanges(t, Map("y" -> (7.0, 7.0)))
    assert(!keep.exists(_.contains("__HIVE_DEFAULT_PARTITION__")), keep)
    assert(keep.exists(_.contains("y=7")))
  }

  test("dynamic partition overwrite replaces exactly the incoming partitions") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((1L, "a", 2019), (2L, "b", 2020)).toDF("k", "v", "y"), t)
    TxLog.append(Seq((3L, "c", 2021)).toDF("k", "v", "y"), t)
    val before2021 = TxLog.activeFiles(t).filter(_.contains("y=2021"))
    val v = TxLog.overwritePartitions(
      Seq((20L, "B2", 2020), (21L, "B3", 2020)).toDF("k", "v", "y"), t)
    // 2020 fully replaced; 2019 and 2021 files BYTE-IDENTICAL in place
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 2019), (20L, "B2", 2020), (21L, "B3", 2020),
        (3L, "c", 2021)))
    assert(TxLog.activeFiles(t).filter(_.contains("y=2021")) === before2021)
    // time travel still sees the pre-replace 2020 partition
    assert(TxLog.read(spark, t, Some(v - 1)).filter(col("y") === 2020)
      .select("k").as[Long].collect().toSet === Set(2L))
  }

  test("dynamic partition overwrite refuses pre-declaration unpartitioned files, optimize heals") {
    val t = mkPartitioned() // seed file predates the declaration
    val e = intercept[IllegalArgumentException](TxLog.overwritePartitions(
      Seq((9L, "z", 2020)).toDF("k", "v", "y"), t))
    assert(e.getMessage.contains("optimize"))
    // optimize's full rewrite lands in the declared layout — then it works
    TxLog.optimize(spark, t)
    assert(TxLog.activeFiles(t).forall(_.contains("y=")))
    TxLog.overwritePartitions(Seq((9L, "z", 2020)).toDF("k", "v", "y"), t)
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 2019), (9L, "z", 2020), (4L, "d", 2021)))
  }

  test("merge keyed on the partition column rewrites only matching partitions") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((1L, "a", 2019), (2L, "b", 2020)).toDF("k", "v", "y"), t)
    TxLog.append(Seq((3L, "c", 2021)).toDF("k", "v", "y"), t)
    val before = TxLog.activeFiles(t).filterNot(_.contains("y=2020")).toSet
    // merge key includes y: the incoming batch's y-bounds prune to the
    // 2020 partition EXACTLY (partition value beats stats), so 2019/2021
    // files are never rewritten
    TxLog.merge(spark, t, Seq((2L, "B", 2020)).toDF("k", "v", "y"),
      Seq("y", "k"), "y")
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 2019), (2L, "B", 2020), (3L, "c", 2021)))
    assert(TxLog.activeFiles(t).filterNot(_.contains("y=2020")).toSet ===
      before, "non-2020 partitions must keep their exact files")
  }

  test("streaming txlog sink writes the declared partition layout") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    val cp = tmpDir("txlog_part_sink_cp")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Int)]
    mem.addData((1L, "a", 2020), (2L, "b", 2021))
    val q = mem.toDF().toDF("k", "v", "y")
      .writeStream.format("graft.sources.txlog")
      .option("checkpointLocation", cp).option("path", t)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(TxLog.activeFiles(t).forall(_.contains("y=")),
      TxLog.activeFiles(t))
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 2020), (2L, "b", 2021)))
  }

  test("partitions() lists tuples with file counts and bytes from the log alone") {
    val t = mkPartitioned()
    val parts = TxLog.partitions(t)
    // empty tuple = the pre-declaration seed file; one tuple per year
    val byTuple = parts.map { case (m, n, b) => m -> ((n, b)) }.toMap
    assert(byTuple.keySet === Set(
      Map.empty[String, Option[String]],
      Map("y" -> Some("2020")), Map("y" -> Some("2021"))))
    val p2020 = byTuple(Map("y" -> Some("2020")))
    assert(p2020._1 >= 1 && p2020._2 > 0L, p2020)
  }

  test("clones keep partition semantics: shallow reconstructs, deep re-lands the layout") {
    val t = mkPartitioned()
    val expected = TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet
    val shallow = tmpDir("txlog_part_shallow") + "/t"
    TxLog.cloneTable(spark, t, shallow)
    assert(TxLog.read(spark, shallow).as[(Long, String, Int)]
      .collect().toSet === expected)
    val deep = tmpDir("txlog_part_deep") + "/t"
    TxLog.cloneTableDeep(spark, t, deep)
    assert(TxLog.read(spark, deep).as[(Long, String, Int)]
      .collect().toSet === expected)
    // the deep copy's own files land in the DECLARED layout (property
    // carried before the data write) — partition pruning works on the
    // clone, not just the source
    assert(TxLog.activeFiles(deep).forall(_.contains("y=")),
      TxLog.activeFiles(deep))
    val keep = TxLog.filesForRanges(deep, Map("y" -> (2021.0, 2021.0)))
    assert(keep.size < TxLog.activeFiles(deep).size)
  }

  test("update-mode sink with partitionOverwrite replaces each batch's partitions") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((1L, "a", 2019), (2L, "b", 2020)).toDF("k", "v", "y"), t)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Int)]
    // the rolling gold refresh: this batch re-derives the 2020 partition
    mem.addData((20L, "B", 2020), (21L, "C", 2020))
    val q = mem.toDF().toDF("k", "v", "y")
      .writeStream.format("graft.sources.txlog")
      .option("checkpointLocation", tmpDir("txlog_dynow_cp"))
      .option("path", t).option("partitionOverwrite", "true")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 2019), (20L, "B", 2020), (21L, "C", 2020)))
  }

  test("partition re-declaration: eras coexist; new writes land the new layout") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((1L, "a", 2019, "us")).toDF("k", "v", "y", "r"), t)
    // evolve the layout: partition by (y, r) from here on
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y,r"))
    TxLog.append(Seq((2L, "b", 2020, "eu")).toDF("k", "v", "y", "r"), t)
    val files = TxLog.activeFiles(t)
    assert(files.exists(f => f.contains("y=2019") && !f.contains("r=")))
    assert(files.exists(f => f.contains("y=2020/r=eu")), files)
    // the mixed snapshot reads whole, columns in logged order
    assert(TxLog.read(spark, t).as[(Long, String, Int, String)]
      .collect().toSet ===
      Set((1L, "a", 2019, "us"), (2L, "b", 2020, "eu")))
    // pruning on y works across both eras (exact value in each path)
    val keep = TxLog.filesForRanges(t, Map("y" -> (2020.0, 2020.0)))
    assert(keep.forall(_.contains("y=2020")), keep)
  }

  test("IsNull / IsNotNull prune via partition values, through API and SQL") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((1L, "a", Option(2020))).toDF("k", "v", "y"), t)
    TxLog.append(Seq((2L, "b", None: Option[Int])).toDF("k", "v", "y"), t)
    // API: IsNull keeps only the null-partition file
    val onlyNull = TxLog.readPruned(spark, t, Map.empty, Map.empty,
      isNullCols = Set("y"))
    assert(onlyNull.inputFiles.length === 1)
    assert(onlyNull.select("k").as[Long].collect().toSet === Set(2L))
    val onlyVal = TxLog.readPruned(spark, t, Map.empty, Map.empty,
      isNotNullCols = Set("y"))
    assert(onlyVal.inputFiles.length === 1)
    assert(onlyVal.select("k").as[Long].collect().toSet === Set(1L))
    // SQL: the pushed IsNull prunes the same way and answers correctly
    val view = s"pn_${System.nanoTime()}"
    spark.sql(s"""CREATE OR REPLACE TEMP VIEW $view
                 |USING graft.sources.txlog OPTIONS (path '$t')""".stripMargin)
    assert(spark.sql(s"SELECT k FROM $view WHERE y IS NULL")
      .as[Long].collect().toSet === Set(2L))
    assert(spark.sql(s"SELECT k FROM $view WHERE y IS NOT NULL")
      .as[Long].collect().toSet === Set(1L))
    // and the Spark-injected IsNotNull beside a comparison composes
    assert(spark.sql(s"SELECT k FROM $view WHERE y = 2020")
      .as[Long].collect().toSet === Set(1L))
  }

  test("point lookups on a partition column prune to its partitions") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "p"))
    TxLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "a"))
      .toDF("k", "p"), t)
    TxLog.append(Seq((5L, "b"), (6L, "a")).toDF("k", "p"), t)
    val keep = TxLog.filesForEquals(spark, t, "p", Seq("a"))
    assert(keep.nonEmpty && keep.forall(_.contains("p=a/")), keep)
    assert(keep.size === TxLog.activeFiles(t).count(_.contains("p=a/")))
    assert(TxLog.readEquals(spark, t, "p", Seq("a"))
      .as[(Long, String)].collect().toSet ===
      TxLog.read(spark, t).filter(col("p") === "a")
        .as[(Long, String)].collect().toSet)
    // numeric partition values match in the double domain; the
    // unpartitioned seed file has no partition value and is kept
    val y = mkPartitioned()
    val keepY = TxLog.filesForEquals(spark, y, "y", Seq(2020))
    assert(!keepY.exists(f => f.contains("y=2021") || f.contains("y=2019")),
      keepY)
    val y2020 = TxLog.activeFiles(y).count(_.contains("y=2020"))
    assert(keepY.size === y2020 + 1, keepY)
  }

  test("compact of a partitioned table stamps the checkpoint protocol v4") {
    val t = mkPartitioned()
    TxLog.compact(t)
    val cp = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_txlog"))
      .iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".checkpoint.json"))
    assert(cp.nonEmpty)
    val txt = new String(java.nio.file.Files.readAllBytes(cp.last))
    assert(txt.contains("\"protocolVersion\":4"), txt.take(200))
    // folding from the checkpoint still reads the full table
    assert(TxLog.read(spark, t).count() === 4L)
  }

  test("optimizeWhere compacts one partition's trickle; others stay byte-identical") {
    val t = table()
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    // trickle: 3 single-file commits into 2020, one into 2021
    (1 to 3).foreach(i => TxLog.append(
      Seq((i.toLong, s"v$i", 2020)).toDF("k", "v", "y"), t))
    TxLog.append(Seq((9L, "z", 2021)).toDF("k", "v", "y"), t)
    val others = TxLog.activeFiles(t).filterNot(_.contains("y=2020")).toSet
    assert(TxLog.activeFiles(t).count(_.contains("y=2020")) === 3)
    val v = TxLog.optimizeWhere(spark, t, Map("y" -> 2020))
    assert(v.nonEmpty)
    assert(TxLog.activeFiles(t).count(_.contains("y=2020")) === 1,
      TxLog.activeFiles(t))
    assert(TxLog.activeFiles(t).filterNot(_.contains("y=2020")).toSet ===
      others, "non-matching partitions must keep their exact files")
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "v1", 2020), (2L, "v2", 2020), (3L, "v3", 2020),
        (9L, "z", 2021)))
    // DVs scoped to the rewritten partition materialize and retire
    TxLog.deleteVectors(spark, t, col("k") === 2L)
    assert(TxLog.activeDvs(t).nonEmpty)
    TxLog.optimizeWhere(spark, t, Map("y" -> 2020))
    assert(TxLog.activeDvs(t).isEmpty, "partition rewrite retires its DVs")
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ===
      Set((1L, "v1", 2020), (3L, "v3", 2020), (9L, "z", 2021)))
    // a single-file partition is a no-op
    assert(TxLog.optimizeWhere(spark, t, Map("y" -> 2021)).isEmpty)
  }

  test("streaming file delivery reconstructs partition columns per delivered commit") {
    val t = mkPartitioned()
    val out = tmpDir("txlog_part_stream_out")
    val cp = tmpDir("txlog_part_stream_cp")
    val q = spark.readStream.format("graft.sources.txlog")
      .option("path", t).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).as[(Long, String, Int)].collect().toSet
    assert(got === Set((1L, "a", 2019), (2L, "b", 2020), (3L, "c", 2020),
      (4L, "d", 2021)))
  }
}
