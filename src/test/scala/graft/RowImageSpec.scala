package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** The read side of TxLog as one row-image path: every file set scans
  * through one loop in `readFiles` (an unpartitioned set is the single
  * group with no partition columns), and every change reader takes a
  * commit's pre/post images from one per-commit step. Pins the bare-scan
  * shape of a plain unpartitioned read, an exact read of a mixed-era
  * table, and the agreement of the three change readers commit by
  * commit. */
class RowImageSpec extends SparkSpec {
  import spark.implicits._

  private def touchesMetadata(p: LogicalPlan): Boolean =
    p.exists(n => (n.output ++ n.references).exists(_.name == "_metadata"))

  test("a DV-free unpartitioned read without row ids plans a bare scan") {
    val t = tmpDir("rowimage_bare") + "/t"
    TxLog.append((0L until 40L).map(k => (k, s"v$k")).toDF("k", "v"), t)
    TxLog.append((40L until 60L).map(k => (k, s"v$k")).toDF("k", "v"), t)
    val plan = TxLog.read(spark, t).queryExecution.optimizedPlan
    assert(plan.collectFirst { case j: Join => j }.isEmpty, plan.treeString)
    assert(!touchesMetadata(plan), plan.treeString)
    assert(TxLog.read(spark, t).count() === 60)
    // the probe sees row keys when a read does need them
    TxLog.deleteVectors(spark, t, col("k") < 10)
    val dvPlan = TxLog.read(spark, t).queryExecution.optimizedPlan
    assert(touchesMetadata(dvPlan), dvPlan.treeString)
    assert(TxLog.read(spark, t).count() === 50)
  }

  test("a mixed-era table reads exactly through read and readWithRowIds") {
    val t = tmpDir("rowimage_era") + "/t"
    def rows(ks: Range): DataFrame =
      ks.map(k => (k.toLong, if (k % 2 == 0) "a" else "b", s"v$k"))
        .toDF("k", "p", "v").coalesce(1)
    TxLog.enableRowTracking(t)
    TxLog.append(rows(0 until 20), t)           // unpartitioned era
    TxLog.enableColumnMapping(t)
    TxLog.alterPartitioning(t, Seq("p"))
    TxLog.append(rows(20 until 40), t)          // partitioned era
    assert(TxLog.activeFiles(t).exists(TxLog.partValuesOf(_).isEmpty) &&
      TxLog.activeFiles(t).exists(TxLog.partValuesOf(_).nonEmpty))
    def ids(): Map[Long, Long] = TxLog.readWithRowIds(spark, t)
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    val before = ids()
    // ids are dense per commit: one coalesced file per era-1 append, so
    // era-1 ids are the row positions; era-2 ids fill the next range
    assert((0L until 20L).forall(k => before(k) == k), before)
    assert((20L until 40L).map(before).toSet === (20L until 40L).toSet,
      before)
    TxLog.renameColumn(t, "v", "w")
    TxLog.deleteVectors(spark, t, col("k") % 5 === 0)
    assert(TxLog.activeDvs(t).size === 1)
    val live = (0L until 40L).filter(_ % 5 != 0)
    val expected = live.map(k =>
      (k, if (k % 2 == 0) "a" else "b", s"v$k")).toSet
    val read = TxLog.read(spark, t)
    assert(read.columns.toSeq === Seq("k", "p", "w"))
    assert(read.as[(Long, String, String)].collect().toSet === expected)
    val withIds = TxLog.readWithRowIds(spark, t)
    assert(withIds.select("k", "p", "w").as[(Long, String, String)]
      .collect().toSet === expected)
    assert(ids() === live.map(k => k -> before(k)).toMap)
  }

  test("commitChanges, changes and rowDeltas agree on every commit") {
    val t = tmpDir("rowimage_cdf") + "/t"
    TxLog.setProperties(t, Map("graft.partition.columns" -> "p"))
    def rows(ks: Seq[Long], ver: Long): DataFrame =
      ks.map(k => (k, s"p${k % 3}", k * 10 + ver, ver))
        .toDF("k", "p", "v", "ver")
    TxLog.append(rows(0L until 30L, 0L), t)
    TxLog.enableColumnMapping(t)
    TxLog.merge(spark, t, rows(25L until 35L, 1L), Seq("k"), "ver")
    TxLog.append(rows(35L until 40L, 0L), t)
    TxLog.update(spark, t, col("k") < 5, Map("v" -> lit(-1L)))
    TxLog.deleteVectors(spark, t, col("k") % 7 === 3)
    TxLog.optimize(spark, t)
    val src = Seq((1L, "p1", 7L, 2L, "x"), (2L, "p2", 8L, 2L, "y"),
      (40L, "p1", 9L, 2L, "z")).toDF("k", "p", "v", "ver", "note")
    TxLog.mergeInto(spark, t, src, "t", "s", col("t.k") === col("s.k"),
      matched = Seq(TxLog.MergeUpdate(None, Map("note" -> col("s.note")))),
      notMatched = Seq(TxLog.MergeInsert(None, Seq("k", "p", "v", "ver",
        "note").map(c => c -> col(s"s.$c")).toMap)),
      mergeSchema = true)
    val all = TxLog.commits(t)
    assert(Seq("merge", "append", "update", "dvDelete", "optimize")
      .forall(op => all.exists(_.op == op)), all.map(_.op))

    val first = all.find(_.add.nonEmpty).get.version
    def bag(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
      df.select(cols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).alias(c)): _*)
        .collect().toSeq.map(_.toSeq).groupBy(identity)
        .view.mapValues(_.size).toMap
    def snap(v: Long, cols: Seq[String]): Map[Seq[Any], Int] =
      if (v < first) Map.empty else bag(TxLog.read(spark, t, Some(v)), cols)
    (first to TxLog.latestVersion(t).get).foreach { v =>
      val perCommit = TxLog.commitChanges(spark, t, v, Seq("k"))
      val window = TxLog.changes(spark, t, Seq("k"),
        if (v == first) 0L else v - 1, v)
      assert(perCommit.columns.toSet === window.columns.toSet, s"v$v")
      val cols = window.columns.toSeq
      assert(bag(perCommit, cols) === bag(window, cols),
        s"commitChanges($v) vs changes(${v - 1}, $v)")

      val schema = TxLog.schemaAsOf(t, Some(v)).get.fieldNames.toSeq
      val signed = TxLog.rowDeltas(spark, t, v - 1, v).collect().toSeq
        .groupBy(r => schema.map(c => r.get(r.fieldIndex(c))))
        .view.mapValues(_.map((r: Row) => r.getAs[Int]("_sign")).sum)
        .filter(_._2 != 0).toMap
      val post = snap(v, schema)
      val pre = snap(v - 1, schema)
      val diff = (post.keySet ++ pre.keySet).map(k =>
        k -> (post.getOrElse(k, 0) - pre.getOrElse(k, 0)))
        .filter(_._2 != 0).toMap
      assert(signed === diff, s"rowDeltas(${v - 1}, $v)")
    }
  }
}
