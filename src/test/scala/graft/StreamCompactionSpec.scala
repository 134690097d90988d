package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.TxLog

/** Small-file control for PARTITIONED streaming txlog sinks (VERDICT r13
  * item 3 — the 100 TB spiral: one file per partition per trigger,
  * forever). Pins the write distribution (one file per touched partition
  * per micro-batch, however the input is partitioned) and the table's
  * `graft.autoCompact.*` policy applied to the sink's commits
  * (files-per-partition bounded over many triggers; optimize commits
  * invisible to streaming readers). */
class StreamCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(props: Map[String, String] = Map.empty): String = {
    val t = tmpDir("stream_compact") + "/t"
    TxLog.setProperties(t, Map("graft.partition.columns" -> "p") ++ props)
    t
  }

  private def filesPerPartition(t: String): Map[String, Int] =
    TxLog.activeFiles(t).groupBy(f =>
      f.split("/").find(_.startsWith("p=")).getOrElse("?"))
      .view.mapValues(_.size).toMap

  test("binpack lands ONE file per touched partition per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val t = mkTable()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "p")
      .repartition(4) // adversarial input partitioning: 4 tasks/batch
      .writeStream.format("graft.sources.txlog")
      .option("checkpointLocation", tmpDir("stream_compact_cp"))
      .option("path", t)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      (1 to 3).foreach { b =>
        in.addData((b * 10L, "a"), (b * 10L + 1, "a"), (b * 10L + 2, "b"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val fp = filesPerPartition(t)
    assert(fp === Map("p=a" -> 3, "p=b" -> 3),
      s"3 batches × 1 file per touched partition expected, got $fp")
    assert(TxLog.read(spark, t).count() === 9)
  }

  test("graft.autoCompact.* bounds files-per-partition across triggers") {
    implicit val sqlCtx = spark.sqlContext
    // every trigger lands one small file in each of 2 partitions, so the
    // policy folds the small files on every second trigger
    val t = mkTable(Map(
      "graft.autoCompact.enabled" -> "true",
      "graft.autoCompact.minFileSize" -> (1024L * 1024).toString,
      "graft.autoCompact.minFiles" -> "4"))
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "p")
      .writeStream.format("graft.sources.txlog")
      .option("checkpointLocation", tmpDir("stream_compact_cp"))
      .option("path", t)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      (1 to 6).foreach { b =>
        in.addData((b.toLong, "a"), (b.toLong, "b"))
        q.processAllAvailable()
      }
    } finally q.stop()
    // 6 triggers: without compaction 6 files per partition; the policy
    // folds sub-threshold files, so the trickle stays bounded
    val fp = filesPerPartition(t)
    assert(fp.values.forall(_ <= 3),
      s"auto-compaction must bound the trickle, got $fp")
    assert(TxLog.commits(t).count(_.op == "optimize") >= 2,
      "the policy must have run")
    // contents exact through every fold
    assert(TxLog.read(spark, t).groupBy("p").count()
      .as[(String, Long)].collect().toMap === Map("a" -> 6L, "b" -> 6L))
    // and a fresh streaming reader of the compacted table starts clean
    // (optimize commits deliver nothing — dataChange=false analog)
    val rows = spark.readStream.format("graft.sources.txlog")
      .option("path", t).load()
    val q2 = rows.writeStream.format("memory").queryName("compact_tail")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("compact_tail").count() === 12)
  }

  test("the sink refuses its retired compaction options, naming the policy") {
    implicit val sqlCtx = spark.sqlContext
    Seq("binpack" -> "false", "autoCompactEvery" -> "2",
        "autoCompactMinBytes" -> "1024").foreach { case (k, v) =>
      val in = MemoryStream[(Long, String)]
      val e = intercept[IllegalArgumentException] {
        in.toDF().toDF("k", "p")
          .writeStream.format("graft.sources.txlog")
          .option("checkpointLocation", tmpDir("stream_compact_cp"))
          .option("path", mkTable()).option(k, v)
          .start()
      }
      assert(e.getMessage.contains(k) &&
        e.getMessage.contains("graft.autoCompact.minFiles"), e.getMessage)
    }
  }
}
