package graft

import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** Declared clustered writes (`graft.cluster.columns`, the
  * liquid-clustering-lite property): every write range-repartitions +
  * sorts by the declared columns, so per-file stats are tight and
  * range reads prune from day one — no OPTIMIZE ZORDER pass needed. */
class ClusteredWriteSpec extends SparkSpec {
  import spark.implicits._

  private def frame() = spark.range(0, 4000)
    .select(col("id").alias("k"), (col("id") % 97).alias("m"))
    .repartition(8) // round-robin: every partition spans the full domain

  test("declared cluster columns make range reads prune from the first write") {
    val t = tmpDir("clustered") + "/t"
    TxLog.setProperties(t, Map("graft.cluster.columns" -> "k"))
    TxLog.append(frame(), t)
    val files = TxLog.activeFiles(t)
    assert(files.size >= 4)
    val pruned = TxLog.readRange(spark, t, "k", 10.0, 20.0)
    assert(pruned.inputFiles.length <= 2,
      s"clustered write must prune to ~1 file, read ${pruned.inputFiles.length} of ${files.size}")
    assert(pruned.filter(col("k").between(10, 20)).count() === 11)
    // cluster columns stats-record implicitly — no stats property set
    assert(TxLog.commits(t).last.stats.nonEmpty)
  }

  test("the same write without the property prunes nothing (control)") {
    val t = tmpDir("clustered") + "/t"
    TxLog.append(frame(), t)
    val pruned = TxLog.readRange(spark, t, "k", 10.0, 20.0)
    assert(pruned.inputFiles.length === TxLog.activeFiles(t).size,
      "round-robin files all span the domain — nothing prunes")
  }

  test("DML rewrites keep the declared clustering's stats recorded") {
    val t = tmpDir("clustered") + "/t"
    TxLog.setProperties(t, Map("graft.cluster.columns" -> "k"))
    TxLog.append(frame(), t)
    val before = TxLog.readRange(spark, t, "k", 3000.0, 3010.0).inputFiles.length
    spark.sql(s"UPDATE txlog.`$t` SET m = -1 WHERE k = 15")
    val pruned = TxLog.readRange(spark, t, "k", 3000.0, 3010.0)
    assert(pruned.inputFiles.length === before, "pruning survives the rewrite")
    assert(pruned.filter(col("k") === 3005).count() === 1)
    val upd = TxLog.commits(t).last
    assert(upd.op === "update" && upd.add.nonEmpty)
    assert(upd.add.forall(f => upd.stats.get(f).exists(_.contains("k"))),
      s"the rewritten file must record k stats: ${upd.stats}")
  }

  test("OPTIMIZE on a table declaring only cluster columns keeps their stats") {
    val t = tmpDir("clustered") + "/t"
    TxLog.setProperties(t, Map("graft.cluster.columns" -> "k"))
    TxLog.append(frame(), t)
    TxLog.optimize(spark, t, targetFiles = 8, clusterBy = Seq(col("k")))
    val opt = TxLog.commits(t).last
    assert(opt.op === "optimize" && opt.add.size > 1)
    // range boundaries are sampled: an 11-key range sits in one ~500-key
    // output file or straddles two
    val pruned = TxLog.readRange(spark, t, "k", 3000.0, 3010.0)
    assert(pruned.inputFiles.length <= 2,
      s"read ${pruned.inputFiles.length} of ${opt.add.size} files")
    assert(pruned.filter(col("k").between(3000, 3010)).count() === 11)
    assert(opt.add.forall(f => opt.stats.get(f).exists(_.contains("k"))),
      s"every compacted file must record k stats: ${opt.stats}")
  }
}
