package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.TxLog

/** DV and bloom-sidecar retirement on the commits that add or retire
  * data files: a sidecar retires with the commit that removes the last
  * data file it references, survives while one of its files is kept,
  * and a commit that removes nothing retires nothing. */
class SwapRetirementSpec extends SparkSpec {
  import spark.implicits._

  /** A table partitioned by `p` and bloom-indexed on `k`, with one data
    * file and one bloom sidecar per partition (two appends) and one
    * active DV on the p = 0 file. Returns (table, p=0 file, p=1 file,
    * the DV, p=0 sidecar, p=1 sidecar). */
  private def setup(): (String, String, String, String, String, String) = {
    val t = tmpDir("swapret") + "/t"
    TxLog.setProperties(t, Map("graft.partition.columns" -> "p",
      "graft.bloom.columns" -> "k"))
    TxLog.append(Seq((1L, 0), (2L, 0), (3L, 0)).toDF("k", "p").coalesce(1), t)
    val a1 = TxLog.commits(t).last
    TxLog.append(Seq((11L, 1), (12L, 1)).toDF("k", "p").coalesce(1), t)
    val a2 = TxLog.commits(t).last
    TxLog.deleteVectors(spark, t, col("k") === 2L)
    val dv = TxLog.activeDvs(t)
    assert(a1.add.size === 1 && a2.add.size === 1 && dv.size === 1)
    assert(a1.bloomAdd.size === 1 && a2.bloomAdd.size === 1)
    (t, a1.add.head, a2.add.head, dv.head, a1.bloomAdd.head, a2.bloomAdd.head)
  }

  test("overwritePartitions of the DV'd file's partition retires its DV and sidecar") {
    val (t, f0, f1, dv, bl0, bl1) = setup()
    TxLog.overwritePartitions(Seq((5L, 0)).toDF("k", "p"), t)
    val c = TxLog.commits(t).last
    assert(c.remove === Seq(f0))
    assert(c.dvRemove === Seq(dv) && c.bloomRemove === Seq(bl0))
    assert(TxLog.activeDvs(t).isEmpty)
    assert(TxLog.activeBlooms(t).contains(bl1))
    assert(TxLog.activeFiles(t).contains(f1))
    assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet ===
      Set(5L, 11L, 12L))
  }

  test("a kept file keeps its DV and sidecar") {
    val (t, f0, f1, dv, bl0, bl1) = setup()
    TxLog.overwritePartitions(Seq((15L, 1)).toDF("k", "p"), t)
    val c = TxLog.commits(t).last
    assert(c.remove === Seq(f1))
    assert(c.dvRemove.isEmpty && c.bloomRemove === Seq(bl1))
    assert(TxLog.activeDvs(t) === Seq(dv))
    assert(TxLog.activeBlooms(t).contains(bl0))
    assert(TxLog.activeFiles(t).contains(f0))
    assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet ===
      Set(1L, 3L, 15L))
    // the kept sidecar still prunes: a point lookup opens the one file
    // whose filter may hold the key
    assert(TxLog.filesForEquals(spark, t, "k", Seq(3L)) === Seq(f0))
  }

  test("fsck after the DV'd file is deleted retires its DV and sidecar") {
    val (t, f0, _, dv, bl0, bl1) = setup()
    Files.delete(Paths.get(t, f0))
    assert(TxLog.fsck(spark, t) === Seq(f0))
    val c = TxLog.commits(t).last
    assert(c.op === "fsck" && c.remove === Seq(f0))
    assert(c.dvRemove === Seq(dv) && c.bloomRemove === Seq(bl0))
    assert(TxLog.activeDvs(t).isEmpty && TxLog.activeBlooms(t) === Seq(bl1))
    assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet ===
      Set(11L, 12L))
  }

  test("append and copyInto retire nothing") {
    val (t, _, _, dv, bl0, bl1) = setup()
    TxLog.append(Seq((21L, 0)).toDF("k", "p"), t)
    val src = tmpDir("swapret-src")
    Seq((31L, 1)).toDF("k", "p").coalesce(1).write.parquet(s"$src/b1")
    assert(TxLog.copyInto(spark, t, src)._2 === 1L)
    TxLog.commits(t).takeRight(2).foreach { c =>
      assert(c.remove.isEmpty && c.dvRemove.isEmpty && c.bloomRemove.isEmpty,
        s"${c.op} retired something")
      assert(c.bloomAdd.nonEmpty, s"${c.op} must index its own file")
    }
    assert(TxLog.activeDvs(t) === Seq(dv))
    assert(Set(bl0, bl1).subsetOf(TxLog.activeBlooms(t).toSet))
    assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet ===
      Set(1L, 3L, 11L, 12L, 21L, 31L))
  }
}
