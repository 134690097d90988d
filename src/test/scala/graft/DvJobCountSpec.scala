package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.functions.col

import graft.ops.TxLog

/** Spark jobs a deletion-vector read, delete and `optimizeDvs` start on
  * a 4-file, 100 000-row table. Every DV is one bitset read through one
  * fixed-schema sidecar read, so a DV'd read adds exactly one job (the
  * sidecar collect) to the DV-free read's two, whatever the delete's
  * shape. */
class DvJobCountSpec extends SparkSpec {

  private def fourFiles(): String = {
    val t = tmpDir("dvjobs") + "/t"
    TxLog.append(spark.range(0, 100000).repartition(4).toDF(), t)
    assert(TxLog.activeFiles(t).size === 4)
    t
  }

  Seq("a 50% contiguous delete" -> (col("id") < 50000),
      "an every-other-row delete" -> (col("id") % 2 === 0)).foreach {
    case (shape, cond) =>
      test(s"DV job counts after $shape") {
        val t = fourFiles()
        assert(JobCount(spark)(
          assert(TxLog.read(spark, t).count() === 100000)) === 2)
        assert(JobCount(spark)(TxLog.deleteVectors(spark, t, cond)) === 3)
        // the DV-free read's two, plus the one sidecar collect
        assert(JobCount(spark)(
          assert(TxLog.read(spark, t).count() === 50000)) === 3)
        // every file is half dead, so all four rewrite and every DV
        // retires; row totals come from the log, so no data file is
        // scanned to pick them
        assert(JobCount(spark)(TxLog.optimizeDvs(spark, t)) === 3)
        assert(TxLog.activeDvs(t).isEmpty)
        assert(TxLog.read(spark, t).count() === 50000)
      }
  }
}
