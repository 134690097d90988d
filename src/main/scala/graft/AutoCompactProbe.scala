package graft

import graft.ops.TxLog

/** Dev-tool main: writer auto-compaction cost-shape probe, printed as
  * PERF.md rows. Trickles N single-file appends into two tables — one
  * bare, one with `graft.autoCompact.*` — and reports the final active
  * file count, the total ingest wall time (the fold's synchronous cost
  * rides the write path), and a timed full scan of each. The claim
  * under test: the fold bounds FILE COUNT (scan cost grows with open()
  * count, not bytes) for a constant, amortized write-path tax. */
object AutoCompactProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(120)
    val spark = Graft.session("local[8]", 8)
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft_acprobe")
    def trickle(table: String): Double = {
      val t0 = System.nanoTime()
      (1 to n).foreach { i =>
        TxLog.append((1 to 50).map(j => (i * 1000L + j, s"r$i-$j"))
          .toDF("k", "v").coalesce(1), table)
      }
      (System.nanoTime() - t0) / 1e9
    }
    def scanMs(table: String): Double = {
      val t0 = System.nanoTime()
      TxLog.read(spark, table).agg(org.apache.spark.sql.functions
        .sum("k")).collect()
      (System.nanoTime() - t0) / 1e3 / 1e3
    }
    val bare = s"$root/bare"
    val auto = s"$root/auto"
    TxLog.setProperties(auto, Map(
      "graft.autoCompact.enabled" -> "true",
      "graft.autoCompact.minFileSize" -> (16L * 1024 * 1024).toString,
      "graft.autoCompact.minFiles" -> "16"))
    val tBare = trickle(bare)
    val tAuto = trickle(auto)
    val (fBare, fAuto) =
      (TxLog.activeFiles(bare).size, TxLog.activeFiles(auto).size)
    val (sBare, sAuto) = (scanMs(bare), scanMs(auto))
    println(f"| appends | files (bare) | files (auto) | ingest bare | ingest auto | scan bare | scan auto |")
    println(f"| $n | $fBare | $fAuto | $tBare%.1f s | $tAuto%.1f s | $sBare%.0f ms | $sAuto%.0f ms |")
    spark.stop()
  }
}
