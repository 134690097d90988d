package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated entry-name prefixes — a fast
    // local loop for a few entries ("… /tmp/out st42,ext_ann"); the driver
    // always passes two args, so the full dump is unchanged
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").map(_.trim).toSet))
    }
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val queries = SparkEntry.queries
    only.foreach(_.filterNot(p => queries.keys.exists(_.startsWith(p)))
      .foreach(p => System.err.println(s"[verify] no entry matches $p")))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Watchdog: one hung query (e.g. a stream that never drains in a
    // changed environment) must not stall the whole correctness dump.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong
    queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // fresh daemon thread per query: a timed-out thread is abandoned
      // (it cannot block the next query the way a pooled worker would)
      @volatile var err: Throwable = null
      val t = new Thread(() => {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable => err = e }
      }, s"verify-$name")
      t.setDaemon(true)
      t.start()
      t.join(timeoutSec * 1000)
      if (t.isAlive) {
        t.interrupt()
        spark.sparkContext.cancelAllJobs()
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        System.err.println(s"[verify] $name timed out after ${timeoutSec}s")
      } else if (err != null) {
        Harness.report(name, err)
      }
      Harness.unloadStateStores()
    }
    // `__SF__` → the sf-dir name: staged-parquet oracles (ExtQueries) read
    // intermediates keyed by the scale this dump ran at, so a later run at
    // another sf can't clobber what the driver's DuckDB pass will read
    val sfName = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) =>
        s"${Harness.json(k)}: ${Harness.json(v.replace("__SF__", sfName))}"
      }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Orderly stream/state-store/session teardown — a RocksDB metrics poll
    // racing JVM exit SIGSEGVs in native code (see Graft.shutdown).
    Graft.shutdown(spark)
  }
}
