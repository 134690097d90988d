package graft

import org.apache.spark.sql.SparkSession

/** The catalog runner every driver main shares (Bench, Verify,
  * TimeEntries, ScaleProbe, PlanSnap): one session shape, one
  * way to run and time an entry, one state-store unload, one JSON string
  * escaper.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** [[Graft.session]] on `local[cpus]` with every dialect conf a catalog
    * entry may flip set ONCE, up front: some builders mutate session confs
    * (ANSI off, nanosAsLong, the RocksDB provider st10 needs), and a conf
    * set by one entry mid-run would change the analysis-time semantics of
    * an unrelated entry planned concurrently or after it. The maintenance
    * daemon is parked (600 s) because [[run]] unloads providers explicitly
    * between entries; the next stateful query restarts it with this value.
    * Logging is ERROR-only: a failed entry is reported by [[report]].
    */
  def session(): SparkSession = {
    val spark = Graft.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Graft.referenceSemantics(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.SessionizeTws.configure(spark)
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    spark
  }

  private lazy val entries = SparkEntry.queries

  /** Seconds to run catalog entry `name` on `sfDir`, or NaN if it failed.
    * The noop sink forces every output column to be computed (a bare
    * count() would let Catalyst prune the projections being measured).
    * Every state-store provider the entry loaded is unloaded afterwards,
    * OUTSIDE the timed region: otherwise closing them lands at a later
    * maintenance tick, charged to whichever entry runs then.
    */
  def run(spark: SparkSession, name: String, sfDir: String): Double =
    try timed(spark, name, sfDir) finally unloadStateStores()

  /** [[run]] without the unload, for entries that run concurrently: a
    * `StateStore.stop()` would close providers of streams still running. */
  def timed(spark: SparkSession, name: String, sfDir: String): Double = {
    val s0 = System.nanoTime()
    try {
      entries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s0) / 1e9
    } catch { case e: Throwable =>
      report(name, e)
      Double.NaN
    }
  }

  /** Class + top frames on stderr: a null-message NPE with no stack cost a
    * debugging session once. */
  def report(name: String, e: Throwable): Unit =
    System.err.println(s"[harness] $name failed: ${e.getClass.getName}: " +
      s"${e.getMessage}\n  " + e.getStackTrace.take(6).mkString("\n  "))

  /** Stops the StateStore maintenance daemon and closes every loaded
    * provider; the next stateful query restarts both. */
  def unloadStateStores(): Unit = scala.util.Try(
    org.apache.spark.sql.execution.streaming.state.StateStore.stop())

  /** `s` as a quoted JSON string: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would otherwise
    * make a consumer's json.load fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
