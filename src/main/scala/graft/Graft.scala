package graft

import org.apache.spark.sql.SparkSession

/** Session factory + reference-semantics configuration.
  *
  * The reference pipeline (Rooban1030/Amazon-Books-Review) ran on a Spark
  * where ANSI mode was off: division by zero yields NULL
  * (Amazon-book-review_books_reviews.py:52) and casting garbage strings
  * yields NULL (details.py:99). Spark 4 defaults `spark.sql.ansi.enabled=true`,
  * so [[referenceSemantics]] flips the session into the reference's dialect.
  * `spark.sql.legacy.timeParserPolicy=LEGACY` mirrors details.py:111 (mixed
  * `yyyy` / `yyyy-MM-dd` date strings).
  */
object Graft {

  /** Runtime confs that reproduce the reference's SQL dialect. Safe to call
    * per-query: these are session-level runtime confs, applied before plan
    * analysis of any DataFrame built afterwards.
    */
  def referenceSemantics(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    spark
  }

  /** Orderly end-of-main teardown for Bench/Verify. The RocksDB state-store
    * provider keeps native handles loaded after every streaming query has
    * finished, and the StateStore maintenance daemon keeps polling their
    * native statistics (ticker counts). If the JVM exits — or `spark.stop()`
    * tears the env down — while a poll is in flight, the poll reads a freed
    * native Statistics object: SIGSEGV in librocksdbjni
    * (`StatisticsImpl::getTickerCountLocked`), observed twice at bench
    * teardown in round 7. Sequence here: stop every live stream, then
    * `StateStore.stop()` (joins the maintenance thread and closes every
    * loaded provider under the providers lock — no poll can race a close),
    * then `spark.stop()`. */
  def shutdown(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    spark.stop()
  }

  /** Local session tuned for this environment (single JVM, many cores).
    * File listing always stays on the driver: above
    * `parallelPartitionDiscovery.threshold` paths (default 32: a
    * partitioned table's directories, or a multi-path read such as
    * TxLog's) `InMemoryFileIndex` lists through a Spark job, which in a
    * local session runs on the same cores and only adds task scheduling
    * and result serialization. On a real cluster the same settings hold
    * except master, partitions and that listing threshold, which come
    * from the deploy environment.
    */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      // native functions + top-k strategy + txlog SQL DML parser — the
      // full library surface on every session (a cluster deploy sets
      // spark.sql.extensions=graft.functions.GraftExtensions instead)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
