package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ops.QueryDef.StageSql
import graft.ops.Fixtures.StagedInputOps

/** Structured Streaming surface (SURVEY.md §2.9) made oracle-checkable:
  * each entry runs a real streaming query (file source → stateful
  * transform → sink, with checkpoint) under `Trigger.AvailableNow`, then
  * returns the materialized sink — whose content equals the batch/SQL
  * answer, so the DuckDB oracle still applies.
  *
  * State posture at scale: st3 reproduces the reference's watermark-free
  * unbounded-state join (legal, grows forever — M:116-121); st4 is the
  * production variant with watermarks + a time-bound condition so both
  * sides' state is evictable. st5 is the complete-mode aggregate
  * (M:162-183 shape) over event-time tumbling windows.
  */
object StreamingQueries {

  /** events schema for the file-stream source. `ts` is µs TimestampType
    * because [[stageEventsDir]] normalizes the lake's mixed physical
    * encodings (nanos-long / TIMESTAMP_NTZ / µs timestamp) at staging
    * time — every downstream stream is encoding-agnostic. */
  private val eventsRaw = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The file stream source ingests directories; stage the single-file
    * events table into a temp dir (stand-in for the landing zone the
    * reference's Auto Loader watched). Staging goes through
    * [[graft.Tables.loadEvents]], so whatever timestamp precision the
    * lake produced, the landing file always carries µs TimestampType
    * `ts` — the 100 TB posture is "normalize once at the bronze edge,
    * never branch downstream". coalesce(1) keeps the table a single
    * file so `maxFilesPerTrigger = 1` still means one micro-batch per
    * staged file.
    *
    * MEMOIZED per source dir per JVM: the normalization is
    * deterministic and every regular caller only READS the staged dir,
    * so "normalize once at the bronze edge" is literal — one
    * read→normalize→write regardless of how many streaming entries run
    * (previously ~22 re-stagings per bench pass). `computeIfAbsent`
    * also serializes concurrent first-stagers on the same key, so
    * Bench's concurrent pass stages exactly once. Callers that add
    * sentinel files build their own landing FIXTURE from this dir
    * (st35 / outerStreamJoin) instead of mutating the shared one. */
  private val stagedEvents =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageEventsDir(s: SparkSession, dir: String): String =
    stagedEvents.computeIfAbsent(dir, _ => normalizeEventsDir(s, dir))

  /** The one read→normalize→write pass behind the memo. */
  private def normalizeEventsDir(s: SparkSession, dir: String): String = {
    val d = Files.createTempDirectory("graft_events_src")
    graft.Tables.loadEvents(s, s"$dir/events.parquet")
      .coalesce(1).write.mode("append").parquet(d.toString)
    d.toString
  }


  /** Catalog-wide state-store default: every streaming entry runs on
    * RocksDB (st10's transformWithState requirement, and the 100 TB
    * posture for the rest — state spills to disk instead of sizing the
    * JVM heap to the key space). Session-level conf, picked up by each
    * query at start. Asserted on a running query in StateStoreSpec. */
  private def configureStreaming(s: SparkSession): Unit =
    graft.streaming.SessionizeTws.configure(s)

  /** Input bytes of the sf dir, memoized per dir — the scale signal for
    * [[streamSession]]'s partition sizing. */
  private val sfBytes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def inputBytes(dir: String): Long =
    sfBytes.computeIfAbsent(dir, d =>
      TxLog.walkDir(java.nio.file.Paths.get(d))
        .filter(Files.isRegularFile(_)).map(Files.size).sum)

  /** Derived session for streaming entries (own SQLConf, shared
    * SparkContext): shuffle/state partition count follows the INPUT
    * SIZE, not the machine's core count (guide §2 — scale-adaptive
    * partitioning instead of a constant tuned for either local mode or
    * the cluster). A stateful streaming entry's wall clock at bench
    * scale is per-partition FIXED cost — one RocksDB store open +
    * commit + checkpoint per partition, per stateful operator, per
    * micro-batch — so partitions must be proportional to data, or tiny
    * state pays 32 stores × batches for nothing while cluster-scale
    * inputs still get full parallelism from the clamp.
    *
    * partitions = clamp(inputBytes / `graft.stream.partitionTargetBytes`
    * (default 4 MiB), 4, defaultParallelism). At sf0.1 (~17 MB inputs)
    * that is 5; at 10× the data it saturates the local cores; on a
    * cluster the defaultParallelism clamp binds and the target-bytes
    * conf is the production sizing knob (state partitions are fixed at
    * the first checkpoint, so a deployment sizes them to PEAK
    * throughput — the conf exists precisely so that choice is explicit).
    *
    * Generalizes the fixed `8` the outer-join entries (st4/st24/st26/
    * st35/st33/st37) shipped with in r14–r16: same rationale
    * ("partition count is a throughput knob, not semantics"), now
    * derived from data size instead of hard-coded, and applied to every
    * streaming entry. The sub-session keeps the narrower setting out of
    * the shared session — Bench's concurrent pass forbids mid-run
    * session-conf mutation. */
  private def streamSession(s0: SparkSession, dir: String): SparkSession = {
    val s = s0.newSession()
    graft.Graft.referenceSemantics(s)
    configureStreaming(s)
    val target = s0.conf.getOption("graft.stream.partitionTargetBytes")
      .flatMap(_.toLongOption).getOrElse(4L * 1024 * 1024)
    val n = math.max(4L, math.min(
      s0.sparkContext.defaultParallelism.toLong,
      inputBytes(dir) / target + 1)).toInt
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    // inherit the caller's maintenance cadence (Bench parks the daemon
    // for its sequential pass; a sub-session must not un-park it)
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval",
      s0.conf.get("spark.sql.streaming.stateStore.maintenanceInterval"))
    s
  }

  /** Streaming read of a staged events dir with µs TimestampType `ts`
    * (the staged file is already normalized — see [[stageEventsDir]]). */
  private def eventsStream(s: SparkSession, stagedDir: String): DataFrame = {
    configureStreaming(s)
    s.readStream.schema(eventsRaw)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run independent `actions` of one micro-batch together and wait for
    * all of them, so the scheduler overlaps their fixed costs instead of
    * the driver sequencing them. The pool is made per
    * call, on the batch's thread: its threads inherit the batch's Spark
    * local properties (job description, query and run id), and a long-
    * lived pool would label every later job with the batch that first
    * started its threads. */
  private def overlapped(actions: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(actions.size,
        Runtime.getRuntime.availableProcessors)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try actions.map(a => Future(a())).foreach(
      Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
  }

  /** Shared CDF-consumer foreachBatch body (st22/st27): write each
    * delivered commit version's change rows to its own `v=` dir. The
    * per-version jobs are independent (distinct output dirs, read-only
    * against the log), so they run [[overlapped]]. */
  private def writeVersionDeltas(s: SparkSession, table: String,
      out: String)(batch: DataFrame): Unit =
    overlapped(batch.select("version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq.map { v => () =>
        // commitChanges is O(files the commit touched), never
        // O(snapshot), and the first data commit reads as all-insert
        TxLog.commitChanges(s, table, v, Seq("c_custkey"))
          .withColumn("version", lit(v))
          .write.mode("overwrite").parquet(s"$out/v=$v")
      }: _*)

  /** Staged documents landing dir + streaming read (the corpus-ingest
    * analog of [[stageEventsDir]]/[[eventsStream]]). */
  private def stageDocsDir(dir: String): String = {
    val d = Files.createTempDirectory("graft_docs_src")
    Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("documents.parquet"))
    d.toString
  }

  /** Stage any single-file sf table into its own landing dir (the bronze
    * ingest source shape — the file-stream source reads directories). */
  private def stageTable(dir: String, name: String): String = {
    val d = Files.createTempDirectory(s"graft_${name}_src")
    Files.copy(java.nio.file.Paths.get(s"$dir/$name.parquet"),
      d.resolve(s"$name.parquet"))
    d.toString
  }

  /** The "corpus under ingest" txlog table the day-2 streaming entries
    * (st42/st46/st50) consume: four ordered quartile commits of
    * (doc_id, text), width derived from the corpus so the trickle covers
    * the WHOLE corpus at any sf. Staged once per sf on disk
    * ([[Fixtures.immutableTable]] — was per-JVM memoized, which rebuilt
    * the 4-commit table once per Verify/Bench/TimeEntries process): the
    * builds are byte-identical and the table is READ-ONLY under the
    * txlog streaming source (each entry keeps its own checkpoint, index
    * dirs and sink), so sharing it is the [[stageEventsDir]] input-
    * staging discipline, not result caching: every consumer still runs
    * its stream and computes its answer from the table. */
  private def docsQuartileTable(s: SparkSession, dir: String): String =
    Fixtures.immutableTable(dir, "docs_trickle", 1) { table =>
      val docs = graft.Tables.load(s, dir, "documents")
        .select("doc_id", "text")
      val quartileW = docs.agg(max("doc_id")).first().getLong(0) / 4 + 1
      (0 until 4).foreach { q =>
        TxLog.append(docs.filter(
          col("doc_id") >= q * quartileW &&
            col("doc_id") < (q + 1) * quartileW)
          .repartition(2), table)
      }
    }

  private def docsStream(s: SparkSession, stagedDir: String): DataFrame = {
    configureStreaming(s)
    // schema from the staged file's OWN footer, not a hard-coded struct:
    // the testdata regenerator has already changed physical types once
    // (events.ts, the r10 regression class) — a streaming source must
    // declare whatever the landing zone actually contains
    s.readStream.schema(s.read.parquet(stagedDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
  }

  /** Shared core of the watermarked OUTER stream-stream join entries
    * (st24/st26): stage events + two sentinel micro-batches, run the
    * 1-hour-window join with the requested `joinType`, return the
    * materialized sink (caller applies its batch-side sentinel guard).
    *
    * Runs on a DERIVED session (own SQLConf, shared SparkContext) with
    * data-sized state partitions ([[streamSession]]). The partition
    * count is a throughput knob, not semantics — at 100 TB you size it
    * to the cluster; at bench scale the entry's wall time IS the fixed
    * RocksDB commit cost of (partitions × 4 join state stores × 3
    * micro-batches), which 32 partitions would quadruple for zero
    * benefit on 60 k rows. The sub-session keeps the narrower setting
    * out of the shared session — Bench's concurrent pass forbids
    * mid-run session-conf mutation. */
  private def outerStreamJoin(s0: SparkSession, dir: String,
      joinType: String, prefix: String): DataFrame = {
    val out = tmp(prefix)
    val s = streamSession(s0, dir)
    // The landing dir (normalized events + TWO sentinel files, each its
    // own micro-batch under maxFilesPerTrigger = 1) is deterministic per
    // sf: a watermark computed at batch N's end only evicts state — and
    // emits outer NULLs — while batch N+1 RUNS, so the first sentinel
    // advances the watermark past the real tail and the second gives
    // the join a batch to flush under it. Staged ONCE per sf with
    // EXPLICIT mtimes (mtime is the file source's delivery order — the
    // st40 discipline); st24/st26 share the build, each keeps its own
    // checkpoint/sink.
    val src = Fixtures.immutableTable(dir, "stoj_src", 1) { t =>
      val base = stageEventsDir(s, dir)
      // staged ts is normalized µs TimestampType; the tail in µs
      val maxTsUs = s.read.schema(eventsRaw).parquet(base)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      Files.createDirectories(java.nio.file.Paths.get(t))
      var n = 0
      def land(p: java.nio.file.Path): Unit = {
        val dst = java.nio.file.Paths.get(t, f"b$n%04d.parquet")
        Files.copy(p, dst)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
          .fromMillis(1600000000000L + n * 60000L))
        n += 1
      }
      TxLog.listDir(java.nio.file.Paths.get(base))
        .filter(_.getFileName.toString.endsWith(".parquet")).foreach(land)
      import s.implicits._
      Seq(2L, 4L).foreach { h =>
        val d = tmp("graft_stoj_b")
        Seq(
          (-2 * h, maxTsUs + h * 3600 * 1000000L, -1L, "purchase", 0.0, "{}"),
          (-2 * h - 1, maxTsUs + h * 3600 * 1000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .withColumn("ts", timestamp_micros(col("ts")))
          .coalesce(1).write.mode("overwrite").parquet(d)
        TxLog.listDir(java.nio.file.Paths.get(d))
          .filter(_.getFileName.toString.endsWith(".parquet")).foreach(land)
      }
    }
    val p = eventsStream(s, src).filter(col("event_type") === "purchase")
      .select(col("event_id").alias("purchase_id"), col("user_id"),
        col("ts").alias("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = eventsStream(s, src).filter(col("event_type") === "click")
      .select(col("event_id").alias("click_id"),
        col("user_id").alias("c_user_id"), col("ts").alias("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"), joinType)
      .select("purchase_id", "click_id")
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    s0.read.parquet(s"$out/sink")
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("st1_stream_file_append",
      "file stream source → filter/project → append parquet sink + checkpoint (S4/S6/T5/T6)",
      "SELECT event_id, user_id FROM events WHERE event_type = 'click'") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st1")
      eventsStream(s, stageEventsDir(s, dir))
        .filter(col("event_type") === "click")
        .select("event_id", "user_id")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    QueryDef("st2_stream_agg_complete",
      "watermark-free streaming grouped count, complete mode via foreachBatch overwrite (A2/S7)",
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st2")
      eventsStream(s, stageEventsDir(s, dir))
        .groupBy("event_type").agg(count(lit(1)).alias("cnt"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", s"$out/_cp")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/sink")
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    QueryDef("st3_stream_stream_join",
      "watermark-free stream-stream inner equi-join (J1 shape: unbounded symmetric-hash state)",
      "SELECT p.event_id AS purchase_id, c.event_id AS click_id FROM events p JOIN events c ON p.user_id = c.user_id AND p.event_type = 'purchase' AND c.event_type = 'click'") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st3")
      val src = stageEventsDir(s, dir)
      val p = eventsStream(s, src).filter(col("event_type") === "purchase")
        .select(col("event_id").alias("purchase_id"), col("user_id"))
      val c = eventsStream(s, src).filter(col("event_type") === "click")
        .select(col("event_id").alias("click_id"),
          col("user_id").alias("c_user_id"))
      p.join(c, col("user_id") === col("c_user_id"), "inner")
        .select("purchase_id", "click_id")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    QueryDef("st4_stream_join_watermarked",
      "watermarked, time-bounded stream-stream join (production variant: evictable state)",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) { (s0, dir) =>
      val out = tmp("graft_st4")
      val src = stageEventsDir(s0, dir)
      // derived session, 8 state partitions (the st24/st26 rationale: a
      // stream-stream join's wall time at bench scale is per-partition
      // RocksDB commit cost × 4 join state stores × batches — partition
      // count is a throughput knob, not semantics)
      val s = streamSession(s0, dir)
      val p = eventsStream(s, src).filter(col("event_type") === "purchase")
        .select(col("event_id").alias("purchase_id"), col("user_id"),
          col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = eventsStream(s, src).filter(col("event_type") === "click")
        .select(col("event_id").alias("click_id"),
          col("user_id").alias("c_user_id"), col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
      p.join(c,
          col("user_id") === col("c_user_id") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"), "inner")
        .select("purchase_id", "click_id")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // OUTER stream-stream join: matched pairs emit immediately; an
    // UNMATCHED left row may only emit once the watermark proves no
    // matching right row can still arrive — which means a bounded stream
    // needs the watermark pushed PAST its own tail or the trailing
    // unmatched rows sit in state forever. A sentinel event (user −1, two
    // hours after the real max, its own final micro-batch) advances both
    // sides' watermarks; the sentinel itself stays in state (nothing ever
    // passes ITS timestamp) and a post-join guard drops its key. This is
    // the production enrich-with-optional-match shape at 100 TB: state
    // stays one eviction horizon per side, exactly like st4.
    QueryDef("st24_stream_join_left_outer",
      "watermarked LEFT OUTER stream-stream join: purchases with their click within 1h, or NULL once the watermark proves none",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      outerStreamJoin(s, dir, "left_outer", "graft_st24")
        // sentinel guard OUTSIDE the streaming plan: a filter on the left
        // key column would be pushed below the left watermark node and
        // stall it at the real data's tail. The sentinels can't reach the
        // sink anyway (nothing ever passes THEIR timestamp); this is a
        // belt-and-braces batch-side guard.
        .filter(col("purchase_id") >= 0)
    },

    // FULL OUTER completes the outer family: unmatched rows on BOTH sides
    // emit with NULLs once the watermark proves closure — same sentinel
    // tail-flush and same pushdown trap as st24.
    QueryDef("st26_stream_join_full_outer",
      "watermarked FULL OUTER stream-stream join: purchases and clicks, NULL-padded on both sides once the watermark closes the window",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      // batch-side sentinel guard (see st24's pushdown note); NULL-padded
      // rows keep whichever side is present
      outerStreamJoin(s, dir, "full_outer", "graft_st26")
        .filter(coalesce(col("purchase_id"), lit(0L)) >= 0 &&
          coalesce(col("click_id"), lit(0L)) >= 0)
    },

    QueryDef("st5_stream_window_agg",
      "event-time tumbling-window streaming aggregate, complete mode (T2 extension)",
      "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS cnt FROM events GROUP BY 1") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st5")
      eventsStream(s, stageEventsDir(s, dir))
        .groupBy(window(col("ts"), "1 day").alias("w"))
        .agg(count(lit(1)).alias("cnt"))
        .select(col("w.start").cast(DateType).alias("day"), col("cnt"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", s"$out/_cp")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/sink")
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // The PRODUCTION form of the gold aggregate (the complete-mode st5
    // reproduces the reference's M:162-183 notebook shape; this is the
    // variant a deployed pipeline runs): watermarked event-time windows,
    // APPEND output — only windows the watermark has CLOSED emit, state
    // is evicted behind it, and the sink is append-only parquet a
    // downstream reader can consume incrementally. Emission needs the
    // watermark to pass each window's end: two sentinel micro-batches
    // (the outerStreamJoin pattern) push it past every real day — batch
    // N's watermark only takes effect while batch N+1 runs, so the
    // first sentinel advances it and the second gives the agg a batch
    // to flush under it. Sentinels sit days past the real tail in
    // windows that never close, so they add no emitted rows.
    QueryDef("st35_stream_window_append_gold",
      "watermarked tumbling-window aggregate in APPEND mode: only closed windows emit, state evicts behind the watermark (production gold form)",
      "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS cnt FROM events GROUP BY 1") { (s0, dir) =>
      val out = tmp("graft_st35")
      val s = streamSession(s0, dir)
      // the real data's tail — from the SENTINEL-FREE memoized staging
      // (the landing fixture below includes sentinels)
      val maxTsUs = s.read.schema(eventsRaw).parquet(stageEventsDir(s, dir))
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      // landing dir incl. two day-scale sentinel files: deterministic
      // per sf — staged once with explicit mtimes (the st40/outer-join
      // discipline); checkpoint and sink stay per-run
      val src = Fixtures.immutableTable(dir, "st35_src", 1) { t =>
        val base = stageEventsDir(s, dir)
        Files.createDirectories(java.nio.file.Paths.get(t))
        var n = 0
        def land(p: java.nio.file.Path): Unit = {
          val dst = java.nio.file.Paths.get(t, f"b$n%04d.parquet")
          Files.copy(p, dst)
          Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
            .fromMillis(1600000000000L + n * 60000L))
          n += 1
        }
        TxLog.listDir(java.nio.file.Paths.get(base))
          .filter(_.getFileName.toString.endsWith(".parquet")).foreach(land)
        import s.implicits._
        Seq(3L, 4L).foreach { d =>
          val tmpB = tmp("graft_st35_b")
          Seq((-d, maxTsUs + d * 86400L * 1000000L, -1L, "sentinel", 0.0, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .withColumn("ts", timestamp_micros(col("ts")))
            .coalesce(1).write.mode("overwrite").parquet(tmpB)
          TxLog.listDir(java.nio.file.Paths.get(tmpB))
            .filter(_.getFileName.toString.endsWith(".parquet")).foreach(land)
        }
      }
      // Sentinels must flow THROUGH the watermark-tracking node (a
      // pre-agg filter gets predicate-pushed below it and the watermark
      // never advances), so they are excluded POST-agg instead: their
      // windows sit days past the real tail, so a day-bound on the
      // window start drops exactly them. Deterministic — maxTsUs is the
      // real data's tail, and only sentinel windows start after it.
      eventsStream(s, src)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").alias("w"))
        .agg(count(lit(1)).alias("cnt"))
        .select(col("w.start").cast(DateType).alias("day"), col("cnt"))
        .filter(col("day") <= timestamp_micros(lit(maxTsUs)).cast(DateType))
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s0.read.parquet(s"$out/sink")
    },

    QueryDef("st7_stream_dedup",
      "streaming stateful deduplication (dropDuplicates over an unbounded stream — A4's streaming analog)",
      "SELECT DISTINCT user_id FROM events") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st7")
      eventsStream(s, stageEventsDir(s, dir))
        .select("user_id")
        .dropDuplicates("user_id")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    QueryDef("st8_stream_dedup_watermarked",
      "dropDuplicatesWithinWatermark: bounded-state streaming dedup (keys evicted as the watermark passes)",
      "SELECT DISTINCT user_id FROM events") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st8")
      eventsStream(s, stageEventsDir(s, dir))
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts")
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Streaming change data feed: the commit LOG is the stream — a file
    // stream over `_txlog/*.json` delivers each commit exactly once
    // (checkpointed), and foreachBatch resolves every arriving version
    // into the keyed change rows of that commit (TxLog.commitChanges),
    // landing it in a version-keyed overwrite (idempotent under replay).
    // This is the readChangeFeed streaming shape: downstream consumers
    // tail O(delta) per version, never rescanning the table. The
    // `.tmp-` hard-link sources are dot-prefixed, so the file source
    // ignores in-flight commits by construction.
    QueryDef("st22_stream_txlog_cdf",
      "streaming CDF over a TxLog table: commit-log file stream → per-version keyed diff (insert/delete/update + version)", {
      def diff(x: String, y: String, v: Int) =
        s"""(SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
           |  CASE WHEN b.c_custkey IS NULL THEN a.c_name ELSE b.c_name END AS c_name,
           |  CASE WHEN b.c_custkey IS NULL THEN a.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
           |  CASE WHEN a.c_custkey IS NULL THEN 'insert' WHEN b.c_custkey IS NULL THEN 'delete'
           |       ELSE 'update' END AS change_type,
           |  CAST($v AS BIGINT) AS version
           |FROM $x a FULL OUTER JOIN $y b ON a.c_custkey = b.c_custkey
           |WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
           |   OR NOT (a.c_name IS NOT DISTINCT FROM b.c_name
           |           AND a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal))""".stripMargin
      s"""WITH s1 AS (SELECT * FROM read_parquet('$StageSql/stcdf_v1/*.parquet')),
         |s2 AS (SELECT * FROM read_parquet('$StageSql/stcdf_v2/*.parquet')),
         |s3 AS (SELECT * FROM read_parquet('$StageSql/stcdf_v3/*.parquet'))
         |SELECT c_custkey, c_name, c_acctbal, 'insert' AS change_type,
         |  CAST(1 AS BIGINT) AS version FROM s1
         |UNION ALL SELECT * FROM ${diff("s1", "s2", 2)}
         |UNION ALL SELECT * FROM ${diff("s2", "s3", 3)}""".stripMargin
    }) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val stage = QueryDef.stageDir(dir)
      val cust = graft.Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      cust.stageInput(dir, "stcdf_v1")
      Fixtures.stagedInput(dir, "stcdf_v2", 1)(
        s.read.parquet(s"$stage/stcdf_v1")
          .filter(pmod(col("c_custkey"), lit(7)) =!= 0)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(3)) === 0, col("c_acctbal") + 500.0)
              .otherwise(col("c_acctbal"))))
      Fixtures.stagedInput(dir, "stcdf_v3", 1)(
        s.read.parquet(s"$stage/stcdf_v2")
          .filter(pmod(col("c_custkey"), lit(2)) === 1)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(5)) === 0, col("c_acctbal") + 50.0)
              .otherwise(col("c_acctbal"))))
      // three deterministic overwrite commits, READ-ONLY under the
      // commit-log stream — one build per sf (the st27/txcdf discipline)
      val table = Fixtures.immutableTable(dir, "st22cdf", 1) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/stcdf_v1"), t)
        TxLog.overwrite(s.read.parquet(s"$stage/stcdf_v2"), t)
        TxLog.overwrite(s.read.parquet(s"$stage/stcdf_v3"), t)
        ()
      }
      val out = tmp("graft_st22_out")
      val commitSchema = StructType(Seq(
        StructField("version", LongType), StructField("op", StringType)))
      configureStreaming(s)
      s.readStream.schema(commitSchema)
        .option("maxFilesPerTrigger", 1)
        .json(s"$table/_txlog")
        .filter(col("version").isNotNull && col("op") =!= "addConstraint")
        .writeStream
        .option("checkpointLocation", s"$out/_cp")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          writeVersionDeltas(s, table, out)(batch)
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$out/v=*")
        .select("c_custkey", "c_name", "c_acctbal", "change_type", "version")
    },

    // CDF must surface DV commits: a deletion-vector DELETE changes the
    // snapshot without touching a data file, and a downstream incremental
    // consumer still has to see those row-level deletes as change rows.
    // The commit-log stream + per-version TxLog.commitChanges does
    // exactly that — a DV commit's referenced files are read on both
    // sides, the post side THROUGH the new DV anti-join, so DV'd rows
    // diff as deletes. The flip side is pinned too: the optimizeDvs
    // rewrite changes files but not content, so its version must emit
    // ZERO change rows.
    QueryDef("st27_stream_cdf_dv",
      "streaming CDF over DV commits: dvDelete versions emit row-level delete change rows; the optimizeDvs rewrite version emits none",
      s"""WITH s1 AS (SELECT * FROM read_parquet('$StageSql/stcdfdv_v1/*.parquet'))
         |SELECT c_custkey, c_name, c_acctbal, 'insert' AS change_type,
         |  CAST(1 AS BIGINT) AS version FROM s1
         |UNION ALL
         |SELECT c_custkey, c_name, c_acctbal, 'delete' AS change_type,
         |  CAST(2 AS BIGINT) AS version FROM s1 WHERE c_custkey % 7 = 0
         |UNION ALL
         |SELECT c_custkey, c_name, c_acctbal, 'delete' AS change_type,
         |  CAST(4 AS BIGINT) AS version FROM s1
         |WHERE c_custkey % 7 <> 0 AND c_acctbal < 0""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val stage = QueryDef.stageDir(dir)
      graft.Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "stcdfdv_v1")
      // the DV-commit history is deterministic and READ-ONLY under the
      // commit-log stream (checkpoint/out dirs stay per-run) — build it
      // once per sf like the batch CDF entries' txcdf/txcdfpre fixtures
      val table = Fixtures.immutableTable(dir, "st27dv", 2) { t =>
        TxLog.overwrite(s.read.parquet(s"$stage/stcdfdv_v1"), t)          // v1
        TxLog.deleteVectors(s, t, pmod(col("c_custkey"), lit(7)) === 0)   // v2
        TxLog.optimizeDvs(s, t, maxDeletedFraction = 0.05)                // v3
        TxLog.deleteVectors(s, t, col("c_acctbal") < 0)                   // v4
        ()
      }
      val out = tmp("graft_st27_out")
      val commitSchema = StructType(Seq(
        StructField("version", LongType), StructField("op", StringType)))
      configureStreaming(s)
      s.readStream.schema(commitSchema)
        .option("maxFilesPerTrigger", 1)
        .json(s"$table/_txlog")
        .filter(col("version").isNotNull)
        .writeStream
        .option("checkpointLocation", s"$out/_cp")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          writeVersionDeltas(s, table, out)(batch)
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$out/v=*")
        .select("c_custkey", "c_name", "c_acctbal", "change_type", "version")
    },

    // The TxLog table as a NATIVE streaming source (readStream.format,
    // the Delta streaming-source analog — offsets are commit versions,
    // each micro-batch scans exactly the files its versions ADDED, so a
    // 100 TB table streams by increments with no re-listing). The staged
    // table interleaves a data-neutral OPTIMIZE between appends: the
    // source must skip its rewritten files or every pre-compaction row
    // would deliver twice — the entry's exactly-once hash proves it.
    QueryDef("st29_stream_txlog_source",
      "TxLog table as a native streaming source: version offsets, appends delivered incrementally, the OPTIMIZE rewrite delivers nothing",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 0""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      configureStreaming(s)
      // append/OPTIMIZE/append history: deterministic, READ-ONLY under
      // the txlog streaming source — one build per sf
      val t = Fixtures.immutableTable(dir, "st29src", 1) { t =>
        val cust = graft.Tables.load(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(3)) === 0), t) // v1
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(3)) === 1), t) // v2
        TxLog.optimize(s, t, targetFiles = 2)                              // v3
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(3)) === 2), t) // v4
        ()
      }
      val out = tmp("graft_st29_out")
      s.readStream.format("graft.sources.txlog").option("path", t).load()
        .filter(col("c_acctbal") > 0)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // The write-side twin of st29: writeStream INTO a TxLog table. Each
    // micro-batch is ONE atomic commit stamped with its batch id, so a
    // checkpoint-recovery redelivery is detected in the log and skipped —
    // exactly-once table contents over the engine's at-least-once sink
    // callback, with none of the foreachBatch boilerplate st19/st23 carry.
    QueryDef("st30_stream_txlog_sink",
      "TxLog table as a native streaming sink: one atomic batchId-stamped commit per micro-batch, replay-idempotent",
      "SELECT event_id, user_id FROM events WHERE event_type = 'click'") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val t = tmp("graft_st30") + "/t"
      val cp = tmp("graft_st30_cp")
      eventsStream(s, stageEventsDir(s, dir))
        .filter(col("event_type") === "click")
        .select("event_id", "user_id")
        .writeStream.format("graft.sources.txlog")
        .option("checkpointLocation", cp).option("path", t)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      TxLog.read(s, t)
    },

    // Streaming sink + WRITER AUTO-COMPACTION: each micro-batch lands
    // one small file; once the small-file count passes
    // graft.autoCompact.minFiles the post-commit hook folds them into a
    // layout-only optimize commit MID-STREAM — the table a perpetual
    // trickle writer actually leaves behind stays a few files, not one
    // per batch, with no operator running OPTIMIZE. The day-2 shape of
    // the 100 TB small-file answer: st30 is the sink, this is the sink
    // plus the maintenance riding it.
    QueryDef("st44_stream_auto_compact",
      "streaming txlog sink with auto-compaction: per-batch small files fold mid-stream, active count bounded, contents exact",
      "SELECT event_id, user_id FROM events WHERE event_type = 'click'") { (s0, dir) =>
      val s = streamSession(s0, dir)
      configureStreaming(s)
      val t = tmp("graft_st44") + "/t"
      val cp = tmp("graft_st44_cp")
      TxLog.setProperties(t, Map(
        "graft.autoCompact.enabled" -> "true",
        "graft.autoCompact.minFileSize" -> (1024L * 1024).toString,
        "graft.autoCompact.minFiles" -> "5"))
      // 7 staged files → 7 micro-batches (maxFilesPerTrigger = 1): the
      // fold must fire at batch 5 and the tail batches trickle after it.
      // Deterministic READ-ONLY landing dir (sink/checkpoint stay
      // per-run) — staged once per sf instead of 7 write jobs per run
      val srcDir = Fixtures.immutableTable(dir, "st44_src", 1) { t =>
        val ev = graft.Tables.load(s, dir, "events")
          .select("event_id", "user_id", "event_type")
        (0 until 7).foreach(r =>
          ev.filter(pmod(col("event_id"), lit(7)) === r).coalesce(1)
            .write.mode("append").parquet(t))
      }
      s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .filter(col("event_type") === "click")
        .select("event_id", "user_id")
        .writeStream.format("graft.sources.txlog")
        .option("checkpointLocation", cp).option("path", t)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      require(TxLog.commits(t).exists(_.op == "optimize"),
        "the mid-stream small-file fold must have fired")
      require(TxLog.activeFiles(t).size <= 4,
        s"file count must stay bounded, got ${TxLog.activeFiles(t).size}")
      TxLog.read(s, t)
    },

    // Update-mode streaming aggregate upserted NATIVELY into a TxLog
    // table: each micro-batch's changed groups MERGE on the group key
    // (sink option mergeKeys), rows stamped with a persisted
    // _merge_version = batch id so later batches win — st12's shape
    // without the foreachBatch boilerplate, and the running totals stay
    // time-travelable. A group untouched by the final batch keeps its
    // last-emitted running total, which IS its final total (counts only
    // change when events arrive), so the end state equals the batch
    // aggregate whatever the file-order of the three staged micro-batches.
    QueryDef("st33_stream_txlog_update_sink",
      "update-mode streaming aggregate into the TxLog sink: per-batch MERGE on the group key via synthesized batch version",
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY event_type") { (s0, dir) =>
      configureStreaming(s0)
      // deterministic READ-ONLY landing dir — one build per sf (st44's
      // rationale); the sink table and checkpoint stay per-run
      val srcDir = Fixtures.immutableTable(dir, "st33_src", 1) { t =>
        val ev = graft.Tables.load(s0, dir, "events")
          .select("event_id", "event_type")
        Seq(0, 1, 2).foreach(r =>
          ev.filter(pmod(col("event_id"), lit(3)) === r).coalesce(1)
            .write.mode("append").parquet(t))
      }
      // derived session, data-sized state partitions (the st24/st26
      // rationale: at bench scale the wall time is fixed per-partition
      // RocksDB commit cost × 3 micro-batches; a throughput knob)
      val s = streamSession(s0, dir)
      val t = tmp("graft_st33") + "/t"
      val evSchema = StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType)))
      s.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .groupBy("event_type").agg(count(lit(1)).alias("cnt"))
        .writeStream.format("graft.sources.txlog")
        .option("checkpointLocation", tmp("graft_st33_cp"))
        .option("path", t).option("mergeKeys", "event_type")
        .outputMode("update").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      TxLog.read(s, t).select("event_type", "cnt")
    },

    // The change-feed answer to "an append-only stream cannot express a
    // MERGE": changeFeed=true streams each commit's KEYED DIFF (insert/
    // update/delete + _commit_version) instead of refusing without
    // ignoreChanges. Each delivered diff reads only the files its commit
    // touched (TxLog.commitChanges), so a CDC consumer's per-trigger work
    // follows the write volume, not the table size — the 100 TB path for
    // downstream incremental pipelines.
    QueryDef("st34_stream_cdf_feed",
      "native change-feed stream over a TxLog table: an interleaved MERGE delivers keyed insert/update rows with commit versions",
      """SELECT event_id, user_id, value, CAST(1 AS BIGINT) AS ver,
        |  'insert' AS change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM events WHERE event_id % 3 = 0
        |UNION ALL
        |SELECT event_id, user_id, value, 2, 'insert', 2
        |FROM events WHERE event_id % 3 = 1
        |UNION ALL
        |SELECT event_id, user_id, value + 1000, 2, 'update', 2
        |FROM events WHERE event_id % 6 = 0""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      configureStreaming(s)
      // append + MERGE history is deterministic and READ-ONLY under the
      // change-feed stream — one build per sf (the st27/st22 discipline)
      val t = Fixtures.immutableTable(dir, "st34cdf", 1) { t =>
        val ev = graft.Tables.load(s, dir, "events")
          .select("event_id", "user_id", "value")
        TxLog.append(ev.filter(pmod(col("event_id"), lit(3)) === 0)
          .withColumn("ver", lit(1L)), t)                               // v1
        // interleaved MERGE: brand-new keys (mod 3 = 1) plus value
        // changes to existing keys (mod 6 = 0); untouched keys emit
        // nothing
        val updates = ev.filter(pmod(col("event_id"), lit(3)) === 1)
          .withColumn("ver", lit(2L))
          .unionByName(ev.filter(pmod(col("event_id"), lit(6)) === 0)
            .withColumn("value", col("value") + 1000)
            .withColumn("ver", lit(2L)))
        TxLog.merge(s, t, updates, Seq("event_id"), "ver")              // v2
        ()
      }
      val out = tmp("graft_st34_out")
      s.readStream.format("graft.sources.txlog").option("path", t)
        .option("changeFeed", "true").option("keyCols", "event_id")
        .load()
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp")
        .option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Schema evolution ACROSS a streaming restart (the Delta streaming
    // source's schema-change contract): a stream fixes its schema at
    // start; a mergeSchema append landing mid-history must FAIL the
    // batch that would read the widened files (silently null-dropping
    // the new column is corruption, not tolerance) — but only AFTER the
    // pre-drift versions committed their offsets, which is what
    // maxVersionsPerTrigger=1 guarantees here. The restart re-resolves
    // the evolved schema from the log and the checkpoint resumes at the
    // failed version: v1 delivered exactly once under the narrow schema,
    // v2/v3 under the wide one, old rows reading NULL for the new column.
    QueryDef("st32_stream_txlog_evolve",
      "txlog streaming source schema evolution: drift fails the batch after pre-drift versions commit; checkpoint-preserving restart resumes under the evolved schema",
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 3 <> 0""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      configureStreaming(s)
      // narrow→evolved commit history: deterministic, READ-ONLY under
      // both stream phases — one build per sf
      val t = Fixtures.immutableTable(dir, "st32evo", 1) { t =>
        val cust = graft.Tables.load(s, dir, "customer")
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
          .select("c_custkey", "c_name"), t)                            // v1
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(3)) === 1)
          .select("c_custkey", "c_name", "c_acctbal"), t,
          mergeSchema = true)                                           // v2: +c_acctbal
        TxLog.append(cust.filter(pmod(col("c_custkey"), lit(3)) === 2)
          .select("c_custkey", "c_name", "c_acctbal"), t)               // v3
        ()
      }
      val narrow = TxLog.schemaAsOf(t, Some(1L)).get
      val out = tmp("graft_st32_out")
      def run(pinned: Option[StructType]): Unit = {
        val reader = s.readStream.format("graft.sources.txlog")
          .option("path", t).option("maxVersionsPerTrigger", "1")
        pinned.foreach(reader.schema)
        reader.load()
          .writeStream.format("parquet")
          .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      // phase 1: a stream whose schema predates the evolution (pinned to
      // v1's) delivers v1, then fails at v2's widened files
      val drift = try { run(Some(narrow)); None } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e)
      }
      require(drift.exists(_.getMessage.contains("Restart the stream")),
        s"expected the schema-drift failure, got $drift")
      // phase 2: restart — schema re-resolved from the log, offsets kept
      run(None)
      s.read.option("mergeSchema", "true").parquet(s"$out/sink")
        .select("c_custkey", "c_name", "c_acctbal")
    },

    // The full medallion chain (bronze→silver→gold) as ONE oracled
    // entry: the reference's topology (Auto Loader ingest → silver join
    // + year filter → complete-mode grouped-count gold, medallion.py:
    // 9-183) over the TPC-H tables so DuckDB can oracle the end-to-end
    // result. Four AvailableNow streams run sequentially, each draining
    // its input — one full pass of the always-on topology. The silver
    // join runs STREAM-STATIC (orders stream against the completed
    // bronze customer table): the dimension side is bounded and
    // broadcast per micro-batch, so silver holds ZERO join state at any
    // corpus size — the production posture for a fact-to-dimension
    // medallion join; the reference's watermark-free stream-stream form
    // is covered (and quantified as unbounded) by st3/MedallionSpec.
    QueryDef("st28_medallion_gold",
      "medallion chain end-to-end: bronze ingest ×2 → silver stream-static join + year filter → gold grouped count (complete mode)",
      """SELECT c.c_mktsegment, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
        |  COUNT(o.o_orderkey) AS orders_count
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE EXTRACT(year FROM o.o_orderdate) > 1995
        |GROUP BY 1, 2""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val root = tmp("graft_st28")
      configureStreaming(s)
      val custSchema = s.read.parquet(s"$dir/customer.parquet").schema
      val ordSchema = s.read.parquet(s"$dir/orders.parquet").schema
      // bronze ×2: incremental file ingest → append sink + checkpoint.
      // The two ingests are INDEPENDENT (own source, sink, checkpoint) —
      // start both, then drain both, so the scheduler overlaps their
      // fixed costs (guide §2.6) instead of the driver serializing them;
      // silver still waits on both completed bronzes below.
      val bc = graft.medallion.Medallion.bronzeStream(s,
        stageTable(dir, "customer"), custSchema,
        s"$root/bronze_cust", s"$root/_cp/bc")
      val bo = graft.medallion.Medallion.bronzeStream(s,
        stageTable(dir, "orders"), ordSchema,
        s"$root/bronze_ord", s"$root/_cp/bo")
      bc.awaitTermination(); bo.awaitTermination()
      // silver: orders stream ⋈ static bronze customer (broadcast dim)
      val cust = s.read.parquet(s"$root/bronze_cust")
        .select("c_custkey", "c_mktsegment")
      s.readStream.schema(ordSchema).parquet(s"$root/bronze_ord")
        .filter(year(col("o_orderdate")) > 1995)
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast(LongType).alias("order_year"))
        .join(broadcast(cust), col("c_custkey") === col("o_custkey"), "inner")
        .select("c_mktsegment", "order_year", "o_orderkey")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$root/_cp/silver")
        .option("path", s"$root/silver")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      // gold: complete-mode grouped count via foreachBatch overwrite
      val silverSchema = s.read.parquet(s"$root/silver").schema
      s.readStream.schema(silverSchema).parquet(s"$root/silver")
        .groupBy("c_mktsegment", "order_year")
        .agg(count(col("o_orderkey")).alias("orders_count"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", s"$root/_cp/gold")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(s"$root/gold")
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$root/gold")
    },

    // Bounded-memory streaming top-k: the Space-Saving sketch rides the
    // stream as a typed Aggregator, so partial buffers stay ≤ capacity
    // per partition and the shuffle is O(partitions × capacity) however
    // long the stream runs — the 100 TB answer to "top users ever" that
    // an exact groupBy count (state = key cardinality) cannot give.
    // Capacity 4096 ≥ distinct users at every test sf ⇒ exact regime ⇒
    // the DuckDB oracle is the plain exact top-10; the approximation
    // regime (eviction, error bounds, merge) is pinned in
    // SpaceSavingSpec.
    QueryDef("st21_stream_heavy_hitters",
      "streaming heavy hitters: mergeable Space-Saving sketch (typed Aggregator, capacity 4096 = exact regime), top-10 users, complete mode",
      """SELECT user_id, cnt, rank FROM (
        |  SELECT user_id, cnt, row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
        |  FROM (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id))
        |WHERE rank <= 10""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st21")
      val ss = udaf(new graft.functions.SpaceSavingAggregator(4096))
      eventsStream(s, stageEventsDir(s, dir))
        .agg(ss(col("user_id")).alias("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "t")))
        .filter(col("pos") < 10)
        .select(col("t._1").alias("user_id"), col("t._2").alias("cnt"),
          (col("pos") + 1).alias("rank"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", s"$out/_cp")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/sink")
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Built-in session_window aggregation — the declarative twin of the
    // typed-state sessionizers (st6/st9/st10): Spark merges overlapping
    // per-event windows [ts, ts+gap) in the state store, so a session
    // breaks exactly when the inter-event gap is >= 30 min (end-exclusive
    // — the oracle's `>=` lag rule). Complete mode emits every session of
    // the bounded replay; the production shape is watermark + append
    // (sessions emit as the watermark passes their end), same plan.
    QueryDef("st20_session_window",
      "streaming session_window aggregate (30-min gap): per-user session start/end/count, complete mode",
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (SELECT user_id, event_id, ts_us,
        |  CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) >= 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM g),
        |sg AS (SELECT user_id, ts_us,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b)
        |SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) + 1800000000 AS end_us, COUNT(*) AS n_events
        |FROM sg GROUP BY user_id, sid""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st20")
      eventsStream(s, stageEventsDir(s, dir))
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").alias("w"))
        .agg(count(lit(1)).alias("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).alias("start_us"),
          unix_micros(col("w.end")).alias("end_us"),
          col("n_events"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", s"$out/_cp")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/sink")
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    QueryDef("st9_sessions_flatmap",
      "flatMapGroups: one output row per session per user (typed multi-row group op)",
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |s AS (
        |  SELECT user_id, event_id, ts_us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM b)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_idx""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import s.implicits._
      val gapUs = 30L * 60 * 1000 * 1000
      graft.Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).alias("ts_us"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (uid, it) =>
          val sorted = it.toArray.sortBy(e => (e._3, e._2))
          val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
          var idx = 0L
          var start = sorted.head._3
          var end = start
          var n = 0L
          sorted.foreach { e =>
            if (n > 0 && e._3 - end > gapUs) {
              out += ((uid, idx, n, start, end))
              idx += 1; start = e._3; n = 0
            }
            end = e._3; n += 1
          }
          out += ((uid, idx, n, start, end))
          out.result().iterator
        }
        .toDF("user_id", "session_idx", "n_events", "start_us", "end_us")
    },

    QueryDef("st11_stream_static_join",
      "stream-static enrichment join: streaming events x static customer dim (broadcast per micro-batch, no state)",
      """SELECT e.event_id, e.user_id, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st11")
      val dim = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      eventsStream(s, stageEventsDir(s, dir))
        .filter(col("event_type") === "purchase")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    QueryDef("st12_stream_agg_update",
      "update-mode streaming aggregate: changed groups per trigger, merged by an upsert sink (T5's third output mode)",
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type") { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st12")
      eventsStream(s, stageEventsDir(s, dir))
        .groupBy("event_type").agg(count(lit(1)).alias("cnt"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$out/_cp")
        // update mode emits only the groups changed in each trigger; the
        // upsert sink merges them by key so the table converges to the
        // complete-mode answer without rewriting unchanged groups
        .foreachBatch(graft.ops.Upsert.sink(s"$out/sink",
          Seq("event_type"), versionCol = "cnt") _)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Only CLOSED sessions emit (a session closes when a later event opens
    // the next one), so the oracle is st9's sessionization minus each
    // user's last session. Runs on the RocksDB state store — the
    // transformWithState requirement.
    QueryDef("st10_sessions_tws",
      "transformWithState sessionization (Spark 4 stateful API, RocksDB store): closed sessions per user",
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM b),
        |agg AS (
        |  SELECT user_id, session_idx, COUNT(*) AS n_events,
        |    MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |  FROM s GROUP BY user_id, session_idx)
        |SELECT user_id, start_us, end_us, n_events FROM (
        |  SELECT agg.*, MAX(session_idx) OVER (PARTITION BY user_id) AS mx FROM agg)
        |WHERE session_idx < mx""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import s.implicits._
      implicit val sp = s
      graft.streaming.SessionizeTws.configure(s)
      val out = tmp("graft_st10")
      val src = stageEventsDir(s, dir)
      val events = eventsStream(s, src)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).alias("ts_us"))
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.SessionizeTws
        .sessions(events, gapUs = 30L * 60 * 1000 * 1000)
        .select(col("user_id"), col("session_start_us").alias("start_us"),
          col("session_end_us").alias("end_us"), col("n_events"))
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Streaming as-of enrichment (the production shape of st11 once the
    // dimension changes over time): clicks are the dimension-update
    // stream, purchases the fact stream; each purchase gets the click
    // value current AT ITS OWN timestamp from keyed dimension history.
    // Under AvailableNow over the staged dir all rows share one batch, so
    // the result equals the batch as-of join — DuckDB's native ASOF JOIN
    // is the oracle (cross-batch/out-of-order behavior pinned in
    // StreamAsofSpec instead).
    QueryDef("st13_stream_asof",
      "streaming as-of enrichment via transformWithState: bounded per-key dimension history, facts matched to the latest update at-or-before their ts",
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |             arg_max("value", event_id) AS dim_value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.ts_us AS asof_ts_us, c.dim_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import s.implicits._
      implicit val sp = s
      graft.streaming.SessionizeTws.configure(s)
      val out = tmp("graft_st13")
      val ticks = eventsStream(s, stageEventsDir(s, dir))
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id").alias("key"),
          unix_micros(col("ts")).alias("ts_us"),
          when(col("event_type") === "click", 0).otherwise(1).alias("tag"),
          col("event_id"), col("value"))
        .as[graft.streaming.StreamAsof.Tick]
      graft.streaming.StreamAsof.enrich(ticks)
        .select(col("event_id"), col("key").alias("user_id"), col("ts_us"),
          col("asof_ts_us"), col("dim_value"))
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Streaming corpus ingest — the LLM-pipeline counterpart of the
    // events medallion: quality-gate (stateless, scan-side) then
    // content-hash dedup (stateful, exactly the unbounded-key state
    // dropDuplicates manages) in ONE streaming pass. Every output column
    // is a function of the dedup key (text), so which physical duplicate
    // row wins is immaterial and the append sink is deterministic —
    // that's what makes a streaming dedup oracle-able at all.
    // Streaming MERGE: each micro-batch upserts into a TRANSACTION-LOG
    // table ([[TxLog]]) — the Delta `MERGE INTO` write path of a
    // CDC/latest-state stream: data files land invisibly, one atomic
    // commit publishes them, and the commit records the batch id so a
    // checkpoint-recovery replay of the same micro-batch is skipped
    // (exactly-once contents over the at-least-once foreachBatch). The
    // per-user µs timestamp is the version, so "max version per key"
    // commutes across any micro-batch slicing and the final table equals
    // the batch window answer regardless of trigger boundaries
    // ((user_id, µs-ts) is unique in the corpus — asserted in UpsertSpec —
    // so ties cannot arise).
    QueryDef("st19_stream_upsert",
      "streaming keyed upsert into a txlog table: latest event per user merged per micro-batch, batchId-idempotent atomic commits (CDC latest-state shape)",
      """WITH v AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ver FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ver DESC) AS rn FROM v)
        |SELECT user_id, event_id, event_type, value, ver FROM r WHERE rn = 1""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val target = tmp("graft_st19") + "/t"
      val cp = tmp("graft_st19_cp")
      eventsStream(s, stageEventsDir(s, dir))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).alias("ver"))
        .writeStream
        // checkpoint location doubles as the replay-guard stream identity
        .foreachBatch(TxLog.sink(target, Seq("user_id"), "ver", Some(cp)) _)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      TxLog.read(s, target)
    },

    // APPLY CHANGES INTO: st19's upsert feed, now with DELETES riding the
    // same stream (CDC op column). Per key the highest-version change
    // wins; a winning delete removes the key, out-of-order deletes lose
    // to newer upserts by version ordering, and the whole fold is one
    // batchId-idempotent atomic commit per micro-batch (TxLog.cdcSink).
    // The op rule is deterministic (click with event_id%5=0 → delete) so
    // the DuckDB oracle replays the exact same CDC semantics.
    QueryDef("st23_stream_cdc_apply",
      "streaming CDC APPLY CHANGES into a txlog table: keyed upserts + deletes per micro-batch, winning delete removes the key, batchId-idempotent",
      """WITH v AS (SELECT user_id, event_id, value, epoch_us(ts) AS ver,
        |  CASE WHEN event_type = 'click' AND event_id % 5 = 0
        |       THEN 'delete' ELSE 'upsert' END AS op FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ver DESC) AS rn FROM v)
        |SELECT user_id, event_id, value, ver FROM r WHERE rn = 1 AND op <> 'delete'""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val target = tmp("graft_st23") + "/t"
      val cp = tmp("graft_st23_cp")
      eventsStream(s, stageEventsDir(s, dir))
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).alias("ver"),
          when(col("event_type") === "click" &&
              pmod(col("event_id"), lit(5)) === 0, lit("delete"))
            .otherwise(lit("upsert")).alias("op"))
        .writeStream
        // checkpoint location doubles as the replay-guard stream identity
        .foreachBatch(
          TxLog.cdcSink(target, Seq("user_id"), "ver", "op", Some(cp)) _)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      TxLog.read(s, target)
    },

    // Decontamination AT INGEST: the benchmark shingle set is computed
    // once (batch, staged, broadcast) and every arriving micro-batch is
    // screened before it ever lands — the production place for the
    // contamination check, since a post-hoc batch pass over an already-
    // published corpus is a compliance incident, not a filter. Per-doc
    // ratios are doc-local (documents arrive as whole rows), so
    // micro-batch slicing cannot change the output and the append sink is
    // fully oracle-able.
    QueryDef("st18_stream_contamination",
      "streaming decontamination at ingest: drop docs sharing >=50% of 3-gram shingles with the benchmark (broadcast staged bench set per micro-batch)",
      ("""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t FROM documents WHERE doc_id >= 20),
         |sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         |       ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END AS shl FROM tok),
         |c AS (SELECT doc_id, u.s FROM sh, UNNEST(list_distinct(shl)) AS u(s)),
         |""" +
       s"""b AS (SELECT s FROM read_parquet('${QueryDef.StageSql}/st18_bench/*.parquet')),
         |""" +
       """shr AS (SELECT c.doc_id, COUNT(*) AS n_shared FROM c JOIN b ON c.s = b.s GROUP BY c.doc_id),
         |tot AS (SELECT doc_id, len(list_distinct(shl)) AS n_total FROM sh)
         |SELECT t.doc_id, CAST(COALESCE(r.n_shared, 0) AS BIGINT) AS n_shared, t.n_total
         |FROM tot t LEFT JOIN shr r ON t.doc_id = r.doc_id
         |WHERE CAST(COALESCE(r.n_shared, 0) AS DOUBLE) / CAST(t.n_total AS DOUBLE) < 0.5""").stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.Dedup
      val stage = QueryDef.stageDir(dir)
      // benchmark shingle set: deterministic reference input — staged
      // once per sf (the stagedInput discipline)
      Fixtures.stagedInput(dir, "st18_bench", 1)(
        graft.Tables.load(s, dir, "documents").filter(col("doc_id") < 20)
          .select(explode(array_distinct(
            Dedup.shingles(col("text"), 3))).alias("s"))
          .distinct())
      val bench = s.read.parquet(s"$stage/st18_bench")
      val out = tmp("graft_st18")
      docsStream(s, stageDocsDir(dir))
        .writeStream
        // batchId-keyed subdir + overwrite: a checkpoint-recovery replay of
        // micro-batch N rewrites ONLY batch=N instead of appending a second
        // copy — the idempotent form of a foreachBatch file sink
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // fanOut: a 1-file micro-batch scans as ONE partition, and this
          // body shingles it twice (spans + n_total) — single-core
          // otherwise (§2.5)
          val corpus = graft.Tables.fanOut(batch)
            .filter(col("doc_id") >= 20)
          val spans = corpus.select(col("doc_id"),
            explode(array_distinct(
              Dedup.shingles(col("text"), 3))).alias("s"))
          val shared = spans.join(broadcast(bench), Seq("s"))
            .groupBy("doc_id").agg(count(lit(1)).alias("n_shared"))
          corpus.select(col("doc_id"), size(array_distinct(
              Dedup.shingles(col("text"), 3))).alias("n_total"))
            .join(shared, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("n_shared"), lit(0L)).alias("n_shared"),
              col("n_total"))
            .filter(col("n_shared").cast("double") /
              col("n_total").cast("double") < 0.5)
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    // st18's 100 TB twin: the same decontamination-at-ingest, but every
    // shingle rides as an 8-byte hash (native rolling combiner, no span
    // strings allocated or shuffled) — the bench side is a broadcast hash
    // set and nothing wider than 16 bytes crosses a stage boundary. Each
    // micro-batch stages its (doc_id, h) rows batch-keyed (idempotent
    // under replay) and scores FROM the staged rows, so the DuckDB oracle
    // recomputes join+counts over byte-identical inputs.
    QueryDef("st25_stream_contamination_hashed",
      "streaming decontamination at ingest over 8-byte shingle hashes (st18's corpus-scale form: broadcast bench hash set per micro-batch)",
      s"""WITH c AS (SELECT doc_id, h FROM read_parquet('${QueryDef.StageSql}/st25_corpus/*/*.parquet')),
         |b AS (SELECT DISTINCT h FROM read_parquet('${QueryDef.StageSql}/st25_bench/*.parquet')),
         |shr AS (SELECT doc_id, COUNT(*) AS n_shared FROM c JOIN b USING (h) GROUP BY doc_id),
         |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM c GROUP BY doc_id)
         |SELECT t.doc_id, CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared, t.n_total
         |FROM tot t LEFT JOIN shr s USING (doc_id)
         |WHERE CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / CAST(t.n_total AS DOUBLE) < 0.5""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      graft.functions.GraftFunctions.register(s)
      import graft.ext.PipelineOps
      val stage = QueryDef.stageDir(dir)
      val docsAll = graft.Tables.load(s, dir, "documents")
      Fixtures.stagedInput(dir, "st25_bench", 1)(
        PipelineOps.shingleHashSet(
            docsAll.filter(col("doc_id") < 20), "doc_id", "text", n = 3)
          .select("h").distinct())
      val bench = s.read.parquet(s"$stage/st25_bench")
      val out = tmp("graft_st25")
      docsStream(s, stageDocsDir(dir))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val corpus = batch.filter(col("doc_id") >= 20)
          PipelineOps.shingleHashSet(corpus, "doc_id", "text", n = 3)
            .write.mode("overwrite")
            .parquet(s"$stage/st25_corpus/batch=$batchId")
          val staged = batch.sparkSession.read
            .parquet(s"$stage/st25_corpus/batch=$batchId")
          val shared = staged.join(broadcast(bench), Seq("h"))
            .groupBy("doc_id").agg(count(lit(1)).alias("n_shared"))
          staged.groupBy("doc_id").agg(count(lit(1)).alias("n_total"))
            .join(shared, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("n_shared"), lit(0L)).alias("n_shared"),
              col("n_total"))
            .filter(col("n_shared").cast("double") /
              col("n_total").cast("double") < 0.5)
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    // Streaming MULTIMODAL ingest — the Auto-Loader-for-media shape: an
    // opaque-payload landing stream becomes the typed media table and
    // runs the partition-wise decode pass per micro-batch (codec
    // initialized once per partition, not per row — the mapPartitions
    // contract survives incremental execution unchanged because the
    // pass is stateless: each row's decode is a function of that row
    // alone, so micro-batch boundaries cannot affect the output). The
    // stub codec is deterministic arithmetic over payload length, so
    // the whole streaming pass is oracle-checkable (ext_mm_decode's
    // oracle, which this must equal by the statelessness argument).
    QueryDef("st36_stream_media_ingest",
      "streaming multimodal ingest: landing stream → typed media table → partition-wise stub-codec decode per micro-batch → append sink",
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n FROM documents)
        |SELECT media_id, kind,
        |  CAST(256 + n % 1024 AS INT) AS width,
        |  CAST(256 + (n // 7) % 1024 AS INT) AS height,
        |  CAST(CASE WHEN kind = 'image' THEN 1 ELSE 1 + n % 30 END AS INT) AS n_frames,
        |  true AS ok
        |FROM m""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      implicit val sp = s
      import s.implicits._
      val out = tmp("graft_st36")
      val media = graft.ext.Multimodal.mediaTable(
          docsStream(s, stageDocsDir(dir)), "doc_id", "text", "source")
        .as[graft.ext.Multimodal.MediaItem]
      graft.ext.Multimodal.decodeAll(media).toDF()
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // The CONTINUOUSLY-MAINTAINED data card: ext_corpus_datacard's
    // rollup as an update-mode streaming aggregate MERGEd into a txlog
    // table per micro-batch (mergeKeys = the group key, st33's sink
    // machinery). Totals only change when documents arrive, so a
    // group's last-emitted running totals ARE its final totals whatever
    // the micro-batch order, and the end state equals the batch rollup
    // — the quality mass sums through DECIMAL state, so even the double
    // column is order-independent. This is how a 100 TB corpus keeps
    // its release card current without ever re-scanning: per-batch cost
    // follows the batch, the card table stays time-travelable.
    QueryDef("st37_stream_datacard",
      "continuously-maintained corpus data card: update-mode grouped rollup merged into a txlog table per micro-batch",
      """WITH t AS (SELECT source, lang,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_toks,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct
        |FROM documents),
        |q AS (SELECT source, lang, n_toks,
        |  (CASE WHEN n_toks < 5 THEN n_toks / 5.0 WHEN n_toks > 10000 THEN 0.5 ELSE 1.0 END)
        |  * (CASE WHEN punct > 0.3 THEN 0.3 ELSE 1.0 END) AS quality
        |FROM t)
        |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n_toks AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS quality_mass
        |FROM q GROUP BY 1, 2""".stripMargin) { (s0, dir) =>
      configureStreaming(s0)
      // deterministic READ-ONLY landing dir — one build per sf (st44's
      // rationale); the sink table and checkpoint stay per-run
      val srcDir = Fixtures.immutableTable(dir, "st37_src", 1) { t =>
        val docs = graft.Tables.load(s0, dir, "documents")
          .select("doc_id", "text", "lang", "source")
        Seq(0, 1, 2).foreach(r =>
          docs.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
            .write.mode("append").parquet(t))
      }
      // derived session, data-sized state partitions (the st33 rationale)
      val s = streamSession(s0, dir)
      val t = tmp("graft_st37") + "/t"
      s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .select(col("source"), col("lang"),
          graft.ext.TextAnalysis.tokenCount(col("text")).alias("n_toks"),
          graft.ext.TextAnalysis.qualityScore(col("text")).alias("quality"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).alias("n_docs"),
          sum(col("n_toks").cast("long")).alias("n_tokens"),
          sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double").alias("quality_mass"))
        .writeStream.format("graft.sources.txlog")
        .option("checkpointLocation", tmp("graft_st37_cp"))
        .option("path", t).option("mergeKeys", "source,lang")
        .outputMode("update").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      TxLog.read(s, t)
        .select("source", "lang", "n_docs", "n_tokens", "quality_mass")
    },

    QueryDef("st14_stream_ingest_clean",
      "streaming corpus ingest: quality gate + content-hash dedup in one pass (document bronze→silver)",
      """WITH t AS (SELECT text,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_toks,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct
        |FROM documents),
        |q AS (SELECT md5(text) AS doc_hash,
        |  (CASE WHEN n_toks < 5 THEN n_toks / 5.0 WHEN n_toks > 10000 THEN 0.5 ELSE 1.0 END)
        |  * (CASE WHEN punct > 0.3 THEN 0.3 ELSE 1.0 END) AS quality
        |FROM t)
        |SELECT DISTINCT doc_hash, quality FROM q WHERE quality >= 0.5""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st14")
      docsStream(s, stageDocsDir(dir))
        .select(md5(col("text")).alias("doc_hash"),
          graft.ext.TextAnalysis.qualityScore(col("text")).alias("quality"))
        .filter(col("quality") >= 0.5)
        .dropDuplicates("doc_hash")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Streaming context-window preparation: the quality gate and the
    // sliding-window chunker are both stateless scan-side operators, so
    // they run under incremental execution unchanged — micro-batch
    // boundaries cannot affect the output (each row's chunks are a
    // function of that row alone), which is why an append sink of this
    // pass is deterministic and fully oracle-able.
    QueryDef("st15_stream_chunk",
      "streaming chunk preparation: quality gate then 64/48 token-window chunking, stateless append (micro-batch-boundary-proof)",
      """WITH q AS (SELECT doc_id, text,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE) AS n_toksd,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) AS punct
        |FROM documents),
        |g AS (SELECT doc_id, text FROM q
        |      WHERE (CASE WHEN n_toksd < 5 THEN n_toksd / 5.0 WHEN n_toksd > 10000 THEN 0.5 ELSE 1.0 END)
        |        * (CASE WHEN punct > 0.3 THEN 0.3 ELSE 1.0 END) >= 0.5),
        |t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk FROM g),
        |c AS (SELECT doc_id, tk, len(tk) AS n,
        |  CASE WHEN len(tk) <= 64 THEN 1 ELSE CAST((len(tk) - 64 + 47) // 48 AS INT) + 1 END AS n_chunks FROM t)
        |SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
        |  CAST(greatest(least(64, n - u.i * 48), 0) AS INT) AS n_chunk_tokens,
        |  array_to_string(tk[u.i * 48 + 1 : u.i * 48 + 64], ' ') AS chunk_text
        |FROM c, UNNEST(range(0, n_chunks)) AS u(i)""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val out = tmp("graft_st15")
      graft.ext.PipelineOps.chunkByTokens(
        docsStream(s, stageDocsDir(dir))
          .filter(graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.5),
        "doc_id", "text", chunkSize = 64, stride = 48)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Streaming near-dup screening against a STATIC corpus index — the
    // production ingest shape: the 100 TB corpus is banded once
    // (Dedup.minhashBandTable); each arriving document computes its own
    // signature scan-side, probes the index via stream-static joins, and
    // stateful pair-dedup collapses multi-band hits. Every stage is
    // deterministic, so the stream's answer equals the batch answer —
    // the new side's bands/sets are staged FROM A BATCH PASS for the
    // oracle, and the stream must reproduce them bit-for-bit to match.
    QueryDef("st16_stream_dedup_index",
      "streaming near-dup screening: arriving docs (doc_id >= 250) probe a static MinHash band index (doc_id < 250) via stream-static joins; stateful pair dedup + Jaccard verify",
      s"""WITH ib AS (SELECT id, band, band_hash FROM read_parquet('$StageSql/st16_index_bands/*.parquet')),
         |iok AS (SELECT band, band_hash FROM ib GROUP BY band, band_hash HAVING COUNT(*) <= 10000),
         |ibc AS (SELECT ib.* FROM ib JOIN iok USING (band, band_hash)),
         |nb AS (SELECT id, band, band_hash FROM read_parquet('$StageSql/st16_new_bands/*.parquet')),
         |c AS (SELECT DISTINCT nb.id AS id_new, ibc.id AS id_idx FROM nb JOIN ibc USING (band, band_hash)),
         |ns AS (SELECT id, toks FROM read_parquet('$StageSql/st16_new_sets/*.parquet')),
         |idx AS (SELECT id, toks FROM read_parquet('$StageSql/st16_index_sets/*.parquet'))
         |SELECT c.id_new, c.id_idx,
         |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) AS jaccard
         |FROM c JOIN ns a ON c.id_new = a.id JOIN idx b ON c.id_idx = b.id
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, b.toks))) AS DOUBLE) >= 0.2""".stripMargin) { (s0, dir) =>
      import graft.ext.Dedup
      val s = streamSession(s0, dir)
      graft.functions.GraftFunctions.register(s)
      val docs = graft.Tables.load(s, dir, "documents")
      def hashedB(part: DataFrame) = part.select(col("doc_id").alias("id"),
        Dedup.shingleHashes(col("text"), 3).alias("hs"))
      val stage = QueryDef.stageDir(dir)
      // static index + oracle-side replica: per-row-deterministic
      // integer hashes — staged once per sf (the stagedInput discipline)
      val idxHashed = hashedB(docs.filter(col("doc_id") < 250))
      Fixtures.stagedInput(dir, "st16_index_bands", 1)(
        Dedup.minhashBandTable(idxHashed, numHashes = 64, bands = 16))
      Fixtures.stagedInput(dir, "st16_index_sets", 1)(
        Dedup.shingleSets(idxHashed))
      val newHashed = hashedB(docs.filter(col("doc_id") >= 250))
      Fixtures.stagedInput(dir, "st16_new_bands", 1)(
        Dedup.minhashBandTable(newHashed, numHashes = 64, bands = 16))
      Fixtures.stagedInput(dir, "st16_new_sets", 1)(
        Dedup.shingleSets(newHashed))

      // static side: cap hot buckets once, at batch cost
      val ib = s.read.parquet(s"$stage/st16_index_bands")
      val iok = ib.groupBy("band", "band_hash")
        .agg(count(lit(1)).alias("_n")).filter(col("_n") <= 10000).drop("_n")
      val ibc = ib.join(iok, Seq("band", "band_hash"))
        .withColumnRenamed("id", "id_idx")
      val idxSets = s.read.parquet(s"$stage/st16_index_sets")
        .withColumnRenamed("id", "id_idx").withColumnRenamed("toks", "toks_idx")

      // the stream: per-row signature -> band probe -> stateful pair dedup
      val rowsPerBand = 64 / 16
      val sigDf = docsStream(s, stageDocsDir(dir))
        .filter(col("doc_id") >= 250)
        .select(col("doc_id").alias("id_new"),
          Dedup.shingleHashes(col("text"), 3).alias("hs"))
        .select(col("id_new"),
          array_sort(array_distinct(col("hs"))).alias("toks_new"),
          Dedup.minhashFromHashes(col("hs"), 64).alias("sig"))
      val banded = sigDf.select(col("id_new"), col("toks_new"),
        posexplode(array((0 until 16).map(b =>
          hash(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
          .as(Seq("band", "band_hash")))
      val out = tmp("graft_st16")
      banded.join(ibc, Seq("band", "band_hash"))
        .dropDuplicates("id_new", "id_idx")
        .join(idxSets, Seq("id_idx"))
        .select(col("id_new"), col("id_idx"),
          Dedup.jaccardSorted(col("toks_new"), col("toks_idx")).alias("jaccard"))
        .filter(col("jaccard") >= 0.2)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp").option("path", s"$out/sink")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink")
    },

    // Day-2 incremental dedup with a GROWING index, fed by the txlog
    // streaming source (the composition a 100 TB ingest pipeline runs:
    // corpus banded once, each arriving commit probes the index at
    // O(batch) and then JOINS it). Four ordered commits stream through
    // foreachBatch; each batch's MinHash bands probe the
    // bands-so-far index (incrementalCandidates), survivors verify by
    // exact Jaccard, and the batch's bands/sets append to the index.
    // The oracle replays the same cross-batch rule declaratively:
    // batch membership is doc_id // W with W = the corpus' quartile
    // width (MAX(doc_id)+4)//4 — derived from the data, not a literal,
    // so the four commits cover the WHOLE corpus at any sf — and a pair
    // fires iff the index side arrived in an EARLIER batch.
    QueryDef("st42_stream_incremental_dedup",
      "streaming day-2 dedup: txlog-source commits probe a growing MinHash band index per batch, verified pairs appended, index grows batch by batch",
      s"""WITH b AS (SELECT id, band, band_hash,
         |    id // (SELECT (MAX(doc_id) + 4) // 4 FROM documents) AS bt
         |  FROM read_parquet('$StageSql/st42_bands/*.parquet')),
         |c AS (SELECT DISTINCT a.id AS id_new, ib.id AS id_idx
         |  FROM b a JOIN b ib ON a.band = ib.band
         |    AND a.band_hash = ib.band_hash AND ib.bt < a.bt),
         |st AS (SELECT id, toks FROM read_parquet('$StageSql/st42_sets/*.parquet'))
         |SELECT c.id_new, c.id_idx,
         |  CAST(len(list_intersect(a.toks, ix.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, ix.toks))) AS DOUBLE) AS jaccard
         |FROM c JOIN st a ON c.id_new = a.id JOIN st ix ON c.id_idx = ix.id
         |WHERE CAST(len(list_intersect(a.toks, ix.toks)) AS DOUBLE) / CAST(len(list_distinct(list_cat(a.toks, ix.toks))) AS DOUBLE) >= 0.2""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.Dedup
      graft.functions.GraftFunctions.register(s)
      val docs = graft.Tables.load(s, dir, "documents")
        .select("doc_id", "text")
      val stage = QueryDef.stageDir(dir)
      // oracle replica: full band/set tables staged once (signatures are
      // per-row deterministic, so batch slicing cannot change them)
      def hashedB(part: DataFrame) = part.select(
        col("doc_id").alias("id"),
        Dedup.shingleHashes(col("text"), 3).alias("hs"))
      Fixtures.stagedInput(dir, "st42_bands", 1)(
        Dedup.minhashBandTable(hashedB(docs), numHashes = 64, bands = 16))
      Fixtures.stagedInput(dir, "st42_sets", 1)(
        Dedup.shingleSets(hashedB(docs)))
      // the table under ingest: four ordered commits by doc_id quartile.
      // The quartile width derives from the corpus (metadata-scale max),
      // NOT a literal — a literal 125 covered only doc_id 0–499 and
      // silently ingested 10% of the corpus at sf0.1+.
      val root = tmp("graft_st42")
      val table = docsQuartileTable(s, dir)
      val idxBands = s"$root/idx_bands"
      val idxSets = s"$root/idx_sets"
      val sink = s"$root/pairs"
      s.readStream.format("graft.sources.txlog")
        .option("path", table).option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", s"$root/_cp")
        // batchId-keyed overwrite partitions + strictly-earlier-batch
        // probe = replay-idempotent across crash/restart (see
        // Dedup.incrementalDedupBatch; pinned by IncrementalDedupSpec's
        // crash-replay case)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Dedup.incrementalDedupBatch(s, hashedB(batch), batchId,
            idxBands, idxSets, sink)
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(sink).drop("batch")
    },

    // Streaming LM-scored ingest — the perplexity-filter step of a
    // training-data pipeline run AT INGEST instead of as a batch pass.
    // The vocabulary is trained once (batch, on the reference slice) and
    // staged; each micro-batch scores its documents with the broadcast
    // vocab join + per-doc exact integer sum. The per-doc aggregation
    // only combines tokens OF ONE ROW, so it is batch-local by
    // construction — foreachBatch appends are deterministic no matter
    // how the file source slices micro-batches. (A streaming groupBy
    // would need a watermark for append mode; scoring doesn't, because
    // no state crosses batch boundaries.) At 100 TB the vocab is
    // count-thresholded (a few million (token, long) rows — broadcast
    // range); the corpus side never shuffles.
    QueryDef("st17_stream_lm_ingest",
      "streaming LM-scored ingest: micro-nat unigram scoring per micro-batch (broadcast vocab join in foreachBatch; doc-local agg is batch-boundary-proof)",
      ("""WITH tok AS (SELECT doc_id, u.t AS token
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
         |  UNNEST(tk) AS u(t)),
         |""" +
       s"""v AS (SELECT token, lp_micro FROM read_parquet('${QueryDef.StageSql}/st17_vocab/*.parquet')),
         |o AS (SELECT lp_micro AS oov FROM read_parquet('${QueryDef.StageSql}/st17_oov/*.parquet')),
         |""" +
       """s AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(COALESCE(v.lp_micro, o.oov)) AS BIGINT) AS lp_sum
         |  FROM tok LEFT JOIN v USING (token) CROSS JOIN o GROUP BY doc_id)
         |SELECT doc_id, n_tokens, lp_sum,
         |  CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6) AS avg_lp FROM s
         |WHERE CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6) >= -3.45""").stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.UnigramLm
      val docs = graft.Tables.load(s, dir, "documents")
      val counts = UnigramLm.unigramCounts(docs.filter(col("doc_id") < 250), "text")
      val total = UnigramLm.totalTokens(counts)
      val oov = UnigramLm.oovMicro(total)
      val stage = QueryDef.stageDir(dir)
      // exact-integer micro-nat vocab/oov: deterministic — staged once
      Fixtures.stagedInput(dir, "st17_vocab", 1)(
        UnigramLm.vocab(counts, total, minCount = 2))
      Fixtures.stagedInput(dir, "st17_oov", 1)(
        s.createDataFrame(Seq(Tuple1(oov))).toDF("lp_micro").coalesce(1))
      val vocabDf = s.read.parquet(s"$stage/st17_vocab")
      val out = tmp("graft_st17")
      docsStream(s, stageDocsDir(dir))
        .writeStream
        // batchId-keyed overwrite — replay-idempotent, same as st18
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          UnigramLm.score(batch, "doc_id", "text", vocabDf, oov)
            .filter(col("avg_lp") >= -3.45)
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    // Streaming model-based quality filtering — the classifier stage of
    // a training-data pipeline run AT INGEST: the hashed-linear model is
    // trained once batch-side (sample-capped) and its dyadic weights
    // travel as a plan LITERAL into every micro-batch, so scoring is a
    // codegen'd scan-side aggregate — no state, no shuffle, no join, no
    // model object on executors. Doc-local arithmetic is batch-boundary-
    // proof by construction (nothing crosses triggers), and dyadic sums
    // let DuckDB replay the kept set exactly from the staged
    // buckets×weights. The sink is the batchId-keyed overwrite (st17's
    // replay-idempotence pattern).
    QueryDef("st45_stream_quality_filter",
      "streaming quality-classifier filter: dyadic hashed-linear logit per micro-batch (scan-side literal weights), keep = logit sign",
      s"""WITH d AS (SELECT doc_id FROM read_parquet('$StageSql/st45_docs/*.parquet')),
         |t AS (SELECT doc_id, bucket FROM read_parquet('$StageSql/st45_toks/*.parquet')),
         |w AS (SELECT bucket, w FROM read_parquet('$StageSql/st45_model/*.parquet')),
         |b AS (SELECT w AS bias FROM w WHERE bucket = -1),
         |dots AS (SELECT t.doc_id, SUM(wt.w) AS dot
         |  FROM t JOIN w wt ON t.bucket = wt.bucket GROUP BY t.doc_id),
         |s AS (SELECT d.doc_id, COALESCE(dots.dot, 0) + b.bias AS logit
         |  FROM d LEFT JOIN dots ON d.doc_id = dots.doc_id CROSS JOIN b)
         |SELECT doc_id, logit FROM s WHERE logit >= 0""".stripMargin) {
      (s, dir) =>
      import graft.ext.{QualityClassifier, TextAnalysis}
      val stage = QueryDef.stageDir(dir)
      val docs = graft.Tables.load(s, dir, "documents")
      val labeled = docs.withColumn("label",
        array_contains(TextAnalysis.tokens(col("text")), "slow")
          .cast("int"))
      // same corpus + label recipe as ext_quality_classifier → one fit
      // per JVM serves both entries across the bench's two passes
      val model = QualityClassifier.trainCached(s"$dir#qc_slow",
        labeled, "text", "label", dim = 512, maxSample = 20000)
      docs.select(col("doc_id")).stageInput(dir, "st45_docs")
      Fixtures.stagedInput(dir, "st45_toks", 1)(docs.select(col("doc_id"),
        explode(QualityClassifier.buckets(col("text"), 512))
          .alias("bucket")))
      // model weights staged under the model's content FINGERPRINT: a
      // JVM whose training drifted restages instead of serving stale
      // bytes (replaces the stage-fresh-every-run discipline)
      Fixtures.stagedInput(dir, "st45_model", 1, fp = model.fingerprint)(
        QualityClassifier.modelFrame(s, model).coalesce(1))
      val out = tmp("graft_st45")
      docsStream(s, stageDocsDir(dir))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.filter(QualityClassifier.keep(col("text"), model))
            .select(col("doc_id"),
              QualityClassifier.logit(col("text"), model).alias("logit"))
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    // Streaming inverted-index maintenance — the ingest half of
    // ext_bm25_lakehouse: documents arrive as txlog commits; each
    // micro-batch appends its posting rows (doc, token, tf) and norm
    // rows (doc, len) under batchId-keyed overwrite partitions (the
    // st17 replay-idempotence pattern — postings are doc-local, so
    // batch slicing can't change them). Serving then runs ENTIRELY
    // from the streamed index: df and corpus stats fold from what the
    // stream wrote, never from the raw corpus. The oracle recomputes
    // BM25 from raw documents INDEPENDENTLY (ln in DuckDB at micro-nat
    // rounding — ext_tfidf_incremental's precedent), so a posting
    // dropped or doubled by the stream diverges the hash.
    QueryDef("st46_stream_bm25_index",
      "streaming posting-list maintenance: per-commit postings+norms appended idempotently; BM25 served from the streamed index equals an independent corpus recompute",
      """WITH tok AS (SELECT doc_id AS doc, u.t AS token
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
        |  UNNEST(tk) AS u(t)),
        |lens AS (SELECT doc_id AS doc,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS len FROM documents),
        |stn AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_toks,
        |  CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
        |v0 AS (SELECT token, COUNT(DISTINCT doc) AS df FROM tok
        |  WHERE token IN ('table', 'key', 'row', 'agg') GROUP BY token),
        |v AS (SELECT token, CAST(round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS idf_micro
        |  FROM v0 CROSS JOIN stn),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok JOIN v USING (token) GROUP BY 1, 2),
        |sc AS (SELECT tf.doc, v.idf_micro * (floor(
        |    ((CAST(tf.tf AS DOUBLE) * 2.25) /
        |     (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / stn.avgdl))))
        |    * 1048576.0) / 1048576.0) AS s
        |  FROM tf JOIN v USING (token) JOIN lens ON tf.doc = lens.doc CROSS JOIN stn)
        |SELECT doc, SUM(s) AS bm25_micro FROM sc GROUP BY doc""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.{Bm25, TfIdf}
      val terms = Seq("table", "key", "row", "agg")
      val docs = graft.Tables.load(s, dir, "documents")
        .select("doc_id", "text")
      // the table under ingest: four ordered commits by doc_id quartile,
      // width derived from the corpus (st42's fix) so the streamed index
      // covers the WHOLE corpus at any sf — the oracle recomputes BM25
      // from raw documents, so a partial ingest diverges the hash
      val root = tmp("graft_st46")
      val table = docsQuartileTable(s, dir)
      s.readStream.format("graft.sources.txlog")
        .option("path", table).option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", s"$root/_cp")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          TfIdf.termFreq(TfIdf.tokenized(batch, "doc_id", "text"))
            .write.mode("overwrite").parquet(s"$root/idx/batch=$batchId")
          Bm25.docLengths(batch, "doc_id", "text")
            .write.mode("overwrite").parquet(s"$root/norms/batch=$batchId")
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      // serve from the streamed index only
      val idx = s.read.parquet(s"$root/idx").drop("batch")
      val norms = s.read.parquet(s"$root/norms").drop("batch")
      val statsDf = norms.agg(count(lit(1)).alias("n_docs"),
        sum(col("len").cast("long")).alias("total_toks"))
      val matched = idx.filter(col("token").isInCollection(terms))
      val idf = matched.groupBy("token").agg(count(lit(1)).alias("df"))
        .crossJoin(broadcast(statsDf))
        .select(col("token"),
          round(log(lit(1d) + (col("n_docs").cast("double") -
            col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) * 1e6).cast("long")
            .alias("idf_micro"))
      val avgdl = col("total_toks").cast("double") /
        col("n_docs").cast("double")
      matched.join(broadcast(idf), Seq("token"))
        .join(norms, Seq("doc"))
        .crossJoin(broadcast(statsDf))
        .select(col("doc"), (col("idf_micro") *
          Bm25.saturation(col("tf"), col("len"), avgdl)).alias("s"))
        .groupBy("doc").agg(sum(col("s")).alias("bm25_micro"))
    },

    // Streaming DSIR at ingest — the selection half of the batch/stream
    // pairing discipline (st45 is the classifier's): importance weights
    // are trained ONCE batch-side (two bounded histogram passes, shared
    // via Dsir.trainCached with ext_dsir_selection), the per-SOURCE
    // admission threshold is the batch rank rule's boundary score (the
    // ceil(0.2·n)-th logw per source — a streaming micro-batch cannot
    // rank globally, so it admits against the frozen boundary instead;
    // that is exactly how production pipelines run DSIR at ingest), and
    // each micro-batch scores scan-side (codegen'd aggregate, weights as
    // plan literals) + joins the broadcast source→threshold table.
    // Doc-local arithmetic is batch-boundary-proof; the sink is the
    // batchId-keyed overwrite (st17's replay-idempotence pattern). The
    // oracle replays scoring AND the threshold rule exactly from the
    // staged buckets × weights × thresholds.
    QueryDef("st47_stream_dsir",
      "streaming DSIR selection at ingest: scan-side dyadic importance scores per micro-batch, per-source admission threshold frozen from the batch rank rule",
      s"""WITH d AS (SELECT doc_id, source FROM read_parquet('$StageSql/st47_docs/*.parquet')),
         |t AS (SELECT doc_id, bucket FROM read_parquet('$StageSql/st47_toks/*.parquet')),
         |w AS (SELECT bucket, w FROM read_parquet('$StageSql/st47_model/*.parquet')),
         |th AS (SELECT source, thr FROM read_parquet('$StageSql/st47_thr/*.parquet')),
         |lw AS (SELECT t.doc_id, SUM(wt.w) AS s
         |  FROM t JOIN w wt ON t.bucket = wt.bucket GROUP BY t.doc_id),
         |sc AS (SELECT d.doc_id, d.source, COALESCE(lw.s, 0.0) AS logw
         |  FROM d LEFT JOIN lw ON d.doc_id = lw.doc_id)
         |SELECT sc.doc_id, sc.source, sc.logw
         |FROM sc JOIN th ON sc.source = th.source
         |WHERE sc.logw >= th.thr""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.Dsir
      import org.apache.spark.sql.expressions.Window
      val stage = QueryDef.stageDir(dir)
      val docs = graft.Tables.load(s, dir, "documents")
      val target = docs.filter(col("source").isin("src1", "src2", "src3"))
      val model = Dsir.trainCached(s"$dir#dsir_src123", target, docs, "text",
        dim = 1024, maxSample = 1000000)
      // batch-side per-source admission threshold = the boundary doc's
      // logw under the rank rule (exact dyadic value, so the streaming
      // >= compare can never flip on rounding)
      val bySource = Window.partitionBy("source")
      val thr = docs
        .select(col("doc_id"), col("source"),
          Dsir.logWeight(col("text"), model).alias("logw"))
        .withColumn("rk", row_number().over(
          bySource.orderBy(col("logw").desc, col("doc_id").asc)))
        .withColumn("n", count(lit(1)).over(bySource))
        .filter(col("rk") === ceil(col("n") * 0.2))
        .select(col("source"), col("logw").alias("thr"))
      docs.select(col("doc_id"), col("source")).stageInput(dir, "st47_docs")
      Fixtures.stagedInput(dir, "st47_toks", 1)(docs.select(col("doc_id"),
        explode(Dsir.ngramBuckets(col("text"), 1024)).alias("bucket")))
      // weights + thresholds staged under the model's content
      // FINGERPRINT: reuse is conditional on bit-identical training, a
      // drifted JVM restages (thr is a deterministic function of
      // (corpus, model), so the model fp keys it too)
      Fixtures.stagedInput(dir, "st47_model", 1, fp = model.fingerprint)(
        Dsir.modelFrame(s, model).coalesce(1))
      Fixtures.stagedInput(dir, "st47_thr", 1, fp = model.fingerprint)(
        thr.coalesce(1))
      val thrDf = s.read.parquet(s"$stage/st47_thr")
      val out = tmp("graft_st47")
      docsStream(s, stageDocsDir(dir))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.select(col("doc_id"), col("source"),
              Dsir.logWeight(col("text"), model).alias("logw"))
            .join(broadcast(thrDf), Seq("source"))
            .filter(col("logw") >= col("thr"))
            .select("doc_id", "source", "logw")
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    // Streaming perceptual-hash screening — ext_dedup_phash's ingest
    // half (the st41 shape for the multimodal path): arriving images
    // (doc_id in the upper half, width derived from the corpus — the
    // st42 discipline, never a literal) dHash per micro-batch through
    // the codec-init partition shape, probe a STATIC band index built
    // from the lower half, and survivors verify by exact
    // bit_count(xor) ≤ 3. Per-pair arithmetic is doc-local → batch-
    // boundary-proof; batchId-keyed overwrite sink (st17 pattern). The
    // oracle replays banding + verify from the staged full hash table
    // with the same split rule.
    QueryDef("st48_stream_phash_screen",
      "streaming image near-dup screening: per-batch dHash probes a static 4×16-bit band index, exact Hamming ≤ 3 verify; oracled over staged hashes",
      s"""WITH h AS (SELECT id, ph FROM read_parquet('$StageSql/st48_hashes/*.parquet')),
         |w AS (SELECT (MAX(doc_id) + 2) // 2 AS w FROM documents),
         |b AS (SELECT id, ph, j, (ph >> CAST(16 * j AS INT)) & 65535 AS bv
         |  FROM h CROSS JOIN range(4) AS t(j)),
         |c AS (SELECT DISTINCT n.id AS id_new, ix.id AS id_idx
         |  FROM b n JOIN b ix ON n.j = ix.j AND n.bv = ix.bv CROSS JOIN w
         |  WHERE n.id >= w.w AND ix.id < w.w)
         |SELECT c.id_new, c.id_idx,
         |  CAST(bit_count(xor(x.ph, y.ph)) AS INT) AS dist
         |FROM c JOIN h x ON c.id_new = x.id JOIN h y ON c.id_idx = y.id
         |WHERE bit_count(xor(x.ph, y.ph)) <= 3""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.Multimodal
      implicit val sp = s
      import s.implicits._
      val docs = graft.Tables.load(s, dir, "documents")
      def imagesOf(df: DataFrame) =
        Multimodal.mediaTable(df, "doc_id", "text", "source")
          .as[Multimodal.MediaItem].filter(col("kind") === "image")
      val halfW = docs.agg(max("doc_id")).first().getLong(0) / 2 + 1
      // full hash table staged once (hashes are per-row deterministic,
      // so the batch/index split cannot change them)
      Fixtures.stagedInput(dir, "st48_hashes", 1)(
        Multimodal.perceptualHashes(imagesOf(docs)))
      val idxHashes = s.read.parquet(s"${QueryDef.stageDir(dir)}/st48_hashes")
        .filter(col("id") < halfW)
      val idxBands = Multimodal.phashBands(idxHashes)
        .select(col("j"), col("bv"), col("id").alias("id_idx"))
      val out = tmp("graft_st48")
      docsStream(s, stageDocsDir(dir))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val arriving = imagesOf(batch.filter(col("doc_id") >= halfW))
          val ph = Multimodal.perceptualHashes(arriving)
          // plain equi-joins on (j, bv) / id — the index is corpus-
          // scale at 100 TB, so no broadcast hint: Catalyst/AQE picks
          // broadcast while the index is small and shuffles when not
          Multimodal.phashBands(ph)
            .select(col("j"), col("bv"), col("id").alias("id_new"))
            .join(idxBands, Seq("j", "bv"))
            .select("id_new", "id_idx").distinct()
            .join(ph.select(col("id").alias("id_new"),
              col("ph").alias("ph_new")), Seq("id_new"))
            .join(idxHashes.select(col("id").alias("id_idx"),
              col("ph").alias("ph_idx")), Seq("id_idx"))
            .select(col("id_new"), col("id_idx"),
              bit_count(col("ph_new").bitwiseXOR(col("ph_idx")))
                .cast("int").alias("dist"))
            .filter(col("dist") <= 3)
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    // Streaming semantic dedup at ingest — ext_dedup_semantic's ingest
    // half, completing the batch/stream pairing the classifier (st45),
    // DSIR (st47), and phash (st48) entries established: arriving
    // embeddings (upper id half, corpus-derived width) are assigned
    // their IVF cell by the SAME cached coarse quantizer the batch
    // entry trains (one scan-side codegen'd argmin, centroids as an
    // expression constant — no join), then equi-join the static
    // lower-half cell index and verify by exact cosine ≥ τ. Cells keep
    // the candidate stage bucketed — never all-pairs — and cell counts
    // scale with the corpus (the constant-cell-size rule from
    // ext_dedup_semantic). Oracle replays cell-blocking + the cosine
    // threshold from the staged assignments with the same split rule.
    QueryDef("st49_stream_semantic_dedup",
      "streaming SemDeDup screening: per-batch IVF-cell assignment probes the static cell index, exact cosine ≥ 0.3 verify; oracled over staged cells", {
      def d(x: String, y: String) =
        s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
      val np = s"(sqrt(${d("n.vec", "n.vec")}) * sqrt(${d("ix.vec", "ix.vec")}))"
      val cosC = s"(CASE WHEN $np = 0 THEN NULL ELSE ${d("n.vec", "ix.vec")} / $np END)"
      s"""WITH b AS (SELECT id, vec, cell FROM read_parquet('$StageSql/st49_cells/*.parquet')),
         |w AS (SELECT (MAX(vec_id) + 2) // 2 AS w FROM embeddings)
         |SELECT n.id AS id_new, ix.id AS id_idx
         |FROM b n JOIN b ix ON n.cell = ix.cell CROSS JOIN w
         |WHERE n.id >= w.w AND ix.id < w.w AND $cosC >= 0.3""".stripMargin
    }) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.functions.{GraftFunctions, VectorFunctions}
      GraftFunctions.register(s)
      val emb = graft.Tables.load(s, dir, "embeddings")
      // identical cell-count rule AND cache key to ext_dedup_semantic:
      // the ingest screen shares the batch entry's coarse quantizer
      val nCells = math.max(16, math.ceil(emb.count() / 125.0).toInt)
      val model = graft.ext.IvfIndex.trainCached(s"$dir#semdedup$nCells",
        emb, "embedding", nCells = nCells)
      val halfW = emb.agg(max("vec_id")).first().getLong(0) / 2 + 1
      val stage = QueryDef.stageDir(dir)
      // assignments staged under the quantizer's content FINGERPRINT —
      // a JVM whose centroids drifted restages (the fp-keyed form of
      // the stage-fresh-per-run discipline)
      Fixtures.stagedInput(dir, "st49_cells", 1, fp = model.fingerprint)(
        model.withCell(emb.select(col("vec_id").alias("id"),
            col("embedding").alias("vec")), "vec", "cell")
          .select("id", "vec", "cell"))
      val idx = s.read.parquet(s"$stage/st49_cells")
        .filter(col("id") < halfW)
        .select(col("cell"), col("id").alias("id_idx"),
          col("vec").alias("vec_idx"))
      val landing = stageTable(dir, "embeddings")
      val out = tmp("graft_st49")
      configureStreaming(s)
      s.readStream.schema(s.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val arriving = model.withCell(
            batch.filter(col("vec_id") >= halfW)
              .select(col("vec_id").alias("id_new"),
                col("embedding").alias("vec_new")), "vec_new", "cell")
          arriving.join(idx, Seq("cell"))
            .filter(VectorFunctions.cosineNative(
              col("vec_new"), col("vec_idx")) >= 0.3)
            .select("id_new", "id_idx")
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    // Streaming block-max maintenance — the index-side completion of
    // ext_bm25_topk: a growing corpus can't rewrite per-block impact
    // bounds on every commit (idf and avgdl move with N), so each
    // micro-batch appends MERGEABLE per-(token, block) posting stats
    // (max_tf, min_len — a max/min fold, batchId-keyed like the
    // postings themselves) and serving derives the bounds from the
    // folded stats plus the CURRENT corpus stats. The stats bound
    // dominates every member posting's impact (saturation is monotone
    // ↑tf ↓len), so pruning stays EXACT as the corpus grows — slightly
    // looser than build-time exact maxima, the price of append-only
    // maintenance. Postings land partitioned by block inside each
    // batch dir, so the candidate read opens only surviving blk= dirs
    // (explicit pruned listing, require-pinned). The oracle recomputes
    // the exhaustive top-10 from raw documents — a bound that under-
    // covers (wrongly pruned block) or an index that dropped/doubled a
    // posting both diverge the hash.
    QueryDef("st50_stream_blockmax_topk",
      "streaming block-max maintenance: mergeable (token,blk) stats appended per commit; bound-pruned top-10 from the streamed index equals an exhaustive corpus recompute",
      """WITH tok AS (SELECT doc_id AS doc, u.t AS token
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS tk FROM documents),
        |  UNNEST(tk) AS u(t)),
        |lens AS (SELECT doc_id AS doc,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS len FROM documents),
        |stn AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_toks,
        |  CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
        |v0 AS (SELECT token, COUNT(DISTINCT doc) AS df FROM tok
        |  WHERE token IN ('dup', 'sort', 'hash') GROUP BY token),
        |v AS (SELECT token, CAST(round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS idf_micro
        |  FROM v0 CROSS JOIN stn),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok JOIN v USING (token) GROUP BY 1, 2),
        |sc AS (SELECT tf.doc, v.idf_micro * (floor(
        |    ((CAST(tf.tf AS DOUBLE) * 2.25) /
        |     (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(lens.len AS DOUBLE) / stn.avgdl))))
        |    * 1048576.0) / 1048576.0) AS s
        |  FROM tf JOIN v USING (token) JOIN lens ON tf.doc = lens.doc CROSS JOIN stn),
        |agg AS (SELECT doc, SUM(s) AS bm25_micro FROM sc GROUP BY doc)
        |SELECT doc, bm25_micro, rk FROM (
        |  SELECT doc, bm25_micro,
        |    row_number() OVER (ORDER BY bm25_micro DESC, doc) AS rk FROM agg)
        |WHERE rk <= 10""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.{Bm25, TfIdf}
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("dup", "sort", "hash")
      val k = 10
      val blockW = 25
      val docs = graft.Tables.load(s, dir, "documents")
        .select("doc_id", "text")
      val root = tmp("graft_st50")
      val table = docsQuartileTable(s, dir)
      s.readStream.format("graft.sources.txlog")
        .option("path", table).option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", s"$root/_cp")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val tok = TfIdf.tokenized(batch, "doc_id", "text")
          val lens = Bm25.docLengths(batch, "doc_id", "text")
          // repartition on the partition column → one file per blk dir
          // (without it every task writes to every dir: 32×|blks| files)
          val post = TfIdf.termFreq(tok).join(lens, Seq("doc"))
            .withColumn("blk", Bm25.blockOf(col("doc"), blockW))
            .persist()
          // norms derive from the batch alone (not from `post`) — overlap
          // that write with the postings write instead of serializing
          // three driver-sequenced actions per micro-batch
          overlapped(
            () => lens.write.mode("overwrite")
              .parquet(s"$root/norms/batch=$batchId"),
            () => {
              post.repartition(col("blk"))
                .write.partitionBy("blk").mode("overwrite")
                .parquet(s"$root/idx/batch=$batchId")
              // stats from the same deterministic frame the postings
              // landed from — a replayed batch reproduces both
              // bit-for-bit
              Bm25.blockStats(post)
                .write.mode("overwrite").parquet(s"$root/bstats/batch=$batchId")
            })
          post.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      // serve ENTIRELY from the streamed index: corpus stats + df from
      // what the stream wrote, bounds from the folded mergeable stats.
      // Corpus stats (1 row) and the query idf table (|terms| rows) are
      // metadata-plane: collect each ONCE and re-attach as local
      // relations, instead of re-running the norms aggregation and the
      // idf subtree inside every downstream action (bootstrap, bounds,
      // final scoring — 4 re-evaluations before this change).
      val post = s.read.parquet(s"$root/idx")
      val postQ = post.filter(col("token").isInCollection(terms))
        .drop("batch")
      val norms = s.read.parquet(s"$root/norms").drop("batch")
      import s.implicits._
      val statsRow = Bm25.stats(norms).collect().head
      val statsDf = Seq((statsRow.getLong(0), statsRow.getLong(1)))
        .toDF("n_docs", "total_toks")
      val idfRows = postQ.groupBy("token").agg(count(lit(1)).alias("df"))
        .crossJoin(broadcast(statsDf))
        .select(col("token"),
          round(log(lit(1d) + (col("n_docs").cast("double") -
            col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) * 1e6).cast("long")
            .alias("idf_micro"))
        .collect()
      val idf = idfRows.map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("token", "idf_micro")
      val folded = s.read.parquet(s"$root/bstats").drop("batch")
        .filter(col("token").isInCollection(terms))
        .groupBy("token", "blk").agg(
          max(col("max_tf")).alias("max_tf"),
          min(col("min_len")).alias("min_len"))
      val ub = Bm25.blockMaxFromStats(folded, idf, statsDf)
        .groupBy("blk").agg(sum(col("max_c")).alias("ub"))
      val rare = idfRows
        .maxBy(r => (r.getAs[Long]("idf_micro"), r.getAs[String]("token")))
        .getAs[String]("token")
      val boot = Bm25.scoreFromPostings(
        postQ.join(postQ.filter(col("token") === rare).select("doc")
          .distinct(), Seq("doc"), "left_semi"), idf, statsDf)
      val (_, cand) = Bm25.candidateBlocks(boot, ub, k)
      // open only surviving blk= dirs across all batch dirs (ONE brace-
      // alternation glob — a single listing pass over the pruned set,
      // the explicit pruned listing like ext_bm25_topk)
      val candPost = s.read.option("basePath", s"$root/idx")
        .parquet(s"$root/idx/*/blk={${cand.mkString(",")}}")
        .filter(col("token").isInCollection(terms)).drop("batch")
      require(candPost.inputFiles.length < post.inputFiles.length,
        "streamed block-max bounds must prune posting blocks below θ")
      Bm25.scoreFromPostings(candPost, idf, statsDf)
        .orderBy(col("bm25_micro").desc, col("doc").asc).limit(k)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("bm25_micro").desc, col("doc").asc)))
    },

    // Streaming PII redaction at ingest — ext_pii_redact's streaming
    // half, completing the batch/stream pairing discipline (st45/st47):
    // scrub BEFORE anything lands in the lake, so no raw-PII bytes ever
    // persist. The redaction is row-local scan-side expression work, so
    // replayed/re-sliced micro-batches rewrite identical rows — the
    // batchId-keyed overwrite sink is idempotent by construction. The
    // PII-bearing contact line is synthesized deterministically from
    // doc_id (documents text itself carries none), and the oracle
    // rebuilds text + redaction from the raw table independently.
    QueryDef("st51_stream_pii_redact",
      "streaming PII scrub at ingest: email/phone/IPv4 families redacted per micro-batch before landing, batchId-keyed idempotent sink", {
      import graft.ext.Pii
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact doc.' || CAST(doc_id AS VARCHAR) ||
         |  '@example.org call ' ||
         |  lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
         |  lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0') || '-' ||
         |  lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
         |  lpad(CAST((doc_id * 11) % 10000 AS VARCHAR), 4, '0') ||
         |  ' node 10.' ||
         |  CAST(doc_id % 256 AS VARCHAR) || '.' ||
         |  CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
         |  CAST((doc_id * 13) % 256 AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  ${Pii.countSql("text", Pii.EmailRe)} AS n_email,
         |  ${Pii.countSql("text", Pii.PhoneRe)} AS n_phone,
         |  ${Pii.countSql("text", Pii.Ipv4Re)} AS n_ip,
         |  ${Pii.redactSql("text")} AS redacted
         |FROM t""".stripMargin
    }) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import graft.ext.Pii
      val out = tmp("graft_st51")
      val id = col("doc_id")
      val contact = concat(col("text"), lit(" contact doc."),
        id.cast("string"), lit("@example.org call "),
        lpad((id % 100).cast("string"), 2, "0"), lit("-"),
        lpad(((id * 3) % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((id * 7) % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((id * 11) % 10000).cast("string"), 4, "0"), lit(" node 10."),
        (id % 256).cast("string"), lit("."),
        ((id * 7) % 256).cast("string"), lit("."),
        ((id * 13) % 256).cast("string"))
      docsStream(s, stageDocsDir(dir))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.select(col("doc_id"), contact.alias("text"))
            .select(col("doc_id"),
              Pii.countMatches(col("text"), Pii.EmailRe).cast("long")
                .alias("n_email"),
              Pii.countMatches(col("text"), Pii.PhoneRe).cast("long")
                .alias("n_phone"),
              Pii.countMatches(col("text"), Pii.Ipv4Re).cast("long")
                .alias("n_ip"),
              Pii.redact(col("text")).alias("redacted"))
            .write.mode("overwrite").parquet(s"$out/sink/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$out/sink").drop("batch")
    },

    QueryDef("st6_sessionize_typed",
      "typed KeyValueGroupedDataset sessionization (30-min gap rule)",
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (SELECT user_id,
        |  CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM g)
        |SELECT user_id, CAST(1 + SUM(brk) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM b GROUP BY user_id""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import s.implicits._
      // 30-minute gap in microseconds; ties broken on event_id like the oracle
      val gapUs = 30L * 60 * 1000 * 1000
      graft.Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).alias("ts_us"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val sorted = it.toArray.sortBy(e => (e._3, e._2))
          var sessions = 1L
          var i = 1
          while (i < sorted.length) {
            if (sorted(i)._3 - sorted(i - 1)._3 > gapUs) sessions += 1
            i += 1
          }
          (uid, sessions, sorted.length.toLong)
        }
        .toDF("user_id", "n_sessions", "n_events")
    },

    // S4's schema tracking, ORACLED end-to-end (the r12 verdict's item 6;
    // previously spec-only in SchemaDriftSpec): generation-1 landing
    // files carry (event_id, user_id), the stream drains them, then
    // generation-2 files land WITH a new `channel` column. The restarted
    // stream (same checkpoint — only unprocessed files are re-read)
    // adopts the SchemaEvolution-tracked evolved schema; the merged sink
    // backfills NULL channel for every pre-drift row. The oracle
    // recomputes both generations from the events table.
    QueryDef("st38_stream_schema_evolution",
      "mid-stream schema drift: new column lands between runs; restart adopts the evolved schema, pre-drift rows backfill NULL (S4 addNewColumns analog)",
      """SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS channel
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id, 'ch_' || CAST(user_id % 3 AS BIGINT) AS channel
        |FROM events WHERE event_type = 'purchase'""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val land = tmp("graft_st38_land")
      val out = tmp("graft_st38")
      val schemaLoc = s"$out/_schema"
      val ev = graft.Tables.load(s, dir, "events")
      // generation 1: clicks, no channel column
      ev.filter(col("event_type") === "click")
        .select("event_id", "user_id")
        .write.mode("append").parquet(land)
      graft.medallion.Medallion
        .bronzeStreamEvolving(s, land, schemaLoc, s"$out/sink", s"$out/_cp")
        .awaitTermination()
      // generation 2: purchases land WITH the new channel column
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          concat(lit("ch_"), pmod(col("user_id"), lit(3))).alias("channel"))
        .write.mode("append").parquet(land)
      // restart from the SAME checkpoint under the evolved tracked schema
      graft.medallion.Medallion
        .bronzeStreamEvolving(s, land, schemaLoc, s"$out/sink", s"$out/_cp")
        .awaitTermination()
      s.read.option("mergeSchema", "true").parquet(s"$out/sink")
        .select("event_id", "user_id", "channel")
    },

    // The rolling gold refresh over a PARTITIONED txlog table (Delta's
    // foreachBatch + replaceWhere pattern as one sink option): the table
    // seeds with correct old-day aggregates and STALE rows for recent
    // days; the stream re-derives days >= cutoff and each update-mode
    // micro-batch atomically replaces exactly the day-partitions it
    // emits (`partitionOverwrite=true`). End state: every day correct —
    // old partitions byte-untouched, recent partitions replaced. The
    // oracle recomputes the plain daily aggregate.
    QueryDef("st39_stream_partition_overwrite",
      "update-mode stream into a partitioned txlog sink with partitionOverwrite: re-derived day partitions atomically replace their stale seeds",
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(user_id) AS BIGINT) AS u_sum
        |FROM events GROUP BY 1""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      configureStreaming(s)
      val t = tmp("graft_st39") + "/t"
      TxLog.setProperties(t, Map("graft.partition.columns" -> "d"))
      val daily = graft.Tables.load(s, dir, "events")
        .groupBy(to_date(col("ts")).alias("d"))
        .agg(count(lit(1)).alias("n_events"),
          sum(col("user_id")).alias("u_sum"))
      val cutoff = lit("2024-01-10").cast("date")
      // seed: correct values for old days, stale (-1) for recent days
      TxLog.append(daily
        .withColumn("n_events",
          when(col("d") >= cutoff, lit(-1L)).otherwise(col("n_events")))
        .withColumn("u_sum",
          when(col("d") >= cutoff, lit(-1L)).otherwise(col("u_sum"))), t)
      eventsStream(s, stageEventsDir(s, dir))
        .filter(to_date(col("ts")) >= cutoff)
        .groupBy(to_date(col("ts")).alias("d"))
        .agg(count(lit(1)).alias("n_events"),
          sum(col("user_id")).alias("u_sum"))
        .writeStream.format("graft.sources.txlog")
        .option("checkpointLocation", tmp("graft_st39_cp"))
        .option("path", t).option("partitionOverwrite", "true")
        .outputMode("update").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      TxLog.read(s, t).select(col("d").cast("string").alias("d"),
        col("n_events"), col("u_sum"))
    },

    // Streaming SCD Type 2 (DLT's APPLY CHANGES … STORED AS SCD TYPE 2
    // as a stream): three CDC batches land as files with ascending
    // mtimes, the file source delivers them in sequence order
    // (maxFilesPerTrigger=1), and each micro-batch folds into the
    // history table through the (streamId, batchId) replay-guarded
    // scd2Sink — upserts open rows, the next change per key closes
    // them, deletes close without opening. The oracle recomputes the
    // GLOBAL lead()-chain over the union of all events: any batch the
    // incremental stream fold closes at the wrong sequence (or a replay
    // double-applies) diverges the hash.
    QueryDef("st40_stream_scd2",
      "streaming SCD Type 2: ordered CDC micro-batches fold into the full-history table via the replay-guarded scd2 sink; oracle is the global lead()-chain",
      s"""WITH ev AS (
         |  SELECT c_custkey, c_name, c_acctbal, 1 AS ver, 'upsert' AS op
         |  FROM read_parquet('$StageSql/scd2s_in/*.parquet')
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_acctbal + 100.0, 2, 'upsert'
         |  FROM read_parquet('$StageSql/scd2s_in/*.parquet')
         |  WHERE c_custkey % 3 = 0
         |  UNION ALL
         |  SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         |         3, 'delete'
         |  FROM read_parquet('$StageSql/scd2s_in/*.parquet')
         |  WHERE c_custkey % 7 = 0),
         |o AS (SELECT *, LEAD(ver) OVER (PARTITION BY c_custkey
         |        ORDER BY ver ASC, op DESC) AS nxt FROM ev)
         |SELECT c_custkey, c_name, c_acctbal,
         |  CAST(ver AS BIGINT) AS __start_at, CAST(nxt AS BIGINT) AS __end_at
         |FROM o WHERE op = 'upsert'""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      val stage = QueryDef.stageDir(dir)
      graft.Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .stageInput(dir, "scd2s_in")
      val in = s.read.parquet(s"$stage/scd2s_in")
      // deterministic READ-ONLY landing dir with EXPLICIT mtimes (mtime
      // is the file source's delivery order — the fixture preserves the
      // staged ordering across runs); one build per sf, target/cp fresh
      val landing = Fixtures.immutableTable(dir, "st40_src", 1) { t =>
        Files.createDirectories(java.nio.file.Paths.get(t))
        def stageBatch(df: DataFrame, n: Int): Unit = {
          val d = tmp("graft_st40_b")
          df.coalesce(1).write.mode("overwrite").parquet(d)
          val part = TxLog.listDir(java.nio.file.Paths.get(d))
            .filter(_.getFileName.toString.endsWith(".parquet")).head
          val dst = java.nio.file.Paths.get(t, f"b$n%04d.parquet")
          Files.copy(part, dst)
          // mtime IS the delivery order for the file source: sequence
          // batches must arrive per-key non-decreasing (the scd2 contract)
          Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
            .fromMillis(1600000000000L + n * 60000L))
        }
        stageBatch(in.withColumn("ver", lit(1L))
          .withColumn("op", lit("upsert")), 1)
        stageBatch(in.filter(pmod(col("c_custkey"), lit(3)) === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
          .withColumn("ver", lit(2L)).withColumn("op", lit("upsert")), 2)
        stageBatch(in.filter(pmod(col("c_custkey"), lit(7)) === 0)
          .withColumn("c_name", lit(null).cast("string"))
          .withColumn("c_acctbal", lit(null).cast("double"))
          .withColumn("ver", lit(3L)).withColumn("op", lit("delete")), 3)
      }
      val target = tmp("graft_st40") + "/t"
      val cp = tmp("graft_st40_cp")
      configureStreaming(s)
      s.readStream.schema(s.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .foreachBatch(TxLog.scd2Sink(target, Seq("c_custkey"), "ver",
          "op", Some(cp)) _)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      TxLog.read(s, target)
    },

    // Streaming an IDENTITY table: the stream source derives the
    // identity values the same way the batch reader does — materialized
    // `_graft_row_id` (rewrites) else commit-allocated base + parquet
    // row_index (fresh appends) — restricted to each micro-batch's
    // delivered files, so catch-up work stays bounded by the admitted
    // commits. Two drains over one checkpoint prove identities continue
    // across incremental delivery exactly as the log allocated them.
    QueryDef("st41_stream_identity",
      "streaming a txlog identity table: derived identity values (base + row_index) delivered incrementally across drains",
      """WITH a AS (SELECT c_custkey,
        |    ROW_NUMBER() OVER (ORDER BY c_custkey) AS rid
        |  FROM customer WHERE c_custkey % 2 = 0),
        |b AS (SELECT c_custkey,
        |    (SELECT COUNT(*) FROM a) +
        |      ROW_NUMBER() OVER (ORDER BY c_custkey) AS rid
        |  FROM customer WHERE c_custkey % 2 = 1)
        |SELECT c_custkey, CAST(100 + 10 * (rid - 1) AS BIGINT) AS id
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)""".stripMargin) {
      (s, dir) =>
      configureStreaming(s)
      val t = tmp("graft_st41") + "/t"
      TxLog.createTable(t, StructType.fromDDL("c_custkey BIGINT"))
      TxLog.declareIdentityColumn(t, "id", 100L, 10L)
      val cust = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").alias("c_custkey"))
      // one sorted file per slice: identity = row_number in custkey order
      TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .coalesce(1).sortWithinPartitions("c_custkey"), t)
      val out = tmp("graft_st41_out")
      def drain(): Unit =
        s.readStream.format("graft.sources.txlog").option("path", t).load()
          .writeStream.format("parquet")
          .option("checkpointLocation", s"$out/_cp")
          .option("path", s"$out/sink")
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      drain()
      TxLog.append(cust.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .coalesce(1).sortWithinPartitions("c_custkey"), t)
      drain()
      s.read.parquet(s"$out/sink")
    },

    // Streaming-maintained materialized view (the "gold as a view"
    // medallion shape): each micro-batch lands in a txlog bronze table
    // (replay-guarded (streamId, batchId) append) and REFRESH folds
    // exactly that batch's delta into the group view — per-trigger cost
    // is the batch + the changed view groups, never the bronze snapshot.
    // The in-entry require pins that refreshes after the bootstrap were
    // INCREMENTAL merges; the oracle recomputes the final view
    // declaratively over the whole corpus (integral sums — exact).
    QueryDef("st43_stream_mview",
      "streaming-maintained materialized view: per-batch bronze append + incremental REFRESH (delta merge per trigger)",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang""".stripMargin) { (s0, dir) =>
      val s = streamSession(s0, dir)
      import org.apache.spark.sql.types._
      // deterministic READ-ONLY landing dir — one build per sf; the
      // bronze table, view and checkpoint stay per-run (batch order is
      // immaterial: the view folds integral sums)
      val land = Fixtures.immutableTable(dir, "st43_land", 1) { t =>
        graft.Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .repartitionByRange(4, col("doc_id")).write
          .mode("overwrite").parquet(t)
      }
      val root = tmp("graft_st43")
      val (src, mv) = (s"$root/bronze", s"$root/mv")
      TxLog.createTable(src, StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType))))
      Mview.create(s, mv, s"SELECT lang, count(*) AS n, " +
        s"sum(n_chars) AS chars FROM txlog.`$src` GROUP BY lang")
      val incremental = new java.util.concurrent.atomic.AtomicInteger(0)
      docsStream(s, land)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // pre-check the replay guard (tryCommit now ENFORCES it by
          // throwing): a restart's replayed batch skips the append but
          // still refreshes — the view must catch up either way
          if (!TxLog.batchCommitted(src, Some("st43_mview"), batchId))
            TxLog.append(batch.select("doc_id", "lang", "n_chars"), src,
              batchId = batchId, streamId = Some("st43_mview"))
          if (Mview.refresh(s, mv).mode == "incremental_merge")
            incremental.incrementAndGet()
          ()
        }
        .option("checkpointLocation", s"$root/_cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      require(incremental.get() >= 3,
        s"expected >=3 incremental per-batch refreshes, got ${incremental.get()}")
      TxLog.read(s, mv).select("lang", "n", "chars")
    }
  )
}
