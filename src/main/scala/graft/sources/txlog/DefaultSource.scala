package graft.sources.txlog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, Filter, InsertableRelation, PrunedFilteredScan, RelationProvider, SchemaRelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.ops.TxLog

/** TxLog tables as a first-class Spark data source:
  *
  * {{{
  *   spark.read.format("graft.sources.txlog")
  *     .option("path", "/lake/events")
  *     .option("versionAsOf", "3")          // or timestampAsOf (millis)
  *     .load()
  * }}}
  *
  * The relation resolves the snapshot THROUGH the log (active file list +
  * log-carried schema — no directory listing, no footer inference) and
  * delegates the actual columnar scan to Spark's parquet reader over
  * exactly the snapshot's files, so pushdown/pruning/codegen behave as a
  * native parquet scan of those files. [[PrunedFilteredScan]] forwards
  * the pruned columns and pushable filters into that delegate, keeping
  * the plan scan-shaped rather than scan-then-filter-everything.
  *
  * Version resolution mirrors [[TxLog.read]] / [[TxLog.readAsOfTimestamp]];
  * passing both options is an error. This registration makes the table
  * tier consumable from `spark.read` API call sites (and SQL via
  * `CREATE TABLE … USING graft.sources.txlog OPTIONS (path …)`) without
  * importing TxLog.
  */
class DefaultSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider {
  import DefaultSource.pathOf

  /** `df.writeStream.format("graft.sources.txlog").option("path", …)` —
    * the TxLog table as a native streaming SINK. Each micro-batch is ONE
    * atomic commit stamped with its batch id, so checkpoint-recovery
    * redelivery (foreachBatch-style at-least-once) is detected in the log
    * and skipped: exactly-once TABLE CONTENTS over an at-least-once
    * callback, with no user-written idempotence code. Append mode commits
    * adds; Complete mode overwrites the snapshot per trigger (the
    * complete-mode gold-table shape with time travel for free); Update
    * mode MERGES each micro-batch on the `mergeKeys` option's columns —
    * the streaming-upsert shape st19/st23 build with foreachBatch, as a
    * one-line sink. Update-mode ordering uses the `versionCol` option's
    * column when given (CDC streams carry one); without it, rows are
    * stamped with a persisted `_merge_version` = the batch id, so later
    * batches win per key — correct whenever a batch carries at most one
    * row per key, which is exactly what an update-mode streaming
    * aggregate emits. Schema enforcement, CHECK constraints, and
    * `statsCols`/`mergeSchema` options behave as on the batch write
    * path. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val path = pathOf(parameters, "sink")
    require(partitionColumns.isEmpty,
      "txlog sinks take no writeStream.partitionBy: declare the layout " +
        "ONCE on the table (graft.partition.columns property) and every " +
        "write — this sink included — lands it; stats/bloom columns " +
        "prune the rest")
    val statsCols = parameters.get("statscols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val mergeSchema = parameters.get("mergeschema").exists(_.toBoolean)
    val complete = outputMode == OutputMode.Complete()
    val update = outputMode == OutputMode.Update()
    val mergeKeys = parameters.get("mergekeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val versionCol = parameters.get("versioncol")
    // Update + partitionOverwrite=true: each micro-batch atomically
    // replaces EXACTLY the partitions it writes into (the streaming form
    // of [[TxLog.overwritePartitions]] — a rolling gold refresh that
    // re-derives recent partitions per trigger, Delta's
    // foreachBatch-replaceWhere pattern without the boilerplate).
    val dynPartOverwrite =
      parameters.get("partitionoverwrite").exists(_.toBoolean)
    require(!update || mergeKeys.nonEmpty || dynPartOverwrite,
      "txlog sink in Update mode requires option 'mergeKeys' " +
        "(comma-separated key columns to upsert on) or " +
        "partitionOverwrite=true (replace the partitions each batch " +
        "writes into)")
    // Stream identity for the replay guard: the checkpoint location is
    // stable across restarts of the SAME query and distinct for a second
    // query or a fresh checkpoint — keying the guard on batchId alone
    // would silently skip a different query's batches (they also count
    // from 0). Recorded in each commit; see TxLog.batchCommitted.
    val streamId = parameters.get("checkpointlocation")
    // Small-file control is the table's `graft.autoCompact.*` policy,
    // declared once and applied to every writer, this sink included; the
    // sink's former per-query options are refused rather than ignored.
    val retired = Seq("binpack", "autoCompactEvery", "autoCompactMinBytes")
      .filter(parameters.contains)
    require(retired.isEmpty,
      s"txlog sink option(s) ${retired.mkString(", ")} are no longer " +
        "supported: set the table properties graft.autoCompact.enabled, " +
        "graft.autoCompact.minFileSize, graft.autoCompact.minFiles and " +
        "graft.autoCompact.targetSize instead")
    new Sink {
      override def name(): String = s"TxLogSink[$path]"
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // replay guard: a (streamId, batchId) already in the log was fully
        // committed before the crash — skip, don't double-append
        if (TxLog.batchCommitted(path, streamId, batchId)) return
        // addBatch's frame is streaming-flagged; batch writers refuse it
        val raw = org.apache.spark.sql.execution.streaming
          .GraftSourceShim.asBatch(data)
        // a micro-batch is small by construction: shuffle it by the
        // declared partition columns so a trigger lands ONE file per
        // touched partition, not one per input task per partition (a
        // 100 TB BATCH load wants the opposite, which is why the batch
        // paths don't do this)
        val sinkPartCols = TxLog.declaredPartitionCols(path)
          .filter(raw.columns.contains)
        val batch =
          if (sinkPartCols.isEmpty) raw
          else raw.repartition(sinkPartCols.map(
            org.apache.spark.sql.functions.col): _*)
        if (update && dynPartOverwrite)
          TxLog.overwritePartitions(batch, path, statsCols, batchId, streamId)
        else if (update) versionCol match {
          case Some(vc) =>
            TxLog.merge(batch.sparkSession, path, batch, mergeKeys, vc,
              batchId, streamId)
          case None =>
            TxLog.merge(batch.sparkSession, path,
              batch.withColumn("_merge_version",
                org.apache.spark.sql.functions.lit(batchId)),
              mergeKeys, "_merge_version", batchId, streamId)
        }
        else if (complete)
          TxLog.overwrite(batch, path, statsCols, mergeSchema, batchId, streamId)
        else
          TxLog.append(batch, path, statsCols, mergeSchema, batchId, streamId)
      }
      override def toString: String = name()
    }
  }

  /** Streaming-source schema: the log-carried schema of the table's
    * latest version, fixed for the stream's lifetime (the Delta streaming
    * source contract — schema evolution requires a new stream). */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = pathOf(parameters, "stream")
    (providerName, schema.getOrElse {
      cdfKeyCols(parameters) match {
        case Some(keys) => TxLogStreamSource.cdfStreamSchema(path, keys)
        case None => TxLogStreamSource.tableSchema(sqlContext, path)
      }
    })
  }

  /** `changeFeed=true` + `keyCols=k1,k2`: stream KEYED CHANGE ROWS
    * (insert/update/delete + `_commit_version`) instead of appended
    * files — the Delta `readChangeData` analog, and the answer to
    * "merge/overwrite commits refuse without ignoreChanges": a CDC
    * consumer reads the deltas as deltas. */
  private def cdfKeyCols(parameters: Map[String, String]): Option[Seq[String]] =
    if (!parameters.get("changefeed").exists(_.toBoolean)) None
    else {
      val keys = parameters.get("keycols")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      require(keys.nonEmpty,
        "txlog changeFeed=true requires option 'keyCols' " +
          "(comma-separated key columns the change rows are keyed on)")
      Some(keys)
    }

  /** `spark.readStream.format("graft.sources.txlog").option("path", …)` —
    * the TxLog table as a native streaming SOURCE (the Delta streaming
    * source analog): offsets are COMMIT VERSIONS, each micro-batch reads
    * exactly the data files the commits in (start, end] ADDED, so a
    * downstream pipeline consumes a 100 TB table's increments without
    * ever re-listing or re-reading the table. See [[TxLogStreamSource]]
    * for the op-by-op delivery semantics. */
  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val path = pathOf(parameters, "stream")
    // Accept both Delta forms: epoch millis OR a 'yyyy-MM-dd[ HH:mm:ss]'
    // string — same parse as TIMESTAMP AS OF and the table_changes TVF.
    val startingTs = parameters.get("startingtimestamp").map { s =>
      try graft.sql.SqlTimestamps.toMillis(s)
      catch {
        case _: IllegalArgumentException | _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"txlog stream: startingTimestamp '$s' is neither epoch " +
              "millis nor a 'yyyy-MM-dd[ HH:mm:ss]' timestamp")
      }
    }
    require(startingTs.isEmpty || !parameters.contains("startingversion"),
      "txlog stream: pass startingVersion OR startingTimestamp, not both")
    // Delta's startingTimestamp (millis): deliver every commit stamped AT
    // OR AFTER the timestamp — the offset starts just below the first
    // such commit; a timestamp beyond the last commit starts at the tip
    // (future commits only). Sound as an ORDER because in-commit
    // timestamps are strictly monotone (max(parent.ts + 1, clock)), so
    // "first commit with ts >= T" is a single cut point, never a band.
    val startVer = startingTs match {
      case Some(ts) =>
        // a cut at or before the retention-horizon stamp would resolve
        // to the first SURVIVING commit and silently skip the expired
        // increments — refuse with the remedy (same rule as the
        // table_changes TVF)
        TxLog.retentionHorizonTs(path).foreach { hts =>
          if (ts <= hts) throw new IllegalArgumentException(
            s"txlog stream on $path: startingTimestamp $ts reaches into " +
              s"the expired log range (log-retention horizon stamp $hts) " +
              "— expireLog deleted those commits. Start after the " +
              "horizon, or run a full re-read from startingVersion at " +
              "the horizon")
        }
        val cs = TxLog.commits(path)
        cs.find(_.ts >= ts).map(_.version - 1)
          .getOrElse(cs.lastOption.map(_.version).getOrElse(0L))
      case None =>
        parameters.get("startingversion").map(_.toLong).getOrElse(0L)
    }
    new TxLogStreamSource(sqlContext, path,
      changeFeedKeys = cdfKeyCols(parameters),
      // Delta readChangeFeed's update_preimage/update_postimage split
      changeFeedPreImages =
        parameters.get("cdfpreimages").exists(_.toBoolean),
      startingVersion = startVer,
      ignoreChanges = parameters.get("ignorechanges").exists(_.toBoolean),
      ignoreDeletes = parameters.get("ignoredeletes").exists(_.toBoolean),
      maxVersionsPerTrigger = parameters.get("maxversionspertrigger").map { v =>
        val n = v.toLong
        require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
        n
      },
      maxFilesPerTrigger = parameters.get("maxfilespertrigger").map { v =>
        val n = v.toLong
        require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
        n
      },
      maxBytesPerTrigger = parameters.get("maxbytespertrigger").map { v =>
        val n = v.toLong
        require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
        n
      },
      fixedSchema = schema)
  }

  /** Write path: `df.write.format("graft.sources.txlog").mode(…).save(path)`
    * (and SQL `INSERT INTO/OVERWRITE` on a `USING graft.sources.txlog`
    * table). Append → [[TxLog.append]], Overwrite → [[TxLog.overwrite]] —
    * each ONE atomic commit with the usual schema enforcement and CHECK
    * constraints; ErrorIfExists/Ignore follow their SaveMode contracts
    * against the table's existence in the LOG (a directory with no commits
    * is not a table). Options: `statsCols` (comma-separated) records
    * per-file min/max for data skipping; `bloomCols` (comma-separated)
    * builds per-file bloom filters for point-lookup skipping on
    * hash-scattered keys; `mergeSchema` allows evolution. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters, "sink")
    def cols(key: String): Seq[String] = parameters.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val statsCols = cols("statscols")
    val bloomCols = cols("bloomcols")
    val mergeSchema = parameters.get("mergeschema").exists(_.toBoolean)
    val exists = TxLog.latestVersion(path).isDefined
    // Delta's idempotent-writer options: stamp the commit with
    // (txnAppId, txnVersion) and SKIP it silently when that pair (or a
    // later version of the app) already committed — retried orchestrator
    // tasks apply exactly once. See [[TxLog.idempotentWrite]].
    val txnApp = parameters.get("txnappid")
    val txnVer = parameters.get("txnversion").map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"txlog sink: txnVersion '$v' is not a long")
      }
    }
    require(txnApp.isDefined == txnVer.isDefined,
      "txlog sink: txnAppId and txnVersion come together — one without " +
        "the other cannot identify the logical write to deduplicate")
    def write(f: (DataFrame, String, Seq[String], Boolean, Long,
        Option[String], Seq[String], Map[String, Option[String]]) => Long)
        : Unit = {
      def run(): Long = f(data, path, statsCols, mergeSchema,
        txnVer.getOrElse(-1L), txnApp, bloomCols, Map.empty)
      (txnApp, txnVer) match {
        case (Some(a), Some(v)) => TxLog.idempotentWrite(path, a, v)(run())
        case _ => run()
      }
    }
    mode match {
      case SaveMode.Append =>
        write(TxLog.append)
      case SaveMode.Overwrite =>
        write(TxLog.overwrite)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"txlog table $path already exists (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists =>
        write(TxLog.overwrite)
      case SaveMode.Ignore =>
        if (!exists) write(TxLog.overwrite)
    }
    TxLogRelation(sqlContext, path, None)
  }

  /** `CREATE TABLE t (cols…) USING graft.sources.txlog OPTIONS (path …)`
    * — the define-now-INSERT-later DDL shape: a fresh path gets an empty
    * schema-only commit ([[TxLog.createTable]]); an existing table is
    * validated against the declared shape (names+types) and refused on
    * mismatch rather than silently adopted. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation = {
    TxLog.createTable(pathOf(parameters, "source"), schema)
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters, "source")
    val version = parameters.get("versionasof").map(_.toLong)
    // both Delta forms: epoch millis or 'yyyy-MM-dd[ HH:mm:ss]' — the
    // same parse as TIMESTAMP AS OF, table_changes, startingTimestamp
    val tsMillis = parameters.get("timestampasof").map { s =>
      try graft.sql.SqlTimestamps.toMillis(s)
      catch {
        case _: IllegalArgumentException | _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"txlog source: timestampAsOf '$s' is neither epoch millis " +
              "nor a 'yyyy-MM-dd[ HH:mm:ss]' timestamp")
      }
    }
    require(version.isEmpty || tsMillis.isEmpty,
      "txlog source: pass versionAsOf OR timestampAsOf, not both")
    val asOf = (version, tsMillis) match {
      case (Some(v), _) => Some(v)
      case (_, Some(ts)) =>
        Some(TxLog.commits(path).filter(_.ts <= ts).lastOption
          .getOrElse(throw new IllegalArgumentException(
            s"txlog table $path has no commit at or before ts $ts")).version)
      case _ => None
    }
    TxLogRelation(sqlContext, path, asOf)
  }
}

object DefaultSource {
  /** The `path` option, normalized to a local filesystem path: catalog
    * table resolution (`CREATE TABLE … USING … OPTIONS (path …)`)
    * URI-qualifies the option to `file:/…`, which the log's java.nio
    * file handling must see scheme-less. Non-file schemes are refused —
    * the log tier is local/shared-FS by design (SURVEY §7.0). */
  private[txlog] def pathOf(parameters: Map[String, String],
      what: String): String = {
    val raw = parameters.getOrElse("path",
      throw new IllegalArgumentException(s"txlog $what requires option 'path'"))
    if (!raw.contains(":")) raw
    else {
      val uri = new java.net.URI(raw)
      uri.getScheme match {
        case null | "file" => uri.getPath
        case s => throw new IllegalArgumentException(
          s"txlog $what: unsupported path scheme '$s' (local/shared-FS paths only)")
      }
    }
  }
}

case class TxLogRelation(sqlContext: SQLContext, path: String,
    asOf: Option[Long]) extends BaseRelation with PrunedFilteredScan
    with InsertableRelation {

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` on a
    * `CREATE TABLE … USING graft.sources.txlog` table: one atomic commit
    * per statement, through the same schema-enforced append/overwrite
    * path as the DataFrame writer. Afterwards the catalog's
    * resolved-relation cache is invalidated: relations pin their version
    * at creation (snapshot isolation below), so a cached pre-insert
    * relation would keep serving the old snapshot to later queries. The
    * session catalog keys that cache by table name, which a path-scoped
    * relation doesn't know — invalidating all cached tables trades a
    * re-resolve (metadata-scale: re-fold the log) on the next query of
    * ANY txlog table for correctness, at DML frequency. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    if (overwrite) TxLog.overwrite(data, path)
    else TxLog.append(data, path)
    sqlContext.sparkSession.sessionState.catalog.invalidateAllCachedTables()
  }

  /** Snapshot isolation: the version is resolved ONCE, at relation
    * creation. Without this, an asOf=None relation re-folds the active
    * file list at every buildScan, so a commit landing between planning
    * (schema fixed here) and execution would scan a different — possibly
    * schema-incompatible — version than was planned. */
  private val pinnedVersion: Option[Long] =
    asOf.orElse(TxLog.latestVersion(path))

  private def snapshot =
    TxLog.read(sqlContext.sparkSession, path, pinnedVersion)

  override val schema: StructType = snapshot.schema

  /** Metadata-derived snapshot size: the pinned snapshot's file sizes
    * summed from the commit log (one cached fold — no filesystem listing
    * of the data). Without this override the relation reports
    * `defaultSizeInBytes` (effectively ∞), so a SQL join against a SMALL
    * txlog dimension table could never plan an auto-broadcast — at scale
    * the difference between a broadcast hash join and shuffling the fact
    * side. DV'd tables report an upper bound (dead rows still count):
    * over-estimating only forgoes a broadcast, never plans one that
    * doesn't fit. */
  override lazy val sizeInBytes: Long =
    TxLog.fileSizes(path, pinnedVersion).values.sum

  /** Delegate to the parquet reader over the snapshot's files with the
    * pruning/filtering re-applied — Catalyst re-plans the delegate with
    * the same pushdown it proved for a direct parquet scan. `filters`
    * here are advisory (Spark re-evaluates residuals above this scan).
    *
    * FILE-LEVEL DATA SKIPPING FROM THE PUSHED FILTERS (the Delta read
    * path, surfaced to SQL): conjunctive range/equality predicates on
    * columns with log-recorded stats — numeric and timestamp via
    * `stats`, string via `sstats` — shrink the scanned file set through
    * [[TxLog.readPruned]] before the parquet scan is planned. A
    * `WHERE ts BETWEEN …` or `WHERE k = '…'` in plain SQL over a
    * `CREATE TABLE … USING graft.sources.txlog` view now opens only the
    * intersecting files, with no TxLog-API call site. Sound because a
    * pruned file's recorded bounds cannot intersect the predicate, so
    * it holds no satisfying row (NULL rows fail range predicates too;
    * IsNull/IsNotNull prune via exact partition values and footer null
    * counts, never via min/max — stats ignore nulls). */
  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val (numB0, strB0, eqP0) = statsBounds(filters)
    // generated-column partition pruning (Delta's rule): a bound on the
    // BASE column of a generated partition column implies a bound on
    // the partition column itself — WHERE ts BETWEEN … prunes a
    // date(ts)-partitioned layout without the query naming the
    // partition column
    val (numB, strB) = TxLog.deriveGeneratedPartitionBounds(
      path, pinnedVersion, numB0, strB0)
    // bucket-transform pruning: an equality probe on the base column of
    // a pmod(hash(b), n)-generated partition column implies the exact
    // bucket — WHERE user_id = ? opens 1/n of a bucket-partitioned
    // table's files with no stats and no bucket column in the query
    val eqP = TxLog.deriveGeneratedEqProbes(path, pinnedVersion, eqP0,
      numB0.keySet ++ strB0.keySet)
    // NULL-ness predicates prune via partition values (a col=v path
    // segment proves the file holds no nulls for col and vice versa)
    // and footer null counts, never via min/max. IsNotNull is
    // Spark-injected next to nearly every comparison, so on partitioned
    // tables this drops null-partition files for free.
    val (nullC, notNullC) = nullness(filters)
    val base =
      if (numB.isEmpty && strB.isEmpty && eqP.isEmpty &&
        nullC.isEmpty && notNullC.isEmpty) snapshot
      else TxLog.readPruned(sqlContext.sparkSession, path, numB, strB,
        pinnedVersion, eqP, nullC, notNullC)
    val pruned =
      if (requiredColumns.isEmpty) base
      else base.select(requiredColumns.head, requiredColumns.tail: _*)
    filters.foldLeft(pruned) { (df, f) =>
      filterToColumn(f).map(df.filter).getOrElse(df)
    }.rdd
  }

  /** Per-column conjunctive bounds derivable from the pushed filters.
    * Numeric columns bound in their own domain; TIMESTAMP columns bound
    * as epoch SECONDS (the exact double cast [[TxLog]]'s staging step
    * recorded), widened ±1 s so double rounding can never tighten a
    * bound past a real row; string columns bound lexicographically for
    * the sstats path. Strict inequalities widen to inclusive — pruning
    * may only ever keep EXTRA files. Top-level filters are implicitly
    * conjunctive; Or/Not and every unknown shape contribute nothing.
    *
    * EqualTo and In additionally collect EQUALITY PROBES (third return):
    * readPruned tests them against the bloom index, so a SQL point
    * lookup on a hash-scattered indexed key prunes files its stats
    * cannot. An In-list also bounds the range conjunctively — a file
    * must intersect [min(values), max(values)] to hold any of them. */
  private def statsBounds(filters: Array[Filter]): (
      Map[String, (Double, Double)], Map[String, (String, String)],
      Map[String, Seq[Any]]) = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val NegInf = Double.NegativeInfinity
    val PosInf = Double.PositiveInfinity
    val num = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val str = scala.collection.mutable.Map.empty[String, (String, String)]
    def numVal(a: String, v: Any): Option[Double] =
      schema.fields.find(_.name == a).map(_.dataType).flatMap {
        case _: NumericType => v match {
          case n: Number => Some(n.doubleValue())
          case _ => None
        }
        case _: TimestampType => v match {
          case t: java.sql.Timestamp => Some(t.getTime / 1000.0)
          case i: java.time.Instant => Some(i.toEpochMilli / 1000.0)
          case _ => None
        }
        case _ => None
      }
    def isTs(a: String): Boolean =
      schema.fields.find(_.name == a).exists(_.dataType.isInstanceOf[TimestampType])
    def pad(a: String): Double = if (isTs(a)) 1.0 else 0.0
    def tightenNum(a: String, lo: Double, hi: Double): Unit = {
      val (clo, chi) = num.getOrElse(a, (NegInf, PosInf))
      num(a) = (math.max(clo, lo), math.min(chi, hi))
    }
    def strVal(a: String, v: Any): Option[String] =
      schema.fields.find(_.name == a).map(_.dataType).flatMap {
        case StringType => v match {
          case s: String => Some(s)
          case _ => None
        }
        case _ => None
      }
    // one-sided string predicates accumulate separately and only emit
    // when BOTH sides are bounded (filesForStringRange tests a closed
    // interval; "" is a sound lower sentinel, but NO string is a sound
    // upper sentinel — data may sort above any literal we pick). An
    // unbounded-above predicate therefore prunes nothing, which is the
    // safe direction; EqualTo — the common point-lookup — is two-sided.
    val strLo = scala.collection.mutable.Map.empty[String, String]
    val strHi = scala.collection.mutable.Map.empty[String, String]
    def tightenStr(a: String, lo: Option[String], hi: Option[String]): Unit = {
      lo.foreach { l =>
        strLo(a) = strLo.get(a) match {
          case Some(c) if TxLog.utf8Cmp(c, l) >= 0 => c
          case _ => l
        }
      }
      hi.foreach { h =>
        strHi(a) = strHi.get(a) match {
          case Some(c) if TxLog.utf8Cmp(c, h) <= 0 => c
          case _ => h
        }
      }
    }
    val eqProbes = scala.collection.mutable.Map.empty[String, Seq[Any]]
    def walk(f: Filter): Unit = f match {
      case EqualTo(a, v) =>
        numVal(a, v).foreach(d => tightenNum(a, d - pad(a), d + pad(a)))
        strVal(a, v).foreach(s => tightenStr(a, Some(s), Some(s)))
        if (v != null)
          eqProbes(a) = eqProbes.getOrElse(a, Seq.empty) :+ v
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
        // range: the file must intersect the values' span to hold any
        val nums = vs.flatMap(numVal(a, _))
        if (nums.length == vs.length)
          tightenNum(a, nums.min - pad(a), nums.max + pad(a))
        val strs = vs.flatMap(strVal(a, _))
        if (strs.length == vs.length) {
          val lo = strs.reduce((x, y) => if (TxLog.utf8Cmp(x, y) <= 0) x else y)
          val hi = strs.reduce((x, y) => if (TxLog.utf8Cmp(x, y) >= 0) x else y)
          tightenStr(a, Some(lo), Some(hi))
        }
        // bloom: the file must plausibly hold at least one value — an
        // IN-list is a multi-value probe, exactly filesForEquals' shape
        eqProbes(a) = eqProbes.getOrElse(a, Seq.empty) ++ vs.toSeq
      case GreaterThan(a, v) =>
        numVal(a, v).foreach(d => tightenNum(a, d - pad(a), PosInf))
        strVal(a, v).foreach(s => tightenStr(a, Some(s), None))
      case GreaterThanOrEqual(a, v) =>
        numVal(a, v).foreach(d => tightenNum(a, d - pad(a), PosInf))
        strVal(a, v).foreach(s => tightenStr(a, Some(s), None))
      case LessThan(a, v) =>
        numVal(a, v).foreach(d => tightenNum(a, NegInf, d + pad(a)))
        strVal(a, v).foreach(s => tightenStr(a, None, Some(s)))
      case LessThanOrEqual(a, v) =>
        numVal(a, v).foreach(d => tightenNum(a, NegInf, d + pad(a)))
        strVal(a, v).foreach(s => tightenStr(a, None, Some(s)))
      case And(l, r) => walk(l); walk(r)
      case _ => // Or/Not/IsNull/…: no sound conjunctive bound
    }
    filters.foreach(walk)
    strLo.keySet.intersect(strHi.keySet).foreach { a =>
      str(a) = (strLo(a), strHi(a))
    }
    (num.toMap, str.toMap, eqProbes.toMap)
  }

  /** Top-level (conjunctive) IsNull / IsNotNull column sets. Or/Not
    * shapes contribute nothing, the safe direction. */
  private def nullness(filters: Array[Filter]): (Set[String], Set[String]) = {
    import org.apache.spark.sql.sources._
    val isNull = scala.collection.mutable.Set.empty[String]
    val notNull = scala.collection.mutable.Set.empty[String]
    def walk(f: Filter): Unit = f match {
      case IsNull(a) => isNull += a
      case IsNotNull(a) => notNull += a
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    filters.foreach(walk)
    (isNull.toSet, notNull.toSet)
  }

  private def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === v)
      case GreaterThan(a, v) => Some(col(a) > v)
      case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
      case LessThan(a, v) => Some(col(a) < v)
      case LessThanOrEqual(a, v) => Some(col(a) <= v)
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case _ => None // residual filters are applied by Spark above the scan
    }
  }
}

/** Streaming offset = the highest commit VERSION delivered (json is the
  * bare number, so checkpoint-recovered `SerializedOffset`s parse back
  * with `json.toLong`). */
case class VersionOffset(version: Long) extends V1Offset {
  override def json: String = version.toString
}

object TxLogStreamSource {
  /** Log-carried schema of the latest version; falls back to footer
    * inference over the active files for pre-schema-tracking logs. */
  def tableSchema(sqlContext: SQLContext, path: String): StructType =
    TxLog.schemaAsOf(path).getOrElse {
      val files = TxLog.activeFiles(path)
        .map(f => if (f.startsWith("/")) f else s"$path/$f")
      sqlContext.sparkSession.read.parquet(files: _*).schema
    }

  /** Change-feed stream schema: the keyed-diff row ([[TxLog.cdfSchema]]:
    * keys, data columns, `change_type`) plus `_commit_version` — which
    * commit produced each change row. */
  def cdfStreamSchema(path: String, keyCols: Seq[String]): StructType =
    StructType(TxLog.cdfSchema(path, keyCols).fields :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false))
}

/** The TxLog table as a v1 streaming [[Source]] — Delta streaming-source
  * semantics over the commit log:
  *
  *   - **append** commits deliver exactly their added files (incremental
  *     consumption: a micro-batch's scan is bounded by the new data, not
  *     the table).
  *   - **optimize / optimizeDvs** commits deliver NOTHING — they rewrite
  *     files without changing table content (Delta's `dataChange=false`),
  *     so re-delivering their adds would duplicate rows downstream.
  *   - **overwrite / merge / delete / update / restore** change or remove
  *     existing rows, which an append-only stream cannot express: the
  *     source REFUSES with a pointed error unless `ignoreChanges=true`,
  *     which re-delivers the commit's added (rewritten) files — the
  *     documented Delta `ignoreChanges` contract (downstream must
  *     tolerate duplicates; use the CDF entries for keyed deltas).
  *   - **dvDelete** removes rows while adding no files: refused unless
  *     `ignoreDeletes=true` (then skipped). Delivered files are read RAW
  *     — deletion vectors landing AFTER a file was delivered do not
  *     retro-filter it, which is exactly why dvDelete demands the opt-in.
  *   - **clone** bootstrap commits deliver their (absolute) references —
  *     streaming a fresh clone starts from its referenced snapshot.
  *
  * **Change-feed mode** (`changeFeed=true` + `keyCols=…`, Delta's
  * `readChangeData` analog) replaces file delivery entirely: every commit
  * — merge, overwrite, dvDelete included, no `ignoreChanges` /
  * `ignoreDeletes` escape hatches needed — streams as its KEYED DIFF
  * (insert / update / delete rows + `_commit_version`), computed from
  * only the files the commit touched ([[TxLog.commitChanges]]). This is
  * the CDC-consumer path the refusal errors above point at.
  *
  * `startingVersion` (default 0) skips commits at or below it: 0 streams
  * the table from genesis (for an append-only table, the full contents),
  * `latestVersion` streams only future commits. Exactly-once delivery is
  * the offset log's: versions in (start, end] are read once per committed
  * batch, and checkpoint recovery replays the same half-open range.
  *
  * `maxVersionsPerTrigger` (Delta's maxFilesPerTrigger analog, but in the
  * offset's own unit) rate-limits admission: each micro-batch advances the
  * version offset by at most N, so a stream catching up on deep history —
  * or bootstrapping from genesis on a large table — processes bounded
  * work per trigger instead of one giant batch, and Trigger.AvailableNow
  * drains to its pinned cap in N-version steps. Default: all available.
  *
  * `maxFilesPerTrigger` (Delta's option, same semantics) bounds admission
  * by the cumulative ADD-file count of the admitted versions — the finer
  * unit when commit sizes vary wildly (a bulk backfill version next to
  * trickle appends). Versions are atomic (offsets are versions), so a
  * single version larger than the budget is still admitted alone rather
  * than stalling forever; file counts come from the commit log itself, no
  * filesystem listing. `maxBytesPerTrigger` (Delta's option) budgets in
  * the unit executors are actually sized against — cumulative ADD bytes,
  * from the sizes the commit recorded at write time (stat fallback for
  * pre-sizes logs). All three caps compose; the tightest wins.
  *
  * The stream's schema is FIXED at start (latest version's log-carried
  * schema). A delivered commit whose schema carries columns this stream
  * doesn't know FAILS the batch loudly (reading its files under the old
  * schema would silently drop the new columns) — restart the stream: the
  * checkpoint's version offsets survive, and the restarted stream reads
  * the remaining commits under the evolved schema (the Delta streaming
  * source's schema-change contract). Pre-evolution commits under a wider
  * stream schema are fine — parquet null-fills the missing columns. */
class TxLogStreamSource(sqlContext: SQLContext, path: String,
    startingVersion: Long, ignoreChanges: Boolean, ignoreDeletes: Boolean,
    maxVersionsPerTrigger: Option[Long], maxFilesPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long],
    fixedSchema: Option[StructType],
    changeFeedKeys: Option[Seq[String]] = None,
    changeFeedPreImages: Boolean = false) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit}

  override val schema: StructType =
    fixedSchema.getOrElse(changeFeedKeys match {
      case Some(keys) => TxLogStreamSource.cdfStreamSchema(path, keys)
      case None => TxLogStreamSource.tableSchema(sqlContext, path)
    })

  /** Trigger.AvailableNow support (admission control): the version cap is
    * pinned when the trigger prepares, so the run drains exactly the
    * commits that existed at start and stops — commits racing in behind
    * it wait for the next run. */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = TxLog.latestVersion(path)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: V2Offset, limit: ReadLimit): V2Offset = {
    val from = Option(startOffset).map(ver).getOrElse(startingVersion)
    val head = TxLog.latestVersion(path).getOrElse(from)
    val available = availableNowCap.fold(head)(math.min(head, _))
    // admission control: advance at most N versions past the last
    // committed offset, so catch-up runs micro-batch in bounded steps
    val byVersions = maxVersionsPerTrigger.fold(available)(n =>
      math.min(available, from + n))
    val byFiles = maxFilesPerTrigger.fold(byVersions)(
      admitUpTo(from, byVersions, _)(_.add.size.toLong))
    val capped = maxBytesPerTrigger.fold(byFiles)(
      admitUpTo(from, byFiles, _) { c =>
        c.add.map(f => c.sizes.getOrElse(f, sizeOnDisk(f))).sum
      })
    if (capped <= from) null else VersionOffset(capped)
  }

  /** Admit versions in (from, upTo] until their cumulative `cost` exceeds
    * `budget`; versions are atomic, so the FIRST one is admitted even if
    * oversized (a too-big backfill must not stall the stream forever).
    * The walk stops at the budget, so per-trigger work is bounded by the
    * admitted window, not the backlog. */
  private def admitUpTo(from: Long, upTo: Long, budget: Long)(
      cost: TxLog.Commit => Long): Long = {
    var v = from; var spent = 0L
    TxLog.commits(path).iterator
      .filter(c => c.version > from && c.version <= upTo)
      .takeWhile { c => spent += cost(c); v == from || spent <= budget }
      .foreach(c => v = c.version)
    v
  }

  /** Byte-size fallback for pre-`sizes` commits (local/shared FS only —
    * see [[DefaultSource.pathOf]]); a vacuumed-away file costs 0. */
  private def sizeOnDisk(f: String): Long = {
    val p = java.nio.file.Paths.get(if (f.startsWith("/")) f else s"$path/$f")
    if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
  }

  override def reportLatestOffset(): V2Offset =
    TxLog.latestVersion(path).map(VersionOffset(_)).orNull

  override def getOffset: Option[V1Offset] =
    TxLog.latestVersion(path).filter(_ > startingVersion).map(VersionOffset(_))

  private def ver(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case VersionOffset(v) => v
      case other => other.json.trim.toLong // SerializedOffset on recovery
    }

  /** Fail the batch if a delivered commit's schema carries columns this
    * stream's fixed schema doesn't know — reading its files under the old
    * schema would silently DROP the new columns' data. The checkpoint's
    * version offsets survive the failure: a restarted stream re-resolves
    * the (evolved) latest schema and resumes from the same offset. */
  private def checkSchemaDrift(c: TxLog.Commit): Unit =
    for {
      ddl <- c.schemaDdl
      // compare in PHYSICAL terms under column mapping: a rename changes
      // only logical names, and since physical names are frozen across
      // eras, a pre-rename commit's files deliver byte-identically under
      // the current mapping — not drift. Each side translates through
      // its own era's mapping; real evolution (new physical columns)
      // still refuses.
      committed0 = StructType.fromDDL(ddl)
      committed = TxLog.mappingAsOf(path, Some(c.version)) match {
        case Some(m) => StructType(committed0.map(f =>
          f.copy(name = m.getOrElse(f.name, f.name))))
        case None => committed0
      }
      current = TxLog.mappingAsOf(path) match {
        case Some(m) => StructType(schema.map(f =>
          f.copy(name = m.getOrElse(f.name, f.name))))
        case None => schema
      }
      // type drift (ALTER COLUMN TYPE widening): files committed WIDER
      // than this stream's fixed schema cannot be read under it — the
      // scan would fail mid-batch with a parquet conversion error;
      // refuse with the same restart contract instead. The opposite
      // direction is fine: a wide-fixed stream catching up over
      // pre-widen commits up-converts their narrow files at scan,
      // exactly like the batch reader.
      widened = committed.fields.filter(f =>
        current.fields.find(_.name == f.name).exists(cf =>
          cf.dataType != f.dataType &&
            !TxLog.isWidening(f.dataType, cf.dataType)))
      if graft.streaming.SchemaEvolution.drifted(current, committed) ||
        widened.nonEmpty
    } throw new IllegalStateException(
      s"txlog stream on $path: commit version ${c.version} evolved the " +
        s"table schema (new columns: ${committed.fieldNames
          .filterNot(schema.fieldNames.contains).mkString(", ")}; " +
        s"changed types: ${widened.map(_.name).mkString(", ")}) — this " +
        "stream reads with the schema fixed at start and would silently " +
        "drop the new columns (or fail on the changed types). Restart " +
        "the stream: the checkpoint resumes from this version under the " +
        "evolved schema")

  /** The vacuum × startingVersion guard: a stream positioned below the
    * vacuum horizon must FAIL LOUDLY, never silently skip — delivering a
    * commit whose files were swept would quietly lose rows downstream.
    * Existence checks are metadata-scale (one stat per delivered file on
    * the local/shared FS this source targets — see [[sizeOnDisk]]). */
  private def ensureOnDisk(version: Long, files: Seq[String]): Unit = {
    val missing = files
      .map(f => if (f.startsWith("/")) f else s"$path/$f")
      .filterNot(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"txlog stream on $path: commit version $version references " +
        s"${missing.size} file(s) no longer on disk (e.g. ${missing.head}) " +
        "— vacuum has swept past this stream's position. Silently " +
        "skipping would lose rows; restart with startingVersion at or " +
        "above the earliest fully-retained version")
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(ver).getOrElse(startingVersion)
    val to = ver(end)
    // the expireLog × stream-position guard (the vacuum guard's log-side
    // twin): a stream positioned below the retention horizon would
    // silently deliver NOTHING for the expired commits — fail loudly.
    // LAZILY: on restart Spark re-calls getBatch for the last COMMITTED
    // batch purely to re-inform the source of its range and discards the
    // DataFrame (populateStartOffsets) — a caught-up stream whose history
    // was expired AFTER it consumed it must resume, so the refusal fires
    // only if the batch actually EXECUTES (an uncommitted replay or a new
    // stream positioned below the horizon — the silent-loss cases).
    TxLog.retentionHorizon(path).foreach { h =>
      if (from < h) {
        val msg =
          s"txlog stream on $path: position $from is below the log-" +
            s"retention horizon $h — expireLog deleted those commits, so " +
            "their increments cannot be delivered. Restart with " +
            "startingVersion at or above the horizon (a full re-read), or " +
            "stop expiring this table's log while streams consume it"
        val spark = sqlContext.sparkSession
        val failing = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(0), 1)
            .map[org.apache.spark.sql.Row](_ =>
              throw new IllegalStateException(msg)),
          schema)
        return org.apache.spark.sql.execution.streaming
          .GraftSourceShim.asStreaming(failing)
      }
    }
    changeFeedKeys.foreach { keys =>
      // change-feed mode: deliver each commit's KEYED DIFF (insert/
      // update/delete + _commit_version) instead of its added files —
      // merge/overwrite/dvDelete commits stream as the deltas they are,
      // no ignoreChanges escape hatch needed. Each commit's diff reads
      // only the files that commit touched (TxLog.commitChanges), so a
      // micro-batch's work is bounded by the admitted commits' writes.
      import org.apache.spark.sql.functions.lit
      val spark = sqlContext.sparkSession
      val perCommit = TxLog.commits(path)
        .filter(c => c.version > from && c.version <= to)
        .map { c =>
          if (c.add.nonEmpty) checkSchemaDrift(c)
          ensureOnDisk(c.version, c.add ++ c.remove)
          TxLog.commitChanges(spark, path, c.version, keys,
              preImages = changeFeedPreImages)
            .withColumn("_commit_version", lit(c.version))
        }
      val out = perCommit.reduceOption(_ unionByName _).getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      return org.apache.spark.sql.execution.streaming
        .GraftSourceShim.asStreaming(out)
    }
    val files = TxLog.commits(path)
      .filter(c => c.version > from && c.version <= to)
      .flatMap { c =>
        // a commit touching no data files (CREATE TABLE's schema-only
        // snapshot, metadata-only ops) changes nothing a stream could
        // deliver or violate — skip it before the op gate, or a stream
        // from genesis over a DDL-created table would refuse on the
        // empty "overwrite" the create committed
        if (c.add.isEmpty && c.remove.isEmpty && c.dvAdd.isEmpty) Seq.empty
        else {
        if (c.add.nonEmpty) checkSchemaDrift(c)
        val delivered = c.op match {
          case "append" | "clone" => c.add
          case op if TxLog.LayoutOnlyOps(op) => Seq.empty
          case "dvDelete" =>
            if (!ignoreDeletes && !ignoreChanges) throw new IllegalStateException(
              s"txlog stream on $path hit a row-deleting commit " +
                s"(version ${c.version}, dvDelete): an append-only stream " +
                "cannot express deletes — pass ignoreDeletes=true to skip " +
                "them, or consume the change feed instead")
            Seq.empty
          case _ => // overwrite / merge / delete / update / restore
            if (!ignoreChanges) throw new IllegalStateException(
              s"txlog stream on $path hit a data-changing commit " +
                s"(version ${c.version}, op '${c.op}'): pass " +
                "ignoreChanges=true to re-deliver its rewritten files " +
                "(downstream must tolerate duplicates), or consume the " +
                "change feed instead")
            c.add
        }
        ensureOnDisk(c.version, delivered)
        delivered
        }
      }
    def full(f: String): String = if (f.startsWith("/")) f else s"$path/$f"
    val spark = sqlContext.sparkSession
    val shim = org.apache.spark.sql.execution.streaming.GraftSourceShim
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws,
      element_at, lit, split, typedlit}
    // Column mapping: data files speak PHYSICAL names (frozen at enable,
    // identical across eras), the stream's analyzed schema is LOGICAL —
    // scan physical, rename back. Current mapping is the right era for
    // every delivered file: a rename lands as a schemaDdl change that
    // [[checkSchemaDrift]] refuses on the next data commit anyway.
    val mapping = TxLog.mappingAsOf(path)
    // physical twin of the analyzed (logical) schema — identity when the
    // table never enabled mapping; partition path segments ALSO carry
    // physical names, so the whole scan works physical and one rename
    // projection at the end delivers logical columns
    val physSchema = mapping match {
      case Some(m) => StructType(schema.map(f =>
        f.copy(name = m.getOrElse(f.name, f.name))))
      case None => schema
    }
    // Identity columns derive from stable row ids at read, never from
    // storage: materialized `_graft_row_id` (files rewritten under
    // ignoreChanges) else commit-allocated base + parquet row_index
    // (fresh appends, the append-stream common case) — the same
    // resolution as [[TxLog.readFiles]], restricted to this batch's
    // delivered files. The base lookup is metadata-sized (one entry
    // per delivered file) and rides the plan as a literal map, so the
    // scan stays one distributed pass.
    val idents = TxLog.identityCols(path).filter { case (c, _) =>
      schema.fieldNames.contains(c) }
    val identExtras =
      if (idents.isEmpty) Seq.empty[String]
      else Seq("__ri", "__key", TxLog.RowIdCol)
    lazy val bases: Map[String, Long] = {
      val wanted = files.map(_.split('/').takeRight(2).mkString("/")).toSet
      TxLog.allRowIdBases(path).filter { case (k, _) => wanted(k) }
    }
    def keyedForIdentity(df: DataFrame): DataFrame =
      if (idents.isEmpty) df
      else {
        val parts = split(col("_metadata.file_path"), "/")
        df.withColumn("__ri", col("_metadata.row_index"))
          .withColumn("__key", concat_ws("/",
            element_at(parts, -2), element_at(parts, -1)))
      }
    def withIdentity(df: DataFrame): DataFrame =
      if (idents.isEmpty) df
      else {
        val rid = coalesce(col(TxLog.RowIdCol),
          element_at(typedlit(bases), col("__key")) + col("__ri"))
        idents.foldLeft(df.withColumn("__rid", rid)) {
          case (d, (c, (st, sp))) =>
            d.withColumn(c, lit(st) + lit(sp) * col("__rid"))
        }.drop("__rid" +: identExtras: _*)
      }
    def withRowIdField(s: StructType): StructType =
      if (idents.isEmpty) s
      else StructType(s.fields.filterNot(_.name == TxLog.RowIdCol) :+
        org.apache.spark.sql.types.StructField(TxLog.RowIdCol,
          org.apache.spark.sql.types.LongType, nullable = true))
    def toLogical(df: DataFrame): DataFrame = mapping match {
      case Some(m) => df.select(schema.fields.toSeq.map { f =>
        org.apache.spark.sql.functions
          .col(m.getOrElse(f.name, f.name)).as(f.name) } ++
        identExtras.filter(df.columns.contains).map(col): _*)
      case None => df
    }
    def scanBatch(fs: Seq[String]): DataFrame =
      withIdentity(toLogical(keyedForIdentity(
        shim.streamingParquetBatch(spark, withRowIdField(physSchema), fs))))
    // Partitioned files are partition-stripped on disk (the value rides
    // the path — TxLog's Hive layout): deliver them grouped by partition
    // TUPLE, each group scanned under the schema minus its partition
    // columns with the tuple re-attached as typed literals. A micro-batch
    // touches few tuples (its admitted commits' writes), so the union is
    // small; unpartitioned files keep the single-scan fast path.
    val (partFs, plainFs) = files.partition(f =>
      TxLog.partValuesOf(f).nonEmpty)
    if (partFs.isEmpty)
      return scanBatch(plainFs.map(full))
    import org.apache.spark.sql.functions.{col, lit}
    val plainDf =
      if (plainFs.isEmpty) Seq.empty[DataFrame]
      else Seq(scanBatch(plainFs.map(full)))
    val partDfs = partFs.groupBy(TxLog.partValuesOf)
      .toSeq.sortBy(_._1.toString)
      .map { case (pvals, fs) =>
        val pcols = pvals.map(_._1).toSet
        val dataSchema = withRowIdField(
          StructType(physSchema.filterNot(f => pcols(f.name))))
        val base = keyedForIdentity(
          shim.streamingParquetBatch(spark, dataSchema, fs.map(full)))
        val withParts = pvals.foldLeft(base) { case (df, (c, vOpt)) =>
          val dt = physSchema(c).dataType
          df.withColumn(c,
            vOpt.map(v => lit(v).cast(dt)).getOrElse(lit(null).cast(dt)))
        }
        withIdentity(toLogical(withParts.select(
          (physSchema.fieldNames.toSeq ++ identExtras).map(col): _*)))
      }
    (plainDf ++ partDfs).reduce(_ unionByName _)
  }

  override def stop(): Unit = ()

  override def toString: String = s"TxLogStreamSource[$path]"
}
