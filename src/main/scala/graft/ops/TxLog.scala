package graft.ops

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Minimal parquet transaction log — the ACID-table tier the reference gets
  * from managed Delta tables (Amazon_books_review_medallion_architecture
  * .py:37 `writeStream.table(...)`, :129 silver, :178-183 gold). No Delta
  * jars exist in this environment (SURVEY.md §7.0), so this re-creates the
  * three properties the reference's pipelines actually rely on, Delta-log
  * style, over plain parquet:
  *
  *   1. **Atomic commit**: data files are written first under unique
  *      `d-<uuid>/` subdirs (invisible to readers), then ONE commit file
  *      `_txlog/<version>.json` publishes them. The commit is a
  *      put-if-absent (hard-link creation, which fails atomically with
  *      EEXIST on POSIX) — a crash before the link leaves only orphan data
  *      files and readers still see version N−1.
  *   2. **Snapshot isolation + time travel**: a reader folds the commit
  *      actions (`add`/`remove` of relative file paths) up to the requested
  *      version and reads exactly that file set — `read(spark, t)` for the
  *      latest snapshot, `read(spark, t, asOf = Some(v))` for history.
  *   3. **Concurrent-writer safety**: two writers racing to commit version
  *      N both stage data, but only one hard-link succeeds; the loser
  *      re-derives against the new snapshot and retries (optimistic
  *      concurrency, same protocol as the Delta/Iceberg commit loop).
  *
  * Streaming sinks additionally record the micro-batch id in the commit, so
  * a replayed `foreachBatch` (checkpoint recovery re-delivers the last
  * batch) is detected and skipped — exactly-once table contents over an
  * at-least-once callback.
  *
  * Scale shape: the log holds FILE PATHS, never data — a commit is O(files
  * touched); reads plan from the file list without listing the data dirs
  * (no eventually-consistent-listing hazard); the merge rewrite is bounded
  * by the files the batch's keys touch. Put-if-absent is the single
  * FS-specific primitive: this implementation uses java.nio hard links
  * (correct on local/NFS-v4/HDFS-fuse POSIX semantics); an object-store
  * deployment swaps in its conditional-put here and nothing else changes.
  */
object TxLog {

  /** `stats`: optional per-added-file data-skipping stats — file →
    * column → (min, max) as doubles (numeric columns only; the Delta
    * `stats` field's role). Files committed without stats simply never
    * prune. `schemaDdl`: the table schema as of this commit (Delta's
    * metadata action) — readers plan from the log instead of opening
    * footers, and files written before a column existed backfill NULL. */
  /** `constraint`: a named CHECK constraint added by this commit (no data
    * files; folded into the active constraint set writers validate
    * against). */
  /** `ts`: commit time (epoch millis, stamped at publish) — the
    * TIMESTAMP AS OF index. STRICTLY MONOTONE across versions: the
    * stamp is `max(parent.ts + 1, wallClock)` (Delta's
    * in-commit-timestamps), so a writer with a skewed clock can never
    * publish a commit that time-sorts before its parent and the
    * timestamp index always agrees with the version order. −1 on logs
    * written before timestamping. */
  /** `dvAdd`/`dvRemove`: deletion-vector files (relative paths, parquet of
    * (file STRING, bitmap BINARY) — one row per DV'd data file, the
    * bitmap a [[graft.functions.DvBitmapCodec]] bitset of its deleted row
    * indexes; older sidecars of (file, start, end) ranges or pre-r9
    * (file, row_index) rows are still readable) entering/leaving the
    * active DV set — the protocol-v3 feature: rows listed in an active DV
    * are dead without their data file being rewritten. */
  /** `sizes`: bytes per ADD entry, recorded at commit time ([[tryCommit]]
    * stats the staged files — they exist on disk before the commit
    * publishes them). Lets consumers budget work in bytes without
    * re-listing the filesystem (the streaming source's
    * `maxBytesPerTrigger`); absent on pre-r9 logs (readers stat as a
    * fallback). */
  /** `sstats`: per-file (min, max) for STRING stats columns, recorded AS
    * STRINGS in Spark's binary (UTF-8 byte) collation order — never cast
    * to double. The r9 `stats` field cast string min/max through double,
    * which is doubly wrong for numeric-looking strings ('9' sorts after
    * '100' lexicographically but casts to 9.0 < 100.0), so a stats range
    * could wrongly prune a file holding a contested merge key — stale row
    * survives next to the new one. String pruning is sound only compared
    * lexicographically against lexicographic bounds ([[utf8Cmp]]).
    * Optional field: absent on older logs, ignored by readers that
    * predate it — pruning degrades, correctness doesn't. */
  /** `streamId`: identity of the streaming query that committed this
    * batch (the sink records its checkpoint location). The replay guard
    * keys on (streamId, batchId) — batchId alone would make a SECOND
    * query writing the same table, or a fresh-checkpoint restart (batch
    * ids restart at 0), silently skip its batches. Absent on batch
    * commits and pre-r11 logs; a legacy streamId-less commit matches any
    * stream, preserving replay idempotency for tables written before the
    * field existed. */
  /** `bloomAdd`/`bloomRemove`: bloom-index SIDECAR parquet files
    * (relative paths, one row per (file, col, bloom BINARY)) entering /
    * leaving the active index set — the Delta bloom-filter-index analog.
    * Min/max stats prune RANGE reads on clustered columns; they prune
    * NOTHING for a point lookup on a high-cardinality key whose values
    * are hash-scattered across files (every file's [min, max] spans the
    * whole domain — the needle-in-100-TB shape). A per-file bloom answers
    * "might this file contain this exact value" in O(1) regardless of
    * clustering: false positives only re-read a file, false negatives
    * cannot happen, so pruning by it is sound. Bloom bytes live in
    * sidecars, NOT the commit JSON — the log stays metadata-light (a
    * 1 M-row file's filter is ~1 MB; inlining it would bloat every log
    * fold). Optional field: absent on older logs; tables without blooms
    * simply never bloom-prune. */
  final case class Commit(version: Long, add: Seq[String],
      remove: Seq[String], op: String, batchId: Long,
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      schemaDdl: Option[String] = None,
      constraint: Option[(String, String)] = None,
      ts: Long = -1L,
      dvAdd: Seq[String] = Seq.empty,
      dvRemove: Seq[String] = Seq.empty,
      sizes: Map[String, Long] = Map.empty,
      sstats: Map[String, Map[String, (String, String)]] = Map.empty,
      streamId: Option[String] = None,
      bloomAdd: Seq[String] = Seq.empty,
      bloomRemove: Seq[String] = Seq.empty,
      // minimum reader protocol this commit REQUIRES beyond what its
      // content implies (the log-retention `protocol` commit passes its
      // floor). Parse round-trips the stamped protocolVersion through
      // this field.
      minReader: Int = 1,
      // table-property deltas (Delta TBLPROPERTIES): Some(v) sets,
      // None unsets; folded last-write-wins by [[TxLog.properties]]
      properties: Map[String, Option[String]] = Map.empty,
      // per-add-file row counts and per-column null counts, read from the
      // parquet FOOTERS at commit time by [[tryCommit]] (Delta's
      // numRecords/nullCount stats): rows answer COUNT(*) from metadata,
      // nulls prune IS NULL / IS NOT NULL and drop all-null files from
      // range reads. Derived, never caller-supplied (like `sizes`);
      // absent on pre-rows logs — every consumer treats absence as
      // "don't know", the safe direction.
      rows: Map[String, Long] = Map.empty,
      nulls: Map[String, Map[String, Long]] = Map.empty,
      // logical→PHYSICAL column mapping (Delta's columnMapping feature,
      // name mode): present from the enableColumnMapping commit on.
      // Physical names are FROZEN at enable time (existing columns keep
      // their then-current name; columns added later get fresh generated
      // names), so RENAME/DROP COLUMN are metadata-only commits — no
      // data file rewrites, ever — and a dropped-then-re-added logical
      // name maps to a FRESH physical name, so old data cannot
      // resurrect. Data files and their recorded stats/blooms/partition
      // paths always speak physical; every read translates back. Newest
      // colMap-carrying commit wins the fold ([[mappingAsOf]]); an
      // EMPTY mapping is the explicit "unmapped" sentinel (RESTORE to a
      // pre-enable version stamps it so the fold cannot resurrect a
      // retired mapping). Demands a v5 reader: an older reader would
      // plan physical files under logical names and NULL every renamed
      // column.
      colMap: Option[Seq[(String, String)]] = None,
      // COPY INTO provenance: identity stamps (absolute path|size|mtime)
      // of the SOURCE files this commit ingested — the idempotence
      // ledger. A re-run of the same COPY INTO folds these and skips
      // already-loaded sources; an overwritten source file (new
      // size/mtime) re-ingests. Metadata-plane like everything else in
      // the log: one short string per ingested file, never data.
      copySources: Seq[String] = Seq.empty,
      // Row tracking (Delta's row-ID feature): per-add-file BASE row id,
      // allocated at commit time from the table's high-water mark when
      // `graft.rowTracking.enabled`. A fresh file's stable row id is
      // base + parquet row_index; a REWRITE (UPDATE/DELETE/MERGE/
      // OPTIMIZE) materializes surviving rows' old ids into a physical
      // `_graft_row_id` column, so reads coalesce(materialized,
      // base + row_index) and ids survive any number of rewrites.
      // Allocated by [[tryCommit]] itself, never caller-supplied.
      baseRowIds: Map[String, Long] = Map.empty,
      // DATA files (fileKey form) whose rows this commit's dvAdd
      // deletion vectors cover — the attribution that lets file-disjoint
      // DML commute under serializable isolation ([[checkFileConflicts]]
      // / [[checkPartitionConflicts]]): a DV commit with recorded
      // targets conflicts only with writers touching THOSE files, not
      // with everything. Absent on older logs → conservative (conflicts
      // with all), never wrong.
      dvTargets: Seq[String] = Seq.empty)

  /** Highest protocol version this reader understands. A reader meeting a
    * HIGHER version fails loudly instead of silently misinterpreting
    * actions it doesn't know (Delta's protocol action plays the same
    * role: an old reader must refuse, not guess). Commits are stamped with
    * the MINIMUM version that can read them correctly (Delta's
    * minReaderVersion): plain commits say 1, absolute (shallow-clone)
    * file references say 2, deletion-vector commits say 3 — so a v1-era
    * reader keeps working on tables that never used DVs and refuses
    * exactly the tables it would misread. DV commits say 3 because every
    * DV is a bitset, and a v2-era range reader would not ERROR on one:
    * merge-schema normalization turns bitmap rows into NULL ranges that
    * silently drop from both anti-join sides — deleted rows would
    * RESURRECT, the exact silent misread the protocol stamp is for.
    * PARTITIONED commits (add paths carrying
    * Hive-style `col=value` segments — the Delta `partitionValues`
    * analog, recorded in the path rather than a JSON field) say 4: a
    * v3-era reader would read the partition-stripped data files under
    * the full logged schema and silently NULL every partition column.
    * COLUMN-MAPPING commits (a `colMap` field) say 5: a v4-era reader
    * would plan the physically-named data files under the logical
    * schema and silently NULL every renamed column. Commits on a table
    * whose log has been COMPACTED ([[compactLog]]) say 6: a v5-era
    * reader lists only loose `<v>.json` files, so it would fold a log
    * missing every consolidated commit — wrong schema/property/DV
    * state, not a degraded one. Commits on a table whose log has been
    * EXPIRED ([[expireLog]]) say 7: a v6-era reader folds metadata
    * (properties, schema, replay guards) from the FULL commit list, and
    * with the pre-horizon commits deleted it would silently fold a
    * partial history — a v7 reader starts every fold from the full-state
    * checkpoint, which carries the expired range's net effect. A table
    * whose log has been EXPIRED below a MULTI-PART checkpoint
    * ([[writeCheckpointAt]] splits past `graft.checkpoint.partMaxFiles`)
    * floors at 8: a v7-era reader's listing ignores
    * `<v>.checkpoint.<i>.<n>.json` part files entirely, so with the
    * covered commits deleted it would fold the surviving tail from an
    * EMPTY base — the same silent-partial-history misread v7 exists to
    * prevent, one file-naming generation later. (Multi-part checkpoints
    * alone don't raise the commit floor: while the covered commits still
    * exist, an older reader that can't see the parts folds the full
    * commit list and answers exactly — just slower.) */
  val ProtocolVersion = 8

  /** Every op this reader knows how to fold. An op outside this set means
    * the log was written by a newer writer — [[commits]] refuses to read
    * rather than fold actions with unknown semantics. */
  private val KnownOps = Set("append", "overwrite", "overwritePartitions",
    "merge", "delete",
    "update", "optimize", "optimizeDvs", "addConstraint", "dvDelete",
    "restore", "clone", "setProperty", "convert", "dropConstraint",
    "columnMapping", "renameColumn", "dropColumn", "addColumn",
    "replaceWhere", "copyInto", "scd2", "fsck", "identityColumn",
    "widenColumn", "reorg", "protocol")

  /** Ops that rewrite the data layout without changing any logical row:
    * change feeds and stream sources skip them, and auto-compaction never
    * re-triggers on them. */
  private[graft] val LayoutOnlyOps = Set("optimize", "optimizeDvs", "reorg")

  /** File entries are table-relative (`d-<uuid>/part-….parquet`) except
    * shallow-CLONE entries, which reference the SOURCE table absolutely.
    * Partitioned writes nest Hive-style value dirs under the staging dir
    * (`d-<uuid>/year=2020/part-….parquet`). */
  private def resolve(table: String, f: String): String =
    if (f.startsWith("/")) f else s"$table/$f"

  /** Partition values of a committed file, parsed from its path — the
    * Delta `partitionValues` analog, with the PATH as the record (Hive
    * layout; the values were escaped by Spark's partitioned writer and
    * are unescaped here). Segments between the last `d-<uuid>` staging
    * dir and the file name are `col=value` pairs; `None` is the null
    * partition (`__HIVE_DEFAULT_PARTITION__`). Empty for unpartitioned
    * files — they are simply never partition-pruned. */
  private[graft] def partValuesOf(rel: String): Seq[(String, Option[String])] = {
    val segs = rel.split('/')
    val lastStage = segs.lastIndexWhere(_.startsWith("d-"))
    if (lastStage < 0 || lastStage >= segs.length - 2) return Seq.empty
    segs.slice(lastStage + 1, segs.length - 1).toSeq.flatMap { s =>
      val eq = s.indexOf('=')
      if (eq <= 0) None
      else {
        val v = unescapePathName(s.substring(eq + 1))
        Some(s.substring(0, eq) ->
          (if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)))
      }
    }
  }

  /** Inverse of Hive/Spark's partition-path escaping (%XX hex for the
    * chars the writer considers unsafe). NOT URL decoding: '+' is a
    * literal plus in a partition path, never a space. */
  private[graft] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
        if (hex >= 0) { sb.append(hex.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val mapper = new ObjectMapper()

  private def logDir(table: String): Path = Paths.get(table, "_txlog")

  private def commitPath(table: String, version: Long): Path =
    logDir(table).resolve(f"$version%020d.json")

  private def checkpointPath(table: String, version: Long): Path =
    logDir(table).resolve(f"$version%020d.checkpoint.json")

  private val CommitName = """(\d{20})\.json""".r
  private val CheckpointName = """(\d{20})\.checkpoint\.json""".r
  private val CompactedName = """(\d{20})-(\d{20})\.compactedlog\.json""".r
  /** Part `i` of an `n`-part checkpoint — Delta's multi-part checkpoint
    * naming (`<v>.checkpoint.<i>.<n>.json`). Written when the active
    * file list exceeds `graft.checkpoint.partMaxFiles`; see
    * [[writeCheckpointAt]]. */
  private val CheckpointPartName =
    """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.json""".r

  private def checkpointPartPath(table: String, version: Long,
      part: Int, parts: Int): Path =
    logDir(table).resolve(
      f"$version%020d.checkpoint.$part%010d.$parts%010d.json")

  /** Delta's `_last_checkpoint` pointer: one small JSON naming the newest
    * checkpoint's (version, part count). On an object store this turns
    * checkpoint DISCOVERY into a single GET instead of a directory LIST;
    * the local read path here lists anyway (it needs the tail commits),
    * so readers treat the pointer as advisory — stale, missing, or
    * corrupt pointers never affect an answer ([[stateAt]] trusts only
    * the listing). Rewritten atomically after every checkpoint publish. */
  private def lastCheckpointPath(table: String): Path =
    logDir(table).resolve("_last_checkpoint.json")

  private def compactedPath(table: String, from: Long, to: Long): Path =
    logDir(table).resolve(f"$from%020d-$to%020d.compactedlog.json")

  /** Log-retention marker ([[expireLog]]): present ⇒ versions BELOW its
    * horizon have been expired from the log — time travel there refuses
    * ([[stateAt]]), commits/checkpoints stamp protocol v7. */
  private def retentionMarkerPath(table: String): Path =
    logDir(table).resolve("_retention.json")

  private[graft] def retentionHorizon(table: String): Option[Long] = {
    val p = retentionMarkerPath(table)
    if (!Files.exists(p)) None
    else Some(mapper.readTree(Files.readAllBytes(p)).get("horizon").asLong())
  }

  /** In-commit timestamp (millis) of the horizon commit, recorded in the
    * marker BEFORE its commit file was deleted — what lets
    * timestamp-bound consumers (table_changes, TIMESTAMP AS OF) refuse a
    * cut that reaches into the expired range instead of silently
    * resolving past it (surviving commits all stamp LATER, so a naive
    * "first commit at or after" would skip the expired changes). */
  private[graft] def retentionHorizonTs(table: String): Option[Long] = {
    val p = retentionMarkerPath(table)
    if (!Files.exists(p)) None
    else Option(mapper.readTree(Files.readAllBytes(p)).get("horizonTs"))
      .map(_.asLong())
  }

  /** The reader floor the retention marker recorded (7, or 8 when the
    * expiry's fold floor was a multi-part checkpoint). None ⇒ never
    * expired. A marker that EXISTS but cannot parse (torn write from a
    * crashed expiry) answers the conservative floor 7 — this accessor
    * sits on the COMMIT path ([[tryCommit]]), and a parse error there
    * would brick every write on the table; the pre-floor behavior was
    * exactly `Files.exists ⇒ 7`. */
  private def retentionFloor(table: String): Option[Int] = {
    val p = retentionMarkerPath(table)
    if (!Files.exists(p)) None
    else Some(
      try Option(mapper.readTree(Files.readAllBytes(p))
        .get("protocolVersion")).map(_.asInt()).getOrElse(7)
      catch { case scala.util.control.NonFatal(_) => 7 })
  }

  /** `Files.list`/`Files.walk` return STREAMS holding an open directory
    * handle until closed — draining the iterator does not release it. The
    * un-closed form leaks one fd per call, and a trickle-written table
    * (thousands of commits, each triggering a handful of listings) walks
    * a long-lived driver straight into EMFILE ("Too many open files" —
    * reproduced at ~4k single-file appends in one JVM). Every listing in
    * this file goes through these two. */
  private[graft] def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private[graft] def walkDir(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def listLog(table: String): Seq[Path] = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir).sortBy(_.getFileName.toString)
  }

  /** Incremental commit-parse cache. Every metadata question
    * (activeFiles, latestVersion, schemaAsOf, stats folds, …) goes
    * through [[commits]]; without a cache each question re-reads and
    * re-parses the WHOLE JSON log — O(history) I/O per call, thousands
    * of times per query on a long-lived table (the Delta snapshot-cache
    * problem). Commit files are IMMUTABLE once published
    * (put-if-absent hard link) and the log is append-only, so caching
    * is a pure prefix property: per table we keep (sorted file names,
    * parsed commits); on access we re-LIST the directory (cheap, and
    * what keeps cross-process writers visible) and parse only the
    * files beyond the cached prefix. Any listing that is NOT an
    * extension of the cached one (out-of-band deletion — test fixtures
    * do this) drops the entry and reparses from scratch. The one
    * assumption is the write protocol's own invariant: a PUBLISHED
    * commit file's bytes never change (rewriting one in place is log
    * corruption with or without this cache).
    *
    * The cache is LRU-BOUNDED by table count (Delta's snapshot cache is
    * LRU for the same reason): a long-lived driver — or a bench/test run
    * creating hundreds of temp tables — would otherwise retain every
    * table's full parsed commit vector (per-file stats maps included)
    * forever. Eviction only costs a reparse on the next access. */
  private val CommitCacheMaxTables = 64
  private val commitCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Vector[String], Vector[Commit])](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Vector[String], Vector[Commit])]) =
        size() > CommitCacheMaxTables
    })

  /** All commits at `table`, ascending by version. Loose `<v>.json`
    * files plus consolidated `<from>-<to>.compactedlog.json` containers
    * ([[compactLog]]); both sort by their leading version so the
    * filename order IS version order. A compaction racing this listing
    * can briefly show a commit twice (container published before the
    * loose file is unlinked) — [[dedupCommits]] resolves by version
    * (the contents are identical: published commits are immutable). */
  def commits(table: String): Seq[Commit] = {
    // A racing compactLog unlinks loose commits AFTER publishing the
    // container that covers them: a reader that listed before the unlink
    // can open a vanished file. Re-list and re-fold — the container now
    // carries the commit (Delta's FileNotFound-retry on log replay).
    var attempts = 0
    while (true) {
      try return commitsOnce(table)
      catch {
        case _: java.nio.file.NoSuchFileException if attempts < 5 =>
          commitCache.remove(table)
          attempts += 1
      }
    }
    throw new IllegalStateException("unreachable") // while(true) above
  }

  private def commitsOnce(table: String): Seq[Commit] = {
    val files = listLog(table).filter { p =>
      val n = p.getFileName.toString
      CommitName.matches(n) || CompactedName.matches(n)
    }
    val names = files.map(_.getFileName.toString).toVector
    val (reused, toParse) = commitCache.get(table) match {
      case (cn, cc) if names.startsWith(cn) => (cc, files.drop(cn.size))
      case _ => (Vector.empty[Commit], files) // miss, or non-extension listing
    }
    if (toParse.isEmpty) return dedupCommits(reused)
    val parsed = reused ++ toParse.flatMap(parseLogFile)
    commitCache.put(table, (names, parsed))
    dedupCommits(parsed)
  }

  /** Strictly-increasing fast path (the steady state) costs one long
    * comparison per commit; only a mid-compaction race listing pays the
    * sort + dedup. */
  private def dedupCommits(cs: Vector[Commit]): Vector[Commit] = {
    var last = Long.MinValue
    var monotone = true
    cs.foreach { c =>
      if (c.version <= last) monotone = false
      last = c.version
    }
    if (monotone) cs
    else cs.sortBy(_.version)
      .foldLeft(Vector.empty[Commit]) { (acc, c) =>
        if (acc.lastOption.exists(_.version == c.version)) acc else acc :+ c
      }
  }

  private def parseLogFile(p: Path): Seq[Commit] =
    p.getFileName.toString match {
      case CompactedName(_, _) =>
        val node = mapper.readTree(Files.readAllBytes(p))
        val proto = Option(node.get("protocolVersion"))
          .map(_.asInt()).getOrElse(6)
        if (proto > ProtocolVersion) throw new IllegalStateException(
          s"txlog compacted log ${p.getFileName} requires protocol " +
            s"version $proto but this reader supports <= $ProtocolVersion")
        node.get("commits").elements().asScala
          .map(parseCommitNode(_, p.getFileName.toString)).toSeq
      case _ => Seq(parseCommit(p))
    }

  private def parseCommit(p: Path): Commit =
    parseCommitNode(mapper.readTree(Files.readAllBytes(p)),
      p.getFileName.toString)

  private def parseCommitNode(node: com.fasterxml.jackson.databind.JsonNode,
      name: String): Commit = {
        // Fail loudly on logs from the future: a silently-skipped unknown
        // action would fold to a WRONG snapshot, not a degraded one.
        val proto = Option(node.get("protocolVersion"))
          .map(_.asInt()).getOrElse(1) // pre-versioning logs are v1
        if (proto > ProtocolVersion) throw new IllegalStateException(
          s"txlog commit $name requires protocol version $proto " +
            s"but this reader supports <= $ProtocolVersion — upgrade the reader")
        val opName = node.get("op").asText()
        if (!KnownOps.contains(opName)) throw new IllegalStateException(
          s"txlog commit $name carries unknown op '$opName' — " +
            "written by a newer writer; refusing to fold a log I can't interpret")
        def arr(field: String): Seq[String] =
          node.get(field).elements().asScala.map(_.asText()).toSeq
        def optArr(field: String): Seq[String] =
          Option(node.get(field)).map(
            _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
        val stats = Option(node.get("stats")).map { s =>
          s.properties().asScala.map { e =>
            e.getKey -> e.getValue.properties().asScala.map { c =>
              c.getKey -> (c.getValue.get(0).asDouble(),
                c.getValue.get(1).asDouble())
            }.toMap
          }.toMap
        }.getOrElse(Map.empty[String, Map[String, (Double, Double)]])
        val sizes = Option(node.get("sizes")).map { s =>
          s.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        }.getOrElse(Map.empty[String, Long])
        val sstats = Option(node.get("sstats")).map { s =>
          s.properties().asScala.map { e =>
            e.getKey -> e.getValue.properties().asScala.map { c =>
              c.getKey -> (c.getValue.get(0).asText(),
                c.getValue.get(1).asText())
            }.toMap
          }.toMap
        }.getOrElse(Map.empty[String, Map[String, (String, String)]])
        val props = Option(node.get("properties")).map { s =>
          s.properties().asScala.map { e =>
            e.getKey -> (if (e.getValue.isNull) None
            else Some(e.getValue.asText()))
          }.toMap
        }.getOrElse(Map.empty[String, Option[String]])
        val rows = Option(node.get("rows")).map { s =>
          s.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        }.getOrElse(Map.empty[String, Long])
        val nulls = Option(node.get("nulls")).map { s =>
          s.properties().asScala.map { e =>
            e.getKey -> e.getValue.properties().asScala.map { c =>
              c.getKey -> c.getValue.asLong()
            }.toMap
          }.toMap
        }.getOrElse(Map.empty[String, Map[String, Long]])
        // field order IS the logical column order's tiebreak-free record
        // (Jackson preserves insertion order); an empty object is the
        // explicit "mapping retired" sentinel, distinct from absent
        val colMap = Option(node.get("colMap")).map { m =>
          m.properties().asScala.map(e => e.getKey -> e.getValue.asText())
            .toSeq
        }
        Commit(node.get("version").asLong(), arr("add"), arr("remove"),
          opName, node.get("batchId").asLong(), stats,
          Option(node.get("schemaDdl")).map(_.asText()),
          Option(node.get("constraintName")).map(n =>
            n.asText() -> node.get("constraintExpr").asText()),
          Option(node.get("ts")).map(_.asLong()).getOrElse(-1L),
          optArr("dvAdd"), optArr("dvRemove"), sizes, sstats,
          Option(node.get("streamId")).map(_.asText()),
          optArr("bloomAdd"), optArr("bloomRemove"),
          minReader = proto, properties = props, rows = rows, nulls = nulls,
          colMap = colMap, copySources = optArr("copySources"),
          baseRowIds = Option(node.get("baseRowIds")).map { s =>
            s.properties().asScala.map(e =>
              e.getKey -> e.getValue.asLong()).toMap
          }.getOrElse(Map.empty),
          dvTargets = optArr("dvTargets"))
      }

  /** Latest committed version, from the LISTING alone — commit filenames
    * carry their version (`<v>.json` / `<from>-<to>.compactedlog.json`),
    * so the most-asked metadata question costs zero JSON parsing even on
    * a cold process over a 100k-commit log. */
  def latestVersion(table: String): Option[Long] =
    listLog(table).flatMap(p => p.getFileName.toString match {
      case CommitName(v) => Some(v.toLong)
      case CompactedName(_, to) => Some(to.toLong)
      // a checkpoint proves its version existed — load-bearing when
      // [[expireLog]] swept every commit at or below a tip checkpoint
      // (version numbering must continue, never restart)
      case CheckpointName(v) => Some(v.toLong)
      case CheckpointPartName(v, _, _) => Some(v.toLong)
      case _ => None
    }).maxOption

  /** COMPLETE checkpoint sets in a log listing, ascending by version:
    * single-file checkpoints as one-part sets, multi-part checkpoints
    * only when EVERY part 1..n is present (a crash between part links
    * leaves an incomplete set that must stay invisible — readers would
    * otherwise fold a snapshot missing a slice of the active files).
    * When both shapes exist at one version (two compactors racing under
    * different `partMaxFiles` settings) the single file wins — both
    * serialize the same [[stateAt]] answer, and the single file can't
    * be torn. */
  private def checkpointSets(listing: Seq[Path]): Seq[(Long, Seq[Path])] = {
    val singles = listing.flatMap(p => p.getFileName.toString match {
      case CheckpointName(v) => Some(v.toLong -> Seq(p))
      case _ => None
    })
    val singleVs = singles.map(_._1).toSet
    val parts = listing.flatMap(p => p.getFileName.toString match {
      case CheckpointPartName(v, i, n) => Some((v.toLong, i.toInt, n.toInt, p))
      case _ => None
    })
    // group by (version, declared part count): racers under DIFFERENT
    // partMaxFiles settings can leave strays with another n at the same
    // version (one complete 2-part set + one abandoned part of a 3-part
    // attempt) — any COMPLETE set is valid (all serialize the same
    // stateAt answer), so pick the one with the fewest parts
    // deterministically rather than rejecting the version outright
    val multi = parts.groupBy(_._1).flatMap { case (v, ps) =>
      if (singleVs(v)) None
      else ps.groupBy(_._3).toSeq.sortBy(_._1).collectFirst {
        case (n, grp) if (1 to n).forall(i => grp.exists(_._2 == i)) =>
          v -> (1 to n).map(i => grp.find(_._2 == i).get._4)
      }
    }
    (singles ++ multi).sortBy(_._1)
  }

  /** (version, full file list) of checkpoints, ascending. Multi-part
    * sets concatenate their slices in part order. */
  private def checkpoints(table: String): Seq[(Long, Seq[String])] =
    checkpointSets(listLog(table)).map { case (v, paths) =>
      v -> paths.flatMap { p =>
        val node = mapper.readTree(Files.readAllBytes(p))
        val proto = Option(node.get("protocolVersion"))
          .map(_.asInt()).getOrElse(1)
        if (proto > ProtocolVersion) throw new IllegalStateException(
          s"txlog checkpoint ${p.getFileName} requires protocol version " +
            s"$proto but this reader supports <= $ProtocolVersion")
        node.get("files").elements().asScala.map(_.asText()).toSeq
      }
    }

  /** COMPLETE fold state of a table at a version — the content of a
    * full-state checkpoint (Delta's checkpoint, beyond the file list).
    * [[TableState.update]] is the ONE definition of how a commit changes
    * metadata state; every fold consumer ([[properties]], [[schemaAsOf]],
    * [[mappingAsOf]], [[constraints]], [[activeDvs]], [[activeBlooms]],
    * stats/sizes/row-count lookups, row-id bases, the replay guard, the
    * COPY INTO ledger) reads it through [[stateAt]], which starts from
    * the newest state-carrying checkpoint and folds only the TAIL
    * commits. COLD metadata is then O(active + tail), not
    * O(history-bytes): a year-old trickle-written table answers schema /
    * properties / snapshot questions from one checkpoint JSON plus ~a
    * few dozen loose commits, without parsing its 100k-commit history.
    *
    * File-keyed maps (sizes/stats/rows/nulls/baseRowIds) are PRUNED to
    * the active set when a checkpoint is serialized — consumers only
    * ever consult them for active files. Two folds deliberately stay
    * full-history and do NOT read this state: [[allRowIdBases]] (a
    * catching-up stream needs bases of files already rewritten away) and
    * clone/history/CDF walks (their subject IS the history). */
  final case class TableState(
      files: Vector[String] = Vector.empty,
      dvs: Vector[String] = Vector.empty,
      blooms: Vector[String] = Vector.empty,
      schemaDdl: Option[String] = None,
      colMap: Option[Seq[(String, String)]] = None,
      props: Map[String, String] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      sizes: Map[String, Long] = Map.empty,
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
      sstats: Map[String, Map[String, (String, String)]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      nulls: Map[String, Map[String, Long]] = Map.empty,
      baseRowIds: Map[String, Long] = Map.empty, // keyed by fileKey
      rowIdHighWater: Long = 0L,
      minReader: Int = 1,
      copySources: Set[String] = Set.empty,
      // replay guard: max batchId per streamId (batch ids are monotone
      // per checkpoint location, so <= max ⇔ already committed), plus
      // the EXACT batch ids of legacy streamId-less commits (those match
      // any stream — a max would wrongly swallow a NEW stream's batch 0)
      guardMax: Map[String, Long] = Map.empty,
      wildcardBatches: Set[Long] = Set.empty) {

    def update(c: Commit): TableState = TableState.foldAll(this, Seq(c))

    /** Every field EXCEPT the three ordered file sets — those fold in
      * [[TableState.foldAll]] with mutable LinkedHashSets (a per-commit
      * immutable Vector fold is O(history × files): 20 s where the set
      * fold takes 2 s at 20k commits, measured by LogCompactionProbe). */
    private[TxLog] def updateScalars(c: Commit): TableState =
      copy(
        schemaDdl = c.schemaDdl.orElse(schemaDdl),
        colMap = c.colMap.orElse(colMap),
        props = c.properties.foldLeft(props) {
          case (a, (k, Some(v))) => a + (k -> v)
          case (a, (k, None)) => a - k
        },
        constraints =
          if (c.op == "dropConstraint") constraints -- c.constraint.map(_._1)
          else constraints ++ c.constraint,
        sizes = sizes ++ c.sizes,
        stats = stats ++ c.stats,
        sstats = sstats ++ c.sstats,
        rows = rows ++ c.rows,
        nulls = nulls ++ c.nulls,
        baseRowIds = baseRowIds ++
          c.baseRowIds.map { case (f, b) => fileKey(f) -> b },
        rowIdHighWater = math.max(rowIdHighWater, c.baseRowIds.map {
          case (f, b) => b + c.rows.getOrElse(f, 0L)
        }.maxOption.getOrElse(0L)),
        minReader = math.max(minReader, c.minReader),
        copySources = copySources ++ c.copySources,
        guardMax = c.streamId match {
          case Some(sid) if c.batchId >= 0 => guardMax +
            (sid -> math.max(guardMax.getOrElse(sid, Long.MinValue),
              c.batchId))
          case _ => guardMax
        },
        wildcardBatches =
          if (c.streamId.isEmpty && c.batchId >= 0) wildcardBatches + c.batchId
          else wildcardBatches)

    /** Serialized form, pruned to the active set (see class doc). */
    private[TxLog] def toNode(
        node: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
      val act = files.toSet
      val actKeys = files.map(fileKey).toSet
      def strArr(name: String, vs: Iterable[String]): Unit = {
        val a = node.putArray(name); vs.foreach(a.add)
      }
      strArr("files", files); strArr("dvs", dvs); strArr("blooms", blooms)
      schemaDdl.foreach(node.put("schemaDdl", _))
      colMap.foreach { m =>
        val o = node.putObject("colMap")
        m.foreach { case (l, p) => o.put(l, p) }
      }
      val po = node.putObject("props")
      props.foreach { case (k, v) => po.put(k, v) }
      val co = node.putObject("constraints")
      constraints.foreach { case (k, v) => co.put(k, v) }
      val so = node.putObject("sizes")
      sizes.filter(e => act(e._1)).foreach { case (f, n) => so.put(f, n) }
      val st = node.putObject("stats")
      stats.filter(e => act(e._1)).foreach { case (f, cols) =>
        val fo = st.putObject(f)
        cols.foreach { case (c, (mn, mx)) =>
          val a = fo.putArray(c); a.add(mn); a.add(mx) }
      }
      val ss = node.putObject("sstats")
      sstats.filter(e => act(e._1)).foreach { case (f, cols) =>
        val fo = ss.putObject(f)
        cols.foreach { case (c, (mn, mx)) =>
          val a = fo.putArray(c); a.add(mn); a.add(mx) }
      }
      val ro = node.putObject("rows")
      rows.filter(e => act(e._1)).foreach { case (f, n) => ro.put(f, n) }
      val no = node.putObject("nulls")
      nulls.filter(e => act(e._1)).foreach { case (f, cols) =>
        val fo = no.putObject(f)
        cols.foreach { case (c, n) => fo.put(c, n) }
      }
      val bo = node.putObject("baseRowIds")
      baseRowIds.filter(e => actKeys(e._1))
        .foreach { case (f, b) => bo.put(f, b) }
      node.put("rowIdHighWater", rowIdHighWater)
      node.put("minReader", minReader)
      strArr("copySources", copySources)
      val go = node.putObject("guardMax")
      guardMax.foreach { case (sid, b) => go.put(sid, b) }
      val wa = node.putArray("wildcardBatches")
      wildcardBatches.toSeq.sorted.foreach(wa.add)
    }
  }

  private object TableState {
    val empty: TableState = TableState()

    /** Batch fold with set-fold order semantics (`--= remove; ++= add`
      * on a LinkedHashSet): a removed file drops, an ALREADY-ACTIVE
      * re-add keeps its original position, new files append in add
      * order. Mutable sets inside — the fold is O(history + files),
      * not O(history × files). */
    def foldAll(base: TableState, cs: Iterable[Commit]): TableState = {
      if (cs.isEmpty) return base
      val files = scala.collection.mutable.LinkedHashSet.empty[String]
      val dvs = scala.collection.mutable.LinkedHashSet.empty[String]
      val blooms = scala.collection.mutable.LinkedHashSet.empty[String]
      files ++= base.files; dvs ++= base.dvs; blooms ++= base.blooms
      var st = base
      cs.foreach { c =>
        files --= c.remove; files ++= c.add
        dvs --= c.dvRemove; dvs ++= c.dvAdd
        blooms --= c.bloomRemove; blooms ++= c.bloomAdd
        st = st.updateScalars(c)
      }
      st.copy(files = files.toVector, dvs = dvs.toVector,
        blooms = blooms.toVector)
    }

    def fromNode(n: com.fasterxml.jackson.databind.JsonNode): TableState = {
      def strs(name: String): Vector[String] =
        Option(n.get(name)).map(
          _.elements().asScala.map(_.asText()).toVector).getOrElse(Vector.empty)
      def longMap(name: String): Map[String, Long] =
        Option(n.get(name)).map(_.properties().asScala.map(e =>
          e.getKey -> e.getValue.asLong()).toMap).getOrElse(Map.empty)
      def strMap(name: String): Map[String, String] =
        Option(n.get(name)).map(_.properties().asScala.map(e =>
          e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
      TableState(
        files = strs("files"), dvs = strs("dvs"), blooms = strs("blooms"),
        schemaDdl = Option(n.get("schemaDdl")).map(_.asText()),
        colMap = Option(n.get("colMap")).map(_.properties().asScala.map(e =>
          e.getKey -> e.getValue.asText()).toSeq),
        props = strMap("props"),
        constraints = strMap("constraints"),
        sizes = longMap("sizes"),
        stats = Option(n.get("stats")).map(_.properties().asScala.map { e =>
          e.getKey -> e.getValue.properties().asScala.map { c =>
            c.getKey -> (c.getValue.get(0).asDouble(),
              c.getValue.get(1).asDouble())
          }.toMap
        }.toMap).getOrElse(Map.empty),
        sstats = Option(n.get("sstats")).map(_.properties().asScala.map { e =>
          e.getKey -> e.getValue.properties().asScala.map { c =>
            c.getKey -> (c.getValue.get(0).asText(), c.getValue.get(1).asText())
          }.toMap
        }.toMap).getOrElse(Map.empty),
        rows = longMap("rows"),
        nulls = Option(n.get("nulls")).map(_.properties().asScala.map { e =>
          e.getKey -> e.getValue.properties().asScala.map(c =>
            c.getKey -> c.getValue.asLong()).toMap
        }.toMap).getOrElse(Map.empty),
        baseRowIds = longMap("baseRowIds"),
        rowIdHighWater =
          Option(n.get("rowIdHighWater")).map(_.asLong()).getOrElse(0L),
        minReader = Option(n.get("minReader")).map(_.asInt()).getOrElse(1),
        copySources = strs("copySources").toSet,
        guardMax = longMap("guardMax"),
        wildcardBatches = Option(n.get("wildcardBatches")).map(
          _.elements().asScala.map(_.asLong()).toSet).getOrElse(Set.empty))
    }
  }

  /** Merge a multi-part checkpoint's per-part states, part order. Part 1
    * carries the scalar state (schema, properties, constraints, column
    * mapping, row-id high water, replay guards, DV/bloom manifests);
    * every part carries a disjoint slice of the active files and the
    * file-keyed maps restricted to that slice — so the merge is scalars
    * from the head plus concatenated files and unioned maps. */
  private def mergePartStates(sts: Seq[TableState]): TableState =
    sts.reduce((a, b) => a.copy(
      files = a.files ++ b.files,
      dvs = a.dvs ++ b.dvs,
      blooms = a.blooms ++ b.blooms,
      sizes = a.sizes ++ b.sizes,
      stats = a.stats ++ b.stats,
      sstats = a.sstats ++ b.sstats,
      rows = a.rows ++ b.rows,
      nulls = a.nulls ++ b.nulls,
      baseRowIds = a.baseRowIds ++ b.baseRowIds))

  /** Per-table cache for [[stateAt]] — the state-checkpoint parse and the
    * tail fold both reuse across calls; only NEW tail commits re-parse
    * (same prefix-extension rule as [[commitCache]]). */
  private final case class CachedState(cpName: Option[String],
      cpVersion: Long, cpState: TableState, tailNames: Vector[String],
      tailCommits: Vector[Commit], tipState: TableState,
      // checkpoint files probed and found state-LESS (legacy files-only
      // form, or corrupt state) — never re-parsed while they persist
      noStateCps: Set[String],
      // recently-parsed checkpoint states by file name (bounded): callers
      // alternating asOf values (time-travel specs, history walks) hit
      // DIFFERENT checkpoints — without this the single tail-fold slot
      // re-parses the big state JSON on every alternation. Checkpoints
      // are immutable once published, so entries never go stale; expiry
      // clears the whole cache.
      parsedCps: Map[String, TableState] = Map.empty)
  private val ParsedCpCacheCap = 4
  private val stateCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, CachedState](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedState]) =
        size() > CommitCacheMaxTables
    })

  /** Fold state as of `asOf` (latest when None): newest state-carrying
    * checkpoint at or before `asOf`, plus a fold over only the commits
    * after it. Falls back to the FULL commit fold when no usable
    * checkpoint exists — a log written before state checkpoints, an
    * `asOf` below the oldest checkpoint, or a checkpoint whose state
    * section is corrupt (pinned by FullStateCheckpointSpec). */
  private[graft] def stateAt(table: String,
      asOf: Option[Long] = None): TableState = {
    var attempts = 0
    while (true) {
      try return stateAtOnce(table, asOf)
      catch { // racing compactLog unlink — same retry as [[commits]]
        case _: java.nio.file.NoSuchFileException if attempts < 5 =>
          stateCache.remove(table)
          attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def stateAtOnce(table: String, asOf: Option[Long]): TableState = {
    for (v <- asOf; h <- retentionHorizon(table); if v < h)
      throw new IllegalStateException(
        s"txlog table $table: version $v is below the log-retention " +
          s"horizon $h — expireLog deleted its commits, so time travel " +
          "there is gone. Read at or above the horizon, or restore the " +
          "history from a DEEP CLONE/backup taken before expiry")
    val listing = listLog(table)
    // newest COMPLETE checkpoint set at or before asOf whose JSON carries
    // a state section (older checkpoints are files-only — skip them).
    // Multi-part sets parse every part and merge the slices; the key for
    // the parsed-state caches is the first part's file name.
    val cpCandidates = checkpointSets(listing)
      .filter { case (v, _) => asOf.forall(v <= _) }
      .sortBy(-_._1)
    val cached = Option(stateCache.get(table))
    var noState = cached.map(_.noStateCps).getOrElse(Set.empty[String])
    val knownCps: Map[String, TableState] = cached.map(c =>
      c.parsedCps ++ c.cpName.map(_ -> c.cpState)).getOrElse(Map.empty)
    val cp: Option[(Long, TableState, String)] =
      cpCandidates.view.flatMap { case (v, paths) =>
        val name = paths.head.getFileName.toString
        if (noState.contains(name)) None
        else knownCps.get(name) match {
          case Some(st) => Some((v, st, name))
          case None =>
            val parsed =
              try {
                // every part must carry state — a torn/corrupt part makes
                // the whole set unusable (a partial merge would silently
                // drop a slice of the active files)
                val partStates = paths.map(p =>
                  Option(mapper.readTree(Files.readAllBytes(p)).get("state"))
                    .map(TableState.fromNode))
                if (partStates.exists(_.isEmpty)) None
                else Some((v, mergePartStates(partStates.flatten), name))
              }
              catch { case e: java.nio.file.NoSuchFileException => throw e
                      case scala.util.control.NonFatal(_) => None }
            if (parsed.isEmpty) noState += name
            parsed
        }
      }.headOption
    val cpVersion = cp.map(_._1).getOrElse(Long.MinValue)
    val base = cp.map(_._2).getOrElse(TableState.empty)
    // tail: every commit after the checkpoint (containers whose range
    // crosses it contribute only their > cpVersion commits)
    val tailFiles = listing.filter { p =>
      p.getFileName.toString match {
        case CommitName(v) => v.toLong > cpVersion
        case CompactedName(_, to) => to.toLong > cpVersion
        case _ => false
      }
    }
    val tailNames = tailFiles.map(_.getFileName.toString).toVector
    val reusable = cached.filter(c => c.cpName == cp.map(_._3) &&
      tailNames.startsWith(c.tailNames))
    val newParsed = reusable match {
      case Some(c) => tailFiles.drop(c.tailNames.size).flatMap(parseLogFile)
      case None => tailFiles.flatMap(parseLogFile)
    }
    val tail = dedupCommits(
      (reusable.map(_.tailCommits).getOrElse(Vector.empty) ++
        newParsed.filter(_.version > cpVersion)).toVector)
    val tip = reusable match {
      case Some(c) if newParsed.isEmpty => c.tipState
      case Some(c) => TableState.foldAll(c.tipState,
        newParsed.filter(_.version > cpVersion))
      case None => TableState.foldAll(base, tail)
    }
    val keptCps = cp match {
      case Some((_, st, name)) =>
        ((knownCps - name).toSeq.take(ParsedCpCacheCap - 1) :+
          (name -> st)).toMap
      case None => knownCps.take(ParsedCpCacheCap)
    }
    stateCache.put(table, CachedState(cp.map(_._3), cpVersion, base,
      tailNames, tail, tip, noState, keptCps))
    asOf match {
      case None => tip
      // below-or-at the checkpoint horizon `tail` IS the full commit
      // list (cp selection already honored asOf), so the same fold
      // answers both the tail-only and full-history shapes
      case Some(v) =>
        TableState.foldAll(base, tail.filter(_.version <= v))
    }
  }

  /** Active data files (relative paths) in the snapshot as of `asOf`
    * (latest when None). Starts from the newest checkpoint at or before
    * `asOf` and folds only the commits after it — O(commits since last
    * [[compact]]), not O(table history). Insertion-ordered for
    * deterministic planning. */
  def activeFiles(table: String, asOf: Option[Long] = None): Seq[String] = {
    val files = stateAt(table, asOf).files
    guardMetadataPlane(table, files.size)
    files
  }

  /** Loud ceiling on the DRIVER-side metadata plane (the DvMapProbe
    * 256 MiB pattern applied to file count): every snapshot/DV/bloom
    * fold collects O(active files) rows on the driver — the same class
    * as Delta's driver-side log replay. Fine to ~10^5 files; a busy
    * streaming trickle before compaction can reach 10^6+, at which point
    * the right fix is fewer, bigger files — not a bigger driver. Reads
    * past the ceiling fail HERE, naming the remedies, instead of
    * degrading into driver GC pressure at an arbitrary later fold.
    * `graft.txlog.maxActiveFiles` (system property) raises or lowers the
    * ceiling; <= 0 disables. */
  private[graft] val DefaultMaxActiveFiles = 200000
  private def guardMetadataPlane(table: String, nFiles: Int): Unit = {
    val ceiling = sys.props.get("graft.txlog.maxActiveFiles")
      .map(_.trim.toInt).getOrElse(DefaultMaxActiveFiles)
    if (ceiling > 0 && nFiles > ceiling) throw new IllegalStateException(
      s"txlog table $table has $nFiles active files — past the " +
        s"driver metadata-plane ceiling of $ceiling. Compact the trickle " +
        "(TxLog.optimizeSmall bin-packs small files; TxLog.compact " +
        "checkpoints the log), or raise -Dgraft.txlog.maxActiveFiles " +
        "if the driver has heap for a larger file list")
  }

  /** Active deletion-vector files in the snapshot as of `asOf` — via
    * [[stateAt]] (checkpoint + tail fold). Rows a DV lists for a data
    * file that has since been removed are inert: the probe keys on the
    * file, and removed paths never reappear. */
  def activeDvs(table: String, asOf: Option[Long] = None): Seq[String] =
    stateAt(table, asOf).dvs

  /** Active bloom-index sidecar files as of `asOf` — via [[stateAt]].
    * A sidecar row whose data file has since left the active set is
    * inert, not wrong: bloom pruning only ever consults rows for files
    * it is about to read. */
  def activeBlooms(table: String, asOf: Option[Long] = None): Seq[String] =
    stateAt(table, asOf).blooms

  /** The per-file key a deletion vector stores: the last two path segments
    * of the scan's `_metadata.file_path` — exactly the relative path
    * [[writeData]] returned (`d-<uuid>/part-….parquet`), so the DV
    * probe finds its file's bitmap however the table root moves. */
  private def relFileKey: org.apache.spark.sql.Column = {
    val parts = split(col("_metadata.file_path"), "/")
    concat_ws("/", element_at(parts, -2), element_at(parts, -1))
  }

  /** Driver-side twin of [[relFileKey]]: the last two path segments of a
    * log entry — equal for relative and absolute (clone) spellings of the
    * same file, which is what makes DV keys survive a table root move. */
  private def fileKey(f: String): String =
    f.split('/').takeRight(2).mkString("/")

  /** Every shape a DV sidecar has had on disk, as one fixed read
    * schema: `(file, bitmap)` bitsets, the older `(file, start, end)`
    * ranges and the pre-r9 `(file, row_index)` rows. A column a sidecar
    * lacks reads NULL, so no schema-inference job runs. */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, bitmap BINARY, start BIGINT, `end` BIGINT, row_index BIGINT")

  /** The ONE reader of DV sidecars: one fixed-schema read and one collect,
    * folded on the driver to (sidecar [[fileKey]], data-file key) →
    * bitset. Legacy range and row rows decode to bitsets here and
    * nowhere else; several rows for one file union. Metadata-sized: one
    * row per (sidecar, DV'd file), or per legacy range/row. */
  private def readDvs(spark: SparkSession, table: String,
      dvs: Seq[String]): Map[(String, String), Array[Byte]] =
    if (dvs.isEmpty) Map.empty
    else spark.read.schema(DvSchema).parquet(dvs.map(resolve(table, _)): _*)
      .select(col("_metadata.file_path"), col("file"), col("bitmap"),
        coalesce(col("start"), col("row_index")),
        coalesce(col("end"), col("row_index")))
      .collect().toSeq
      .groupBy(r => (fileKey(r.getString(0)), r.getString(1)))
      .map { case (k, rows) =>
        val ranges = rows.filterNot(_.isNullAt(3))
          .map(r => (r.getLong(3), r.getLong(4)))
        k -> graft.functions.DvBitmapCodec.union(
          rows.filterNot(_.isNullAt(2)).map(_.getAs[Array[Byte]](2)) ++
            Option.when(ranges.nonEmpty)(
              graft.functions.DvBitmapCodec.fromRanges(ranges)))
      }

  /** Deleted rows per data-file key over a DV file set: every sidecar's
    * bitset for the file, unioned. */
  private def dvBitmaps(spark: SparkSession, table: String,
      dvs: Seq[String]): Map[String, Array[Byte]] =
    readDvs(spark, table, dvs).groupBy(_._1._2).map { case (f, bms) =>
      f -> graft.functions.DvBitmapCodec.union(bms.values.toSeq) }

  /** DV files whose every referenced data file is absent from
    * `remainingKeys` (the post-commit active set): their probe can never
    * match again, so they should retire with the commit that removed
    * their last data file instead of riding every subsequent read. */
  private def inertDvs(spark: SparkSession, table: String, dvs: Seq[String],
      remainingKeys: Set[String]): Seq[String] = {
    val refs = readDvs(spark, table, dvs).keys.groupMap(_._1)(_._2)
    dvs.filter(dv => refs.get(fileKey(dv))
      .exists(_.forall(f => !remainingKeys.contains(f))))
  }

  /** Data-file keys (the [[fileKey]] form) the given DV sidecars
    * reference. */
  private def dvRefKeys(spark: SparkSession, table: String,
      dvs: Seq[String]): Set[String] =
    readDvs(spark, table, dvs).keySet.map(_._2)

  /** Schema-aware, DV-filtered read of a specific file subset — the ONE
    * place scan semantics live, shared by [[read]], [[readRanges]] and
    * [[copyOnWrite]] so a deletion vector can never be skipped on one path
    * and honored on another. The DV set rides the plan as a constant
    * (data-file key → bitset) map that `dv_bitmap_probe` tests each row
    * against — no join. A run-encoded bitset is bounded by the number of
    * consecutive deleted runs, so contiguous deletes of any size ship a
    * few bytes. A pathological scattered-delete DV set that WOULD outgrow
    * the plan is the signal to run [[optimizeDvs]]/OPTIMIZE, which
    * collapses DVs into rewritten files. */
  private def readFiles(spark: SparkSession, table: String,
      files: Seq[String], asOf: Option[Long],
      keepRowKeys: Boolean = false,
      withRowIds: Boolean = false): DataFrame = {
    val schema = schemaAsOf(table, asOf)
    val mapping = mappingAsOf(table, asOf)
    // Identity columns derive from row ids AT READ (start + step * id —
    // never from storage), so a scan of a table that declares them runs
    // the row-id machinery even when the caller did not ask for _row_id
    val idents = identityCols(table, asOf).filter { case (c, _) =>
      schema.exists(_.fieldNames.contains(c)) }
    val needIds = withRowIds || idents.nonEmpty
    // Column mapping: files speak PHYSICAL names (frozen at enable time,
    // so every era of file — pre-enable, post-rename — carries the same
    // physical name for a given column). The scan plans under the
    // physical schema and renames back to logical immediately after —
    // one projection, collapsed by Catalyst into the scan's output.
    val physSchema = (schema, mapping) match {
      case (Some(s), Some(m)) => Some(org.apache.spark.sql.types.StructType(
        s.map(f => f.copy(name = m.getOrElse(f.name, f.name)))))
      case _ => schema
    }
    def toLogical(df: DataFrame, extra: Seq[String]): DataFrame =
      (schema, mapping) match {
        case (Some(s), Some(m)) => df.select(
          s.fields.toSeq.map(f =>
            col(m.getOrElse(f.name, f.name)).as(f.name)) ++
            extra.map(col): _*)
        case _ => df
      }
    val dvs = activeDvs(table, asOf)
    val partsByFile = files.map(f => f -> partValuesOf(f)).toMap
    // One scan per distinct partition-column SET: an unpartitioned file
    // set (the empty one included) is the single group with none; a
    // partitioned one is practically one group for the partitioned era
    // plus one for any pre-partitioning files — never one per partition
    // value.
    val groups =
      if (files.isEmpty) Seq(Seq.empty[String] -> files)
      else files.groupBy(f => partsByFile(f).map(_._1))
        .toSeq.sortBy(_._1.mkString(","))
    // Partitioned data files are partition-stripped, so a group reads with
    // the schema MINUS its partition columns. Row tracking asks the scan
    // for the hidden materialized-id column too (files without it — fresh
    // writes — return NULL and fall back to base + row_index below).
    def scan(pcols: Seq[String], fs: Seq[String]): DataFrame = {
      val paths = fs.map(resolve(table, _))
      physSchema match {
        case Some(s) =>
          val dataFields = s.fields
            .filterNot(f => pcols.contains(f.name) || f.name == RowIdCol)
          spark.read.schema(org.apache.spark.sql.types.StructType(
            if (needIds) dataFields :+
              org.apache.spark.sql.types.StructField(RowIdCol,
                org.apache.spark.sql.types.LongType, nullable = true)
            else dataFields)).parquet(paths: _*)
        case None => spark.read.parquet(paths: _*)
      }
    }
    // `_metadata` resolves only on the scan relation itself, so the row
    // keys must be materialized on each scan — a caller cannot re-derive
    // them after the union. A DV-free read of unpartitioned
    // files that needs no keys or ids skips them entirely: the common path
    // stays a bare scan.
    if (dvs.isEmpty && !keepRowKeys && !needIds && groups.forall(_._1.isEmpty))
      return toLogical(scan(Seq.empty, files), Seq.empty)
    val baseMap = if (needIds) baseRowIdsAsOf(table, asOf)
      else Map.empty[String, Long]
    val rowKeyCols = Seq("__dv_f", "__dv_ri") ++
      (if (needIds) Seq(RowIdCol) else Nil)
    val scans = groups.map { case (pcols, fs) =>
      val withKeys = scan(pcols, fs)
        .withColumn("__dv_f", relFileKey)
        .withColumn("__dv_ri", col("_metadata.row_index"))
      // partition columns reconstruct from the commit-recorded path
      // values — a plan-constant fileKey→value map (metadata-plane-
      // bounded, same class as the commit itself), element_at per row,
      // cast to the logged type. Under column mapping they land under
      // their PHYSICAL names (path segments carry the frozen physical
      // name) and [[toLogical]] renames the union like any other column.
      val withParts = pcols.foldLeft(withKeys) { (df, c) =>
        val m = fs.flatMap { f =>
          partsByFile(f).collectFirst { case (`c`, Some(v)) =>
            fileKey(f) -> v }
        }.toMap
        // null-partition files are simply absent from the map
        val raw: org.apache.spark.sql.Column =
          if (m.isEmpty) lit(null).cast("string")
          else element_at(typedlit(m), col("__dv_f"))
        val typed = physSchema.flatMap(_.fields.find(_.name == c))
          .map(f => raw.cast(f.dataType)).getOrElse(raw)
        df.withColumn(c, typed)
      }
      // stable id = materialized (rewritten files) else base + row_index
      // (fresh files); NULL when neither (pre-enable era)
      val withIds =
        if (!needIds) withParts
        else {
          val fromBase: org.apache.spark.sql.Column =
            if (baseMap.isEmpty) lit(null).cast("long")
            else element_at(typedlit(baseMap), col("__dv_f")) +
              col("__dv_ri")
          val id =
            if (withParts.columns.contains(RowIdCol))
              coalesce(col(RowIdCol), fromBase)
            else fromBase
          withParts.withColumn(RowIdCol, id)
        }
      // restore the logged column order (the partitioned writer moved
      // partition columns last); keys stay, dropped at the end as usual
      physSchema match {
        case Some(s) => withIds.select(
          (s.fieldNames.toSeq.filterNot(_ == RowIdCol) ++ rowKeyCols)
            .map(col): _*)
        case None => withIds
      }
    }
    val keyed = toLogical(scans.reduce(_ unionByName _), rowKeyCols)
    val filtered =
      if (dvs.isEmpty) keyed
      else {
        // The constant map rides the serialized plan to every task; a
        // set this large is pathological (run optimizeDvs — it rewrites
        // heavily-deleted files and retires their DVs). Fail with the
        // remedy in hand rather than shipping a multi-GB plan.
        val bms = dvBitmaps(spark, table, dvs)
        val totalBytes = bms.valuesIterator.map(_.length.toLong).sum
        require(totalBytes <= 256L * 1024 * 1024,
          s"txlog $table carries ${totalBytes >> 20} MiB of bitset " +
            "deletion vectors — beyond the plan-constant ceiling. Run " +
            "TxLog.optimizeDvs to materialize the deletes and retire " +
            "the DVs, then retry the read.")
        graft.functions.GraftFunctions.register(spark)
        keyed.filter(!call_function("dv_bitmap_probe",
          col("__dv_f"), col("__dv_ri"), typedlit(bms)))
      }
    // Identity overlay: replace the column's stored bytes (NULL in fresh
    // files, a stale-impossible copy in rewritten ones) with the derived
    // value — same position in the schema, one projection, codegen'd
    val withIdent = idents.foldLeft(filtered) { case (d, (c, (st, sp))) =>
      d.withColumn(c, lit(st) + lit(sp) * col(RowIdCol)) }
    val scoped =
      if (needIds && !withRowIds) withIdent.drop(RowIdCol) else withIdent
    if (keepRowKeys) scoped else scoped.drop("__dv_f", "__dv_ri")
  }

  /** Atomically publish `commit` — false if that version already exists
    * (lost the race; re-derive and retry with the next version). */
  def tryCommit(table: String, commit: Commit): Boolean =
    publish(table, commit, footers(table, commit.add))

  /** [[tryCommit]] with the add files' footer counts already read
    * (`feet`, keyed by add entry; a file absent from it records no rows
    * or nulls): [[swap]] passes the ones [[fileMeta]] read when it
    * staged the files, so each staged footer is opened once. */
  private def publish(table: String, commit: Commit,
      feet: Map[String, FooterCounts]): Boolean = {
    Files.createDirectories(logDir(table))
    // Replay-guard ENFORCEMENT (not just the callers' pre-check): a
    // commit claiming a (streamId, batchId) the log already carries is a
    // duplicate application of the same logical work — a zombie executor
    // re-running a committed micro-batch, or a concurrent view refresh
    // whose rival already folded the window. Its writer pre-checked
    // BEFORE deriving, so reaching here means it lost the race AFTER —
    // retrying it against the new snapshot would double-apply. Refuse
    // loudly; the caller decides whether that is a no-op (Mview) or an
    // error. Delta enforces its txn action's appId/version the same way.
    if (commit.streamId.isDefined && commit.batchId >= 0 &&
        batchCommitted(table, commit.streamId, commit.batchId))
      throw new ConcurrentWriteException(
        s"txlog commit on $table: (${commit.streamId.get}, " +
          s"batch ${commit.batchId}) is already committed — this work " +
          "was applied by a concurrent or prior writer (replay guard)")
    val node = mapper.createObjectNode()
    // minimum version that can read this commit correctly: plain commits
    // stay readable by v1-era readers; absolute (shallow-clone) file
    // references demand a v2 reader
    val needsV2 = (commit.add ++ commit.remove).exists(_.startsWith("/"))
    // every deletion vector is a bitset: a v2-era range reader would read
    // it as no deletes and resurrect its rows, so DV commits demand v3
    val needsV3 = commit.dvAdd.nonEmpty || commit.dvRemove.nonEmpty
    // partitioned adds demand a v4 reader: older readers would plan the
    // partition-stripped files under the full logged schema and silently
    // NULL every partition column
    val needsV4 = commit.add.exists(partValuesOf(_).nonEmpty)
    // a column-mapping commit demands a v5 reader: an older reader would
    // plan the physically-named files under logical names and silently
    // NULL every renamed column (the retired-mapping EMPTY sentinel is
    // v5 too — an older reader can't know the fold rules around it)
    val needsV5 = commit.colMap.isDefined
    // any commit on a log-compacted table demands a v6 reader: a v5-era
    // reader lists only loose <v>.json files and would fold a log with
    // every consolidated commit missing
    val needsV6 = hasCompactedLog(table)
    // a commit on a retention-expired log demands a v7 reader: a v6-era
    // reader folds metadata from the full commit list and would silently
    // fold the partial (post-expiry) history. The marker records 8 when
    // the fold floor is a MULTI-PART checkpoint (a v7 listing can't see
    // its parts) — commits propagate whichever floor it carries.
    val needsV7 = retentionFloor(table).getOrElse(1)
    node.put("protocolVersion",
      math.max(if (needsV7 >= 7) needsV7 else if (needsV6) 6
      else if (needsV5) 5
      else if (needsV4) 4 else if (needsV3) 3 else if (needsV2) 2 else 1,
      commit.minReader))
    node.put("version", commit.version)
    node.put("op", commit.op)
    node.put("batchId", commit.batchId)
    val addArr = node.putArray("add")
    commit.add.foreach(addArr.add)
    val removeArr = node.putArray("remove")
    commit.remove.foreach(removeArr.add)
    if (commit.stats.nonEmpty) {
      val statsNode = node.putObject("stats")
      commit.stats.foreach { case (file, cols) =>
        val fileNode = statsNode.putObject(file)
        cols.foreach { case (c, (mn, mx)) =>
          val a = fileNode.putArray(c); a.add(mn); a.add(mx)
        }
      }
    }
    if (commit.sstats.nonEmpty) {
      val sNode = node.putObject("sstats")
      commit.sstats.foreach { case (file, cols) =>
        val fileNode = sNode.putObject(file)
        cols.foreach { case (c, (mn, mx)) =>
          val a = fileNode.putArray(c); a.add(mn); a.add(mx)
        }
      }
    }
    if (commit.add.nonEmpty) {
      // byte sizes ride the commit so consumers (streaming admission,
      // compaction targeting) budget in bytes without re-listing; the
      // staged files exist before publication, so the stat is safe here
      val szNode = node.putObject("sizes")
      commit.add.foreach { f =>
        val p = Paths.get(resolve(table, f))
        if (Files.exists(p)) szNode.put(f, Files.size(p))
      }
      // row + per-column null counts come from the parquet FOOTERS the
      // write already produced (Delta's numRecords/nullCount): a
      // driver-side metadata read per staged file, no Spark job — so
      // EVERY write path (append, sink micro-batch, merge rewrite,
      // OPTIMIZE) records them with zero plan cost. A file whose footer
      // can't be read records nothing: consumers treat absence as
      // "don't know" (COUNT falls back to a scan, null-pruning keeps
      // the file), never a wrong answer.
      val rowsNode = node.putObject("rows")
      val nullsNode = node.putObject("nulls")
      var rowCounts = Map.empty[String, Long]
      commit.add.foreach { f =>
        feet.get(f).foreach { case (nRows, colNulls) =>
          rowsNode.put(f, nRows)
          rowCounts += f -> nRows
          if (colNulls.nonEmpty) {
            val fn = nullsNode.putObject(f)
            colNulls.foreach { case (c, n) => fn.put(c, n) }
          }
        }
      }
      if (nullsNode.isEmpty) node.remove("nulls")
      if (rowsNode.isEmpty) node.remove("rows")
      // Row tracking: allocate each add file's BASE row id from the
      // high-water mark, in add order, width = footer row count. Fresh
      // ranges never overlap earlier ones, so base + row_index is
      // globally unique — including merge-inserted rows in a rewrite,
      // whose materialized `_graft_row_id` is NULL and who therefore
      // fall through to this commit's fresh range on read. If ANY add
      // file's footer is unreadable, allocation is skipped for the whole
      // commit (an unknown width would collide the next base) — those
      // files' rows read NULL ids, the safe direction. A CALLER-supplied
      // map (shallow clone carrying the source's bases — a fresh
      // allocation there would collide with ids already materialized in
      // rewritten source files) passes through verbatim, even though the
      // enabling property may itself ride this very commit.
      if (commit.baseRowIds.nonEmpty) {
        val bNode = node.putObject("baseRowIds")
        commit.baseRowIds.foreach { case (f, b) => bNode.put(f, b) }
      } else if (rowTrackingEnabled(table) &&
          commit.add.forall(rowCounts.contains)) {
        var hw = rowIdHighWater(table)
        val bNode = node.putObject("baseRowIds")
        commit.add.foreach { f =>
          bNode.put(f, hw)
          hw += rowCounts(f)
        }
      }
    }
    if (commit.dvAdd.nonEmpty) {
      val a = node.putArray("dvAdd"); commit.dvAdd.foreach(a.add)
    }
    if (commit.dvRemove.nonEmpty) {
      val a = node.putArray("dvRemove"); commit.dvRemove.foreach(a.add)
    }
    if (commit.dvTargets.nonEmpty) {
      val a = node.putArray("dvTargets"); commit.dvTargets.foreach(a.add)
    }
    if (commit.bloomAdd.nonEmpty) {
      val a = node.putArray("bloomAdd"); commit.bloomAdd.foreach(a.add)
    }
    if (commit.bloomRemove.nonEmpty) {
      val a = node.putArray("bloomRemove"); commit.bloomRemove.foreach(a.add)
    }
    commit.colMap.foreach { m =>
      val cm = node.putObject("colMap")
      m.foreach { case (logical, physical) => cm.put(logical, physical) }
    }
    if (commit.properties.nonEmpty) {
      val pNode = node.putObject("properties")
      commit.properties.foreach {
        case (k, Some(v)) => pNode.put(k, v)
        case (k, None) => pNode.putNull(k) // JSON null = unset
      }
    }
    if (commit.copySources.nonEmpty) {
      val a = node.putArray("copySources"); commit.copySources.foreach(a.add)
    }
    commit.streamId.foreach(node.put("streamId", _))
    commit.schemaDdl.foreach(node.put("schemaDdl", _))
    commit.constraint.foreach { case (n, e) =>
      node.put("constraintName", n); node.put("constraintExpr", e)
    }
    // In-commit timestamps (Delta's inCommitTimestamps rule): stamp
    // max(parent.ts + 1, wallClock) so the timestamp index is strictly
    // monotone in version order even under writer clock skew — a
    // regressed clock inherits parent.ts + 1, never rewinds the index.
    // (commits() is the same cached fold every writer just consulted
    // for its base version, so this adds no extra log I/O.)
    val parentTs =
      if (commit.version <= 1L) -1L
      else commits(table).find(_.version == commit.version - 1)
        .map(_.ts).getOrElse(-1L)
    // An explicit commit.ts is treated as that writer's clock READING,
    // not a trusted stamp — it clamps like the real clock does, so even
    // a deliberately regressed writer cannot rewind the index.
    node.put("ts", math.max(parentTs + 1,
      if (commit.ts >= 0) commit.ts else System.currentTimeMillis()))
    val tmp = logDir(table).resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    val won =
      try {
        Files.createLink(commitPath(table, commit.version), tmp) // put-if-absent
        true
      } catch {
        case _: FileAlreadyExistsException => false
      } finally Files.deleteIfExists(tmp)
    // Auto-checkpoint (Delta's checkpointInterval, default 10): every
    // Nth commit snapshots the active file list so readers replay a
    // bounded log tail instead of the whole history — the log-replay
    // cost cap a long-lived 100 TB table needs without an operator
    // remembering to run compact(). Best-effort: a failed checkpoint
    // write must never fail the commit it trails (the next multiple
    // writes one). `graft.checkpoint.interval` ≤ 0 disables.
    if (won)
      try {
        val interval = properties(table).get("graft.checkpoint.interval")
          .flatMap(_.trim.toIntOption).getOrElse(10)
        if (interval > 0 && commit.version % interval == 0) compact(table)
        // Auto log compaction (Delta's log cleanup, lossless form): once
        // the LOOSE commit-file count passes the threshold, consolidate
        // the cold range — bounds the log's file count for trickle
        // writers without an operator. Opt-in by property: compaction
        // stamps the reader floor to v6, which the table owner should
        // choose, not a background write. Best-effort like the
        // checkpoint. `graft.logCompaction.threshold` ≤ 0 disables.
        val lcThreshold = properties(table)
          .get("graft.logCompaction.threshold")
          .flatMap(_.trim.toIntOption).getOrElse(0)
        if (lcThreshold > 0) {
          val looseCount = listLog(table).count(p =>
            CommitName.matches(p.getFileName.toString))
          if (looseCount > lcThreshold) compactLog(table)
        }
        // Auto LOG RETENTION (Delta's enableExpiredLogCleanup, which
        // cleans expired log files at checkpoint time): expire everything
        // the checkpoint just written covers. Opt-in by property — expiry
        // DELETES time travel below the horizon and stamps the v7 reader
        // floor, both decisions the table owner makes, never a background
        // write. Runs on the checkpoint cadence (the horizon can only
        // advance when a new checkpoint lands); with it set, a perpetual
        // trickle writer's log holds ~interval loose commits + one
        // checkpoint + the marker, forever.
        if (properties(table).get("graft.logRetention.auto").contains("true")
          && interval > 0 && commit.version % interval == 0)
          expireLog(table)
        // AUTO-COMPACTION (Databricks' delta.autoOptimize.autoCompact,
        // synchronous form): after a data-adding commit, when the count
        // of active files below `graft.autoCompact.minFileSize` (default
        // 16 MiB) reaches `graft.autoCompact.minFiles` (default 16),
        // fold just those small files into ~`graft.autoCompact.
        // targetSize` (default 128 MiB) outputs — a layout-only
        // `optimize` commit, invisible to CDF/rowDeltas consumers.
        // THE small-file answer for trickle writers at scale: a
        // streaming sink landing a few files per micro-batch otherwise
        // degrades every later scan (open-file overhead grows with file
        // count, not bytes) until an operator remembers OPTIMIZE.
        // Opt-in by property (a synchronous rewrite on the write path is
        // the table owner's latency/throughput trade). Guarded against
        // self-trigger (layout-only ops skip) and best-effort like the
        // checkpoint: a failed compaction never fails the commit.
        // This is the ONE compaction policy: declared once, it applies to
        // every writer, the txlog streaming sink included.
        // AUTO-MANIFEST (Delta's delta.compatibility.symlinkFormatManifest
        // .enabled): regenerate the symlink manifests after any commit
        // that changes the active file set, so external readers never
        // see a stale tree without an operator re-running GENERATE.
        // Opt-in; skipped (not failed) while DVs are active — the next
        // PURGE-then-commit regenerates.
        if ((commit.add.nonEmpty || commit.remove.nonEmpty ||
            commit.dvAdd.nonEmpty) &&
          properties(table).get("graft.manifest.auto").contains("true") &&
          activeDvs(table).isEmpty)
          generateManifest(table)
        if (commit.add.nonEmpty &&
          !LayoutOnlyOps(commit.op) &&
          properties(table).get("graft.autoCompact.enabled")
            .contains("true")) {
          val minSize = properties(table)
            .get("graft.autoCompact.minFileSize")
            .flatMap(_.trim.toLongOption).getOrElse(16L * 1024 * 1024)
          val minFiles = properties(table).get("graft.autoCompact.minFiles")
            .flatMap(_.trim.toIntOption).getOrElse(16)
          val target = properties(table).get("graft.autoCompact.targetSize")
            .flatMap(_.trim.toLongOption).getOrElse(128L * 1024 * 1024)
          val sizes = fileSizes(table)
          val nSmall = activeFiles(table)
            .count(f => sizes.getOrElse(f, 0L) < minSize)
          // getActiveSession is thread-local (unset on caller-spawned
          // worker threads) — fall back to the default session so the
          // fold fires regardless of which thread committed
          if (nSmall >= minFiles)
            org.apache.spark.sql.SparkSession.getActiveSession
              .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
              .foreach { spark => optimizeSmall(spark, table, minSize,
                targetBytes = Some(target))
              }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    won
  }

  /** Stage `df` as parquet under a fresh uuid subdir; returns the relative
    * paths of the written part files. NOT visible to readers until a commit
    * references them — this is the crash-safe half of every write.
    *
    * A table with DECLARED partition columns (`graft.partition.columns`
    * property, the Delta `partitionBy` analog) stages Hive-layout instead:
    * `d-<uuid>/col=value/part-….parquet`. Because the layout is consulted
    * HERE, every write path — append, overwrite, streaming sink, merge and
    * OPTIMIZE rewrites — preserves the partitioning without each call
    * site re-passing it (the no-decay rule applied to partitions). The
    * partition tuple is recorded IN the path (parsed back by
    * [[partValuesOf]]); partition columns are stripped from the data
    * files and reconstructed at read time, so the layout is what a
    * Hive/Delta-aware engine expects on disk. */
  def writeData(df: DataFrame, table: String,
      mapping: Option[Map[String, String]]): Seq[String] = {
    // Column mapping: stage under PHYSICAL names — the one choke point
    // every write path (append, overwrite, merge/DML rewrites, OPTIMIZE,
    // streaming sink) already funnels through. `mapping` is the one the
    // commit publishes with: the table's committed mapping, or a
    // schema-evolving write's extended not-yet-committed one. Unmapped
    // `_`-helper columns pass through by name.
    val staged0 = mapping match {
      case Some(mm) => df.select(df.columns.toSeq.map(c =>
        col(c).as(mm.getOrElse(c, c))): _*)
      case None => df
    }
    val sub = s"d-${UUID.randomUUID().toString.take(8)}"
    // declared layout properties speak LOGICAL names; the staged frame
    // is already physical — translate here so partition directories
    // carry the frozen PHYSICAL name (what makes RENAME of a partition
    // column metadata-only: the paths never change)
    val physName = physOf(mapping) _
    val partCols = declaredCols(table, "graft.partition.columns")
      .map(physName).filter(staged0.columns.contains)
    // Declared clustered writes (liquid-clustering-lite, opt-in via
    // `graft.cluster.columns`): range-repartition + sort EVERY write by
    // the declared columns, so each output file owns a tight key range
    // and the recorded stats prune from day one — no OPTIMIZE ZORDER
    // pass needed before skipping works. Costs one shuffle per write;
    // that is the price of clustering, which is why it is a declared
    // property and not a default. Unpartitioned tables only (a
    // partitioned sink already repartitions by its partition columns).
    val clusterCols = declaredCols(table, "graft.cluster.columns")
      .map(physName).filter(staged0.columns.contains)
    val staged =
      if (clusterCols.isEmpty || partCols.nonEmpty) staged0
      else {
        val n = math.max(1, staged0.rdd.getNumPartitions)
        staged0.repartitionByRange(n, clusterCols.map(col): _*)
          .sortWithinPartitions(clusterCols.map(col): _*)
      }
    if (partCols.isEmpty) {
      staged.write.parquet(s"$table/$sub")
      listDir(Paths.get(table, sub))
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .sorted
        .map(n => s"$sub/$n")
    } else {
      staged.write.partitionBy(partCols: _*).parquet(s"$table/$sub")
      val root = Paths.get(table, sub)
      walkDir(root)
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        .map(p => s"$sub/${root.relativize(p)}")
        .sorted
    }
  }

  /** Table schema as of `asOf`: the newest schema-carrying commit at or
    * before it. None on logs written before schema tracking (falls back
    * to footer inference). */
  def schemaAsOf(table: String, asOf: Option[Long] = None): Option[org.apache.spark.sql.types.StructType] =
    stateAt(table, asOf).schemaDdl
      .map(org.apache.spark.sql.types.StructType.fromDDL)

  /** Logical→physical column mapping as of `asOf` — the newest
    * colMap-carrying commit at or before it. None when the table never
    * enabled column mapping OR the newest record is the EMPTY retired
    * sentinel (RESTORE to a pre-enable version): both read identity. */
  def mappingAsOf(table: String,
      asOf: Option[Long] = None): Option[Map[String, String]] =
    stateAt(table, asOf).colMap.filter(_.nonEmpty).map(_.toMap)

  /** Logical→physical name translation under `mapping`; identity for
    * unmapped tables AND for names outside the mapping (internal `_`
    * helper columns, caller typos — a missed stats/partition lookup only
    * degrades pruning, never correctness). */
  private def physOf(mapping: Option[Map[String, String]])(
      c: String): String = mapping.flatMap(_.get(c)).getOrElse(c)

  /** Physical→logical inverse of `mapping` (physical names are unique by
    * construction — fresh names are collision-checked at assignment). */
  private def logicalsOf(
      mapping: Option[Map[String, String]]): Map[String, String] =
    mapping.getOrElse(Map.empty).map(_.swap)

  /** A fresh physical column name, collision-checked against every
    * physical name the log has EVER used — a dropped column's physical
    * stays resident in old data files, and colliding with it would
    * resurrect that data under the new logical column. */
  private def freshPhysName(table: String): String = {
    val used: Set[String] =
      commits(table).flatMap(_.colMap).flatten.map(_._2).toSet ++
        schemaAsOf(table).map(_.fieldNames.toSet).getOrElse(Set.empty)
    var cand = s"col_${UUID.randomUUID().toString.take(8)}"
    while (used.contains(cand))
      cand = s"col_${UUID.randomUUID().toString.take(8)}"
    cand
  }

  /** Column names an active CHECK constraint's expression references —
    * the RENAME/DROP refusal set (Delta refuses the same way: the
    * constraint text would silently dangle). */
  private def constraintRefs(table: String): Map[String, Set[String]] =
    constraints(table).map { case (name, exprText) =>
      name -> org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprText).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }.toSet
    }

  /** Enable column mapping (Delta's `columnMapping.mode = name`): one
    * metadata commit freezing every current column's PHYSICAL name to
    * its present logical name. From here on RENAME/DROP COLUMN are
    * metadata-only and data files keep physical names forever; the
    * commit stamps protocol v5, so pre-mapping readers refuse loudly
    * instead of misplanning.
    *
    * Partitioned tables work: enable freezes physical = current logical,
    * so every existing `col=value` partition directory ALREADY carries
    * the frozen physical name — no path rewrite, and a later RENAME of
    * the partition column stays metadata-only (new writes keep staging
    * under the physical name; [[declaredPartitionCols]] names stay
    * logical in the property and translate at the write/conflict
    * boundaries). */
  def enableColumnMapping(table: String): Long = {
    // idempotent: an already-mapped table no-ops (Delta treats
    // re-setting the same mode the same way) — a re-run setup script
    // must not fail here and strand its other statements
    if (mappingAsOf(table).nonEmpty) return latestVersion(table).get
    commitNext(table, "columnMapping") { v =>
      val schema = schemaAsOf(table).getOrElse(throw
        new IllegalArgumentException(
          s"txlog table $table has no logged schema — column mapping " +
            "needs a schema-carrying log (write once first)"))
      Commit(v, Seq.empty, Seq.empty, "columnMapping", -1L,
        schemaDdl = Some(schema.toDDL),
        colMap = Some(schema.fieldNames.toSeq.map(n => n -> n)))
    }
  }

  /** ALTER TABLE … RENAME COLUMN: metadata-only under column mapping —
    * the logical name changes, the frozen physical name (and therefore
    * every data file, stat, bloom and partition path) stays. Refused
    * when a CHECK constraint references the column (its text would
    * dangle — Delta refuses identically). */
  def renameColumn(table: String, from: String, to: String): Long =
    commitNext(table, "renameColumn") { v =>
      val mapping = mappingAsOf(table).getOrElse(throw
        new IllegalArgumentException(
          s"txlog table $table has no column mapping — run " +
            s"TxLog.enableColumnMapping (or ALTER TABLE … SET TBLPROPERTIES" +
            s" ('graft.columnMapping.mode'='name')) before RENAME COLUMN"))
      val schema = schemaAsOf(table).get
      require(schema.fieldNames.contains(from),
        s"txlog table $table has no column '$from' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"txlog table $table already has a column '$to'")
      val offending = constraintRefs(table).collect {
        case (n, refs) if refs.contains(from) => n }
      require(offending.isEmpty,
        s"cannot rename $table.$from: CHECK constraint(s) " +
          s"${offending.mkString(", ")} reference it — drop them first")
      val genOffending = generatedRefs(table).collect {
        case (c, refs) if refs.contains(from) => c }
      require(genOffending.isEmpty,
        s"cannot rename $table.$from: generated column(s) " +
          s"${genOffending.mkString(", ")} reference it in their " +
          "generation expression — drop the declaration(s) first")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.map(f => if (f.name == from) f.copy(name = to) else f))
      val newMap = schema.fieldNames.toSeq.map { n =>
        if (n == from) to -> mapping.getOrElse(from, from)
        else n -> mapping.getOrElse(n, n) }
      Commit(v, Seq.empty, Seq.empty, "renameColumn", -1L,
        schemaDdl = Some(newSchema.toDDL), colMap = Some(newMap),
        properties = renamePropDeltas(table, from, to))
    }

  /** ALTER TABLE … DROP COLUMN: metadata-only under column mapping — the
    * column leaves the schema and the mapping; its physical data stays
    * in the files, unselected. A later ADD COLUMN of the same logical
    * name gets a FRESH physical name, so the dropped data can never
    * resurrect. */
  def dropColumn(table: String, name: String): Long =
    commitNext(table, "dropColumn") { v =>
      val mapping = mappingAsOf(table).getOrElse(throw
        new IllegalArgumentException(
          s"txlog table $table has no column mapping — run " +
            "TxLog.enableColumnMapping before DROP COLUMN"))
      val schema = schemaAsOf(table).get
      require(schema.fieldNames.contains(name),
        s"txlog table $table has no column '$name' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
      require(schema.length > 1,
        s"cannot drop the only column of txlog table $table")
      val offending = constraintRefs(table).collect {
        case (n, refs) if refs.contains(name) => n }
      require(offending.isEmpty,
        s"cannot drop $table.$name: CHECK constraint(s) " +
          s"${offending.mkString(", ")} reference it — drop them first")
      require(!declaredPartitionCols(table).contains(name),
        s"cannot drop $table.$name: it is a declared partition column " +
          "(graft.partition.columns) — the layout-defining column of " +
          "every partitioned file; Delta refuses the same")
      val genOffending = generatedRefs(table).collect {
        case (c, refs) if refs.contains(name) && c != name => c }
      require(genOffending.isEmpty,
        s"cannot drop $table.$name: generated column(s) " +
          s"${genOffending.mkString(", ")} reference it in their " +
          "generation expression — drop the declaration(s) first")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.filterNot(_.name == name))
      val newMap = newSchema.fieldNames.toSeq
        .map(n => n -> mapping.getOrElse(n, n))
      Commit(v, Seq.empty, Seq.empty, "dropColumn", -1L,
        schemaDdl = Some(newSchema.toDDL), colMap = Some(newMap),
        properties = dropPropDeltas(table, name))
    }

  /** ALTER TABLE … ADD COLUMN: a schema-evolution metadata commit — old
    * files backfill NULL on read (the mergeSchema read path, no rewrite).
    * Under column mapping the new logical name binds to a FRESH physical
    * name, never a recycled one. Works on unmapped tables too. */
  def addColumn(table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Long =
    commitNext(table, "addColumn") { v =>
      val schema = schemaAsOf(table).getOrElse(throw
        new IllegalArgumentException(
          s"txlog table $table has no logged schema — nothing to evolve"))
      require(!schema.fieldNames.contains(name),
        s"txlog table $table already has a column '$name'")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema :+ org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true))
      val newMap = mappingAsOf(table).map { m =>
        schema.fieldNames.toSeq.map(n => n -> m.getOrElse(n, n)) :+
          (name -> freshPhysName(table))
      }
      Commit(v, Seq.empty, Seq.empty, "addColumn", -1L,
        schemaDdl = Some(newSchema.toDDL), colMap = newMap)
    }

  /** ALTER TABLE … ALTER COLUMN c TYPE <wider> (Delta's type widening):
    * a metadata-only schema commit — old files keep their narrow
    * physical type and the parquet reader up-converts at scan (verified
    * for every pair [[isWidening]] admits), new writes land wide. No
    * rewrite, ever. Bloom sidecars indexing the column are RETIRED in
    * the same commit: xxhash64 of the same value hashes differently at
    * int vs long width, so a pre-widen filter would false-negative and
    * silently prune files that DO hold the probed value (rebuilt by the
    * next OPTIMIZE / indexed write). Range stats survive: both eras'
    * values compare through the recorded doubles losslessly. */
  def widenColumnType(spark: SparkSession, table: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Long =
    commitNext(table, "widenColumn") { v =>
      val schema = schemaAsOf(table).getOrElse(throw
        new IllegalArgumentException(
          s"txlog table $table has no logged schema — nothing to widen"))
      val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"txlog table $table has no column '$name' " +
            s"(columns: ${schema.fieldNames.mkString(", ")})"))
      require(isWidening(field.dataType, newType),
        s"ALTER COLUMN ${field.name} TYPE: ${field.dataType.simpleString} → " +
          s"${newType.simpleString} is not a supported widening (supported: " +
          "byte/short/int → wider integral or double, integral → decimal " +
          "with enough digits, decimal → wider decimal, float → double, " +
          "date → timestamp_ntz)")
      require(!identityCols(table).keys.exists(_.equalsIgnoreCase(field.name)),
        s"cannot widen $table.${field.name}: identity columns are BIGINT " +
          "by construction")
      require(!generatedCols(table).keys.exists(_.equalsIgnoreCase(field.name)),
        s"cannot widen $table.${field.name}: it is a generated column — " +
          "its type is the generation expression's")
      val genOffending = generatedRefs(table).collect {
        case (c, refs) if refs.contains(field.name) => c }
      require(genOffending.isEmpty,
        s"cannot widen $table.${field.name}: generated column(s) " +
          s"${genOffending.mkString(", ")} reference it in their generation " +
          "expression — recorded values would diverge under the new type")
      val phys = mappingAsOf(table).fold(field.name)(
        _.getOrElse(field.name, field.name))
      val blRem = if (activeBloomCols(spark, table, None).contains(phys))
        activeBlooms(table) else Seq.empty
      val newSchema = org.apache.spark.sql.types.StructType(schema.map(f =>
        if (f.name == field.name) f.copy(dataType = newType) else f))
      Commit(v, Seq.empty, Seq.empty, "widenColumn", -1L,
        schemaDdl = Some(newSchema.toDDL), bloomRemove = blRem)
    }

  /** The widening matrix the parquet reader up-converts natively
    * (Delta's type-widening set; each pair probe-verified on this
    * Spark): byte → short/int/long/double/decimal, short → int/long/
    * double/decimal, int → long/double/decimal, long → decimal,
    * float → double, date → timestamp_ntz, decimal → decimal with ≥
    * integral digits and ≥ scale. Integral → decimal needs digits for
    * the full source range (3/5/10/20). long → double is NOT widening
    * (loses precision past 2^53 — the reader refuses it too). */
  private[graft] def isWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def digits(i: Int)(d: DecimalType): Boolean = d.precision - d.scale >= i
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (ByteType, d: DecimalType) => digits(3)(d)
      case (ShortType, d: DecimalType) => digits(5)(d)
      case (IntegerType, d: DecimalType) => digits(10)(d)
      case (LongType, d: DecimalType) => digits(20)(d)
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale
      case _ => false
    }
  }

  private val ColListProps = Seq("graft.partition.columns",
    "graft.cluster.columns", "graft.stats.columns", "graft.bloom.columns")

  /** Column names each generation expression references (by generated
    * column) — RENAME/DROP of a referenced base column refuses the same
    * way constraint references do: the recorded expression text would
    * silently dangle. */
  private def generatedRefs(table: String): Map[String, Set[String]] =
    generatedCols(table).map { case (c, exprText) =>
      c -> org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprText).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }.toSet
    }

  /** Property deltas carrying a column RENAME through every declared
    * column-list property plus the `graft.generated.<col>` key — the
    * declarations live in the LOGICAL namespace, so they must follow the
    * logical name or the layout silently decays (a partition list naming
    * the old logical would stop matching any write's columns). */
  private def renamePropDeltas(table: String, from: String,
      to: String): Map[String, Option[String]] = {
    val props = properties(table)
    val lists = ColListProps.flatMap { p =>
      props.get(p).flatMap { v =>
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
        if (cols.contains(from))
          Some(p -> (Some(cols.map(c => if (c == from) to else c)
            .mkString(",")): Option[String]))
        else None
      }
    }.toMap
    props.get(s"graft.generated.$from") match {
      case Some(e) => lists +
        (s"graft.generated.$from" -> (None: Option[String])) +
        (s"graft.generated.$to" -> (Some(e): Option[String]))
      case None => lists
    }
  }

  /** Property deltas for a column DROP: the name leaves the declared
    * cluster/stats/bloom lists (an empty list unsets) and its generated
    * declaration unsets with it. Partition columns never reach here —
    * [[dropColumn]] refuses them outright. */
  private def dropPropDeltas(table: String,
      name: String): Map[String, Option[String]] = {
    val props = properties(table)
    val lists = ColListProps.filterNot(_ == "graft.partition.columns")
      .flatMap { p =>
        props.get(p).flatMap { v =>
          val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
          if (cols.contains(name)) {
            val rest = cols.filterNot(_ == name)
            Some(p -> (if (rest.isEmpty) None: Option[String]
              else Some(rest.mkString(","))))
          } else None
        }
      }.toMap
    if (props.contains(s"graft.generated.$name"))
      lists + (s"graft.generated.$name" -> (None: Option[String]))
    else lists
  }

  /** Snapshot read at `asOf` (latest when None). When the log carries a
    * schema, the read plans with it directly — no footer listing/merging
    * at any table size — and files written before a column was added
    * backfill NULL (the schema-evolution read path). */
  def read(spark: SparkSession, table: String,
      asOf: Option[Long] = None): DataFrame = {
    val files = activeFiles(table, asOf)
    if (files.isEmpty) {
      // a CREATE TABLE'd (or fully-deleted) snapshot: zero files but a
      // log-carried schema is a legal empty table, not an error
      val schema = schemaAsOf(table, asOf).getOrElse(throw
        new IllegalArgumentException(
          s"txlog table $table has no committed files at version $asOf"))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    readFiles(spark, table, files, asOf)
  }

  /** CREATE TABLE: commit an empty snapshot carrying only `schema` — the
    * SQL DDL shape (define now, INSERT later). No-op if the table already
    * exists with the same column names+types; refuses a shape mismatch
    * (silently adopting a different schema is how two writers corrupt
    * each other). Returns the created version, None if pre-existing. */
  def createTable(table: String,
      schema: org.apache.spark.sql.types.StructType,
      properties: Map[String, String] = Map.empty): Option[Long] = {
    schemaAsOf(table) match {
      case Some(existing) =>
        val shape = (s: org.apache.spark.sql.types.StructType) =>
          s.fields.toSeq.map(f => (f.name, f.dataType))
        require(shape(existing) == shape(schema),
          s"txlog table $table already exists with schema ${existing.toDDL}, " +
            s"refusing CREATE with ${schema.toDDL}")
        None
      case None =>
        val v = latestVersion(table).getOrElse(0L) + 1
        if (tryCommit(table, Commit(v, Seq.empty, Seq.empty,
            "overwrite", -1L, schemaDdl = Some(schema.toDDL),
            properties = properties.map { case (k, pv) => k -> Some(pv) })))
          Some(v)
        // lost the race to a concurrent writer: re-validate against what
        // it committed instead of failing a semantically-fine CREATE
        else createTable(table, schema, properties)
    }
  }

  /** TIMESTAMP AS OF: snapshot at the newest commit whose stamp is ≤
    * `tsMillis`. Pre-timestamping commits (ts = −1) are treated as
    * arbitrarily old. Throws if the timestamp predates the table.
    *
    * On a retention-expired log ([[expireLog]]): a cut at or after the
    * recorded horizon stamp but before the first surviving commit still
    * answers — its snapshot IS the horizon version, which the full-state
    * checkpoint carries; a cut BEFORE the horizon stamp refuses with the
    * remedy named (resolving it to a surviving commit would silently
    * time-travel forward past expired history). */
  def readAsOfTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): DataFrame = {
    val fromLog = commits(table).filter(_.ts <= tsMillis).lastOption
      .map(_.version)
    val v = fromLog.orElse {
      (retentionHorizon(table), retentionHorizonTs(table)) match {
        case (Some(h), Some(hts)) if tsMillis >= hts => Some(h)
        case (Some(_), Some(hts)) => throw new IllegalStateException(
          s"txlog table $table: timestamp $tsMillis predates the " +
            s"log-retention horizon stamp $hts — expireLog deleted that " +
            "history, so time travel there is gone. Read at or after the " +
            "horizon, or restore from a DEEP CLONE/backup taken before " +
            "expiry")
        case _ => None
      }
    }.getOrElse(throw new IllegalArgumentException(
      s"txlog table $table has no commit at or before ts $tsMillis"))
    read(spark, table, Some(v))
  }

  /** Active CHECK constraints (name → boolean SQL expression), folded
    * from the log up to `asOf` (latest when None) — a constraint added
    * AFTER a cloned/travelled version is not part of that snapshot's
    * contract. */
  def constraints(table: String, asOf: Option[Long] = None): Map[String, String] =
    // a dropConstraint commit reuses the constraint field to name its
    // victim; an old reader refuses the unknown op outright (KnownOps
    // gate), so it can never silently keep enforcing a dropped check
    stateAt(table, asOf).constraints

  /** ALTER TABLE … DROP CONSTRAINT: a data-less commit that retires the
    * named CHECK constraint from this version forward; history keeps it
    * (a clone/travel AS OF an earlier version still carries it). */
  def dropConstraint(table: String, name: String): Long = {
    require(constraints(table).contains(name),
      s"no CHECK constraint '$name' on $table " +
        s"(active: ${constraints(table).keys.mkString(", ")})")
    commitNext(table, "dropConstraint") { v =>
      Commit(v, Seq.empty, Seq.empty, "dropConstraint", -1L,
        constraint = Some(name -> ""))
    }
  }

  /** Table properties as of `asOf` (Delta TBLPROPERTIES): folded
    * last-write-wins over every commit's property deltas; a None delta
    * unsets. Metadata-only — one fold over the (cached) commit list. */
  def properties(table: String, asOf: Option[Long] = None): Map[String, String] =
    stateAt(table, asOf).props

  /** ALTER TABLE SET TBLPROPERTIES analog: a data-less commit carrying
    * the property deltas; every future writer on any driver sees them
    * through the log. Configuration keys the engine itself consults:
    *   - `graft.bloom.columns` (comma-separated): columns every write
    *     bloom-indexes — the declared form of the sidecar-derived
    *     default, so a table can be index-configured BEFORE its first
    *     indexed write (no sidecars to derive from yet). */
  def setProperties(table: String, props: Map[String, String]): Long = {
    // the Delta property idiom for enabling column mapping routes to the
    // real DDL (its commit carries the frozen mapping + the v5 stamp —
    // a bare property would silently do neither)
    props.get("graft.columnMapping.mode").foreach { mode =>
      require(mode == "name",
        s"graft.columnMapping.mode supports only 'name', got '$mode'")
      val rest = props - "graft.columnMapping.mode"
      val v = enableColumnMapping(table)
      return if (rest.isEmpty) v else setProperties(table, rest)
    }
    // the partition layout property routes through the evolution path so
    // a typo'd column refuses instead of silently breaking future writes
    props.get("graft.partition.columns").foreach { cols =>
      val rest = props - "graft.partition.columns"
      val v = alterPartitioning(table,
        cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      return if (rest.isEmpty) v else setProperties(table, rest)
    }
    commitProperties(table, props.map { case (k, v) => k -> Some(v) })
  }

  /** ALTER TABLE UNSET TBLPROPERTIES analog. */
  def unsetProperties(table: String, keys: Seq[String]): Long =
    commitProperties(table, keys.map(_ -> (None: Option[String])).toMap)

  /** PARTITION SPEC EVOLUTION (Iceberg's headline table feature — Delta
    * refuses this; at 100 TB it is the difference between repartitioning
    * a table and rewriting it): change `graft.partition.columns` on a
    * LIVE table with one metadata commit and ZERO data rewritten. Files
    * written before the change keep their old layout (old-era partition
    * values stay in their paths, columns the old layout didn't strip
    * stay in their data); files written after land in the new layout.
    * The read path already speaks mixed eras natively — it scans one
    * group per distinct path-carried partition-column SET and
    * reconstructs each group's partition columns from its own paths —
    * so reads, pruning (path-exact for the era that carries the
    * predicate column, stats-based otherwise), DML, and streaming all
    * keep working across the transition. Selective partition REPLACEMENT
    * (`overwritePartitions` / dynamic INSERT OVERWRITE) refuses while
    * mixed-era files hold rows it cannot attribute to tuples — OPTIMIZE
    * migrates old-era files into the current layout, after which it
    * works again (the refusal names this).
    *
    * Pass an empty list to UNPARTITION the table (new writes land flat;
    * old partitioned files still read correctly). */
  /** `against` (optional): validate the columns against THIS schema
    * instead of the table's current one — the CTAS REPLACE case, where
    * the partitioning must be declared BEFORE the data write that
    * defines the new schema (writeData consults the property), so the
    * current schema is the OUTGOING table's and may lack the column. */
  def alterPartitioning(table: String, cols: Seq[String],
      against: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    val canon = against.orElse(schemaAsOf(table)) match {
      case Some(s) =>
        val missing = cols.filterNot(c =>
          s.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"alterPartitioning($table): column(s) ${missing.mkString(", ")} " +
            s"not in the table schema (${s.fieldNames.mkString(", ")})")
        cols.map(c => s.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(c))
      case None => cols
    }
    if (canon.isEmpty) unsetProperties(table, Seq("graft.partition.columns"))
    else commitProperties(table,
      Map("graft.partition.columns" -> Some(canon.mkString(","))))
  }

  /** Bounded layout migration after [[alterPartitioning]]: rewrite ONLY
    * the active files whose paths are missing a CURRENT declared
    * partition column (pre-partitioning files and evolved-away eras),
    * leaving current-layout files byte-untouched. After an evolution the
    * legacy era is often a small fraction of the table — a full OPTIMIZE
    * would rewrite 100 TB to fix a sliver. One commit, op `optimize`:
    * data-neutral by construction, so streaming readers skip it and CDF
    * shows no changes; row-tracking ids materialize through the rewrite
    * like every DML path. Returns the new version, or None when every
    * active file already carries the declared layout (no commit). */
  def migrateLayout(spark: SparkSession, table: String): Option[Long] =
    compact(spark, table, "migrateLayout") { (_, files) =>
      val phys = declaredPartitionCols(table).map(physOf(mappingAsOf(table)))
      if (phys.isEmpty) Seq.empty else files.filter { f =>
        val carried = partValuesOf(f).map(_._1).toSet
        !phys.forall(carried.contains)
      }
    }.toOption

  private def commitProperties(table: String,
      deltas: Map[String, Option[String]]): Long = {
    require(deltas.nonEmpty, "setProperties needs at least one property")
    commitNext(table, "setProperties") { v =>
      Commit(v, Seq.empty, Seq.empty, "setProperty", -1L,
        properties = deltas)
    }
  }

  /** ALTER TABLE ADD CONSTRAINT analog: a named CHECK every row of every
    * subsequent write must satisfy. Existing rows are validated first
    * (Delta's behavior — a constraint the current table violates is
    * refused), then the constraint rides the log as a data-less commit so
    * every future writer — including one on another driver — sees and
    * enforces it. The validation reads exactly the snapshot the commit
    * lands on (version `v - 1`): a row appended after it takes `v`, so
    * this commit loses the race and the retry validates again. */
  def addConstraint(spark: SparkSession, table: String, name: String,
      expr: String): Long =
    commitNext(table, "addConstraint") { v =>
      if (v > 1)
        validateConstraints(read(spark, table, Some(v - 1)), Map(name -> expr))
      Commit(v, Seq.empty, Seq.empty, "addConstraint", -1L,
        constraint = Some(name -> expr))
    }

  /** Reject the write if any row violates any active constraint. One
    * predicated scan of the incoming batch per write (Delta folds this
    * into the write job via metrics; the extra pass here is the simple
    * correct form — the batch is the small side of any sane commit). */
  private def validateConstraints(df: DataFrame,
      active: Map[String, String]): Unit =
    active.foreach { case (name, sql) =>
      if (!df.filter(!expr(sql)).isEmpty)
        throw new IllegalArgumentException(
          s"txlog CHECK constraint '$name' ($sql) violated by the write")
    }

  /** Generated columns declared on the table (Delta's `GENERATED ALWAYS
    * AS (expr)`): table properties `graft.generated.<col> = <expr>`,
    * folded like every other property. */
  def generatedCols(table: String,
      asOf: Option[Long] = None): Map[String, String] =
    properties(table, asOf).collect {
      case (k, v) if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.") -> v
    }

  /** Enforce generated columns on an incoming batch: a declared column
    * ABSENT from the frame is computed from its expression (the Delta
    * convenience — writers supply base columns only); a declared column
    * PRESENT must null-safely EQUAL its expression on every row, or the
    * write refuses (Delta's generated-column check — a caller supplying
    * its own values for a GENERATED ALWAYS column must supply the right
    * ones, or downstream pruning/joins on the column silently lie). One
    * predicated scan per declared column, same posture as CHECK
    * constraints. Supplied values are checked only on rows where
    * `checked` holds — a CDC feed's delete markers legitimately carry
    * nulls in business columns, including a generated one. */
  private def applyGenerated(df: DataFrame, table: String,
      checked: org.apache.spark.sql.Column = lit(true)): DataFrame =
    generatedCols(table).foldLeft(df) { case (d, (c, e)) =>
      if (!d.columns.exists(_.equalsIgnoreCase(c))) d.withColumn(c, expr(e))
      else {
        if (!d.filter(checked && !(col(c) <=> expr(e))).isEmpty)
          throw new IllegalArgumentException(
            s"txlog generated column '$c' ($e) on $table: the write " +
              "supplies values that differ from the generation expression " +
              "— omit the column (it is computed) or supply exact values")
        d
      }
    }

  /** Declare `col GENERATED ALWAYS AS (exprText)`: validates the
    * expression parses against the CURRENT table contents and — when the
    * table has data and already carries the column — that every existing
    * row satisfies it (declare-time backfill is refused, not silent;
    * Delta likewise only allows generation expressions at table
    * creation). Then records the `graft.generated.<col>` property; every
    * subsequent write path (append / overwrite / partition overwrite /
    * COPY INTO / DML rewrites / streaming sinks) enforces it. */
  def declareGeneratedColumn(spark: SparkSession, table: String,
      colName: String, exprText: String): Long = {
    // metadata-only commits (setProperties, partition declaration) bump
    // the version without data — validate only when files exist to scan
    if (activeFiles(table).nonEmpty) {
      val cur = read(spark, table)
      if (cur.columns.exists(_.equalsIgnoreCase(colName))) {
        if (!cur.filter(!(col(colName) <=> expr(exprText))).isEmpty)
          throw new IllegalArgumentException(
            s"declareGeneratedColumn $colName on $table: existing rows " +
              "violate the generation expression — fix the data first " +
              "(no silent backfill)")
      } else if (!cur.isEmpty)
        throw new IllegalArgumentException(
          s"declareGeneratedColumn $colName on $table: table has data " +
            s"but no '$colName' column — existing files would read NULL, " +
            "not the generated value; backfill via overwrite first")
    }
    setProperties(table, Map(s"graft.generated.$colName" -> exprText))
  }

  /** Identity columns declared on the table (Delta's `GENERATED ALWAYS
    * AS IDENTITY`): `graft.identity.<col> = "<start>,<step>"` properties,
    * folded like every other property. */
  def identityCols(table: String,
      asOf: Option[Long] = None): Map[String, (Long, Long)] =
    properties(table, asOf).collect {
      case (k, v) if k.startsWith("graft.identity.") =>
        val Array(st, sp) = v.split(",", 2)
        k.stripPrefix("graft.identity.") -> (st.trim.toLong, sp.trim.toLong)
    }

  /** Declare `col BIGINT GENERATED ALWAYS AS IDENTITY (START WITH start
    * INCREMENT BY step)` — built on the row-tracking substrate instead
    * of a stored counter: the value READS as `start + step * row_id`
    * (row ids are commit-allocated, stable across every rewrite, never
    * reused), so fresh appends store NOTHING for the column, identities
    * survive UPDATE/MERGE/OPTIMIZE by construction, a DELETE retires its
    * identities forever, and concurrent writers can never mint the same
    * value twice (the id base is allocated by the winning commit).
    * Values are dense and monotone WITHIN a commit, gap-free across
    * commits — stronger than Delta's allocation, which reserves ranges.
    *
    * Declared before the first write (Delta likewise allows identity
    * columns only at table creation): every row the table will ever hold
    * then has a row id, so the derived column is total. Row tracking is
    * enabled as part of the declaration; under column mapping the new
    * logical name binds a fresh physical name like any ADD COLUMN. */
  def declareIdentityColumn(table: String, colName: String,
      start: Long = 1L, step: Long = 1L): Long = {
    require(step != 0, s"declareIdentityColumn $colName on $table: " +
      "INCREMENT BY must be non-zero")
    require(activeFiles(table).isEmpty,
      s"declareIdentityColumn $colName on $table: the table already has " +
        "data files — identity columns must be declared before the first " +
        "write (rows written without row ids would read NULL identity)")
    require(schemaAsOf(table).nonEmpty,
      s"txlog table $table has no logged schema — CREATE the table " +
        "(TxLog.createTable) before declaring an identity column")
    if (!properties(table).get("graft.rowTracking.enabled").contains("true"))
      enableRowTracking(table)
    commitNext(table, "identityColumn") { v =>
      val schema = schemaAsOf(table).get
      schema.fields.find(_.name.equalsIgnoreCase(colName)) match {
        case Some(f) =>
          // CREATE TABLE (… id BIGINT GENERATED ALWAYS AS IDENTITY …):
          // the column is already in the created schema — declaring is a
          // property-only commit (the table is empty, required above)
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"identity column ${f.name} on $table must be BIGINT, " +
              s"got ${f.dataType.simpleString}")
          Commit(v, Seq.empty, Seq.empty, "identityColumn", -1L,
            properties =
              Map(s"graft.identity.${f.name}" -> Some(s"$start,$step")))
        case None =>
          val newSchema = org.apache.spark.sql.types.StructType(
            schema :+ org.apache.spark.sql.types.StructField(colName,
              org.apache.spark.sql.types.LongType, nullable = true))
          val newMap = mappingAsOf(table).map { m =>
            schema.fieldNames.toSeq.map(n => n -> m.getOrElse(n, n)) :+
              (colName -> freshPhysName(table))
          }
          Commit(v, Seq.empty, Seq.empty, "identityColumn", -1L,
            schemaDdl = Some(newSchema.toDDL), colMap = newMap,
            properties =
              Map(s"graft.identity.$colName" -> Some(s"$start,$step")))
      }
    }
  }

  /** GENERATED ALWAYS enforcement for identity columns at the ingest
    * entrances: a present-but-all-NULL identity column is DROPPED (the
    * SQL INSERT column-list backfill shape — the writer simply did not
    * supply it), any non-null value REFUSES (identity values are
    * allocated by the commit, never caller-supplied). Rewrite paths
    * never come through here — the derived values they carry are
    * recomputed from the stable row ids at read anyway. */
  private def stripOrRefuseIdentity(df: DataFrame, table: String): DataFrame =
    identityCols(table).keys.foldLeft(df) { (d, c) =>
      d.columns.find(_.equalsIgnoreCase(c)) match {
        case None => d
        case Some(actual) =>
          if (!d.filter(col(actual).isNotNull).isEmpty)
            throw new IllegalArgumentException(
              s"txlog identity column '$c' on $table is GENERATED ALWAYS " +
                "— its values are allocated by the commit; omit the " +
                "column from the write")
          d.drop(actual)
      }
    }

  // -----------------------------------------------------------------------
  // Row tracking (Delta's row IDs): a STABLE per-row identity that
  // survives file rewrites. Fresh files get a commit-allocated base id
  // (id = base + parquet row_index — zero storage cost); every rewrite
  // path (UPDATE / DELETE / MERGE INTO / REPLACE WHERE / OPTIMIZE)
  // materializes surviving rows' ids into a physical `_graft_row_id`
  // column in the rewritten files, so reads resolve
  // coalesce(materialized, base + row_index). The hidden column never
  // enters the logical schema (commitRewrite/OPTIMIZE record the logical
  // DDL), so plain reads are unchanged; [[readWithRowIds]] exposes
  // `_row_id`. The feature is what makes a 100 TB table's rows
  // addressable across compactions — incremental feature pipelines and
  // CDC consumers key on it instead of fragile (file, offset) pairs.
  // -----------------------------------------------------------------------

  /** Hidden physical column carrying materialized row ids in rewritten
    * files. Reserved: user tables must not write it themselves. */
  private[graft] val RowIdCol = "_graft_row_id"

  /** Ingest paths refuse the reserved hidden column: a caller-supplied
    * value would be read back as a MATERIALIZED row id and could collide
    * with allocated ranges. (Rewrite paths legitimately carry it — they
    * do not pass through this check.) */
  private def refuseReservedCols(df: DataFrame): Unit =
    require(!df.columns.exists(_.equalsIgnoreCase(RowIdCol)),
      s"column $RowIdCol is reserved for row tracking — remove it from " +
        "the write (readWithRowIds exposes ids as _row_id, which is " +
        "droppable before a write-back)")

  /** Commit-recorded DDL for a rewrite frame: the LOGICAL schema —
    * the hidden row-id column stays out of it (it is physical plumbing,
    * like partition paths and DV sidecars). */
  private def logicalDdl(df: DataFrame): String =
    org.apache.spark.sql.types.StructType(
      df.schema.filterNot(_.name == RowIdCol)).toDDL

  def rowTrackingEnabled(table: String, asOf: Option[Long] = None): Boolean =
    properties(table, asOf).get("graft.rowTracking.enabled").contains("true")

  /** Enable row tracking. Only rows written AFTER enable get ids —
    * pre-enable files have no base recorded and read NULL (Delta's
    * backfill is likewise a separate rewrite; run [[optimizeSmall]] with
    * a huge threshold to force one here). Partitioned tables work: the
    * partition-grouped scan resolves ids per group, and a dynamic
    * partition OVERWRITE'd partition's rows are NEW rows (fresh ids) —
    * replacement is not a rewrite of the same rows. */
  def enableRowTracking(table: String): Long = {
    require(schemaAsOf(table).forall(!_.fieldNames.contains(RowIdCol)),
      s"enableRowTracking($table): the table already has a $RowIdCol " +
        "column — reserved for row tracking")
    setProperties(table, Map("graft.rowTracking.enabled" -> "true"))
  }

  /** First unallocated row id: max(base + width) over every allocation
    * ever committed (REMOVED files keep their slot — ids are never
    * reused, so a resurrected id can't collide). */
  private def rowIdHighWater(table: String): Long =
    stateAt(table, None).rowIdHighWater

  /** fileKey → base row id for EVERY allocation ever committed —
    * removed files included, which is what a catching-up stream needs:
    * a delivered file may have been rewritten away since its commit.
    * Metadata-sized (one entry per file ever added under tracking). */
  private[graft] def allRowIdBases(table: String): Map[String, Long] =
    commits(table)
      .flatMap(_.baseRowIds.map { case (f, b) => fileKey(f) -> b })
      .toMap

  /** fileKey → base row id for every allocation at or before `asOf`. */
  private def baseRowIdsAsOf(table: String,
      asOf: Option[Long]): Map[String, Long] =
    stateAt(table, asOf).baseRowIds

  /** The snapshot with its stable `_row_id` column (NULL for rows whose
    * file predates enable, or whose commit couldn't allocate) and
    * `_row_version` — the commit version that last physically WROTE the
    * row's file (Delta's default row commit version): bumps when the
    * row's file rewrites (UPDATE/OPTIMIZE), even if the row's own
    * values didn't change. Identity questions use `_row_id`; freshness
    * questions use `_row_version`. */
  def readWithRowIds(spark: SparkSession, table: String,
      asOf: Option[Long] = None): DataFrame = {
    val files = activeFiles(table, asOf)
    require(files.nonEmpty, s"txlog table $table has no committed files")
    // fileKey → the version of the commit that ADDED it (last add wins —
    // identical keys cannot coexist in an active set)
    val verByKey = commits(table)
      .filter(c => asOf.forall(c.version <= _))
      .flatMap(c => c.add.map(f => fileKey(f) -> c.version)).toMap
    readFiles(spark, table, files, asOf, keepRowKeys = true,
        withRowIds = true)
      .withColumn("_row_version",
        element_at(typedlit(verByKey), col("__dv_f")))
      .drop("__dv_f", "__dv_ri")
      .withColumnRenamed(RowIdCol, "_row_id")
  }

  /** Schema-on-write contract (Delta's enforcement + `mergeSchema`
    * evolution): same-name/different-type always throws; columns NEW in
    * `df` require `mergeSchema = true` and widen the table schema;
    * columns MISSING from `df` stay in the schema and read as NULL for
    * the new files. Returns the schema to record in the commit. */
  private def resolveSchema(table: String, df: DataFrame,
      mergeSchema: Boolean): org.apache.spark.sql.types.StructType =
    schemaAsOf(table) match {
      case None => df.schema
      case Some(cur) =>
        val curByName = cur.fields.map(f => f.name -> f).toMap
        df.schema.fields.foreach { f =>
          curByName.get(f.name).foreach { c =>
            require(c.dataType == f.dataType,
              s"txlog schema conflict on '${f.name}': table has " +
                s"${c.dataType.simpleString}, write has ${f.dataType.simpleString}")
          }
        }
        val added = df.schema.fields.filter(f => !curByName.contains(f.name))
        if (added.nonEmpty && !mergeSchema)
          throw new IllegalArgumentException(
            s"txlog schema enforcement: write adds column(s) " +
              s"${added.map(_.name).mkString(", ")} — pass mergeSchema=true to evolve")
        org.apache.spark.sql.types.StructType(
          cur.fields ++ added.map(_.copy(nullable = true)))
    }

  /** The skipping metadata of freshly staged `files`, which hold
    * `schema` (the physical schema the write used, partition columns
    * excluded; passing it skips parquet schema inference): per-file
    * (min, max) of `statsCols` and per-file bloom filters for
    * `bloomCols`, both physical names, from ONE distributed aggregation
    * grouped by input_file_name. The collect is one row per file —
    * bounds plus finished filters, O(batch files × filter bytes), the
    * same commit-bounded collected size as the commit itself.
    *
    * Stats: numeric and timestamp columns record double bounds
    * ([[doubleCastable]]); STRING columns record their bounds AS STRINGS
    * in `sstats` (Spark's min/max on strings is UTF8String binary order —
    * compared back with [[utf8Cmp]]). Casting a lexicographic string
    * min/max through double is never done: for numeric-looking strings it
    * records inverted garbage bounds ('100','9' → (100.0, 9.0)) that can
    * wrongly prune a file holding a contested merge key. Columns of any
    * other type record nothing — the file is simply never pruned on them,
    * the safe direction. A column all NULL within one file records no
    * bounds and no filter.
    *
    * Blooms: Spark's codegen'd sketch aggregate (partial filters OR
    * together map-side), staged as ONE sidecar parquet (file, col, bloom
    * BINARY; `file` is the staged relative path, which readers compare
    * through [[fileKey]] — a partitioned path has a third segment); the
    * sidecar's relative paths become the commit's `bloomAdd`. Filters are
    * sized at ~3 % fpp from the batch's largest file, clamped to the
    * sketch aggregate's ceilings. The row counts come from the staged
    * files' parquet footers ([[footers]], read once here and carried to
    * the commit in [[Staged]]), not from a counting pass:
    * a file whose footer cannot be read contributes no count, and the
    * filters are then sized from the largest count that was read (floor
    * 64). An over-full filter only costs extra false positives (extra
    * reads), never a missed row. A zero-row write (Spark still stages a
    * schema-only part file) has no groups: it records nothing. */
  private def fileMeta(spark: SparkSession, table: String,
      files: Seq[String], schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String], bloomCols: Seq[String]): Staged = {
    val numCols = statsCols.filter(c => doubleCastable(schema(c).dataType))
    val strCols = statsCols.filter(c =>
      schema(c).dataType == org.apache.spark.sql.types.StringType)
    val feet = footers(table, files)
    if (files.isEmpty || numCols.isEmpty && strCols.isEmpty && bloomCols.isEmpty)
      return Staged(files, Map.empty, Map.empty, Seq.empty, feet)
    lazy val est = math.min(math.max(
      feet.values.map(_._1).maxOption.getOrElse(0L), 64L), 4000000L)
    lazy val bits = math.min(est * 8L, 67108864L) // ~7.3 bits/key = 3% fpp
    if (bloomCols.nonEmpty) graft.functions.GraftFunctions.register(spark)
    val aggs = numCols.flatMap(c => Seq(min(col(c)).cast("double"),
      max(col(c)).cast("double"))) ++
      strCols.flatMap(c => Seq(min(col(c)), max(col(c)))) ++
      bloomCols.map(c => call_function("bloom_agg", xxhash64(col(c)),
        lit(est), lit(bits)))
    val rows = spark.read.schema(schema)
      .parquet(files.map(f => s"$table/$f"): _*)
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*)
      .collect()
    // canonical fileKey set lookup (last two path segments match between
    // the staged rel entries and input_file_name URIs) — no linear
    // suffix scan over the staged set
    val relByKey = files.map(f => fileKey(f) -> f).toMap
    val byFile = rows.toSeq.flatMap(r =>
      relByKey.get(fileKey(r.getString(0))).map(_ -> r))
    def bounds[T](cols: Seq[String], at: Int)(get: (Row, Int) => T)
        : Map[String, Map[String, (T, T)]] =
      byFile.map { case (rel, r) =>
        rel -> cols.zipWithIndex.flatMap { case (c, i) =>
          val (a, b) = (at + 2 * i, at + 2 * i + 1)
          Option.when(!r.isNullAt(a) && !r.isNullAt(b))(
            c -> (get(r, a), get(r, b)))
        }.toMap
      }.filter(_._2.nonEmpty).toMap
    val at = 1 + 2 * (numCols.size + strCols.size)
    val filters = byFile.flatMap { case (rel, r) =>
      bloomCols.zipWithIndex.collect { case (c, i) if !r.isNullAt(at + i) =>
        (rel, c, r.getAs[Array[Byte]](at + i))
      }
    }
    val bloomAdd = if (filters.isEmpty) Seq.empty else {
      val sub = s"bl-${UUID.randomUUID().toString.take(8)}"
      import spark.implicits._
      filters.toDF("file", "col", "bloom").coalesce(1)
        .write.parquet(s"$table/$sub")
      listDir(Paths.get(table, sub))
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .sorted
        .map(n => s"$sub/$n")
    }
    Staged(files, bounds(numCols, 1)(_.getDouble(_)),
      bounds(strCols, 1 + 2 * numCols.size)(_.getString(_)), bloomAdd, feet)
  }

  /** Types whose min/max cast to double losslessly enough for range
    * stats: numerics, and timestamps (epoch seconds — the same cast
    * [[mergeKeyBounds]] and range callers apply, so units always agree).
    * Event-time is the most common clustering column at lake scale;
    * without this a time-range read would open every footer. */
  private def doubleCastable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _: org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }

  /** Lexicographic comparison in UTF-8 byte (unsigned) order — the same
    * total order Spark's UTF8String binary collation uses for string
    * min/max, and therefore the ONLY order `sstats` bounds may be
    * compared in. Java's String.compareTo (UTF-16 code units) disagrees
    * on supplementary characters, so it is not used. */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Driver-side twin of `functions.xxhash64` (seed 42) — the SAME hash
    * the bloom build feeds per row, evaluated on one probe value. Hash
    * equality requires TYPE equality: an Int and a Long of the same value
    * hash differently, so probes are evaluated against the column's
    * logged type, never the caller's boxed type. */
  private def xxh64(v: Any, dt: org.apache.spark.sql.types.DataType): Long =
    new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)))
      .eval(null).asInstanceOf[Long]

  /** The active bloom sidecars as of `asOf`, read as one plain frame
    * (file, col, bloom BINARY), or None when there are none. Every
    * sidecar is written by [[fileMeta]] with that one schema, so it is
    * given, not inferred. One-shot lookups probe this frame; a keyed
    * write attempt probes its [[BloomIndex]]'s persisted copy instead. */
  private def sidecarFrame(spark: SparkSession, table: String,
      asOf: Option[Long]): Option[DataFrame] = {
    val bls = activeBlooms(table, asOf)
    Option.when(bls.nonEmpty)(spark.read
      .schema("file STRING, col STRING, bloom BINARY")
      .parquet(bls.map(resolve(table, _)): _*))
  }

  /** Columns any active bloom sidecar indexes — how rewrites (merge,
    * OPTIMIZE) know which filters to rebuild for their output files
    * without a table-properties store. The `col` column is one row per
    * (file, column) pair, metadata-sized, so it de-duplicates after the
    * collect rather than through a shuffled distinct. */
  private def activeBloomCols(spark: SparkSession, table: String,
      asOf: Option[Long]): Seq[String] =
    sidecarFrame(spark, table, asOf).fold(Seq.empty[String])(
      _.select("col").collect().map(_.getString(0)).toSeq.distinct)

  /** One-pass view of the active bloom sidecar set as of a single write
    * attempt's `base`. merge/applyChanges need THREE derived answers per
    * attempt — indexed columns, probe survivors, inert sidecars — and
    * asking each against a fresh `spark.read.parquet(sidecars)` was 3+
    * redundant distributed reads per commit attempt (repeated on every
    * optimistic-concurrency retry; at lake scale the sidecar set is
    * GBs). Here the frame loads ONCE and persists (filter bytes stay
    * distributed — never collected); [[skipFiles]] probes it, and the
    * (sidecar, file, col) manifest WITHOUT the bytes collects lazily,
    * metadata-sized, and answers the columns/inertness questions
    * driver-side. [[release]] when the attempt ends. */
  private final class BloomIndex(spark: SparkSession, table: String,
      base: Option[Long]) {
    val sidecars: Seq[String] = activeBlooms(table, base)
    /** The persisted sidecar frame [[skipFiles]] probes. */
    val frame: Option[DataFrame] = sidecarFrame(spark, table, base).map(
      _.withColumn("_bl", input_file_name())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    /** (sidecar uri, data file key, col) — one row per indexed pair. */
    private lazy val manifest: Seq[(String, String, String)] = frame match {
      case None => Seq.empty
      case Some(d) => d.select("_bl", "file", "col").distinct().collect()
        .map(r => (r.getString(0), fileKey(r.getString(1)), r.getString(2)))
        .toSeq
    }
    /** Columns any sidecar indexes (the [[activeBloomCols]] answer). */
    def cols: Seq[String] = manifest.map(_._3).distinct
    /** Sidecars whose every indexed file is outside `remainingKeys` —
      * nothing they index can be read again, so they retire with the
      * commit that removed their last file (the [[inertDvs]] pattern,
      * answered from the collected manifest). */
    def inert(remainingKeys: Set[String]): Seq[String] =
      sidecars.filter { bl =>
        val itsRefs = manifest.collect {
          case (uri, f, _) if uri.endsWith(fileKey(bl)) => f
        }
        itsRefs.nonEmpty && itsRefs.forall(f => !remainingKeys.contains(f))
      }
    def release(): Unit = frame.foreach(_.unpersist(false))
  }

  /** Probe values hash through `Literal.create(v, loggedType)`, whose
    * error modes are a footgun: an Int probe on a bigint column throws
    * an opaque Literal validation error, while TimestampType/DateType
    * silently accept a raw Long/Int as the INTERNAL value (micros/days)
    * — an epoch-millis Long probe would hash garbage and return a
    * silently-empty result. Validate the probe's runtime class against
    * the logged type's EXTERNAL class up front and fail descriptively. */
  private[graft] def probeClassOk(
      dt: org.apache.spark.sql.types.DataType, v: Any): Boolean = {
    import org.apache.spark.sql.types._
    v == null || (dt match {
      case ByteType => v.isInstanceOf[Byte]
      case ShortType => v.isInstanceOf[Short]
      case IntegerType => v.isInstanceOf[Int]
      case LongType => v.isInstanceOf[Long]
      case FloatType => v.isInstanceOf[Float]
      case DoubleType => v.isInstanceOf[Double]
      case StringType => v.isInstanceOf[String]
      case BooleanType => v.isInstanceOf[Boolean]
      case _: TimestampType => v.isInstanceOf[java.sql.Timestamp] ||
        v.isInstanceOf[java.time.Instant]
      case DateType => v.isInstanceOf[java.sql.Date] ||
        v.isInstanceOf[java.time.LocalDate]
      case _: DecimalType => v.isInstanceOf[java.math.BigDecimal] ||
        v.isInstanceOf[scala.math.BigDecimal]
      case BinaryType => v.isInstanceOf[Array[Byte]]
      case _ => true // exotic types: let Literal.create decide
    })
  }

  /** The point-lookup refusal: at least one probe value, a logged
    * column, and every value of the column's external class
    * ([[probeClassOk]]). */
  private def validateProbe(table: String, colName: String,
      values: Seq[Any], asOf: Option[Long]): Unit = {
    require(values.nonEmpty, "filesForEquals needs at least one probe value")
    val dt = schemaAsOf(table, asOf) match {
      case Some(sc) if sc.fieldNames.contains(colName) => sc(colName).dataType
      case _ => throw new IllegalArgumentException(
        s"txlog table $table has no logged column '$colName'")
    }
    values.foreach { v =>
      if (!probeClassOk(dt, v)) throw new IllegalArgumentException(
        s"txlog point-lookup on $table.$colName: probe value " +
          s"${v.getClass.getName}($v) does not match the logged type " +
          s"${dt.simpleString} — pass the column's external Scala type " +
          "(e.g. java.sql.Timestamp/Instant for timestamp, Long for bigint)")
    }
  }

  /** Active files that MIGHT contain any of `values` in `colName`:
    * partition values and range stats first (cheap, log-resident), then
    * the bloom index for files that carry one — the [[skipFiles]] rule.
    * For a key-clustered table the stats do the work; for the
    * hash-scattered high-cardinality key — where every file's [min, max]
    * spans the domain and stats prune NOTHING — the blooms prune to
    * ~fpp × files. Sound both ways: a bloom has no false negatives, and
    * stats-less/bloom-less files always pass. */
  def filesForEquals(spark: SparkSession, table: String, colName: String,
      values: Seq[Any], asOf: Option[Long] = None): Seq[String] = {
    validateProbe(table, colName, values, asOf)
    skipFiles(table, Skip(eq = Map(colName -> values)), asOf,
      sidecarFrame(spark, table, asOf))
  }

  /** Point-lookup read: scan only the files [[filesForEquals]] admits,
    * then apply the exact predicate (blooms prefilter files, never
    * answer). DV-filtered through the shared [[readFiles]] like every
    * other read path. */
  def readEquals(spark: SparkSession, table: String, colName: String,
      values: Seq[Any], asOf: Option[Long] = None): DataFrame = {
    validateProbe(table, colName, values, asOf)
    readPruned(spark, table, Map.empty, Map.empty, asOf,
      eqProbes = Map(colName -> values)).filter(col(colName).isin(values: _*))
  }

  /** Snapshot of the metadata a writer derives its commit from: logical
    * column names and types + column mapping. Compared across retry
    * attempts. Nullability is left out (`catalogString` omits it): NOT
    * NULL is enforced as a CHECK constraint, never through the schema's
    * nullability flags, and data rewrites (merge, optimize) re-record
    * whatever nullability their frame carries — a flip there is not a
    * concurrent schema change. */
  private[graft] def metaFingerprint(table: String,
      asOf: Option[Long] = None): MetaFingerprint =
    (schemaAsOf(table, asOf).map(_.catalogString), mappingAsOf(table, asOf))

  private[graft] type MetaFingerprint =
    (Option[String], Option[Map[String, String]])

  /** Refuse the commit when the table's schema/mapping as of `asOf`
    * (latest by default) no longer matches the snapshot this writer
    * staged under (Delta's ConcurrentMetadataChange rule — see
    * [[optimistic]]). */
  private[graft] def refuseIfMetaChanged(table: String, op: String,
      meta0: MetaFingerprint, asOf: Option[Long] = None): Unit =
    if (metaFingerprint(table, asOf) != meta0)
      throw new ConcurrentWriteException(
        s"txlog $op on $table: a concurrent commit changed the table " +
          "schema or column mapping during this write — re-read the " +
          "table and retry the operation (concurrent metadata change)")

  /** Jittered exponential backoff between optimistic-retry attempts
    * (Delta's commit backoff), applied by [[optimistic]] to every verb:
    * a data-rewriting writer re-stages its touched files on EVERY
    * attempt, so against a fast small-commit writer it can lose every
    * race in lockstep — before backoff, the two-writer spec saw `update`
    * give up after ten lost races under exactly that starvation. A
    * bounded random pause desynchronizes the writers; attempt 0 never
    * sleeps, the cap stays well under a second. */
  private def retryBackoff(attempt: Int): Unit =
    if (attempt > 0) {
      val cap = math.min(400L, 25L << math.min(attempt, 4))
      Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(cap / 2, cap + 1))
    }

  /** The one optimistic-commit path every mutating verb runs through.
    * Each attempt reads the base version and hands it to `attempt`, which
    * derives its commit from that snapshot and publishes it at base + 1:
    * Some(result) when it committed or had nothing to do, None when it
    * lost the version race. Conflict rules that depend on the verb's
    * read set ([[checkFileConflicts]], [[checkPartitionConflicts]], the
    * replay guard in [[tryCommit]]) stay in the verb.
    *
    * Metadata fingerprint: `stagedUnder` is the schema/mapping the verb
    * derived from — taken here at entry unless the verb staged its
    * schemaDdl / colMap / data files earlier and passes the fingerprint
    * it read first. Every attempt compares it against the fingerprint AT
    * ITS BASE, after the backoff: a commit at base + 1 only lands when
    * nothing landed past base, so a stale schemaDdl/colMap can never
    * publish. A mismatch means a concurrent RENAME/DROP/ADD COLUMN (or
    * evolving writer) landed — re-committing would silently REVERT it
    * (newest wins the fold), so the verb refuses instead, like Delta's
    * ConcurrentMetadataChange, which fails every concurrent transaction
    * on a metadata change (a verb that would re-derive cleanly refuses
    * too: one rule, not a per-verb judgement). Every retry backs off
    * ([[retryBackoff]]); ten lost races give up. */
  private def optimistic[R](table: String, op: String,
      stagedUnder: Option[MetaFingerprint] = None)(
      attempt: Option[Long] => Option[R]): R = {
    val meta0 = stagedUnder.getOrElse(metaFingerprint(table))
    var attempts = 0
    while (attempts < 10) {
      retryBackoff(attempts)
      val base = latestVersion(table)
      refuseIfMetaChanged(table, op, meta0, base)
      attempt(base) match {
        case Some(r) => return r
        case None => attempts += 1
      }
    }
    throw new IllegalStateException(
      s"txlog $op on $table lost 10 straight races — giving up")
  }

  /** [[optimistic]] for a commit that carries no data file (schema,
    * mapping, properties, constraints, protocol). `mk` builds the commit
    * for version `v` inside each attempt, so whatever it reads is at
    * least as new as the base `v - 1`: a commit that landed in between
    * makes `v` taken and the attempt retry. */
  private def commitNext(table: String, op: String)(mk: Long => Commit)
      : Long =
    optimistic(table, op) { base =>
      val v = base.getOrElse(0L) + 1
      if (tryCommit(table, mk(v))) Some(v) else None
    }

  /** Data files staged by [[stage]], the skipping metadata recorded
    * for them and their footer counts: what [[swap]] publishes. */
  private final case class Staged(add: Seq[String],
      stats: Map[String, Map[String, (Double, Double)]],
      sstats: Map[String, Map[String, (String, String)]],
      bloomAdd: Seq[String], feet: Map[String, FooterCounts])

  /** The write half every data-adding verb shares: [[writeData]] under
    * `mapping` (the one the commit publishes with — the committed
    * mapping, or a writer's extended or replacement one), then the
    * skipping metadata for the staged files ([[stageMeta]]), read with
    * the schema the write used: `df`'s under physical names, less the
    * partition columns [[writeData]] moves into the paths. */
  private def stage(df: DataFrame, table: String,
      mapping: Option[Map[String, String]],
      statsCols: Seq[String] = Seq.empty, bloomCols: Seq[String] = Seq.empty,
      blooms: Option[BloomIndex] = None): Staged = {
    val phys = physOf(mapping) _
    val partCols = declaredPartitionCols(table).map(phys).toSet
    val fileSchema = org.apache.spark.sql.types.StructType(df.schema.fields
      .toSeq.map(f => f.copy(name = phys(f.name), nullable = true))
      .filterNot(f => partCols(f.name)))
    stageMeta(df.sparkSession, table, writeData(df, table, mapping),
      fileSchema, mapping, statsCols, bloomCols, blooms)
  }

  /** Per-file stats and bloom sidecars ([[fileMeta]]) for `add`, files
    * already in the table directory that hold `schema` (PHYSICAL names,
    * partition columns excluded). The one column rule: the caller's
    * `statsCols`/`bloomCols`, plus the table's declared
    * `graft.stats.columns` and `graft.cluster.columns` (stats) and
    * `graft.bloom.columns` (blooms), plus every column an active sidecar
    * already indexes — `blooms` when the attempt holds the index, else
    * the latest snapshot's. A table configures its skipping layout once
    * and every writer records it (batch, streaming sink, SQL INSERT, DML
    * and OPTIMIZE rewrites), instead of each call site re-passing the
    * lists or silently producing never-pruned files. Declared cluster
    * columns record stats implicitly: clustering exists to make their
    * per-file ranges tight. Declared and sidecar names may be recorded in
    * either era's namespace, so they normalize physical→logical under
    * `mapping` and map back for [[fileMeta]]; a name in neither, or a
    * partition column (its value rides the path and prunes exactly),
    * drops at the column filter, the safe direction. */
  private def stageMeta(spark: SparkSession, table: String,
      add: Seq[String], schema: org.apache.spark.sql.types.StructType,
      mapping: Option[Map[String, String]], statsCols: Seq[String],
      bloomCols: Seq[String], blooms: Option[BloomIndex]): Staged = {
    val inv = logicalsOf(mapping)
    val columns = schema.fieldNames.toSeq.map(c => inv.getOrElse(c, c))
    def rule(own: Seq[String], derived: Seq[String]): Seq[String] =
      (own ++ derived.map(c => inv.getOrElse(c, c)))
        .distinct.filter(columns.contains).map(physOf(mapping))
    val stCols = rule(statsCols, declaredCols(table, "graft.stats.columns") ++
      declaredCols(table, "graft.cluster.columns"))
    val blCols = rule(bloomCols, declaredCols(table, "graft.bloom.columns") ++
      blooms.fold(activeBloomCols(spark, table, None))(_.cols))
    fileMeta(spark, table, add, schema, stCols, blCols)
  }

  /** The one tail every commit that adds or retires data files ends in:
    * publish `staged` at `base` + 1 in place of `remove` (files of
    * `active`, the attempt's active set), and retire the deletion
    * vectors and bloom sidecars the removal leaves inert — a DV or
    * sidecar whose every referenced file is gone can never match again,
    * and left active it stays vacuum-protected and read forever:
    *   - nothing removed: nothing retires (`active` is not consulted);
    *   - nothing kept: every active DV and sidecar retires, unread;
    *   - otherwise: those referencing no kept file ([[inertDvs]],
    *     [[BloomIndex.inert]], served from `blooms` when the attempt
    *     already holds the index). Kept entries normalize through
    *     fileKey, the form DV and sidecar refs are recorded in — a
    *     shallow clone's ABSOLUTE entry would otherwise never match,
    *     mis-retiring a live DV.
    * Some(version) when it committed; None when the version race was
    * lost (the caller's [[optimistic]] attempt re-derives).
    *
    * The `Commit`s built anywhere else, and why they stay there:
    *   - [[restore]] and [[clone]] re-point existing file sets rather
    *     than stage any; clone's entries are absolute references into
    *     another table;
    *   - [[deleteVectors]] adds a DV and no data file;
    *   - the metadata verbs (schema, mapping, properties, constraints,
    *     protocol) carry no data file and go through [[commitNext]];
    *   - [[createTable]] re-validates against a racing CREATE instead of
    *     taking [[optimistic]]'s metadata refusal. */
  private def swap(spark: SparkSession, table: String, base: Option[Long],
      active: Seq[String], remove: Seq[String], staged: Staged, op: String,
      schemaDdl: Option[String], batchId: Long = -1L,
      streamId: Option[String] = None,
      colMap: Option[Seq[(String, String)]] = None,
      extraProps: Map[String, Option[String]] = Map.empty,
      copySources: Seq[String] = Seq.empty,
      blooms: Option[BloomIndex] = None): Option[Long] = {
    val kept = active.diff(remove).map(fileKey).toSet
    val (dvRemove, bloomRemove) =
      if (remove.isEmpty) (Seq.empty, Seq.empty)
      else if (kept.isEmpty) (activeDvs(table, base), activeBlooms(table, base))
      else {
        val bi = blooms.getOrElse(new BloomIndex(spark, table, base))
        try (inertDvs(spark, table, activeDvs(table, base), kept),
          bi.inert(kept))
        finally if (blooms.isEmpty) bi.release()
      }
    val v = base.getOrElse(0L) + 1
    Option.when(publish(table, Commit(v, staged.add, remove, op, batchId,
      staged.stats, schemaDdl, dvRemove = dvRemove, sstats = staged.sstats,
      streamId = streamId, bloomAdd = staged.bloomAdd,
      bloomRemove = bloomRemove, colMap = colMap, copySources = copySources,
      properties = extraProps), staged.feet))(v)
  }

  /** The mapping a schema-evolving write (mergeSchema append or COPY
    * INTO) stages under, and the colMap its commit publishes: on a MAPPED
    * table each column of `schema` the mapping lacks binds a fresh
    * physical name, and the extended mapping rides the commit (the
    * not-yet-committed mapping is what the staged files were written
    * under, so it must publish with them). Unmapped tables: (None, None). */
  private def extendMapping(table: String,
      schema: org.apache.spark.sql.types.StructType)
      : (Option[Map[String, String]], Option[Seq[(String, String)]]) = {
    val mapping0 = mappingAsOf(table)
    val mapping = mapping0.map { m =>
      m ++ schema.fieldNames.filterNot(m.contains)
        .map(n => n -> freshPhysName(table))
    }
    (mapping, mapping.filter(m => !mapping0.contains(m))
      .map(m => schema.fieldNames.toSeq.map(n => n -> m(n))))
  }

  /** Append `df` as a new version; returns the committed version. With
    * `statsCols`, per-file min/max of those columns ride the commit for
    * [[readRange]] file skipping. Schema-on-write enforced; columns new
    * in `df` require `mergeSchema = true` (see [[resolveSchema]]). */
  def append(df0: DataFrame, table: String,
      statsCols: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false, batchId: Long = -1L,
      streamId: Option[String] = None,
      bloomCols: Seq[String] = Seq.empty,
      extraProps: Map[String, Option[String]] = Map.empty): Long = {
    refuseReservedCols(df0)
    // the schema/mapping this write stages under — read BEFORE deriving,
    // so a concurrent schema change during the data write refuses the
    // commit instead of being reverted by it (see [[optimistic]])
    val meta0 = metaFingerprint(table)
    val df = applyGenerated(stripOrRefuseIdentity(df0, table), table)
    val schema = resolveSchema(table, df, mergeSchema)
    validateConstraints(df, constraints(table))
    val (mapping, colMap) = extendMapping(table, schema)
    val staged = stage(df, table, mapping, statsCols, bloomCols)
    optimistic(table, "append", Some(meta0)) { base =>
      swap(df.sparkSession, table, base, Seq.empty, Seq.empty, staged,
        "append", Some(schema.toDDL), batchId, streamId, colMap, extraProps)
    }
  }

  private def declaredCols(table: String, prop: String): Seq[String] =
    properties(table).get(prop)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Declared partition columns of `table` (empty when unpartitioned) —
    * the `graft.partition.columns` property, parsed. */
  def declaredPartitionCols(table: String): Seq[String] =
    declaredCols(table, "graft.partition.columns")

  /** Replace the table contents with `df`; returns the committed version.
    * Overwrite REPLACES the schema too (rewriting every row is the one
    * write where a narrowing rewrite is well-defined), except that
    * same-name type changes still throw without `mergeSchema`. */
  def overwrite(df0: DataFrame, table: String,
      statsCols: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false, batchId: Long = -1L,
      streamId: Option[String] = None,
      bloomCols: Seq[String] = Seq.empty,
      extraProps: Map[String, Option[String]] = Map.empty): Long = {
    refuseReservedCols(df0)
    val meta0 = metaFingerprint(table) // staged-under, as in [[append]]
    val df = applyGenerated(stripOrRefuseIdentity(df0, table), table)
    if (!mergeSchema) resolveSchema(table, df, mergeSchema = true) // type check only
    validateConstraints(df, constraints(table))
    // overwrite REPLACES the schema, so the mapping follows suit: kept
    // columns keep their frozen physical names, brand-new ones bind
    // fresh, and entries for columns the new schema dropped leave the
    // mapping (their physical data leaves the active set with the
    // overwrite anyway)
    val mapping0 = mappingAsOf(table)
    val mapping = mapping0.map { m =>
      df.schema.fieldNames.toSeq.map { n =>
        n -> m.getOrElse(n, freshPhysName(table)) }.toMap
    }
    val colMap = mapping.filter(m => !mapping0.contains(m))
      .map(m => df.schema.fieldNames.toSeq.map(n => n -> m(n)))
    val staged = stage(df, table, mapping, statsCols, bloomCols)
    optimistic(table, "overwrite", Some(meta0)) { base =>
      val active = activeFiles(table, base)
      swap(df.sparkSession, table, base, active, active, staged, "overwrite",
        Some(df.schema.toDDL), batchId, streamId, colMap, extraProps)
    }
  }

  /** Raised under `graft.isolationLevel=serializable` when a concurrent
    * commit touched the same partition tuple(s) this writer replaces
    * (Delta's ConcurrentAppendException analog). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Partition-disjoint conflict rule (Delta's replaceWhere conflict
    * resolution): after a lost version race, decide whether the
    * intervening commits COMMUTE with this partition overwrite.
    *
    * Under the default isolation (unset), a lost race always re-derives
    * and retries — INSERT OVERWRITE semantics, last writer wins on a
    * contended tuple. With the table property
    * `graft.isolationLevel=serializable`, a commit that touched any of
    * this writer's partition tuples REFUSES instead (the blind overwrite
    * would silently erase the concurrent writer's rows); writers on
    * DISJOINT partitions still both commit, each on its own version —
    * the property that lets 1000 backfill jobs share one 100 TB table.
    * Conservative directions: a commit carrying property deltas, DV adds
    * (their row kills aren't attributable to partitions without reading
    * them), or files outside the declared layout conflicts with
    * everything. */
  private[graft] def checkPartitionConflicts(table: String, base: Option[Long],
      mine: Set[Map[String, Option[String]]], partCols: Seq[String]): Unit = {
    if (!properties(table).get("graft.isolationLevel")
      .contains("serializable")) return
    val sinceV = base.getOrElse(0L)
    commits(table).filter(_.version > sinceV).foreach { c =>
      if (c.properties.nonEmpty || c.constraint.nonEmpty)
        throw new ConcurrentWriteException(
          s"concurrent metadata commit v${c.version} on $table conflicts " +
            "with this partition overwrite under serializable isolation")
      if (c.dvAdd.nonEmpty && c.dvTargets.isEmpty)
        throw new ConcurrentWriteException(
          s"concurrent deletion-vector commit v${c.version} on $table " +
            "records no target attribution — serializable isolation " +
            "refuses (may touch any partition)")
      // DV commits WITH recorded targets conflict only through the data
      // files their row kills actually live in — the same partition
      // algebra as adds/removes (dvTargets are fileKeys, which keep the
      // col=value segment on partitioned layouts)
      val theirs = (c.add ++ c.remove ++ c.dvTargets).map(f =>
        partValuesOf(f).toMap.view.filterKeys(partCols.contains).toMap).toSet
      val outside = theirs.exists(t => t.keySet != partCols.toSet)
      val overlap = theirs.intersect(mine)
      if (outside || overlap.nonEmpty)
        throw new ConcurrentWriteException(
          s"concurrent commit v${c.version} (${c.op}) on $table touched " +
            s"partition(s) ${(if (outside) Set("<unpartitioned>") else
              Set.empty[String]) ++ overlap.map(_.toString)} that this " +
            "writer replaces — serializable isolation refuses the blind " +
            "overwrite")
    }
  }

  /** Row-level analog of [[checkPartitionConflicts]] (the file-disjoint
    * DML rule): after a lost version race, decide whether the commits
    * that landed since `base` COMMUTE with a DML write whose read/write
    * set is `mine` (fileKey form). Under the default isolation this is
    * a no-op — the caller re-derives against the new snapshot and
    * retries (predicate semantics, last writer wins a contended row).
    * Under `graft.isolationLevel=serializable`:
    *   - metadata commits (properties/constraints) conflict with
    *     everything, as in the partition rule;
    *   - data commits and attributed DV commits commute iff the files
    *     they added/removed/covered are DISJOINT from `mine` — two
    *     DELETEs on different files both commit, each on its own
    *     version (what lets many selective DML jobs share one 100 TB
    *     table), while overlapping writers refuse instead of silently
    *     re-deriving over each other's rows;
    *   - a DV commit with no recorded targets (older writer) conflicts
    *     with everything — conservative, never wrong.
    * Pure appends commute (new files are by construction disjoint) —
    * Delta's WriteSerializable posture, matching the partition rule. */
  private[graft] def checkFileConflicts(table: String, base: Option[Long],
      mine: Set[String], op: String): Unit = {
    if (!properties(table).get("graft.isolationLevel")
      .contains("serializable")) return
    val sinceV = base.getOrElse(0L)
    commits(table).filter(_.version > sinceV).foreach { c =>
      if (c.properties.nonEmpty || c.constraint.nonEmpty)
        throw new ConcurrentWriteException(
          s"concurrent metadata commit v${c.version} on $table conflicts " +
            s"with this $op under serializable isolation")
      if (c.dvAdd.nonEmpty && c.dvTargets.isEmpty)
        throw new ConcurrentWriteException(
          s"concurrent deletion-vector commit v${c.version} on $table " +
            "records no target attribution — serializable isolation " +
            s"refuses the $op")
      val theirs = (c.add ++ c.remove ++ c.dvTargets).map(fileKey).toSet
      val overlap = theirs.intersect(mine)
      if (overlap.nonEmpty)
        throw new ConcurrentWriteException(
          s"concurrent commit v${c.version} (${c.op}) on $table touched " +
            s"file(s) ${overlap.take(3).mkString(", ")}${
              if (overlap.size > 3) ", …" else ""} that this $op " +
            "reads/rewrites — serializable isolation refuses")
    }
  }

  /** Dynamic partition overwrite (Spark's `partitionOverwriteMode=
    * dynamic`, Delta's `replaceWhere` on exactly the incoming
    * partitions): atomically replace ONLY the partitions the batch
    * writes rows into — every other partition's files stay byte-
    * identical in place. THE lake-scale backfill shape: re-deriving one
    * day of a year-partitioned 100 TB gold table removes that day's
    * files and adds their replacements in one commit; a full
    * [[overwrite]] would rewrite the table. The replaced set is derived
    * from the STAGED files' own partition paths (no predicate to get
    * wrong); the table schema is unchanged (a partial replace has no
    * authority to evolve it — [[resolveSchema]] append semantics).
    *
    * Pre-declaration UNPARTITIONED active files may hold rows of any
    * partition, so selective replacement over them is inexpressible —
    * the write REFUSES loudly naming [[optimize]] (whose full rewrite
    * lands in the declared layout, healing the era) rather than
    * silently leaving stale rows beside the replacements. */
  def overwritePartitions(df0: DataFrame, table: String,
      statsCols: Seq[String] = Seq.empty, batchId: Long = -1L,
      streamId: Option[String] = None): Long = {
    refuseReservedCols(df0)
    val meta0 = metaFingerprint(table) // staged-under, as in [[append]]
    val df = applyGenerated(stripOrRefuseIdentity(df0, table), table)
    val spark = df.sparkSession
    val partCols = declaredCols(table, "graft.partition.columns")
      .filter(df.columns.contains)
    require(partCols.nonEmpty,
      s"overwritePartitions on $table requires declared " +
        "graft.partition.columns present in the batch — set the table " +
        "property (and keep the columns in the frame) or use overwrite()")
    val schema = resolveSchema(table, df, mergeSchema = false)
    validateConstraints(df, constraints(table))
    val mapping = mappingAsOf(table)
    val staged = stage(df, table, mapping, statsCols)
    // partition paths record the frozen PHYSICAL name under column
    // mapping — tuple matching (and the conflict rule) key physically,
    // the same namespace the staged files were just written in
    val physPartCols = partCols.map(physOf(mapping))
    def tupleOf(f: String): Map[String, Option[String]] =
      partValuesOf(f).toMap.view.filterKeys(physPartCols.contains).toMap
    val touched = staged.add.map(tupleOf).toSet
    optimistic(table, "overwritePartitions", Some(meta0)) { base =>
      val active = activeFiles(table, base)
      // a file whose path lacks ANY current declared partition column —
      // pre-partitioning files AND files from an EVOLVED-AWAY layout
      // (alterPartitioning) — may hold rows of any tuple: selective
      // replacement cannot be expressed over it
      val legacy = active.filter { f =>
        val carried = partValuesOf(f).map(_._1).toSet
        !physPartCols.forall(carried.contains)
      }
      require(legacy.isEmpty,
        s"overwritePartitions on $table: ${legacy.size} active file(s) " +
          "do not carry the declared partition layout (e.g. " +
          s"${legacy.headOption.getOrElse("")}) and may hold rows of any " +
          "partition — selective replacement cannot be expressed over " +
          "them. Run TxLog.migrateLayout (rewrites ONLY the legacy " +
          "files) or TxLog.optimize first")
      val remove = active.filter(f => touched.contains(tupleOf(f)))
      val won = swap(spark, table, base, active, remove, staged,
        "overwritePartitions", Some(schema.toDDL), batchId, streamId)
      // lost the race: commits landed past `base`. Disjoint-partition
      // writers re-derive (metadata-only — the data files are already
      // staged) and commit on the next version; under serializable
      // isolation a TRUE conflict on this writer's tuples refuses here.
      if (won.isEmpty)
        checkPartitionConflicts(table, base, touched, physPartCols)
      won
    }
  }

  /** SHOW PARTITIONS analog: the snapshot's distinct partition tuples
    * with their file counts and commit-recorded bytes — driver-side from
    * the same metadata-plane fold every read plans from (no filesystem
    * listing, no data scan). Unpartitioned files (pre-declaration era)
    * report under the empty tuple. */
  def partitions(table: String, asOf: Option[Long] = None)
      : Seq[(Map[String, Option[String]], Int, Long)] = {
    val sizes = fileSizes(table, asOf)
    // paths record physical names under column mapping — report logical
    val inv = logicalsOf(mappingAsOf(table, asOf))
    activeFiles(table, asOf)
      .groupBy(f => partValuesOf(f).toMap.map { case (k, v) =>
        inv.getOrElse(k, k) -> v })
      .map { case (tuple, fs) =>
        (tuple, fs.size, fs.map(f => sizes.getOrElse(f, 0L)).sum)
      }
      .toSeq.sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
  }

  /** `GENERATE symlink_format_manifest` (Delta's manifest generation for
    * external engines — Presto, Trino, Athena, DuckDB): write text
    * manifests listing the ABSOLUTE paths of the snapshot's active data
    * files under `<table>/_symlink_format_manifest/`. Unpartitioned
    * tables get one `manifest`; partitioned tables one per partition
    * directory (`<col=val>/manifest`, the raw escaped path segments),
    * matching Delta's layout so a Hive-style engine mounts each
    * partition. Regeneration REPLACES the manifest tree (a dropped
    * partition's manifest must disappear, not linger).
    *
    * Refuses while deletion vectors are active: a path manifest cannot
    * express row-level deletes, so an external reader would RESURRECT
    * DV-deleted rows — the remedy (REORG … APPLY (PURGE)) is named in
    * the error, the same contract as every refusal in this log.
    * Manifest entries are only ever ACTIVE files, which [[vacuum]]
    * never deletes — a generated manifest stays readable until the
    * next data change, at which point it is stale-by-contract (Delta
    * semantics: regenerate after writes, or use the auto property).
    * Returns (manifest path relative to the table, file count) rows. */
  def generateManifest(table: String, asOf: Option[Long] = None)
      : Seq[(String, Long)] = {
    require(activeDvs(table, asOf).isEmpty,
      s"GENERATE symlink_format_manifest on $table: the snapshot has " +
        "active deletion vectors, and a path manifest would resurrect " +
        "their deleted rows in external readers. Materialize them " +
        s"first: REORG TABLE txlog.`$table` APPLY (PURGE)")
    val files = activeFiles(table, asOf)
    val root = Paths.get(table, "_symlink_format_manifest")
    // group by the file's RAW escaped partition segments (between the
    // staging dir and the file name) — re-rendering unescaped values
    // would corrupt partition dirs containing escaped characters
    def partDir(f: String): String = {
      val segs = f.split('/')
      val lastStage = segs.lastIndexWhere(_.startsWith("d-"))
      if (lastStage < 0 || lastStage >= segs.length - 2) ""
      else segs.slice(lastStage + 1, segs.length - 1).mkString("/")
    }
    // each manifest lands by ATOMIC replace (tmp + move), so an external
    // reader mid-regeneration sees the old tree or the new one, never a
    // missing manifest; stale partition dirs (dropped partitions) are
    // swept only AFTER the fresh writes — a brief stale-but-consistent
    // window, the same contract as Delta's regeneration.
    // An EMPTY snapshot (everything deleted) still writes one empty root
    // manifest — an external reader must get zero rows, not
    // file-not-found (Delta's GENERATE does the same)
    val byPart =
      if (files.isEmpty) Seq("" -> Seq.empty[String])
      else files.groupBy(partDir).toSeq.sortBy(_._1)
    val out = byPart.map { case (part, fs) =>
      val dir = if (part.isEmpty) root else root.resolve(part)
      Files.createDirectories(dir)
      val lines = fs.map(f =>
        Paths.get(resolve(table, f)).toAbsolutePath.toString).sorted
      val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
      Files.write(tmp,
        (if (lines.isEmpty) "" else lines.mkString("\n") + "\n").getBytes)
      Files.move(tmp, dir.resolve("manifest"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val rel = Paths.get(table).relativize(dir.resolve("manifest"))
      (rel.toString, fs.size.toLong)
    }
    val live = byPart.map { case (part, _) =>
      (if (part.isEmpty) root else root.resolve(part)).normalize
    }.toSet
    if (Files.exists(root))
      walkDir(root)
        .filter(p => p.getFileName.toString == "manifest" &&
          !live.contains(p.getParent.normalize))
        .foreach { stale =>
          Files.deleteIfExists(stale)
          // prune now-empty partition dirs up to (not including) root
          var d = stale.getParent
          while (d != null && d.normalize != root.normalize &&
              listDir(d).isEmpty) {
            Files.deleteIfExists(d)
            d = d.getParent
          }
        }
    out
  }

  /** Per-file inventory of a snapshot — the `table_files` TVF's engine
    * ([[graft.sql.TableFilesTvf]]): (relative path, partition string,
    * recorded size, recorded row count, adding version, active-DV flag)
    * per active file. Metadata-plane only: one cached log fold plus the
    * active DV sidecars. Size/rows are None when the adding commit
    * predates recording (unknown, never zero); the adding version of a
    * file whose commit was retention-expired reports the horizon (the
    * earliest representable version). */
  def tableFiles(spark: SparkSession, table: String,
      asOf: Option[Long] = None)
      : Seq[(String, String, Option[Long], Option[Long], Long, Boolean)] = {
    val active = activeFiles(table, asOf)
    val st = stateAt(table, asOf)
    val inv = logicalsOf(mappingAsOf(table, asOf))
    val dvKeys = dvRefKeys(spark, table, activeDvs(table, asOf))
    val upTo = asOf.getOrElse(Long.MaxValue)
    val addedV: Map[String, Long] = commits(table)
      .filter(_.version <= upTo)
      .flatMap(c => c.add.map(_ -> c.version)).toMap
    val floor = retentionHorizon(table).getOrElse(1L)
    active.map { f =>
      val part = partValuesOf(f).toMap.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${inv.getOrElse(k, k)}=${v.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
      }.mkString("/")
      (f, if (part.isEmpty) "<unpartitioned>" else part,
        st.sizes.get(f), st.rows.get(f),
        addedV.getOrElse(f, floor), dvKeys.contains(fileKey(f)))
    }
  }

  /** One data-skipping question, asked of every active file by
    * [[skipFiles]]. Column names are LOGICAL. A file survives only if it
    * may satisfy EVERY entry (conjunctive — the multi-dimensional win of
    * Z-order/Hilbert clustering, where each clustered column's ranges
    * are simultaneously tight per file):
    *   - `num`: closed double ranges (numeric columns; timestamps as the
    *     epoch-seconds cast their stats recorded);
    *   - `str`: closed ranges in UTF-8 byte order ([[utf8Cmp]]);
    *   - `eq`: equality values — the file may hold at least one (a null
    *     value equals nothing, SQL `=`/IN semantics);
    *   - `isNull` / `isNotNull`: NULL-ness predicates;
    *   - `hashes`: precomputed xxhash64 probes tested against the bloom
    *     sidecars, beside the ones `eq` derives. */
  private final case class Skip(
      num: Map[String, (Double, Double)] = Map.empty,
      str: Map[String, (String, String)] = Map.empty,
      eq: Map[String, Seq[Any]] = Map.empty,
      isNull: Set[String] = Set.empty,
      isNotNull: Set[String] = Set.empty,
      hashes: Map[String, Array[Long]] = Map.empty)

  /** THE file-skipping rule: the active files as of `asOf` that may hold
    * a row satisfying `spec`, in one pass over the snapshot. Every pruned
    * read and every keyed prune asks it. Per file, in a fixed order:
    *
    *   1. exact partition values — a file whose path records col=2019
    *      cannot hold a 2020 row, whatever its stats say (Delta prunes
    *      partitionValues before stats the same way), and a
    *      null-partition file holds only nulls in the column;
    *   2. the commit-recorded `stats` / `sstats` [min, max];
    *   3. footer null counts — nulls == 0 rules out IS NULL,
    *      nulls == rows IS NOT NULL;
    *   4. last, the bloom sidecars in `sidecars` (probed only when some
    *      file survives 1–3 and a hash test exists).
    *
    * Files without a recorded partition value, stat, count or filter for
    * a column pass that column's test — pruning only ever narrows, a
    * missed lookup degrades pruning, never correctness. */
  private def skipFiles(table: String, spec: Skip, asOf: Option[Long],
      sidecars: => Option[DataFrame] = None): Seq[String] = {
    val st = stateAt(table, asOf)
    val logged = schemaAsOf(table, asOf).fold(Map.empty[String,
      org.apache.spark.sql.types.DataType])(_.fields.map(f => f.name -> f.dataType).toMap)
    // Mixed-era-log guard: logs written before sstats existed recorded
    // DOUBLE-CAST bounds for string columns — for numeric-looking strings
    // those are inverted garbage ('100' < '9' as doubles), and pruning
    // from them drops live files. Numeric bounds are only trusted when
    // the column's CURRENT logged type soundly casts to double
    // ([[doubleCastable]]); unknown schema or unknown column → never
    // prune, the safe direction. Tables written from r11 on no longer
    // record numeric stats for string columns, but 100 TB tables carry
    // their old log eras forever — the reader must not assume the era.
    val trusted = logged.filter(e => doubleCastable(e._2)).keySet
    // spec names are LOGICAL (`trusted` holds logical names);
    // stats, null counts, partition paths and sidecar `col` entries are
    // recorded PHYSICAL — translate at the lookup only
    val phys = physOf(mappingAsOf(table, asOf)) _
    val kept = activeFiles(table, asOf).filter { f =>
      lazy val pvals = partValuesOf(f).toMap
      def numStat(c: String) = st.stats.get(f).flatMap(_.get(phys(c)))
        .filter(_ => trusted(c))
      def strStat(c: String) = st.sstats.get(f).flatMap(_.get(phys(c)))
      def nulls(c: String) = st.nulls.get(f).flatMap(_.get(phys(c)))
      def allNull(c: String) = (nulls(c), st.rows.get(f)) match {
        case (Some(n), Some(r)) => r > 0 && n == r
        case _ => false
      }
      def numIn(d: Double, lo: Double, hi: Double) = d >= lo && d <= hi
      def strIn(v: String, lo: String, hi: String) =
        utf8Cmp(v, lo) >= 0 && utf8Cmp(v, hi) <= 0
      // 1 then 2: a partition value decides where it can; else the stats
      spec.num.forall { case (c, (lo, hi)) =>
        pvals.get(phys(c)) match {
          case Some(None) => false
          case Some(Some(v)) if trusted(c) && v.toDoubleOption.isDefined =>
            numIn(v.toDouble, lo, hi)
          case _ => numStat(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
        }
      } &&
      spec.str.forall { case (c, (lo, hi)) =>
        pvals.get(phys(c)) match {
          case Some(Some(v)) => strIn(v, lo, hi)
          case Some(None) => false
          case None => strStat(c).forall { case (mn, mx) =>
            utf8Cmp(mx, lo) >= 0 && utf8Cmp(mn, hi) <= 0 }
        }
      } &&
      spec.eq.forall { case (c, vs) =>
        pvals.get(phys(c)) match {
          // exact string match for string values, double-domain match for
          // numeric — unknown probe types never prune
          case Some(pv) => vs.exists(p => p != null && ((pv, p) match {
            case (Some(v), s: String) => v == s
            case (Some(v), n: Number) => v.toDoubleOption.contains(n.doubleValue)
            case (None, _) => false
            case _ => true
          }))
          // a numeric value meets the stats only when its class is the
          // column's own (a Long on a timestamp column is not epoch seconds)
          case None => vs.exists {
            case null => false
            case n: Number if logged.get(c).exists(probeClassOk(_, n)) =>
              numStat(c).forall { case (mn, mx) => numIn(n.doubleValue, mn, mx) }
            case s: String => strStat(c).forall { case (mn, mx) =>
              strIn(s, mn, mx) }
            case _ => true
          }
        }
      } &&
      // 3: footer null counts (partition columns record none — their
      // NULL-ness is the path's)
      spec.isNull.forall(c => pvals.get(phys(c)) match {
        case Some(pv) => pv.isEmpty
        case None => !nulls(c).contains(0L)
      }) &&
      spec.isNotNull.forall(c => pvals.get(phys(c)) match {
        case Some(pv) => pv.nonEmpty
        case None => !allNull(c)
      })
    }
    // 4: blooms answer "does this file plausibly hold THIS value" — the
    // hash-scattered point-lookup case where ranges prune nothing. An
    // equality column hashes only when every value's runtime class
    // matches the logged type (an SQL comparison coerces rather than
    // errors, and a type-crossed hash would false-negative); null values
    // match nothing and hash nothing.
    val eqHashes = spec.eq.flatMap { case (c, vs) =>
      logged.get(c).collect {
        case dt if vs.forall(probeClassOk(dt, _)) =>
          c -> vs.filter(_ != null).map(xxh64(_, dt)).toArray
      }
    }
    val tests = (eqHashes ++ spec.hashes).map { case (c, hs) => phys(c) -> hs }
    if (kept.isEmpty || tests.isEmpty) kept
    else sidecars match {
      case None => kept
      case Some(frame) =>
        // a file is pruned only when it HAS a filter for a tested column
        // and NONE of that column's probe hashes hit. The probing runs
        // WHERE THE SIDECARS ARE READ — executors deserialize each
        // (file, col) filter once, test the probe hashes, and only
        // (file, col) MISSES collect (bounded by candidates × tested
        // columns; filter bytes never move to the driver — at lake scale
        // the active index is GBs across 100 k files)
        val candKeys = kept.map(fileKey).toSet
        import frame.sparkSession.implicits._
        val misses = frame.select("file", "col", "bloom")
          .as[(String, String, Array[Byte])]
          .mapPartitions { it =>
            it.filter { case (f, c, bytes) =>
              candKeys.contains(fileKey(f)) && tests.contains(c) && {
                val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(bytes))
                !tests(c).exists(bf.mightContainLong)
              }
            }.map(t => fileKey(t._1))
          }.collect().toSet
        kept.filterNot(f => misses.contains(fileKey(f)))
    }
  }

  /** Active files whose recorded [min, max] for `colName` intersects
    * [lo, hi] — plus every file committed WITHOUT stats (those must be
    * read). Stats are folded from the full commit log (commits are never
    * deleted, so files surviving [[compact]] checkpoints still find
    * theirs). */
  def filesForRange(table: String, colName: String, lo: Double, hi: Double,
      asOf: Option[Long] = None): Seq[String] =
    filesForRanges(table, Map(colName -> (lo, hi)), asOf)

  /** Multi-column form: a file survives only if EVERY predicate's range
    * intersects its recorded [min, max] — see [[skipFiles]]. */
  def filesForRanges(table: String, ranges: Map[String, (Double, Double)],
      asOf: Option[Long] = None): Seq[String] =
    skipFiles(table, Skip(num = ranges), asOf)

  /** String twin of [[filesForRanges]]: active files whose recorded
    * `sstats` [min, max] for each column intersects [lo, hi] in UTF-8
    * byte order ([[utf8Cmp]] — the order the bounds were recorded in),
    * plus every file committed without string stats. */
  def filesForStringRange(table: String, colName: String, lo: String,
      hi: String, asOf: Option[Long] = None): Seq[String] =
    skipFiles(table, Skip(str = Map(colName -> (lo, hi))), asOf)

  /** Stats-pruned range read: plan only the files [[filesForRange]] keeps
    * (the Delta data-skipping read path — at fleet scale this is the
    * difference between opening every footer and opening the log), then
    * apply the exact row-level filter. Result is identical to filtering a
    * full [[read]]. */
  def readRange(spark: SparkSession, table: String, colName: String,
      lo: Double, hi: Double, asOf: Option[Long] = None): DataFrame =
    readRanges(spark, table, Map(colName -> (lo, hi)), asOf)

  /** Multi-column stats-pruned read — see [[filesForRanges]]. */
  def readRanges(spark: SparkSession, table: String,
      ranges: Map[String, (Double, Double)],
      asOf: Option[Long] = None): DataFrame =
    ranges.foldLeft(readPruned(spark, table, ranges, Map.empty, asOf)) {
      case (df, (c, (lo, hi))) =>
        // timestamp columns compare through the same epoch-seconds double
        // cast their stats recorded; numeric columns compare natively so
        // the predicate still pushes to the parquet scan
        val cc =
          if (df.schema(c).dataType
              .isInstanceOf[org.apache.spark.sql.types.TimestampType])
            col(c).cast("double")
          else col(c)
        df.filter(cc >= lo && cc <= hi)
    }

  private sealed trait GenShape
  private final case class GenYear(base: String) extends GenShape
  private final case class GenMonth(base: String) extends GenShape
  private final case class GenDay(base: String) extends GenShape
  private final case class GenDate(base: String) extends GenShape
  private final case class GenFormat(base: String, fmt: String)
    extends GenShape
  private final case class GenPrefix(base: String, n: Int) extends GenShape
  private final case class GenBucket(base: String, n: Int) extends GenShape

  /** Timestamp formats whose output ORDER equals input order (calendar
    * units in strictly decreasing significance) — the ones a derived
    * lexicographic range is sound for. */
  private val MonotoneFormats = Set("yyyy", "yyyy-MM", "yyyy-MM-dd",
    "yyyy-MM-dd HH", "yyyy-MM-dd HH:mm", "yyyy-MM-dd HH:mm:ss")

  private def genShape(exprText: String): Option[GenShape] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    def attr(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    scala.util.Try(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(exprText)).toOption.flatMap {
      case f: UnresolvedFunction =>
        (f.nameParts.map(_.toLowerCase).mkString("."), f.arguments) match {
          case ("year", Seq(a)) => attr(a).map(GenYear)
          case ("month", Seq(a)) => attr(a).map(GenMonth)
          case ("day" | "dayofmonth", Seq(a)) => attr(a).map(GenDay)
          case ("to_date" | "date", Seq(a)) => attr(a).map(GenDate)
          case ("date_format", Seq(a, Literal(fmt, _)))
            if fmt != null && MonotoneFormats.contains(fmt.toString) =>
            attr(a).map(GenFormat(_, fmt.toString))
          case ("substring" | "substr", Seq(a, Literal(s, _), Literal(n, _)))
            if s != null && s.toString == "1" &&
              n != null && n.toString.forall(_.isDigit) =>
            attr(a).map(GenPrefix(_, n.toString.toInt))
          // the bucket transform (Iceberg's bucket(n, col), spelled in
          // the engine's own vocabulary): pmod of Spark's murmur3 hash.
          // `hash(b) % n` is NOT recognized — Spark's % is a remainder
          // (negative for negative hashes) so files would land in
          // negative partitions; pmod is the canonical non-negative form
          case ("pmod", Seq(inner: UnresolvedFunction, Literal(n, _)))
            if n != null && n.toString.forall(_.isDigit) &&
              n.toString.toInt > 0 &&
              inner.nameParts.map(_.toLowerCase).mkString(".") == "hash" &&
              inner.arguments.size == 1 =>
            attr(inner.arguments.head).map(GenBucket(_, n.toString.toInt))
          case _ => None
        }
      case c: Cast if c.dataType ==
        org.apache.spark.sql.types.DateType => attr(c.child).map(GenDate)
      case _ => None
    }
  }

  /** GENERATED-COLUMN PARTITION PRUNING (Delta's optimization): when a
    * partition column is GENERATED from a base column by a
    * monotone-enough expression, a pushed bound on the BASE column
    * implies a bound on the partition column — `WHERE ts BETWEEN …`
    * prunes a `date(ts)`-partitioned 100 TB table's directories even
    * though the query never names the partition column. Derivations:
    *   - `year(b)` (timestamp b) → numeric year range
    *   - `month(b)` / `day(b)` (cyclic units) → numeric range ONLY when
    *     the next coarser unit is constant across the padded bound — a
    *     cross-boundary range could wrap (Dec..Jan is {12, 1}).
    *     `hour(b)` is DELIBERATELY absent: its coarser unit is the day,
    *     and the ±14 h timezone pad alone spans more than a day's worth
    *     of hours in the guard window, so the same-day condition can
    *     never hold on a padded bound — there is no sound hour
    *     derivation to write. An hour-granular layout that wants this
    *     prune must generate `date_format(b, 'yyyy-MM-dd HH')` instead
    *     (non-cyclic, derives as a monotone string; pinned by
    *     GeneratedPartitionPruneSpec). Do NOT "fix" hour by dropping the
    *     pad or the guard — both directions are load-bearing for
    *     soundness under arbitrary session timezones
    *   - `to_date(b)` / `date(b)` / `cast(b AS date)` → ISO date-string
    *     range (lexicographic = chronological)
    *   - `date_format(b, f)`, f prefix-monotone (yyyy[-MM[-dd …]]) →
    *     formatted-string range
    *   - `substring(b, 1, n)` (string b) → prefix range
    * Calendar derivations pad the epoch bound by ±14 h before
    * truncating, so they stay sound under ANY session timezone; a
    * derived bound only ever NARROWS the candidate file set the exact
    * row-level filter then reads, so a missed derivation costs pruning,
    * never correctness. Derivation is skipped when the query already
    * constrains the generated column itself. */
  def deriveGeneratedPartitionBounds(table: String, asOf: Option[Long],
      num: Map[String, (Double, Double)],
      str: Map[String, (String, String)]):
      (Map[String, (Double, Double)], Map[String, (String, String)]) = {
    val gens = generatedCols(table, asOf)
    if (gens.isEmpty) return (num, str)
    val schema = schemaAsOf(table, asOf)
    def isTs(c: String): Boolean = schema.exists(_.fields.exists(f =>
      f.name == c &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType]))
    val TzPad = 50400L // ±14 h: the widest UTC offset in use
    val utc = java.time.ZoneOffset.UTC
    def zdt(sec: Double, shift: Long) =
      java.time.Instant.ofEpochSecond(sec.toLong + shift).atZone(utc)
    var num2 = num
    var str2 = str
    gens.foreach { case (g, exprText) =>
      if (!num.contains(g) && !str.contains(g)) genShape(exprText).foreach {
        case GenYear(b) if isTs(b) => num.get(b).foreach { case (lo, hi) =>
          val loY = if (lo.isInfinite) lo else zdt(lo, -TzPad).getYear.toDouble
          val hiY = if (hi.isInfinite) hi else zdt(hi, TzPad).getYear.toDouble
          num2 += g -> (loY, hiY)
        }
        // month/day/hour are CYCLIC — monotone only while the next
        // coarser unit is constant across the padded bound, so each
        // derives only under that guard (a cross-boundary range could
        // wrap: Dec..Jan is months {12, 1}, not [1, 12]-tight)
        case GenMonth(b) if isTs(b) => num.get(b).foreach { case (lo, hi) =>
          if (lo.isFinite && hi.isFinite) {
            val (l, h) = (zdt(lo, -TzPad), zdt(hi, TzPad))
            if (l.getYear == h.getYear)
              num2 += g -> (l.getMonthValue.toDouble, h.getMonthValue.toDouble)
          }
        }
        case GenDay(b) if isTs(b) => num.get(b).foreach { case (lo, hi) =>
          if (lo.isFinite && hi.isFinite) {
            val (l, h) = (zdt(lo, -TzPad), zdt(hi, TzPad))
            if (l.getYear == h.getYear && l.getMonthValue == h.getMonthValue)
              num2 += g -> (l.getDayOfMonth.toDouble, h.getDayOfMonth.toDouble)
          }
        }
        case GenDate(b) if isTs(b) => num.get(b).foreach { case (lo, hi) =>
          if (lo.isFinite && hi.isFinite) str2 += g ->
            (zdt(lo, -TzPad).toLocalDate.toString,
              zdt(hi, TzPad).toLocalDate.toString)
        }
        case GenFormat(b, fmt) if isTs(b) =>
          num.get(b).foreach { case (lo, hi) =>
            if (lo.isFinite && hi.isFinite) {
              val f = java.time.format.DateTimeFormatter.ofPattern(fmt)
              str2 += g -> (zdt(lo, -TzPad).format(f), zdt(hi, TzPad).format(f))
            }
          }
        case GenPrefix(b, n) => str.get(b).foreach { case (lo, hi) =>
          // take(n) counts UTF-16 units, Spark's substring counts code
          // points — identical unless a surrogate pair is in play, so
          // derivation skips those (missing a prune, never a row)
          if (!lo.exists(_.isSurrogate) && !hi.exists(_.isSurrogate))
            str2 += g -> (lo.take(n), hi.take(n))
        }
        case _ => ()
      }
    }
    (num2, str2)
  }

  /** Base-column types a bucket derivation may hash: exactly the types
    * [[probeClassOk]] validates by EXTERNAL class. The `_ => true`
    * exotic fallback probeClassOk allows elsewhere is deliberately NOT
    * honored here — a bucket computed from a wrongly-constructed Literal
    * would prune the wrong files silently, so only types whose external
    * representation is pinned participate. */
  private def bucketHashable(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | StringType | BooleanType | DateType => true
      case _: TimestampType | _: DecimalType => true
      case _ => false
    }
  }

  /** The bucket `pmod(hash(v), n)` assigns — computed with Spark's OWN
    * murmur3 expression (`hash`, seed 42) over a Literal of the logged
    * base type, so it equals the value the write path materialized by
    * construction (both sides evaluate the identical expression tree). */
  private def bucketOf(v: Any,
      dt: org.apache.spark.sql.types.DataType, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = new Murmur3Hash(Seq(Literal.create(v, dt)))
      .eval(null).asInstanceOf[Int]
    ((h % n) + n) % n
  }

  /** BUCKET-TRANSFORM PRUNING (Iceberg's `bucket(n, col)` partition
    * transform, declared here as `g GENERATED ALWAYS AS
    * (pmod(hash(b), n))` + partition-by-g): an equality probe on the
    * BASE column implies the exact bucket, so `WHERE user_id = ?` on a
    * 100 TB bucket-partitioned table opens 1/n of its files even though
    * hash scatter makes min/max stats useless and the query never names
    * the bucket column. The derived probe then prunes through the same
    * [[readPruned]] machinery as an explicit one: partition-value
    * equality first, blooms after.
    *
    * Soundness: the bucket is computed driver-side by the identical
    * Spark expression the write path evaluated (murmur3 seed 42 +
    * non-negative pmod) over a Literal of the logged base type; probes
    * whose runtime class does not exactly match that type derive
    * NOTHING (a coerced hash would prune wrong files silently —
    * same posture as the bloom path's class-exact rule). Derivation is
    * skipped when the query already constrains the bucket column
    * itself, and a missed derivation costs pruning, never correctness
    * (the exact row-level filter still runs above the scan). */
  def deriveGeneratedEqProbes(table: String, asOf: Option[Long],
      eqProbes: Map[String, Seq[Any]],
      constrained: Set[String] = Set.empty): Map[String, Seq[Any]] = {
    if (eqProbes.isEmpty) return eqProbes
    val gens = generatedCols(table, asOf)
    if (gens.isEmpty) return eqProbes
    val schema = schemaAsOf(table, asOf)
    def dtOf(c: String) = schema.flatMap(_.fields.find(_.name == c))
      .map(_.dataType)
    var out = eqProbes
    gens.foreach { case (g, exprText) =>
      if (!out.contains(g) && !constrained.contains(g))
        genShape(exprText) match {
          case Some(GenBucket(b, n)) =>
            for {
              vs <- eqProbes.get(b)
              dt <- dtOf(b)
              if vs.nonEmpty && bucketHashable(dt) &&
                vs.forall(v => v != null && probeClassOk(dt, v))
              buckets <- scala.util.Try(
                vs.map(bucketOf(_, dt, n): Any).distinct).toOption
            } out += g -> buckets
          case _ => ()
        }
    }
    out
  }

  /** Combined pruned read for RELATION integration (the SQL data source
    * derives per-column bounds, equality probes and NULL-ness columns
    * from its pushed-down filters and calls this): scan only the files
    * [[skipFiles]] keeps for all of them — partition values, numeric and
    * string stats, footer null counts, then the bloom index for the
    * equality probes. Returns the files UNFILTERED at row level — the
    * caller (Spark, re-evaluating residual predicates above the scan)
    * owns exactness; this owns never dropping a file that could hold a
    * matching row (stats-less files always pass, string columns never
    * consult legacy numeric stats). */
  def readPruned(spark: SparkSession, table: String,
      numRanges: Map[String, (Double, Double)],
      strRanges: Map[String, (String, String)],
      asOf: Option[Long] = None,
      eqProbes: Map[String, Seq[Any]] = Map.empty,
      isNullCols: Set[String] = Set.empty,
      isNotNullCols: Set[String] = Set.empty): DataFrame = {
    // a range or equality on a column implies it IS NOT NULL: a file ALL
    // null for a compared column holds no matching row — the prune
    // min/max stats can't make (an all-null file records no bounds)
    val compared = numRanges.keySet ++ strRanges.keySet ++ eqProbes.keySet
    val keep = skipFiles(table, Skip(numRanges, strRanges, eqProbes,
      isNullCols, isNotNullCols ++ compared), asOf,
      sidecarFrame(spark, table, asOf))
    // degenerate: keep the schema, scan nothing
    if (keep.isEmpty) read(spark, table, asOf).limit(0)
    else readFiles(spark, table, keep, asOf)
  }

  /** Stats-pruned STRING range read — the sstats twin of [[readRange]]:
    * plan only the files [[filesForStringRange]] keeps (bounds compared
    * in UTF-8 byte order, the order Spark's string comparison operators
    * and the recorded min/max both use), then apply the exact row-level
    * filter. Result is identical to filtering a full [[read]] — files
    * without recorded string stats are always read. */
  def readStringRange(spark: SparkSession, table: String, colName: String,
      lo: String, hi: String, asOf: Option[Long] = None): DataFrame =
    readPruned(spark, table, Map.empty, Map(colName -> (lo, hi)), asOf)
      .filter(col(colName) >= lo && col(colName) <= hi)

  /** Per-column bounds of the merge keys over the incoming batch, as a
    * [[Skip]] (empty when no column can prune): numeric/timestamp key
    * columns yield double bounds (pruned against `stats`), string key
    * columns lexicographic bounds (pruned against `sstats` — NEVER cast
    * through double: '9' > '100' lexicographically but 9.0 < 100.0, so a
    * double-cast bound can wrongly prune a file holding a contested key,
    * leaving a stale row beside the new one). Composite keys prune
    * CONJUNCTIVELY: a file can hold a contested composite key only if
    * EVERY bounded column's recorded range intersects that column's
    * batch bounds, so each soundly-bounded column narrows the touched set
    * independently. A column contributes no bound when its type has no
    * sound stats (only numeric/timestamp and string qualify) or when the
    * batch has ANY null in it — a null-keyed incoming row contests
    * existing rows whose value in that column is null, and those rows sit
    * outside every recorded range (stats ignore nulls), so pruning on
    * that column could strand a stale row. Empty batch → no bounds
    * (caller keeps the historical full-rewrite behavior). One
    * driver-side aggregate row for all columns. */
  private def mergeKeyBounds(updates: DataFrame,
      keyCols: Seq[String]): Skip = {
    val numCols = keyCols.filter(c => doubleCastable(updates.schema(c).dataType))
    val strCols = keyCols.filter(c =>
      updates.schema(c).dataType == org.apache.spark.sql.types.StringType)
    if (numCols.isEmpty && strCols.isEmpty) return Skip()
    val aggs = Seq(count(lit(1)).alias("__n")) ++
      numCols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double")), count(col(c)))) ++
      strCols.flatMap(c => Seq(min(col(c)), max(col(c)), count(col(c))))
    val r = updates.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    if (n == 0L) return Skip()
    def slot[T](base: Int, i: Int, get: (Row, Int) => T): Option[(T, T)] = {
      val at = base + 3 * i
      if (r.getLong(at + 2) != n || r.isNullAt(at)) None
      else Some((get(r, at), get(r, at + 1)))
    }
    val num = numCols.zipWithIndex.flatMap { case (c, i) =>
      slot(1, i, _.getDouble(_)).map(c -> _) }.toMap
    val str = strCols.zipWithIndex.flatMap { case (c, i) =>
      slot(1 + 3 * numCols.size, i, _.getString(_)).map(c -> _) }.toMap
    Skip(num = num, str = str)
  }

  /** Ceiling on distinct per-column probe hashes a merge batch may test
    * against the bloom index. A CDC batch under the cap probes cheaply;
    * a bulk batch over it skips bloom refinement — at that size the
    * batch plausibly touches most files anyway and the range bounds
    * already did the honest cut. */
  private val MergeBloomProbeCap = 20000

  /** Per-key-column distinct xxhash64 probes of a merge batch, for
    * columns under [[MergeBloomProbeCap]]. Computed ONCE per merge
    * (snapshot-independent, like [[mergeKeyBounds]]). */
  private def mergeKeyProbes(updates: DataFrame,
      keyCols: Seq[String]): Map[String, Array[Long]] =
    keyCols.flatMap { c =>
      val hs = updates.select(xxhash64(col(c)).alias("h")).distinct()
        .limit(MergeBloomProbeCap + 1).collect().map(_.getLong(0))
      if (hs.length > MergeBloomProbeCap) None else Some(c -> hs)
    }.toMap

  /** The key-bounds + bloom prune every keyed verb shares ([[merge]],
    * [[applyChanges]], [[applyChangesScd2]], [[repairScd2]] and
    * [[mergeInto]]'s `onKeys`): the batch's bounds and probes are
    * snapshot-independent, so they compute at most once per call (never
    * when no snapshot exists to prune, so a first streaming batch is not
    * evaluated for them), and
    * [[candidates]] narrows one attempt's active files to those that may
    * hold a batch key — the [[skipFiles]] rule over the attempt's
    * persisted bloom frame. Range bounds prune nothing when the key is
    * hash-scattered (every file's [min, max] spans the domain — the
    * steady-state CDC shape on an unclustered key); the per-file blooms
    * cut the rewrite to files that might actually hold a batch key. */
  private final class KeyPrune(table: String, batch: DataFrame,
      keyCols: Seq[String]) {
    private lazy val bounds = mergeKeyBounds(batch, keyCols)
    private lazy val probes = mergeKeyProbes(batch, keyCols)
    def candidates(base: Option[Long], bi: BloomIndex): Seq[String] = {
      // a probe column is used only when the batch's column TYPE matches
      // the logged type — xxhash64 of an Int and a Long differ, and a
      // type-crossed probe could false-negative a file into wrongly
      // surviving rows (the one failure mode bloom pruning must never
      // have)
      val logged = schemaAsOf(table, base)
      val hashes = probes.filter { case (c, _) =>
        logged.exists(sc => sc.fieldNames.contains(c) &&
          sc(c).dataType == batch.schema(c).dataType)
      }
      skipFiles(table, bounds.copy(hashes = hashes), base, bi.frame)
    }
  }

  /** The keyed latest-per-key fold behind [[merge]] (`opCol` = None:
    * every row upserts) and [[applyChanges]]: one key-partitioned window
    * over the touched files ∪ the batch keeps each key's
    * highest-`versionCol` row (ties → incoming beats existing, then a
    * delete beats an upsert) and drops winning deletes. Generated
    * columns compute when absent; their supplied values and the CHECK
    * constraints validate on the incoming non-delete rows BEFORE the
    * fold, so a violating row refuses even when it loses on version. */
  private def foldLatest(spark: SparkSession, table: String,
      batch0: DataFrame, keyCols: Seq[String], versionCol: String,
      opCol: Option[String], batchId: Long,
      streamId: Option[String]): Long = {
    // NULL op reads as upsert (a feed that only marks deletes), not as a
    // silent delete-by-three-valued-logic
    val isDelete = opCol.fold(lit(false))(op =>
      coalesce(col(op), lit("upsert")) === "delete")
    val batch = applyGenerated(batch0, table, checked = !isDelete)
    validateConstraints(batch.filter(!isDelete), constraints(table))
    val prune = new KeyPrune(table, batch, keyCols)
    // lost the race: a new snapshot exists, re-fold against it
    optimistic(table, opCol.fold("merge")(_ => "applyChanges")) { base =>
      val allActive = base.fold(Seq.empty[String])(_ => activeFiles(table, base))
      // ONE sidecar read per attempt serves the pruning and the commit's
      // bloom bookkeeping — see [[BloomIndex]]
      val bi = new BloomIndex(spark, table, base)
      try {
        // Stats-pruned: only files that may hold a batch key are
        // rewritten — for a key-clustered table with localized updates
        // (the CDC shape), per-fold cost follows the TOUCHED files, not
        // the table. Untouched files' rows are unchallenged by
        // construction and stay byte-identical in place.
        val touched =
          if (base.isEmpty) Seq.empty else prune.candidates(base, bi)
        // latest-per-key applies to the incoming batch too: the first batch
        // of a CDC stream can itself carry several versions of one key.
        // When every file prunes away, the zero-row read still enforces the
        // union's schema compatibility against the table.
        val tracking = rowTrackingEnabled(table, base)
        val existing = base.map { _ =>
          if (touched.nonEmpty) readFiles(spark, table, touched, base,
            withRowIds = tracking)
          else read(spark, table, base).limit(0)
        }
        // explicit null id on the incoming side (only when the existing
        // side carries the id column, i.e. a with-ids touched read) —
        // the union stays strict so a batch missing a business column
        // fails loudly
        val incoming0 = batch.withColumn("_src", lit(1))
        val incoming =
          if (tracking && touched.nonEmpty)
            incoming0.withColumn(RowIdCol, lit(null).cast("long"))
          else incoming0
        val all0 = existing match {
          case None => incoming
          case Some(cur) => opCol.fold(cur)(cur.withColumn(_, lit("upsert")))
            .withColumn("_src", lit(0))
            .unionByName(incoming)
        }
        val byKey = Window.partitionBy(keyCols.map(col): _*)
        // Row tracking: the id follows the KEY — a CDC update that wins
        // over an existing row inherits that row's id (max over the key
        // group: incoming rows carry NULL, so any existing id wins;
        // brand-new keys stay NULL and take the commit's fresh range)
        val all =
          if (tracking && all0.columns.contains(RowIdCol))
            all0.withColumn(RowIdCol, max(col(RowIdCol)).over(byKey))
          else all0
        // Final key: on a full (version, src) tie — two rows in the SAME
        // batch with the same key and version, one delete and one upsert —
        // the delete wins deterministically; without it row_number breaks
        // the tie arbitrarily and the survivor can differ run-to-run.
        val w = byKey.orderBy(Seq(col(versionCol).desc, col("_src").desc) ++
          opCol.map(_ => isDelete.desc): _*)
        val merged = all.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1 && !isDelete)
          .drop(Seq("_rn", "_src") ++ opCol: _*)
        commitRewrite(spark, table, base, allActive, touched,
          merged, "merge", schemaDdlOverride = Some(logicalDdl(merged)),
          batchId = batchId, streamId = streamId, blooms = Some(bi))
      } finally bi.release()
    }
  }

  /** Keyed MERGE: per `keyCols` keep the highest-`versionCol` row (ties →
    * incoming wins), committed as one new txlog version — [[applyChanges]]
    * without deletes. Optimistic: a lost commit race re-reads the new
    * snapshot and re-merges. */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      keyCols: Seq[String], versionCol: String, batchId: Long = -1L,
      streamId: Option[String] = None): Long =
    foldLatest(spark, table, updates, keyCols, versionCol, None, batchId,
      streamId)

  /** foreachBatch adapter: replay-idempotent streaming MERGE. A batch id
    * already present in the log (checkpoint-recovery redelivery) is
    * skipped, so the table is exactly-once even though foreachBatch is
    * at-least-once. Pass `streamId` (any stable per-query identity, e.g.
    * the checkpoint location) when more than one query may ever write the
    * table — see [[batchCommitted]]. */
  def sink(table: String, keyCols: Seq[String], versionCol: String,
      streamId: Option[String] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batchCommitted(table, streamId, batchId)) return
    merge(batch.sparkSession, table, batch, keyCols, versionCol, batchId,
      streamId)
  }

  /** Delta's idempotent-writer contract (`txnAppId`/`txnVersion`
    * DataFrameWriter options) for BATCH writes: run `write` only when
    * (appId, version) has not already committed, so an orchestrator
    * retry — an Airflow task re-run, a foreachBatch redelivery routed
    * through the batch writer, a speculative duplicate — applies the
    * logical work exactly once. Returns Some(commitVersion) when the
    * write landed, None when it was skipped as a replay (version ≤ the
    * app's recorded max, Delta's rule).
    *
    * Race-safe without a lock: a rival applying the same (appId,
    * version) between the pre-check and the commit surfaces as the
    * commit-time replay-guard refusal ([[tryCommit]]), which this
    * re-checks and converts to the silent skip — the caller can never
    * double-apply AND never sees a spurious failure for work that is,
    * in fact, committed. `write` must stamp the commit with
    * (streamId = appId, batchId = version) or enforcement has nothing
    * to hold onto; the writer-options path does. */
  def idempotentWrite(table: String, appId: String, version: Long)(
      write: => Long): Option[Long] = {
    require(appId.nonEmpty, "txnAppId must be non-empty")
    require(version >= 0,
      s"txnVersion must be >= 0 (monotone per app), got $version")
    if (batchCommitted(table, Some(appId), version)) return None
    try Some(write)
    catch {
      case _: ConcurrentWriteException
        if batchCommitted(table, Some(appId), version) => None
    }
  }

  /** The (streamId, batchId) replay guard: true when this stream already
    * committed this batch — the redelivery case a crash-recovered
    * checkpoint produces. batchId ALONE is not identity: a second query
    * writing the same table, or a fresh-checkpoint restart, reuses batch
    * ids from 0 and must NOT be skipped. A commit without a recorded
    * streamId (pre-r11 log, or an id-less caller) matches any stream,
    * preserving replay idempotency for tables written before the field
    * existed.
    *
    * Guard state folds through [[stateAt]] (Delta's per-app txn action):
    * per streamId the MAX committed batchId — sound because batch ids
    * are monotone per checkpoint location, a checkpoint only re-delivers
    * batches at or below its committed offset, and `<= max` therefore
    * ⇔ "already committed". streamId-LESS commits keep their exact
    * batch-id set: a max there would wrongly swallow batch 0 of a brand
    * new stream on a table with legacy batch-stamped appends. */
  def batchCommitted(table: String, streamId: Option[String],
      batchId: Long): Boolean = {
    val st = stateAt(table, None)
    val streamHit = streamId match {
      case Some(sid) => st.guardMax.get(sid).exists(batchId <= _)
      case None => st.guardMax.values.exists(batchId <= _)
    }
    streamHit || st.wildcardBatches.contains(batchId)
  }

  /** APPLY CHANGES INTO analog: fold a CDC batch — upserts AND deletes —
    * into the table as one commit. Per key, the highest-`versionCol` row
    * wins (ties → incoming beats existing, later `opCol`='delete' beats an
    * earlier upsert); a winning delete removes the key, a winning upsert
    * lands WITHOUT the op column. The same fold as [[merge]]: one
    * key-partitioned window over touched files ∪ batch. Out-of-order CDC
    * is handled by the version ordering — a stale delete arriving after a
    * newer upsert does NOT kill the key. */
  def applyChanges(spark: SparkSession, table: String, changes: DataFrame,
      keyCols: Seq[String], versionCol: String, opCol: String,
      batchId: Long = -1L, streamId: Option[String] = None): Long =
    foldLatest(spark, table, changes, keyCols, versionCol, Some(opCol),
      batchId, streamId)

  /** foreachBatch adapter for [[applyChanges]] — (streamId, batchId)-
    * idempotent like [[sink]], but the feed carries deletes. */
  def cdcSink(table: String, keyCols: Seq[String], versionCol: String,
      opCol: String, streamId: Option[String] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batchCommitted(table, streamId, batchId)) return
    applyChanges(batch.sparkSession, table, batch, keyCols, versionCol,
      opCol, batchId, streamId)
  }

  /** SCD TYPE 2 apply-changes (Databricks DLT's `APPLY CHANGES INTO …
    * STORED AS SCD TYPE 2`): maintain a full-history dimension table
    * from a CDC feed. Every upsert OPENS a history row
    * (`__start_at` = its sequence value, `__end_at` = NULL while
    * current); the next change to the same key CLOSES it (sets
    * `__end_at` to that change's sequence); a delete closes without
    * opening. The table therefore answers both "current state"
    * (`__end_at IS NULL`) and "state as of sequence v"
    * (`__start_at <= v AND (v < __end_at OR __end_at IS NULL)`).
    *
    * Incremental cost follows the BATCH, not the table: candidate files
    * prune through the [[KeyPrune]] every keyed verb shares, an exact
    * semi-join of their rows against the batch's keys finds the touched
    * files ([[touchedFiles]]), and only those rewrite — closed history
    * rows and untouched keys stay byte-identical in place. The incremental fold
    * is equivalent to the global recompute (each key's history is the
    * lead()-chain of its events) as long as each key's sequence values
    * arrive non-decreasing across batches — an out-of-order batch that
    * would close a row BEFORE it opened refuses loudly.
    *
    * Within a batch, several changes to one key chain through a lead()
    * window (ordered by sequence, upserts before a same-sequence
    * delete). The history columns ride the feed's sequence domain, not
    * commit versions — deterministic and replayable. */
  def applyChangesScd2(spark: SparkSession, table: String,
      changes: DataFrame, keyCols: Seq[String], versionCol: String,
      opCol: String, batchId: Long = -1L,
      streamId: Option[String] = None): Long = {
    val busCols = changes.columns.toSeq
      .filterNot(c => c == opCol || c == versionCol)
    require(keyCols.forall(busCols.contains),
      s"applyChangesScd2: key columns ${keyCols.mkString(",")} must be " +
        "carried by the changes frame")
    val wSeq = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).asc, col(opCol).desc)
    val chained = changes.withColumn("__scd_nxt",
      lead(col(versionCol), 1).over(wSeq))
    // generated columns compute on the feed's business columns before
    // the strict union against existing history rows
    val newRows = applyGenerated(chained
      .filter(coalesce(col(opCol), lit("upsert")) =!= "delete")
      .select(busCols.map(col) ++ Seq(
        col(versionCol).cast("long").alias("__start_at"),
        col("__scd_nxt").cast("long").alias("__end_at")): _*), table)
    // per-key FIRST sequence value in the batch: the existing open row
    // (if any) closes at it
    val firstVer = changes.groupBy(keyCols.map(col): _*)
      .agg(min(col(versionCol)).cast("long").alias("__scd_first"))
    val prune = new KeyPrune(table, changes, keyCols)
    optimistic(table, "applyChangesScd2") { base =>
      if (base.isEmpty || activeFiles(table, base).isEmpty)
        Some(append(newRows, table, batchId = batchId,
          streamId = streamId))
      else {
        val allActive = activeFiles(table, base)
        val bi = new BloomIndex(spark, table, base)
        try {
          // exact: files holding ANY row for a batch key. Not just open
          // rows — a key whose chain is fully CLOSED must still be found,
          // or a late event for it would silently append an overlapping
          // "current" row instead of hitting the sequence guard below.
          val touched = touchedFiles(spark, table,
            prune.candidates(base, bi), base)(
            _.join(firstVer, keyCols, "left_semi"))
          val tracking = rowTrackingEnabled(table, base)
          val rewritten =
            if (touched.isEmpty) newRows
            else {
              val cur = readFiles(spark, table, touched, base,
                withRowIds = tracking)
              // the per-key digest is batch-sized: broadcast it
              val closed = cur.join(broadcast(firstVer), keyCols, "left")
                .withColumn("__end_at",
                  when(col("__end_at").isNull && col("__scd_first").isNotNull,
                    col("__scd_first")).otherwise(col("__end_at")))
              // out-of-order guard: the batch's first sequence per key
              // must be at or after EVERY sequence the key has seen —
              // open-row starts AND closed-chain ends (a late event for a
              // fully-closed key would otherwise silently append an
              // overlapping "current" row). repairScd2 is the remedy.
              val bad = closed
                .filter(col("__scd_first") <
                  greatest(col("__start_at"),
                    coalesce(col("__end_at"), col("__start_at")))).limit(1)
              if (!bad.isEmpty) throw new IllegalArgumentException(
                s"applyChangesScd2 on $table: batch sequence values " +
                  "precede sequences this key's history already carries — " +
                  "per-key sequences must be non-decreasing across batches; " +
                  "use repairScd2 to splice late events (offending row: " +
                  bad.collect().mkString(", ") + ")")
              val newIn =
                if (tracking)
                  newRows.withColumn(RowIdCol, lit(null).cast("long"))
                else newRows
              closed.drop("__scd_first").unionByName(newIn)
            }
          commitRewrite(spark, table, base, allActive, touched,
            rewritten, "scd2", batchId = batchId,
            streamId = streamId, blooms = Some(bi))
        } finally bi.release()
      }
    }
  }

  /** Retro-fix for LATE events ([[applyChangesScd2]] refuses them):
    * splice out-of-order changes into the affected keys' history. The
    * key's existing history rows are RECONSTRUCTED into their event
    * sequence (each row is an upsert at `__start_at`; a close with no
    * successor opening at the same sequence was a delete), the late
    * events union in, and the lead()-chain recomputes — exactly the
    * global fold, applied to ONLY the contested keys' files (untouched
    * keys in those files pass through byte-equal; other files stay in
    * place). This is DLT's out-of-order SCD2 handling as an explicit
    * repair verb rather than a silent per-batch path: the common case
    * stays cheap and append-shaped, the rare late feed pays the splice.
    *
    * Reconstruction is exact because a history table built by
    * applyChangesScd2/repairScd2 satisfies: per key, row starts are
    * distinct, and every close either matches a successor's start
    * (upsert) or ends the chain (delete). */
  def repairScd2(spark: SparkSession, table: String,
      lateChanges: DataFrame, keyCols: Seq[String], versionCol: String,
      opCol: String): Long = {
    val busCols = lateChanges.columns.toSeq
      .filterNot(c => c == opCol || c == versionCol)
    val lateEv = lateChanges.select(busCols.map(col) ++ Seq(
      col(versionCol).cast("long").alias("__scd_ver"),
      coalesce(col(opCol), lit("upsert")).alias("__scd_op")): _*)
    val lateKeys = lateChanges.select(keyCols.map(col): _*).distinct()
    val prune = new KeyPrune(table, lateChanges, keyCols)
    optimistic(table, "repairScd2") { base =>
      require(base.nonEmpty && activeFiles(table, base).nonEmpty,
        s"repairScd2 on empty txlog table $table — use applyChangesScd2")
      val allActive = activeFiles(table, base)
      val bi = new BloomIndex(spark, table, base)
      try {
        // ANY row of an affected key touches (history rewrites whole
        // chains, not just open rows)
        val touched = touchedFiles(spark, table,
          prune.candidates(base, bi), base)(
          _.join(lateKeys, keyCols, "left_semi"))
        val tracking = rowTrackingEnabled(table, base)
        // row tracking: untouched keys in rewritten files KEEP their ids;
        // the repaired chains are re-derived rows and take fresh ones
        val cur =
          if (touched.isEmpty) read(spark, table, base).limit(0)
          else readFiles(spark, table, touched, base,
            withRowIds = tracking)
        val affected = cur.join(lateKeys, keyCols, "left_semi")
        val untouched = cur.join(lateKeys, keyCols, "left_anti")
        // reconstruct the affected keys' event sequences
        val upserts = affected.select(busCols.map(col) ++ Seq(
          col("__start_at").alias("__scd_ver"),
          lit("upsert").alias("__scd_op")): _*)
        val wk = Window.partitionBy(keyCols.map(col): _*)
        val deletes = affected
          .withColumn("__scd_starts",
            collect_set(col("__start_at")).over(wk))
          .filter(col("__end_at").isNotNull &&
            !array_contains(col("__scd_starts"), col("__end_at")))
          .select(busCols.map(c =>
            (if (keyCols.contains(c)) col(c)
             else lit(null).cast(affected.schema(c).dataType)).alias(c)) ++
            Seq(col("__end_at").alias("__scd_ver"),
              lit("delete").alias("__scd_op")): _*)
        val events = upserts.unionByName(deletes).unionByName(lateEv)
        val wSeq = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("__scd_ver").asc, col("__scd_op").desc)
        val rebuilt = applyGenerated(events
          .withColumn("__scd_nxt", lead(col("__scd_ver"), 1).over(wSeq))
          .filter(col("__scd_op") =!= "delete")
          .select(busCols.map(col) ++ Seq(
            col("__scd_ver").alias("__start_at"),
            col("__scd_nxt").alias("__end_at")): _*), table)
        // repaired chains are re-derived rows: explicit null id (fresh
        // range), strict union — a lateChanges frame missing a business
        // column the table carries fails loudly instead of NULL-filling
        val rebuiltIn =
          if (tracking)
            rebuilt.withColumn(RowIdCol, lit(null).cast("long"))
          else rebuilt
        val rewritten = untouched.unionByName(rebuiltIn)
        commitRewrite(spark, table, base, allActive, touched,
          rewritten, "scd2", blooms = Some(bi))
      } finally bi.release()
    }
  }

  /** foreachBatch adapter for [[applyChangesScd2]] — (streamId, batchId)
    * replay-guarded like [[cdcSink]], so checkpoint recovery's
    * re-delivered batch cannot double-close or double-open history
    * rows. */
  def scd2Sink(table: String, keyCols: Seq[String], versionCol: String,
      opCol: String, streamId: Option[String] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batchCommitted(table, streamId, batchId)) return
    applyChangesScd2(batch.sparkSession, table, batch, keyCols, versionCol,
      opCol, batchId, streamId)
  }

  /** Change-data-feed between two committed versions (Delta's
    * `table_changes`): keyed full-outer diff of the snapshots →
    * `insert` (key only in `toV`), `delete` (key only in `fromV`),
    * `update` (key in both, any non-key column differs; emits the NEW
    * row). Unchanged keys emit nothing. This is what lets a downstream
    * incremental consumer process a 100 TB table's delta instead of
    * re-reading it; the diff itself is one key-partitioned join bounded
    * by the two snapshots. Null-safe (`<=>`) column compares, so NULL→
    * value and value→NULL both classify as updates. Requires `keyCols`
    * to be unique per snapshot (the [[merge]] invariant). */
  def changes(spark: SparkSession, table: String, keyCols: Seq[String],
      fromV: Long, toV: Long, preImages: Boolean = false): DataFrame =
    snapshotDiff(v => read(spark, table, Some(v)), keyCols, fromV, toV,
      preImages)

  /** [[changes]] with the stable `_row_id` riding every change row
    * (row tracking must be enabled): updates carry the row's UNCHANGED
    * id (preservation makes the id a join key across feed epochs),
    * deletes carry the retired id, inserts the fresh one. This is what
    * lets a downstream incremental consumer key its state on row
    * identity instead of the business key — e.g. a feature store
    * updating exactly the vectors whose source rows changed. The id
    * participates in the diff as a data column: under preservation that
    * is free (ids never change on their own), and any preservation BUG
    * would surface as a spurious update here rather than hide. */
  def changesWithRowIds(spark: SparkSession, table: String,
      keyCols: Seq[String], fromV: Long, toV: Long,
      preImages: Boolean = false): DataFrame = {
    require(rowTrackingEnabled(table, Some(toV)),
      s"changesWithRowIds: row tracking is not enabled on $table")
    // _row_version stays OUT of the diff: a rewrite bumps it for
    // co-located rows whose values never changed, which would read as
    // spurious updates here
    snapshotDiff(
      v => readWithRowIds(spark, table, Some(v)).drop("_row_version"),
      keyCols, fromV, toV, preImages)
  }

  /** The windowed snapshot diff behind [[changes]] and
    * [[changesWithRowIds]]: `snapshot(v)` reads the table as of `v`.
    * Bootstrap: version 0 is "before the table existed" — everything in
    * `toV` is an insert. This is how a NEW incremental consumer starts
    * (changesSince(lastSeen = 0)) without a special first-poll code path.
    * A window nets its commits: a row inserted and deleted inside it
    * emits nothing, unlike the per-commit [[commitChanges]]. */
  private def snapshotDiff(snapshot: Long => DataFrame, keyCols: Seq[String],
      fromV: Long, toV: Long, preImages: Boolean): DataFrame =
    if (fromV <= 0L) allInserts(snapshot(toV), keyCols)
    else imageDiff(snapshot(fromV), snapshot(toV), keyCols, preImages)

  /** Every row of `df` as an `insert` change row, key columns first. */
  private def allInserts(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dataCols = df.columns.filterNot(keyCols.contains).toSeq
    df.select((keyCols ++ dataCols).map(col) :+
      lit("insert").alias("change_type"): _*)
  }

  /** The keyed diff of a pre-image and a post-image, shared by every
    * keyed change reader. Both align to the union schema (missing columns
    * read as typed NULLs), so a mergeSchema evolution between the two —
    * or inside the very commit being read — diffs as updates instead of
    * failing to resolve `_pre.<newcol>`. `preImages = false` emits
    * insert / delete / update (the update row is the NEW image);
    * `preImages = true` splits each update into `update_preimage` +
    * `update_postimage` rows (Delta CDF's readChangeFeed shape — a
    * consumer reconstructing reversible deltas or auditing old values
    * needs the pre-image). Unchanged keys emit nothing either way. One
    * pass: the changed rows explode into their 1–2 image tags, no second
    * join branch. */
  private def imageDiff(preRaw: DataFrame, postRaw: DataFrame,
      keyCols: Seq[String], preImages: Boolean): DataFrame = {
    val unionFields = postRaw.schema.fields ++
      preRaw.schema.fields.filterNot(f => postRaw.columns.contains(f.name))
    def align(df: DataFrame): DataFrame = df.select(unionFields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).alias(f.name)
    }: _*)
    val dataCols = unionFields.map(_.name).filterNot(keyCols.contains).toSeq
    val keyEq = keyCols.map(k => col(s"_pre.$k") <=> col(s"_post.$k"))
      .reduce(_ && _)
    val sameData = dataCols.map(c => col(s"_pre.$c") <=> col(s"_post.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val preKey = col(s"_pre.${keyCols.head}")
    val postKey = col(s"_post.${keyCols.head}")
    val kind = when(preKey.isNull, lit("insert"))
      .when(postKey.isNull, lit("delete"))
      .when(!sameData, lit("update"))
    // each image tag says which side's values it projects (p = pre side)
    val oneImg = array(struct(col("_kind").alias("t"),
      (col("_kind") === "delete").alias("p")))
    val imgs =
      if (!preImages) oneImg
      else when(col("_kind") === "update",
        array(
          struct(lit("update_preimage").alias("t"), lit(true).alias("p")),
          struct(lit("update_postimage").alias("t"), lit(false).alias("p"))))
        .otherwise(oneImg)
    align(preRaw).alias("_pre")
      .join(align(postRaw).alias("_post"), keyEq, "full_outer")
      .withColumn("_kind", kind).filter(col("_kind").isNotNull)
      .withColumn("_img", explode(imgs))
      .select(
        keyCols.map(k =>
          coalesce(col(s"_post.$k"), col(s"_pre.$k")).alias(k)) ++
          dataCols.map(c => when(col("_img.p"), col(s"_pre.$c"))
            .otherwise(col(s"_post.$c")).alias(c)) :+
          col("_img.t").alias("change_type"): _*)
  }

  /** The change-feed row schema for `table` as of a version: key columns
    * first, remaining table columns, then `change_type` — the column
    * order [[changes]] and [[commitChanges]] emit. */
  def cdfSchema(table: String, keyCols: Seq[String],
      asOf: Option[Long] = None): org.apache.spark.sql.types.StructType = {
    val s = schemaAsOf(table, asOf).getOrElse(throw new IllegalArgumentException(
      s"txlog table $table has no schema-carrying commit"))
    org.apache.spark.sql.types.StructType(
      keyCols.map(k => s(k)) ++
        s.fields.filterNot(f => keyCols.contains(f.name)) :+
        org.apache.spark.sql.types.StructField("change_type",
          org.apache.spark.sql.types.StringType))
  }

  /** How ONE commit changed rows, as the file sets whose rows form its
    * images. Pre-image = the files the commit removed plus the data files
    * its new deletion vectors reference, read as of version−1;
    * post-image = the files it added plus those same DV'd files, read as
    * of the commit's version (under the new DVs). A row in an untouched
    * file is byte-identical in both states and can never produce a
    * change, so restricting to touched files is exact, not an
    * approximation, and costs O(files the commit touched), never
    * O(snapshot). A commit with no file change or a layout-only op
    * (optimize / optimizeDvs / reorg: same logical rows, different
    * files) is silent: both sets empty. The table's first data commit, a
    * [[cloneTable]] bootstrap and an append are `allInsert`: their adds
    * are the post-image and nothing is diffed. */
  private case class CommitImages(pre: Seq[String], post: Seq[String],
      allInsert: Boolean)

  private def commitImages(spark: SparkSession, table: String, c: Commit,
      all: Seq[Commit]): CommitImages =
    if ((c.add.isEmpty && c.remove.isEmpty && c.dvAdd.isEmpty) ||
        LayoutOnlyOps(c.op)) CommitImages(Nil, Nil, allInsert = false)
    else {
      val bootstrap = c.op == "clone" || c.op == "append" ||
        !all.exists(p => p.version < c.version &&
          (p.add.nonEmpty || p.dvAdd.nonEmpty))
      if (bootstrap) CommitImages(Nil, c.add, allInsert = true)
      else {
        // data files referenced by the commit's new deletion vectors:
        // their rows changed (some died) without the file moving
        val dvRefFiles = dvReferencedFiles(spark, table, c)
        CommitImages((c.remove ++ dvRefFiles).distinct,
          (c.add ++ dvRefFiles).distinct, allInsert = false)
      }
    }

  /** Keyed change rows produced by ONE commit, from its
    * [[commitImages]]. Classification matches [[changes]]: insert /
    * delete / update (emitting the new row), unchanged keys emit
    * nothing; an all-insert commit emits its added rows with no diff. */
  def commitChanges(spark: SparkSession, table: String, version: Long,
      keyCols: Seq[String], preImages: Boolean = false): DataFrame = {
    val all = commits(table)
    val c = all.find(_.version == version).getOrElse(
      throw new IllegalArgumentException(
        s"txlog table $table has no commit at version $version"))
    def empty(): DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      cdfSchema(table, keyCols, Some(version)))
    def side(files: Seq[String], v: Long): DataFrame =
      if (files.isEmpty) empty().drop("change_type")
      else readFiles(spark, table, files, Some(v))
    val img = commitImages(spark, table, c, all)
    if (img.pre.isEmpty && img.post.isEmpty) empty()
    else if (img.allInsert) allInserts(side(img.post, version), keyCols)
    else imageDiff(side(img.pre, version - 1), side(img.post, version),
      keyCols, preImages)
  }

  /** Data files a commit's NEW deletion vectors reference: their rows
    * changed (some died) without the file moving, so change readers must
    * diff them pre/post. Metadata-sized (one sidecar read per commit). */
  private def dvReferencedFiles(spark: SparkSession, table: String,
      c: Commit): Seq[String] =
    if (c.dvAdd.isEmpty) Seq.empty[String]
    else {
      val keys = dvRefKeys(spark, table, c.dvAdd)
      activeFiles(table, Some(c.version))
        .filter(f => keys.contains(fileKey(f)))
    }

  /** KEYLESS multiset row delta over a version window — the incremental-
    * view-maintenance feed ([[Mview]]): every table column plus `_sign`
    * (+1 / −1), such that for ANY linear aggregate
    * `agg(toV) = agg(fromV) ⊕ Σ(_sign · row)`. No key columns, no join:
    * per commit ([[commitImages]]), post-image rows read at `v` carry +1
    * and pre-image rows read at `v−1` carry −1. A row co-located in a
    * rewritten file but logically unchanged appears once with each sign
    * and CANCELS in any multiset consumer; silent commits emit nothing
    * rather than self-cancelling pairs.
    *
    * All frames align to the schema AS OF `toV` (missing columns read
    * as typed NULLs, dropped columns drop, widened columns up-cast).
    * A mid-window RENAME is NOT representable this way — callers that
    * maintain derived state ([[Mview.refresh]]) compare the window's
    * endpoint schemas and fall back to full recompute on any DDL
    * change. */
  def rowDeltas(spark: SparkSession, table: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 0 && fromV <= toV,
      s"rowDeltas on $table: need 0 <= fromV <= toV, got $fromV..$toV")
    val schema = schemaAsOf(table, Some(toV)).getOrElse(
      throw new IllegalArgumentException(
        s"txlog table $table has no schema-carrying commit at $toV"))
    def aligned(files: Seq[String], v: Long, sign: Int): Seq[DataFrame] =
      if (files.isEmpty) Nil
      else {
        val df = readFiles(spark, table, files, Some(v))
        Seq(df.select(schema.fields.toSeq.map { f =>
          if (df.columns.contains(f.name))
            col(f.name).cast(f.dataType).alias(f.name)
          else lit(null).cast(f.dataType).alias(f.name)
        } :+ lit(sign).alias("_sign"): _*))
      }
    val all = commits(table)
    val parts = all.filter(c => c.version > fromV && c.version <= toV)
      .flatMap { c =>
        val img = commitImages(spark, table, c, all)
        aligned(img.post, c.version, 1) ++ aligned(img.pre, c.version - 1, -1)
      }
    parts.reduceOption(_ union _).getOrElse {
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("_sign",
            org.apache.spark.sql.types.IntegerType, nullable = false)))
    }
  }

  /** File-granular copy-on-write DML core (how Delta runs DELETE/UPDATE):
    * ONE scan tags rows with their file and finds the files that contain
    * any row matching `condition`; only THOSE files are rewritten through
    * `rewrite`, every untouched file keeps its path, and one commit swaps
    * the affected set. Cost is scan + rewrite-of-affected-files, not a
    * table rewrite — with clustered layout (see [[optimize]]) a selective
    * predicate touches few files. */
  private def copyOnWrite(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column, op: String)(
      rewrite: DataFrame => DataFrame): Long =
    optimistic(table, op) { base =>
      require(base.nonEmpty, s"$op on empty txlog table $table")
      val files = activeFiles(table, base)
      val touched = touchedFiles(spark, table, files, base)(_.filter(condition))
      if (touched.isEmpty) Some(base.get) // nothing matches: no new version
      else {
        // DV-filtered like every other scan: rewriting a touched file must
        // not resurrect rows an active deletion vector already killed.
        // Row tracking: surviving rows carry their ids into the rewrite
        // (materialized into the new files by writeData).
        val touchedDf = readFiles(spark, table, touched, base,
          withRowIds = rowTrackingEnabled(table, base))
        val won = commitRewrite(spark, table, base, files, touched,
          rewrite(touchedDf), op)
        // lost the race: serializable writers refuse when the winner
        // touched the same files; disjoint (or default-isolation) writers
        // re-derive the touched set against the new snapshot and retry
        if (won.isEmpty)
          checkFileConflicts(table, base, touched.map(fileKey).toSet, op)
        won
      }
    }

  /** The exact touched-file search every row-level DML verb shares: one
    * scan of `candidates` tagged with row keys, narrowed by `matching` (a
    * filter, or a semi/anti join against a source) to the LIVE rows that
    * make a file touched, and collected as one row per touched file —
    * metadata-sized, like the commit. The file key comes from readFiles'
    * row keys rather than input_file_name(): a semi/anti join against a
    * source puts two sources in the plan, and input_file_name() refuses
    * multi-source expressions. __dv_f is the last-two-segments fileKey: a
    * canonical SET lookup resolves both relative entries and absolute
    * (shallow-clone) entries — no linear suffix scan over the active set. */
  private def touchedFiles(spark: SparkSession, table: String,
      candidates: Seq[String], base: Option[Long])(
      matching: DataFrame => DataFrame): Seq[String] =
    if (candidates.isEmpty) Seq.empty
    else {
      val keys = matching(readFiles(spark, table, candidates, base,
          keepRowKeys = true))
        .select("__dv_f").distinct().collect().map(_.getString(0)).toSet
      candidates.filter(f => keys.contains(fileKey(f)))
    }

  /** Shared commit tail for every file-set rewrite (UPDATE / DELETE /
    * MERGE INTO / the keyed fold / SCD2, and every compaction through
    * [[compact]]): constraint-validate (DML only — layout-only ops skip
    * it), [[stage]] the rewritten rows under the mapping as of `base`,
    * and [[swap]] them in for `touched` (files of `files`, the attempt's
    * active set). `statsCols`/`bloomCols` are explicit extras on top of
    * stage's column rule. `base` = None (a keyed fold into a path with no
    * log yet) commits version 1. Returns None when the version race was
    * lost (caller re-derives its touched set against the new snapshot
    * and retries). */
  private def commitRewrite(spark: SparkSession, table: String,
      base: Option[Long], files: Seq[String], touched: Seq[String],
      rewritten0: DataFrame, op: String,
      schemaDdlOverride: Option[String] = None,
      batchId: Long = -1L,
      streamId: Option[String] = None,
      extraProps: Map[String, Option[String]] = Map.empty,
      blooms: Option[BloomIndex] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Option[Long] = {
    // DML honors the same CHECK constraints as append/overwrite/merge:
    // an UPDATE … SET that lands a violating row must be refused, not
    // committed (Delta enforces constraints on every write path). Cheap:
    // only the touched files' rewrite is scanned. GENERATED ALWAYS
    // columns are enforced the same way: an UPDATE that changes a base
    // column without recomputing the generated one refuses rather than
    // committing a row where the column silently lies. Layout-only
    // rewrites (compactions) move rows without changing a value, so they
    // skip both scans.
    val rewritten =
      if (LayoutOnlyOps(op)) rewritten0
      else {
        val r = applyGenerated(rewritten0, table)
        validateConstraints(r, constraints(table))
        r
      }
    // a caller that already holds the attempt's index passes it in, so
    // the sidecars are read once per attempt
    val bi = blooms.getOrElse(new BloomIndex(spark, table, base))
    try {
      // DECLARED stats/bloom columns re-record on the rewrite, or DML
      // strips its output files of skipping metadata and every later
      // pruned operation must read them (for the keyed fold: one-merge
      // decay of the CDC fast path)
      val staged = stage(rewritten, table, mappingAsOf(table, base),
        statsCols, bloomCols, Some(bi))
      swap(spark, table, base, files, touched, staged, op,
        schemaDdlOverride.orElse(schemaAsOf(table, base).map(_.toDDL)),
        batchId, streamId, extraProps = extraProps, blooms = Some(bi))
    } finally if (blooms.isEmpty) bi.release()
  }

  /** DELETE WHERE: drop matching rows, rewriting only the files that
    * contain them. SQL three-valued semantics: only rows where the
    * condition is TRUE are deleted — a NULL-valued condition keeps the
    * row (bare `!condition` would null out and drop it; [[deleteVectors]]
    * already gets this right because it selects the MATCHING rows). */
  def delete(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Long =
    copyOnWrite(spark, table, condition, "delete")(
      _.filter(!coalesce(condition, lit(false))))

  /** `INSERT INTO … REPLACE WHERE` (Delta's `replaceWhere`): atomically
    * delete every live row matching `condition` AND insert `df`, in ONE
    * commit — the targeted-overwrite shape (backfill a date range,
    * re-derive a slice) that plain overwrite() can't express without
    * rewriting the whole table. Cost follows the files that actually
    * hold matching rows (same touched-file search as DELETE), plus the
    * new data; untouched files stay byte-identical in place.
    *
    * Like Delta's `replaceWhere` constraint check, every incoming row
    * must itself satisfy the predicate — otherwise the "replace" would
    * silently widen into an append and a re-run would duplicate rows.
    * `df` must already carry the table's logical schema (the SQL layer
    * aligns names/types before calling). Concurrency, constraints, and
    * DV/bloom/stats bookkeeping ride the shared [[commitRewrite]] tail. */
  def replaceWhere(spark: SparkSession, table: String, df0: DataFrame,
      condition: org.apache.spark.sql.Column): Long = {
    // generated columns compute BEFORE the survivors union — the SQL
    // layer deliberately omits them from the aligned frame, and a
    // mismatched union here would fail instead of computing them
    val df = applyGenerated(df0, table)
    val offending = df.filter(!coalesce(condition, lit(false))).limit(1)
    require(offending.isEmpty,
      s"replaceWhere on $table: incoming rows must satisfy the REPLACE " +
        "WHERE predicate (Delta's replaceWhere constraint) — got e.g. " +
        offending.collect().mkString(", "))
    if (latestVersion(table).isEmpty) return append(df, table)
    optimistic(table, "replaceWhere") { base =>
      val files = activeFiles(table, base)
      val touched = touchedFiles(spark, table, files, base)(_.filter(condition))
      // survivors of the touched files (NULL-cond rows survive, same
      // three-valued rule as delete) + the incoming rows, committed as
      // one rewrite. Row tracking: survivors keep their ids; incoming
      // rows carry an EXPLICIT null id (fresh base range on read) — the
      // union stays strict, so a batch missing a business column still
      // fails loudly instead of NULL-filling.
      val tracking = rowTrackingEnabled(table, base)
      val incoming =
        if (tracking) df.withColumn(RowIdCol, lit(null).cast("long"))
        else df
      val rewritten =
        if (touched.isEmpty) df
        else readFiles(spark, table, touched, base, withRowIds = tracking)
          .filter(!coalesce(condition, lit(false)))
          .unionByName(incoming)
      val won = commitRewrite(spark, table, base, files, touched, rewritten,
        "replaceWhere")
      if (won.isEmpty) checkFileConflicts(table, base,
        touched.map(fileKey).toSet, "replaceWhere")
      won
    }
  }

  /** DELETE WHERE via deletion vectors (protocol v3; Delta's DV feature):
    * NO data file is rewritten — one scan finds every live matching row,
    * compresses its (file, row_index) set into ranges (gaps-and-islands
    * over a key-partitioned window: fully distributed, no driver or
    * per-file materialization), groups each file's ranges into one
    * [[graft.functions.DvBitmapCodec]] bitset, and a data-less commit
    * activates the DV parquet of (file, bitmap) rows. Reads probe active
    * DVs (see [[readFiles]]), so the delete is visible atomically. Scan
    * cost is O(matching rows); the PERSISTED and plan-shipped cost is the
    * bitset's: a few bytes per run for a contiguous delete (a 50%-delete
    * of a huge file is one run per 64 Ki-row block), ≤ 2 bytes/row or a
    * hard 8 KiB per block for a scattered one. DVs accumulate until a
    * rewrite ([[optimize]] / merge / overwrite / [[optimizeDvs]])
    * materializes and retires them. */
  def deleteVectors(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Long =
    optimistic(table, "dvDelete") { base =>
      require(base.nonEmpty, s"dvDelete on empty txlog table $table")
      graft.functions.GraftFunctions.register(spark)
      val w = Window.partitionBy(col("file")).orderBy(col("ri"))
      // one (file, bitmap) row per touched file, collected once: the
      // sidecar is written from these rows, and their files are the
      // commit's dvTargets attribution
      val perFile = readFiles(spark, table, activeFiles(table, base), base,
          keepRowKeys = true)
        .filter(condition)
        .select(col("__dv_f").alias("file"), col("__dv_ri").alias("ri"))
        // consecutive row indexes share (ri − row_number) → one range row
        .withColumn("_grp", col("ri") - row_number().over(w))
        .groupBy(col("file"), col("_grp"))
        .agg(min("ri").alias("start"), max("ri").alias("end"))
        .groupBy("file")
        .agg(call_function("dv_bitmap_from_ranges",
          sort_array(collect_list(struct(col("start"), col("end")))))
          .alias("bitmap"))
        .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
        .sortBy(_._1).toSeq
      // empty hit set: nothing staged, no new version
      if (perFile.isEmpty) Some(base.get)
      else {
        val sub = s"dv-${UUID.randomUUID().toString.take(8)}"
        import spark.implicits._
        perFile.toDF("file", "bitmap").coalesce(1)
          .write.parquet(s"$table/$sub")
        val dvFiles = listDir(Paths.get(table, sub))
          .map(_.getFileName.toString)
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
          .sorted.map(n => s"$sub/$n")
        val covered = perFile.map(_._1)
        val v = base.get + 1
        val won = tryCommit(table, Commit(v, Seq.empty, Seq.empty,
          "dvDelete", -1L, dvAdd = dvFiles, dvTargets = covered))
        // lost the race: under serializable, refuse if the winner touched
        // my covered files (re-deriving would silently delete over its
        // write); disjoint writers re-scan against the new snapshot and
        // both commit
        if (!won)
          checkFileConflicts(table, base, covered.toSet, "dvDelete")
        Option.when(won)(v)
      }
    }

  /** RESTORE TABLE … TO VERSION AS OF: make the CURRENT snapshot equal the
    * `toV` snapshot again, as one new commit (history moves forward —
    * nothing is rewritten, the restore just re-points the active file and
    * DV sets, like Delta RESTORE). Time travel to the in-between versions
    * keeps working. Caveat shared with Delta: restoring past a [[vacuum]]
    * horizon fails at read time, since vacuumed data files are gone. */
  def restore(spark: SparkSession, table: String, toV: Long): Long =
    optimistic(table, "restore") { base =>
      require(base.nonEmpty, s"restore on empty txlog table $table")
      require(toV <= base.get, s"restore target $toV is ahead of ${base.get}")
      val target = activeFiles(table, Some(toV))
      require(target.nonEmpty, s"restore target $toV has no files")
      val cur = activeFiles(table, base)
      val targetDvs = activeDvs(table, Some(toV))
      val curDvs = activeDvs(table, base)
      val v = base.get + 1
      // the restored snapshot reads under ITS era's column mapping — a
      // restore past the enable (or past renames) must stamp the target
      // mapping, or the newest-wins fold would keep applying the current
      // one to files the target era named differently. Restoring to a
      // PRE-mapping version on a mapped table stamps the explicit EMPTY
      // sentinel (absent ≠ retired in a newest-wins fold).
      val cmStamp =
        if (mappingAsOf(table, base) == mappingAsOf(table, Some(toV))) None
        else Some(mappingAsOf(table, Some(toV)).map { m =>
          schemaAsOf(table, Some(toV)).get.fieldNames.toSeq
            .map(n => n -> m.getOrElse(n, n))
        }.getOrElse(Seq.empty))
      Option.when(tryCommit(table, Commit(v, target.diff(cur),
        cur.diff(target), "restore", -1L,
        schemaDdl = schemaAsOf(table, Some(toV)).map(_.toDDL),
        dvAdd = targetDvs.diff(curDvs), dvRemove = curDvs.diff(targetDvs),
        colMap = cmStamp)))(v)
    }

  /** UPDATE … SET … WHERE: apply `set` (column → new expression) to
    * matching rows, rewriting only the files that contain them. Every SET
    * expression AND the condition evaluate against the OLD row (standard
    * SQL): one select applies them all at once — a sequential withColumn
    * fold would let a later assignment (or the condition) observe an
    * earlier one's result, so `SET a = b, b = a` would not swap and
    * `SET k = 10 WHERE k = 1` would corrupt any later assignment
    * conditioned on k. */
  def update(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    // unknown SET columns refuse up front: the rewrite would otherwise
    // be an identity select that still commits a new version — the
    // caller believes the update applied (Delta/Spark reject these too)
    val known = schemaAsOf(table).map(_.fieldNames.toSeq)
    known.foreach { cols =>
      val unknown = set.keys.filterNot(k =>
        cols.exists(_.equalsIgnoreCase(k)))
      require(unknown.isEmpty, s"UPDATE on $table: SET column(s) " +
        s"${unknown.mkString(", ")} not in the table schema " +
        s"(${cols.mkString(", ")})")
    }
    val identHit = identityCols(table).keys.filter(c =>
      set.keys.exists(_.equalsIgnoreCase(c)))
    require(identHit.isEmpty, s"UPDATE on $table: column(s) " +
      s"${identHit.mkString(", ")} are GENERATED ALWAYS AS IDENTITY — " +
      "their values are allocated by the commit and cannot be SET")
    copyOnWrite(spark, table, condition, "update") { df =>
      df.select(df.columns.toSeq.map { c =>
        set.collectFirst { case (sc, e) if sc.equalsIgnoreCase(c) =>
          when(condition, e).otherwise(col(c)).alias(c)
        }.getOrElse(col(c))
      }: _*)
    }
  }

  /** Clause vocabulary for [[mergeInto]] (Delta's WHEN MATCHED / WHEN NOT
    * MATCHED actions). Clause conditions and value expressions reference
    * the two sides through the aliases passed to [[mergeInto]]
    * (`expr("t.qty + s.qty")` with aliases "t"/"s"). */
  /** Last mergeInto candidate-set size (files the touched-file semi-join
    * actually scanned) — spec probe for the onKeys pruning path. */
  private[graft] val lastMergeCandidateCount =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  sealed trait MergeAction
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN UPDATE SET col = expr…
    * (the clause family — matched vs not-matched-by-source — is decided
    * by which [[mergeInto]] parameter carries the action) */
  final case class MergeUpdate(condition: Option[org.apache.spark.sql.Column],
      set: Map[String, org.apache.spark.sql.Column]) extends MergeAction
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN DELETE */
  final case class MergeDelete(condition: Option[org.apache.spark.sql.Column])
    extends MergeAction
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs); target
    * columns absent from `values` land NULL (Delta's partial INSERT). */
  final case class MergeInsert(condition: Option[org.apache.spark.sql.Column],
      values: Map[String, org.apache.spark.sql.Column]) extends MergeAction

  /** General `MERGE INTO` (Delta's multi-clause row-level merge — distinct
    * from the CDC latest-per-key [[merge]]): join `source` to the target
    * snapshot on `condition`, apply the first WHEN MATCHED clause whose
    * condition holds to each matched target row (update or delete), the
    * first WHEN NOT MATCHED insert clause to each source row with no
    * match, the first WHEN NOT MATCHED BY SOURCE clause (Delta's
    * full-sync tier: update or delete) to each target row NO source row
    * matches, and commit a rewrite of ONLY the files that held a row
    * some clause fired on — per-merge cost follows the touched files,
    * not the table, the property that lets a CDC merge run against
    * 100 TB. (NOT MATCHED BY SOURCE is the exception that must LOOK at
    * every target row — absence of a match can't be bounded by the
    * source's keys — so those merges pay one column-pruned full-snapshot
    * anti-join scan, like Delta; the rewrite is still touched-files.)
    *
    * Matching is found with a LEFT SEMI join (one row per touched file
    * collected — metadata-sized), then the touched files FULL OUTER join
    * the source: matched rows branch per clause, unmatched target rows
    * pass through byte-equal, unmatched source rows insert. Like Delta,
    * a target row matched by MORE THAN ONE source row is refused (the
    * update would be nondeterministic) — detected distributedly on the
    * `_metadata.row_index` row keys, never on driver data.
    *
    * Concurrency, constraints, DV/bloom/stats bookkeeping: identical to
    * UPDATE/DELETE (shared [[commitRewrite]] tail; optimistic retry on
    * version races). */
  /** `onKeys` (optional): target↔source column pairs that the ON
    * condition equi-joins on (extracted from the conjuncts by the SQL
    * layer; API callers may pass them directly). When present, the
    * touched-file search runs over a STATS/BLOOM-PRUNED candidate set
    * instead of the whole snapshot — the [[KeyPrune]] every keyed verb
    * shares (the CDC [[merge]] too), making a localized MERGE INTO
    * scan O(touched files) instead of O(table). Sound because a target
    * row can only match a source row whose equi-key it EQUALS, so every
    * match's key lies within the source's per-column bounds; files with
    * no recorded stats are always kept, and pruning only narrows the
    * candidate scan — the semi-join still decides membership exactly. */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      targetAlias: String, sourceAlias: String,
      condition: org.apache.spark.sql.Column,
      matched: Seq[MergeAction] = Seq.empty,
      notMatched: Seq[MergeInsert] = Seq.empty,
      onKeys: Seq[(String, String)] = Seq.empty,
      mergeSchema: Boolean = false,
      notMatchedBySource: Seq[MergeAction] = Seq.empty,
      extraProps: Map[String, Option[String]] = Map.empty,
      batchId: Long = -1L,
      streamId: Option[String] = None): Long = {
    require(matched.forall(!_.isInstanceOf[MergeInsert]),
      "WHEN MATCHED clauses must be MergeUpdate or MergeDelete")
    require(notMatchedBySource.forall(!_.isInstanceOf[MergeInsert]),
      "WHEN NOT MATCHED BY SOURCE clauses must be MergeUpdate or MergeDelete")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty,
      "MERGE INTO needs at least one WHEN clause")
    val src = source.withColumn("__s_present", lit(true)).alias(sourceAlias)
    // snapshot-independent source-side key digest (computed once): the
    // source's per-key-column bounds and distinct hash probes, keyed by
    // the TARGET column names they constrain
    val prune = Option.when(onKeys.nonEmpty)(new KeyPrune(table,
      source.select(onKeys.map { case (tc, sc) => col(sc).as(tc) }: _*),
      onKeys.map(_._1)))
    def attempt(base: Option[Long], bi: BloomIndex): Option[Long] = {
      require(base.nonEmpty, s"mergeInto on empty txlog table $table")
      val files = activeFiles(table, base)
      val logSchema = schemaAsOf(table, base)
        .getOrElse(read(spark, table, base).schema)
      // clause-assigned names resolve CASE-INSENSITIVELY against the
      // target (like UPDATE and every other SQL path) — without this,
      // `SET C_ACCTBAL = …` against c_acctbal reads as an unknown
      // column, and WITH SCHEMA EVOLUTION would add a duplicate
      def canon(name: String): String =
        logSchema.fieldNames.find(_.equalsIgnoreCase(name)).getOrElse(name)
      val matchedC = matched.map {
        case MergeUpdate(c, set) =>
          MergeUpdate(c, set.map { case (k, v) => canon(k) -> v })
        case d => d
      }
      val notMatchedC = notMatched.map(i =>
        MergeInsert(i.condition,
          i.values.map { case (k, v) => canon(k) -> v }))
      val nmbsC = notMatchedBySource.map {
        case MergeUpdate(c, set) =>
          MergeUpdate(c, set.map { case (k, v) => canon(k) -> v })
        case d => d
      }
      // schema evolution (Delta's merge.schema.autoMerge / WITH SCHEMA
      // EVOLUTION): clause-assigned columns absent from the target widen
      // it, typed from the source; the rewrite commits the widened DDL
      // and untouched files NULL-backfill through the log-carried schema
      // on read. Without evolution, an unknown assigned column refuses.
      val clauseCols = ((matchedC ++ nmbsC).collect {
        case MergeUpdate(_, set) => set.keys
      }.flatten ++ notMatchedC.flatMap(_.values.keys)).toSet
      val unknown = clauseCols.diff(logSchema.fieldNames.toSet)
      val added =
        if (unknown.isEmpty) Seq.empty
        else if (!mergeSchema) throw new IllegalArgumentException(
          s"MERGE INTO $table assigns column(s) ${unknown.mkString(", ")} " +
            "not in the target — use WITH SCHEMA EVOLUTION " +
            "(mergeSchema=true) to widen the table")
        else unknown.toSeq.sorted.map { c =>
          source.schema.fields.find(_.name == c)
            .map(f => org.apache.spark.sql.types.StructField(
              c, f.dataType, nullable = true))
            .getOrElse {
              // no same-named source column (an NMBS UPDATE can only
              // reference the target) — Delta types the new column from
              // the ASSIGNMENT EXPRESSION; resolve it against a zero-row
              // aliased target × source frame (schema-only, no data)
              val assigned = (matchedC ++ nmbsC).collectFirst {
                case MergeUpdate(_, set) if set.contains(c) => set(c)
              }.orElse(notMatchedC.collectFirst {
                case i if i.values.contains(c) => i.values(c)
              }).getOrElse(throw new IllegalArgumentException(
                s"MERGE schema evolution: new column $c has no source " +
                  "column and no assignment expression to take its " +
                  "type from"))
              val emptyOf = (sch: org.apache.spark.sql.types.StructType) =>
                spark.createDataFrame(
                  spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
              val probe = emptyOf(logSchema).alias(targetAlias)
                .crossJoin(emptyOf(source.schema).alias(sourceAlias))
              org.apache.spark.sql.types.StructField(c,
                probe.select(assigned).schema.head.dataType,
                nullable = true)
            }
        }
      val tgtSchema = org.apache.spark.sql.types.StructType(
        logSchema.fields ++ added)
      val addedNames = added.map(_.name).toSet
      val candidates = prune.fold(files)(_.candidates(base, bi))
      lastMergeCandidateCount.set(candidates.size) // spec probe
      // one semi-join scan over the CANDIDATES finds the files holding
      // any LIVE matched row
      val matchedFiles = touchedFiles(spark, table, candidates, base)(
        _.alias(targetAlias).join(src, condition, "left_semi"))
      // WHEN NOT MATCHED BY SOURCE reaches target rows with NO source
      // match — membership can't be bounded by the source's key bounds,
      // so the search is one full-snapshot LEFT ANTI scan (column-pruned
      // to the ON keys + clause-condition columns; Delta pays the same
      // full scan for these clauses). The REWRITE stays bounded: only
      // files holding a row some clause actually fires on are rewritten.
      val nmbsCondAny = nmbsC.map {
        case MergeUpdate(c, _) => c.getOrElse(lit(true))
        case MergeDelete(c) => c.getOrElse(lit(true))
        case _ => lit(false)
      }.reduceOption(_ || _)
      val nmbsFiles =
        if (nmbsC.isEmpty) Seq.empty
        else touchedFiles(spark, table, files, base)(
          _.alias(targetAlias).join(src, condition, "left_anti")
            .filter(coalesce(nmbsCondAny.get, lit(false))))
      // files to JOIN (match detection) vs files to REWRITE: a merge
      // with no WHEN MATCHED clause (insert-only / NMBS-only) still
      // reads matched files — the inserts' anti-semantics need to see
      // every match — but must NOT rewrite them (their rows can't
      // change); NMBS-fired files always rewrite
      val joinFiles = files.filter((matchedFiles ++ nmbsFiles).toSet)
      val touched = files.filter(
        ((if (matchedC.nonEmpty) matchedFiles else Nil) ++ nmbsFiles).toSet)
      // read at the attempt's base like every other verb: an
      // enableRowTracking that won the race must reach the retry, or the
      // rewrite would drop its rows' ids
      val tracking = rowTrackingEnabled(table, base)
      if (touched.isEmpty && notMatched.isEmpty)
        Some(base.get) // nothing fires and nothing to insert: no new version
      else {
        // FULL OUTER of the join-file rows against the source. Every target
        // row matching ANY source row lives in a join file by
        // construction, so source rows unmatched here are unmatched against
        // the whole table. An empty join set skips the target side
        // entirely (insert-only merge with no matches).
        val joined =
          if (joinFiles.isEmpty) {
            // no target rows to read — every source row is unmatched; a
            // zero-row target side with the table schema keeps the column
            // and alias shape identical to the join path
            val empty0 = read(spark, table, base).limit(0)
              .withColumn("__dv_f", lit(null).cast("string"))
              .withColumn("__dv_ri", lit(null).cast("long"))
              .withColumn("__t_present", lit(true))
            val empty = (if (tracking)
              empty0.withColumn(RowIdCol, lit(null).cast("long"))
            else empty0).alias(targetAlias)
            empty.join(src, condition, "full_outer")
          } else {
            readFiles(spark, table, joinFiles, base, keepRowKeys = true,
                withRowIds = tracking)
              .withColumn("__t_present", lit(true))
              .alias(targetAlias)
              .join(src, condition, "full_outer")
          }
        val tP = coalesce(col("__t_present"), lit(false))
        val sP = coalesce(col("__s_present"), lit(false))
        // Delta's cardinality rule: a target row matched by >1 source rows
        // has no deterministic update — refuse (only when a WHEN MATCHED
        // clause exists: with none, nothing updates twice — Delta's rule).
        // Grouped on the (file, row_index) row keys: fully distributed,
        // bounded by matched rows.
        if (joinFiles.nonEmpty && matchedC.nonEmpty) {
          val dup = joined.filter(tP && sP)
            .groupBy(col("__dv_f"), col("__dv_ri")).count()
            .filter(col("count") > 1).limit(1).count() > 0
          if (dup) throw new IllegalStateException(
            s"MERGE INTO $table: a target row matched multiple source rows " +
              "— make the ON condition key-unique or pre-aggregate the source")
        }
        // one action id per row, first-matching-clause semantics via a
        // reversed when-chain: matched rows pick a WHEN MATCHED clause
        // (-1 = no clause applies: keep unchanged), source-only rows pick a
        // WHEN NOT MATCHED clause (-2 = none applies: drop)
        val matchedAction = matchedC.zipWithIndex.foldRight(lit(-1)) {
          case ((a, i), els) =>
            val c = a match {
              case MergeUpdate(cond, _) => cond
              case MergeDelete(cond) => cond
              case _ => None
            }
            when(c.getOrElse(lit(true)), lit(i)).otherwise(els)
        }
        val insertAction = notMatchedC.zipWithIndex.foldRight(lit(-2)) {
          case ((a, j), els) =>
            when(a.condition.getOrElse(lit(true)), lit(100 + j)).otherwise(els)
        }
        // target-only rows (tP && !sP) pick a WHEN NOT MATCHED BY SOURCE
        // clause (200+i; -1 = none applies: keep unchanged)
        val nmbsAction = nmbsC.zipWithIndex.foldRight(lit(-1)) {
          case ((a, i), els) =>
            val c = a match {
              case MergeUpdate(cond, _) => cond
              case MergeDelete(cond) => cond
              case _ => None
            }
            when(c.getOrElse(lit(true)), lit(200 + i)).otherwise(els)
        }
        val deleteIds = matchedC.zipWithIndex.collect {
          case (MergeDelete(_), i) => i
        }.toSet ++ nmbsC.zipWithIndex.collect {
          case (MergeDelete(_), i) => 200 + i
        }
        val acted = joined.withColumn("__action",
          when(tP && sP, matchedAction)
            .when(!tP && sP, insertAction)
            .when(tP && !sP, nmbsAction)
            .otherwise(lit(-1)))
        val kept0 = acted.filter(!col("__action")
          .isin((deleteIds + (-2)).toSeq.map(_.asInstanceOf[Any]): _*))
        // target rows read for match detection but living in a NON-rewrite
        // file stay where they are — only insert rows (no target side) and
        // rewrite-file rows flow into the rewritten output
        val kept1 =
          if (joinFiles == touched) kept0
          else kept0.filter(!tP ||
            col("__dv_f").isin(touched.map(fileKey): _*))
        // A merge with NO WHEN MATCHED clause skips the cardinality check
        // (nothing can update twice), but an NMBS-rewritten file can still
        // hold a target row matched by >1 source rows: it appears once per
        // match in the FULL OUTER join, every copy carrying action -1
        // (keep). All copies carry identical target columns — the only ones
        // the rewrite projects for keep rows — so collapse on the physical
        // row key. row_number over that key (not dropDuplicates: the joined
        // frame has clashing target/source column names) keeps one copy;
        // insert rows (no target side) get a unique synthetic key so they
        // all survive AND don't pile into one null-key partition.
        val kept =
          if (matchedC.isEmpty && nmbsFiles.nonEmpty) {
            val dedupKey = when(tP, col("__dv_f"))
              .otherwise(concat(lit("__ins_"),
                monotonically_increasing_id().cast("string")))
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(dedupKey, col("__dv_ri")).orderBy(lit(1))
            kept1.withColumn("__keep_rn", row_number().over(w))
              .filter(col("__keep_rn") === 1).drop("__keep_rn")
          } else kept1
        val outCols = tgtSchema.fields.toSeq.map { f =>
          // an evolution-added column has no target side to keep: rows the
          // clauses don't reach carry NULL (the same backfill untouched
          // files get on read)
          val keepAsIs =
            if (addedNames.contains(f.name)) lit(null).cast(f.dataType)
            else col(s"$targetAlias.${f.name}")
          val branches: Seq[(Int, org.apache.spark.sql.Column)] =
            matchedC.zipWithIndex.collect {
              case (MergeUpdate(_, set), i) if set.contains(f.name) =>
                i -> set(f.name)
            } ++ notMatchedC.zipWithIndex.map { case (ins, j) =>
              // partial INSERT backfill: the column's declared DEFAULT
              // (graft.default.<col>, same rule as SQL INSERT) or NULL
              (100 + j) -> ins.values.getOrElse(f.name,
                properties(table).get(s"graft.default.${f.name}")
                  .map(expr).getOrElse(lit(null)).cast(f.dataType))
            } ++ nmbsC.zipWithIndex.collect {
              case (MergeUpdate(_, set), i) if set.contains(f.name) =>
                (200 + i) -> set(f.name)
            }
          branches.foldRight(keepAsIs) { case ((id, v), els) =>
            when(col("__action") === id, v).otherwise(els)
          }.cast(f.dataType).as(f.name)
        }
        // Row tracking: surviving target rows carry their ids through the
        // rewrite; merge-INSERTED rows have a NULL target side, so their
        // materialized id is NULL and they take this commit's fresh base
        // range on read — stable and globally unique either way.
        val outColsAll = outCols ++ (if (tracking)
          Seq(col(s"$targetAlias.$RowIdCol").as(RowIdCol)) else Nil)
        val rewritten = kept.select(outColsAll: _*)
        commitRewrite(spark, table, base, files, touched,
          rewritten, "merge", schemaDdlOverride =
            if (added.nonEmpty) Some(tgtSchema.toDDL) else None,
          extraProps = extraProps, batchId = batchId,
          streamId = streamId, blooms = Some(bi))
      }
    }
    // a lost race re-derives against the new snapshot
    optimistic(table, "mergeInto") { base =>
      val bi = new BloomIndex(spark, table, base)
      try attempt(base, bi) finally bi.release()
    }
  }

  /** Incremental-consumer form of [[changes]]: everything after the
    * consumer's last-seen version, plus the version cursor to persist for
    * the next poll. The CDF consumption loop — poll, apply the delta
    * downstream, advance the cursor — replaces re-reading the table. */
  def changesSince(spark: SparkSession, table: String, keyCols: Seq[String],
      lastSeen: Long): (DataFrame, Long) = {
    val latest = latestVersion(table).getOrElse(lastSeen)
    (changes(spark, table, keyCols, lastSeen, latest), latest)
  }

  /** Shallow CLONE (Delta's `CREATE TABLE … SHALLOW CLONE src`): `dst`
    * becomes an independent table whose version-1 commit REFERENCES the
    * source snapshot's data (and deletion-vector) files absolutely — zero
    * bytes copied, metadata-only cost at ANY table size. The clone then
    * evolves independently: appends/DML/OPTIMIZE land new files under
    * `dst` and retire the references; the source never sees clone writes.
    * The source's data-skipping stats ride the clone commit (re-keyed to
    * the absolute paths) so range reads prune identically. Shared caveat
    * with Delta: `vacuum` on the SOURCE does not know about clones — run
    * it only past every clone's horizon, or OPTIMIZE the clone first
    * (which localizes its files). Absolute references stamp the commit
    * protocol v2, so a pre-clone reader refuses rather than misresolves. */
  /** DEEP clone: an independent copy of `src`'s snapshot at `asOf` —
    * data materialized into `dst`'s own (relative) files, CHECK
    * constraints carried over, history reset to one overwrite commit.
    * Costs a full read+write of the snapshot (run it AS the Spark job it
    * is), buys complete independence: the source can be vacuumed,
    * overwritten, or deleted without touching the copy — the remedy for
    * the shallow-clone-vs-source-vacuum hazard [[vacuum]] documents.
    * Stats re-record for the new files via `statsCols`. */
  def cloneTableDeep(spark: SparkSession, src: String, dst: String,
      asOf: Option[Long] = None,
      statsCols: Seq[String] = Seq.empty,
      replace: Boolean = false): Long = {
    val exists = latestVersion(dst).nonEmpty
    require(!exists || replace,
      s"clone destination $dst already has a txlog — use CREATE OR " +
        "REPLACE TABLE … DEEP CLONE to replace it")
    // properties land FIRST so the data write sees the declared layout —
    // a partitioned source deep-clones into the same partition layout
    // (property-after-write left the copy's files unpartitioned: reads
    // stayed correct but partition pruning decayed on the clone)
    val props = properties(src, asOf)
    if (exists) {
      // OR REPLACE resets the destination's metadata to the source's:
      // dst-only properties unset, dst-only constraints drop (the
      // incoming snapshot never promised to satisfy them)
      val staleProps = properties(dst).keySet -- props.keySet
      if (staleProps.nonEmpty) unsetProperties(dst, staleProps.toSeq)
      (constraints(dst).keySet -- constraints(src, asOf).keySet)
        .foreach(dropConstraint(dst, _))
    }
    if (props.nonEmpty) setProperties(dst, props)
    val v = overwrite(read(spark, src, asOf), dst, statsCols,
      mergeSchema = exists)
    // constraints AS OF the cloned version: one added to src after the
    // snapshot is no part of the snapshot's contract. The rows being
    // cloned satisfied these at `asOf`, so validation cannot fail.
    constraints(src, asOf).foreach { case (n, e) =>
      addConstraint(spark, dst, n, e) }
    v
  }

  def cloneTable(spark: SparkSession, src: String, dst: String,
      asOf: Option[Long] = None, replace: Boolean = false): Long = {
    val base = latestVersion(dst)
    require(base.isEmpty || replace,
      s"clone destination $dst already has a txlog — use CREATE OR " +
        "REPLACE TABLE … SHALLOW CLONE to replace it")
    // replacing a MAPPED destination with an UNMAPPED source cannot be
    // expressed as one commit (the mapping fold keeps the newest colMap,
    // and "no mapping" has no delta form) — refuse rather than misread
    // the clone's physical names through the stale mapping
    require(base.isEmpty || mappingAsOf(src, asOf).nonEmpty ||
      mappingAsOf(dst).isEmpty,
      s"cannot REPLACE mapped table $dst with a shallow clone of " +
        s"unmapped $src — deep-clone into a fresh path instead")
    val srcAbs = Paths.get(src).toAbsolutePath.normalize.toString
    val files = activeFiles(src, asOf)
    require(files.nonEmpty, s"clone source $src has no committed files")
    // The source's active set can itself hold absolute entries (cloning a
    // clone, or a clone that appended locally) — those are already fully
    // resolved and must pass through verbatim; prefixing them again would
    // point the new clone at nonexistent paths.
    def abs(f: String): String = if (f.startsWith("/")) f else s"$srcAbs/$f"
    val absFiles = files.map(abs)
    val statsByAbs = {
      val statsMap = commits(src).flatMap(_.stats).toMap
      files.flatMap(f => statsMap.get(f).map(s => abs(f) -> s)).toMap
    }
    // string stats and byte sizes ride the clone like numeric stats do —
    // a clone that silently lost sstats would re-open every footer on
    // string-range reads the source could prune
    val sstatsByAbs = {
      val sMap = commits(src).flatMap(_.sstats).toMap
      files.flatMap(f => sMap.get(f).map(s => abs(f) -> s)).toMap
    }
    val dvs = activeDvs(src, asOf).map(abs)
    // the bloom index travels too (absolute sidecar paths, the activeDvs
    // pattern): sidecars key data files by fileKey, which absolute clone
    // entries normalize back to, so pruning on the clone just works — a
    // shallow clone of an indexed table must not silently stop skipping.
    // (Byte sizes need no carry: tryCommit stats the absolute add
    // entries itself.)
    val blooms = activeBlooms(src, asOf).map(abs)
    // table properties travel with the clone (Delta clone semantics):
    // the folded as-of map rides the clone commit as set-deltas; under
    // OR REPLACE, destination-only properties ride as UNSETs so the
    // replaced table's config is exactly the source's
    val srcProps = properties(src, asOf)
    val props: Map[String, Option[String]] =
      srcProps.map { case (k, v) => k -> Some(v) } ++
        (if (base.isEmpty) Map.empty
         else (properties(dst).keySet -- srcProps.keySet)
           .map(_ -> (None: Option[String])).toMap)
    // the column mapping travels with the clone: the referenced files
    // speak the source's PHYSICAL names, so a clone of a mapped table
    // without its mapping would misplan every renamed column
    val srcSchema = schemaAsOf(src, asOf)
    val srcColMap = mappingAsOf(src, asOf).flatMap { m =>
      srcSchema.map(_.fieldNames.toSeq.map(n => n -> m.getOrElse(n, n))) }
    // row tracking: the referenced files' BASE row ids travel with the
    // clone, keyed by the absolute entries like stats do — a fresh
    // allocation here would start at the clone's zero high-water mark and
    // collide with ids already MATERIALIZED inside rewritten source files
    val baseByAbs = {
      val bMap = commits(src).flatMap(_.baseRowIds).toMap
      files.flatMap(f => bMap.get(f).map(b => abs(f) -> b)).toMap
    }
    // OR REPLACE: one commit atomically swaps the destination's active
    // set for the source references (old files/DVs/blooms retire; time
    // travel to the pre-replace versions still works); a fresh clone is
    // the same commit at version 1 with nothing to retire
    val v1 = base.getOrElse(0L) + 1
    if (!tryCommit(dst, Commit(v1, absFiles,
      if (base.isEmpty) Seq.empty else activeFiles(dst),
      "clone", -1L,
      statsByAbs, srcSchema.map(_.toDDL), dvAdd = dvs,
      dvRemove = if (base.isEmpty) Seq.empty else activeDvs(dst),
      sstats = sstatsByAbs, bloomAdd = blooms,
      bloomRemove = if (base.isEmpty) Seq.empty else activeBlooms(dst),
      properties = props,
      colMap = srcColMap, baseRowIds = baseByAbs)))
      throw new IllegalStateException(
        s"clone destination $dst gained a commit mid-clone")
    // carry CHECK constraints AS-OF the cloned snapshot, metadata-only:
    // the referenced rows satisfied them on src at `asOf`, so the
    // validation scan addConstraint would run is pure waste against the
    // zero-copy promise — commit the constraint actions directly.
    // Under OR REPLACE, destination-only constraints drop first (the
    // cloned rows never promised to satisfy them).
    var v = v1
    (if (base.isEmpty) Set.empty[String]
     else constraints(dst).keySet -- constraints(src, asOf).keySet)
      .foreach { n =>
        v += 1
        if (!tryCommit(dst, Commit(v, Seq.empty, Seq.empty,
          "dropConstraint", -1L, constraint = Some(n -> ""))))
          throw new IllegalStateException(
            s"clone destination $dst gained a commit mid-clone")
      }
    constraints(src, asOf).foreach { case (n, e) =>
      v += 1
      if (!tryCommit(dst, Commit(v, Seq.empty, Seq.empty, "addConstraint",
        -1L, constraint = Some(n -> e))))
        throw new IllegalStateException(
          s"clone destination $dst gained a commit mid-clone")
    }
    v
  }

  /** CONVERT TO TXLOG (Delta's `CONVERT TO DELTA parquet.`/dir``): turn
    * an existing plain-parquet directory into a txlog table IN PLACE and
    * with ZERO data copied — every parquet file is HARD-LINKED into a
    * canonical `d-conv<uuid>/` staging dir (same inode, metadata-only
    * cost at any table size; Hive `col=value` subpaths are preserved so
    * partition values parse exactly like written partitions), then one
    * commit publishes the links. The original files stay where they
    * were — existing non-txlog readers keep working — but the TABLE's
    * files are the links: vacuum/OPTIMIZE/DML operate on them with
    * normal semantics. `partitionCols` declares the layout first (the
    * property commit precedes the data commit, as a partitioned write
    * requires); stats/bloom follow the declared table config.
    * Refuses a directory that already has a txlog. */
  def convertParquet(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty): Long = {
    require(latestVersion(dir).isEmpty,
      s"convertParquet: $dir already has a txlog")
    val root = Paths.get(dir)
    require(Files.isDirectory(root), s"convertParquet: $dir is not a dir")
    val parquets = walkDir(root).filter { p =>
      val rel = root.relativize(p).toString
      rel.endsWith(".parquet") && !rel.startsWith("_") &&
        !rel.startsWith("d-") && !rel.startsWith("dv-") &&
        !rel.startsWith("bl-")
    }
    require(parquets.nonEmpty, s"convertParquet: no parquet files in $dir")
    // schema (with partition columns inferred from any col=value dirs)
    // from the directory AS the original readers see it
    val schema = spark.read.parquet(dir).schema
    if (partitionCols.nonEmpty) {
      val missing = partitionCols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"convertParquet: PARTITIONED BY column(s) ${missing.mkString(",")} " +
          s"not found in $dir (inferred: ${schema.fieldNames.mkString(",")})")
      setProperties(dir, Map(
        "graft.partition.columns" -> partitionCols.mkString(",")))
    }
    val sub = s"d-conv${UUID.randomUUID().toString.take(8)}"
    val entries = parquets.map { p =>
      val rel = root.relativize(p)
      val target = root.resolve(sub).resolve(rel)
      Files.createDirectories(target.getParent)
      Files.createLink(target, p)
      s"$sub/$rel"
    }.sorted
    // the links keep their Hive `col=value` subpaths: those columns ride
    // the paths, not the files
    val pathCols = entries.flatMap(partValuesOf(_).map(_._1)).toSet
    val fileSchema = org.apache.spark.sql.types.StructType(
      schema.fields.toSeq.filterNot(f => pathCols(f.name)))
    val staged = stageMeta(spark, dir, entries, fileSchema, None, statsCols,
      Seq.empty, None)
    optimistic(dir, "convertParquet") { base =>
      swap(spark, dir, base, Seq.empty, Seq.empty, staged, "convert",
        Some(schema.toDDL))
    }
  }

  /** `COPY INTO` (Delta's idempotent bulk file ingestion): load the data
    * files under `source` into the table EXACTLY ONCE. Each ingested
    * source is remembered in the commit's `copySources` ledger by
    * identity (absolute path|size|mtime), so a re-run of the same COPY
    * INTO is a safe no-op — the retry-the-whole-job shape bulk backfills
    * need — while an overwritten source file (new size/mtime) re-ingests.
    * `force = true` reloads everything regardless of the ledger.
    *
    * Columns match the table schema BY NAME and cast to its types (the
    * Delta rule); the first COPY INTO of an empty table defines the
    * schema from the files. Listing is metadata-plane (same posture as
    * the log itself); the data read/stage is fully distributed Spark.
    * Returns (version, filesLoaded); nothing fresh → no commit.
    *
    * Ref: Amazon_books_review_data_cleaning.py:21-24 loads raw CSV drops
    * batch-wise; COPY INTO is that ingestion made idempotent. */
  def copyInto(spark: SparkSession, table: String, source: String,
      format: String = "parquet", options: Map[String, String] = Map.empty,
      force: Boolean = false, pattern: Option[String] = None,
      mergeSchema: Boolean = false): (Long, Long) = {
    val root = Paths.get(source)
    require(Files.isDirectory(root), s"COPY INTO: $source is not a directory")
    // PATTERN globs against the path RELATIVE to the source root
    // (Delta's COPY INTO PATTERN semantics): 'daily/*.parquet',
    // '**/part-*.csv', …
    val matcher = pattern.map(g =>
      java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$g"))
    val candidates = walkDir(root).filter(Files.isRegularFile(_)).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".") &&
        matcher.forall(_.matches(root.relativize(p)))
    }.sortBy(_.toString)
    def stamp(p: Path): String =
      s"${p.toAbsolutePath}|${Files.size(p)}|" +
        s"${Files.getLastModifiedTime(p).toMillis}"
    // the idempotence ledger must be re-derived after a lost commit race:
    // two racing COPY INTOs of the same source would otherwise BOTH pass
    // the staleness check they took before either committed, and the
    // loser's retry would double-ingest every file the winner loaded
    optimistic(table, "copyInto") { base =>
      val loaded = stateAt(table, None).copySources
      val fresh =
        if (force) candidates
        else candidates.filterNot(p => loaded.contains(stamp(p)))
      if (fresh.isEmpty) Some((base.getOrElse(0L), 0L))
      else {
        val raw = spark.read.format(format).options(options)
          .load(fresh.map(_.toString): _*)
        // the reserved row-id column is refused here like every other
        // ingest path: a source file carrying it would read back as
        // MATERIALIZED row ids colliding with commit-allocated ranges
        refuseReservedCols(raw)
        val raw1 = stripOrRefuseIdentity(raw, table)
        val df = applyGenerated(schemaAsOf(table) match {
          case Some(sch) => // by-name match + cast, Delta's COPY INTO rule
            // generated AND identity columns are derived, never sourced —
            // exempt from the missing-column rule
            val gen = (generatedCols(table).keySet ++
              identityCols(table).keySet).map(_.toLowerCase)
            val have = raw1.columns.map(_.toLowerCase).toSet
            val missing = sch.fieldNames.filterNot(f =>
              have.contains(f.toLowerCase) || gen.contains(f.toLowerCase))
            require(missing.isEmpty, s"COPY INTO $table: source files lack " +
              s"table columns ${missing.mkString(", ")}")
            // extra source columns REFUSE without mergeSchema (a typo'd
            // column would otherwise vanish silently — Delta's rule);
            // with mergeSchema they ride along and evolve the schema
            val known = (sch.fieldNames.map(_.toLowerCase) ++ gen).toSet
            val extras = raw1.columns.filterNot(c => known.contains(c.toLowerCase))
            require(mergeSchema || extras.isEmpty,
              s"COPY INTO $table: source files carry column(s) " +
                s"${extras.mkString(", ")} not in the table schema — " +
                "drop them or set COPY_OPTIONS ('mergeSchema' = 'true')")
            raw1.select(sch.fields.toSeq
              .filter(f => have.contains(f.name.toLowerCase))
              .map(f => col(f.name).cast(f.dataType).alias(f.name)) ++
              extras.toSeq.map(col): _*)
          case None => raw1
        }, table)
        val schema = resolveSchema(table, df, mergeSchema)
        validateConstraints(df, constraints(table))
        val (mapping, colMap) = extendMapping(table, schema)
        swap(spark, table, base, Seq.empty, Seq.empty,
          stage(df, table, mapping), "copyInto", Some(schema.toDDL),
          colMap = colMap, copySources = fresh.map(stamp))
          .map((_, fresh.size.toLong))
      }
    }
  }

  /** One-row table summary (Delta's DESCRIBE DETAIL): snapshot version,
    * active file count and bytes, partition columns, property count,
    * reader protocol, last commit timestamp. Metadata-plane only. */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val v = latestVersion(table)
    val files = activeFiles(table)
    val sizes = fileSizes(table, v)
    val cs = commits(table)
    Seq((
      "txlog", table, v.getOrElse(-1L), files.size.toLong,
      files.map(f => sizes.getOrElse(f, 0L)).sum,
      declaredCols(table, "graft.partition.columns").mkString(","),
      properties(table).size.toLong,
      cs.map(_.minReader).maxOption.getOrElse(1).toLong,
      cs.lastOption.map(_.ts).getOrElse(-1L),
      // the oldest time-travelable version: the log-retention horizon
      // when the log has been expired, else 1 — what an operator checks
      // before a restore/clone/table_changes against old history
      retentionHorizon(table).getOrElse(1L)))
      .toDF("format", "location", "version", "num_files", "size_bytes",
        "partition_columns", "n_properties", "protocol", "last_commit_ts",
        "earliest_version")
  }

  /** `FSCK REPAIR TABLE` (Delta's fsck): drop active-set references to
    * data files that no longer exist on disk (out-of-band deletion, the
    * failure a 100 TB lake eventually meets) so reads stop failing on
    * them. Returns the missing entries; `dryRun` reports without
    * committing. DV/bloom sidecars that referenced ONLY dropped files
    * retire with the repair (they index nothing live). Rows in dropped
    * files are LOST — fsck repairs readability, not data; restore from
    * an older version or a clone for recovery. */
  def fsck(spark: SparkSession, table: String,
      dryRun: Boolean = false): Seq[String] =
    optimistic(table, "fsck") { base =>
      require(base.nonEmpty, s"fsck on empty txlog table $table")
      val files = activeFiles(table, base)
      val missing = files.filterNot(f =>
        Files.exists(Paths.get(resolve(table, f))))
      if (missing.isEmpty || dryRun) Some(missing)
      else swap(spark, table, base, files, missing,
        Staged(Seq.empty, Map.empty, Map.empty, Seq.empty, Map.empty),
        "fsck", None)
        .map(_ => missing)
    }

  /** DESCRIBE HISTORY analog: one row per commit — version, operation,
    * batch id (−1 for batch writes), files added/removed. The audit
    * surface Delta users query before a time-travel read. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    commits(table)
      .map(c => (c.version, c.op, c.batchId,
        c.add.size.toLong, c.remove.size.toLong,
        c.dvAdd.size.toLong, c.sizes.values.sum, c.ts))
      .toDF("version", "op", "batch_id", "n_added", "n_removed",
        "n_added_dvs", "added_bytes", "ts")
  }

  /** Write a checkpoint (`<v>.checkpoint.json`, the full active file list
    * at the latest version) so reads replay only the commits after it —
    * Delta's `_last_checkpoint` pattern. Run every N commits at scale; an
    * existing checkpoint for the same version is left alone (put-if-absent,
    * same primitive as [[tryCommit]]). Commit files are only ever deleted
    * by explicit retention ([[expireLog]], below the newest full-state
    * checkpoint) — short of that, time travel and batchId replay
    * detection keep their full history. */
  def compact(table: String): Option[Long] =
    latestVersion(table).map { v => writeCheckpointAt(table, v); v }

  /** Checkpoint writer shared by [[compact]] and [[publishProtoFloor]]:
    * the legacy `files` list (pre-state readers fold the snapshot from
    * it) PLUS the full [[TableState]] — so every fold, not just the
    * file list, restarts from here ([[stateAt]]). Put-if-absent like
    * [[tryCommit]]; an existing checkpoint at `v` is left alone.
    *
    * Past `graft.checkpoint.partMaxFiles` active files (table property,
    * then system property, default 100 000) the checkpoint splits into
    * Delta-style parts (`<v>.checkpoint.<i>.<n>.json`): part 1 carries
    * the scalar state, every part carries a disjoint slice of the file
    * list plus the file-keyed maps restricted to its slice. At 10^6
    * active files the single-JSON form is a ~90 MB driver-side write
    * (LogCompactionProbe measures 17 MB at 200k, linear) — parts bound
    * each write and let a future writer parallelize them. Readers use a
    * set only when ALL parts are present ([[checkpointSets]]), so a
    * crash mid-publish leaves an invisible partial set, never a torn
    * snapshot. The `_last_checkpoint` pointer publishes LAST, after
    * every part is durable. */
  private def writeCheckpointAt(table: String, v: Long,
      protoFloor: Int = 1): Unit = {
    val st = stateAt(table, Some(v))
    val files = st.files
    // same minimum-readable-version rule as tryCommit: a checkpoint of a
    // table that never used a v2 feature must stay readable by a v1-era
    // reader (absolute clone refs in the file list demand v2; DV history,
    // whose commits a reader must fold, demands v3). st.minReader already
    // carries the max stamp over the folded history (DV commits stamp
    // >= 3 at write time).
    val needed = Seq(if (files.exists(_.startsWith("/"))) 2 else 1,
      st.minReader, if (hasCompactedLog(table)) 6 else 1,
      retentionFloor(table).getOrElse(1),
      protoFloor).max
    // lenient parse (the sibling-property rule): a malformed value must
    // not throw here — this runs inside the post-commit hook, where the
    // NonFatal catch would silently kill the checkpoint cadence (and
    // with it auto retention/compaction) for the table
    val partMax = st.props.get("graft.checkpoint.partMaxFiles")
      .flatMap(_.trim.toIntOption).getOrElse(
        Integer.getInteger("graft.checkpoint.partMaxFiles", 100000).toInt)
    def place(node: com.fasterxml.jackson.databind.node.ObjectNode,
        target: Path): Unit = {
      val tmp = logDir(table).resolve(s".tmp-${UUID.randomUUID()}")
      Files.write(tmp, mapper.writeValueAsBytes(node))
      try Files.createLink(target, tmp)
      catch { case _: FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)
    }
    val nParts =
      if (partMax <= 0 || files.size <= partMax) 1
      else ((files.size + partMax - 1) / partMax)
    if (nParts == 1) {
      val node = mapper.createObjectNode()
      node.put("protocolVersion", needed)
      node.put("version", v)
      val arr = node.putArray("files")
      files.foreach(arr.add)
      st.toNode(node.putObject("state"))
      place(node, checkpointPath(table, v))
    } else {
      // multi-part files stamp >= 8: any reader that parses them must
      // understand the set-completeness rule (see [[ProtocolVersion]])
      val neededMp = math.max(needed, 8)
      val slices = files.grouped(partMax).toVector
      slices.zipWithIndex.foreach { case (slice, idx) =>
        val node = mapper.createObjectNode()
        node.put("protocolVersion", neededMp)
        node.put("version", v)
        node.put("part", idx + 1)
        node.put("parts", nParts)
        val arr = node.putArray("files")
        slice.foreach(arr.add)
        // toNode prunes the file-keyed maps to this part's slice; parts
        // past the first drop the scalar state (merge reads it from
        // part 1 — see [[mergePartStates]])
        val partState =
          if (idx == 0) st.copy(files = slice)
          else TableState.empty.copy(files = slice, sizes = st.sizes,
            stats = st.stats, sstats = st.sstats, rows = st.rows,
            nulls = st.nulls, baseRowIds = st.baseRowIds)
        partState.toNode(node.putObject("state"))
        place(node, checkpointPartPath(table, v, idx + 1, nParts))
      }
    }
    // pointer last — it must never name a set that isn't fully durable.
    // Forward-only: [[publishProtoFloor]] can checkpoint an OLDER version
    // (the newest without one); the pointer keeps naming the newest.
    if (!lastCheckpoint(table).exists(_._1 > v)) {
      val ptr = mapper.createObjectNode()
      ptr.put("version", v)
      ptr.put("parts", nParts)
      ptr.put("protocolVersion", if (nParts == 1) needed else 8)
      val ptrTmp = logDir(table).resolve(s".tmp-${UUID.randomUUID()}")
      Files.write(ptrTmp, mapper.writeValueAsBytes(ptr))
      Files.move(ptrTmp, lastCheckpointPath(table),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The `_last_checkpoint` pointer's (version, parts), if present and
    * intact. Advisory — see [[lastCheckpointPath]]. */
  private[graft] def lastCheckpoint(table: String): Option[(Long, Int)] = {
    val p = lastCheckpointPath(table)
    if (!Files.exists(p)) return None
    try {
      val n = mapper.readTree(Files.readAllBytes(p))
      Some((n.get("version").asLong(), n.get("parts").asInt()))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def hasCompactedLog(table: String): Boolean = {
    val dir = logDir(table)
    Files.isDirectory(dir) && listDir(dir).exists(p =>
      CompactedName.matches(p.getFileName.toString))
  }

  /** LOG COMPACTION (Delta 3.x's minor log compaction, applied to the
    * whole cold range): consolidate every loose commit file except the
    * newest `keepTail` into ONE `<from>-<to>.compactedlog.json`
    * container, then unlink the loose files. NOTHING is forgotten — the
    * container carries the raw commit records verbatim, so every fold
    * (schema, properties, DVs, blooms, sizes, row-id bases, COPY INTO
    * ledger, replay guards, time travel to ANY version) answers exactly
    * as before. What changes is the FILE count: a long-lived table
    * writing a commit a minute accumulates half a million tiny JSONs a
    * year, and the per-read directory listing + open() cost grows with
    * file count, not bytes — this caps it at O(containers + tail).
    *
    * Crash-safe and race-safe in the same put-if-absent style as
    * [[tryCommit]]: the container hard-links into place FIRST (a reader
    * listing mid-compaction sees a commit twice and [[dedupCommits]]
    * drops the duplicate), loose files unlink after; a crash between the
    * two leaves a benign overlap the next compaction ignores (it starts
    * after the last container's `to`). Compacting stamps the table's
    * reader floor to protocol v6 — see [[ProtocolVersion]].
    *
    * Returns the consolidated (from, to) range, or None when fewer than
    * `minFiles` loose commits would be consolidated. */
  def compactLog(table: String, keepTail: Int = 20,
      minFiles: Int = 10): Option[(Long, Long)] = {
    require(keepTail >= 1, "compactLog: keepTail must be >= 1")
    // crash remnants: a loose commit a published container already
    // covers is a duplicate (identical bytes) — unlink it now
    val ranges = listLog(table).flatMap(p =>
      p.getFileName.toString match {
        case CompactedName(from, to) => Some((from.toLong, to.toLong))
        case _ => None
      })
    listLog(table).foreach { p =>
      p.getFileName.toString match {
        case CommitName(v) if ranges.exists(r =>
          v.toLong >= r._1 && v.toLong <= r._2) => Files.deleteIfExists(p)
        case _ => ()
      }
    }
    val loose = listLog(table)
      .filter(p => CommitName.matches(p.getFileName.toString))
    val lastCompacted = ranges.map(_._2).maxOption.getOrElse(0L)
    def versionOf(p: Path): Long = p.getFileName.toString match {
      case CommitName(v) => v.toLong
      case n => throw new IllegalStateException(s"not a commit file: $n")
    }
    val candidates = loose.dropRight(keepTail)
      .filter(versionOf(_) > lastCompacted)
    if (candidates.size < minFiles) return None
    val versions = candidates.map(versionOf)
    val node = mapper.createObjectNode()
    node.put("protocolVersion", 6)
    val arr = node.putArray("commits")
    candidates.foreach(p => arr.add(mapper.readTree(Files.readAllBytes(p))))
    val tmp = logDir(table).resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    val placed =
      try {
        Files.createLink(compactedPath(table, versions.head, versions.last),
          tmp)
        true
      } catch {
        // same range already consolidated by a racer — identical content
        // (commits are immutable), so unlinking our loose copies is safe
        case _: FileAlreadyExistsException => true
      } finally Files.deleteIfExists(tmp)
    if (placed) {
      // The reader floor must publish atomically with the container: a
      // pre-v6 reader lists only loose <v>.json files, so between this
      // unlink and the NEXT write (which tryCommit/compact would stamp 6)
      // every file it parses still says <=5 and it silently folds a log
      // missing all consolidated commits. Checkpoints are parsed
      // unconditionally by every reader generation, so one checkpoint
      // stamped 6 — written BEFORE the loose files vanish — turns that
      // silent misread into the refusal the stamp exists for.
      publishProtoFloor(table, 6)
      candidates.foreach(Files.deleteIfExists)
    }
    Some((versions.head, versions.last))
  }

  /** LOG RETENTION (Delta's logRetentionDuration, checkpoint-floored):
    * delete every log file strictly COVERED by the newest full-state
    * checkpoint — loose commits and containers at or below its version,
    * and older checkpoints. The checkpoint carries the expired range's
    * complete net effect (file list, schema, properties, constraints,
    * DVs, stats, row-id bases, replay guards, COPY ledger — see
    * [[TableState]]), so every read AT OR ABOVE the horizon answers
    * exactly as before; time travel BELOW it refuses with the remedy
    * named ([[stateAt]]) — the same contract [[vacuum]] applies to data.
    *
    * Requires a full-state checkpoint (run [[compact]] first — the
    * auto-checkpoint usually has). Crash-safe ordering: the v7 reader
    * floor publishes FIRST as a data-less `protocol` COMMIT above the
    * horizon (Delta's protocol-upgrade action) — commits are the one
    * file class EVERY older reader generation parses before answering a
    * metadata fold, and the op is outside their KnownOps, so a pre-v7
    * reader refuses the whole log instead of silently folding the
    * partial history. Then the horizon marker, then the deletes; a crash
    * between any two leaves extra files, never a misread. Below-horizon
    * checkpoints die regardless of stamp (the surviving protocol commit
    * carries the floor), so repeat expiry keeps the log at
    * ~tail + one checkpoint + one protocol commit + the marker — bounded
    * forever. Returns the horizon, or None when nothing can expire. */
  def expireLog(table: String): Option[Long] = {
    // newest STATE-carrying checkpoint = the fold floor every retained
    // read starts from; files-only (legacy) checkpoints can't anchor
    // metadata folds and don't qualify. A multi-part set qualifies only
    // when EVERY part carries state ([[checkpointSets]] already demands
    // every part be present).
    val stateCps = checkpointSets(listLog(table)).flatMap {
      case (v, paths) =>
        val allState =
          try paths.forall(p => Option(
            mapper.readTree(Files.readAllBytes(p)).get("state")).isDefined)
          catch { case scala.util.control.NonFatal(_) => false }
        if (allState) Some((v, paths.size > 1)) else None
    }
    val (h, multiPartFloor) = stateCps.maxByOption(_._1).getOrElse(return None)
    val doomed = listLog(table).filter { p =>
      p.getFileName.toString match {
        case CommitName(v) => v.toLong <= h
        case CompactedName(_, to) => to.toLong <= h
        case CheckpointName(v) => v.toLong < h
        case CheckpointPartName(v, _, _) => v.toLong < h
        case _ => false
      }
    }
    if (doomed.isEmpty && retentionHorizon(table).contains(h)) return Some(h)
    // the floor: a surviving (> h) commit must say minReader >= 7 (8 when
    // the floor checkpoint is multi-part — a v7 reader's listing can't
    // see its parts, see [[ProtocolVersion]]) BEFORE anything vanishes.
    // Tail commits written under an existing marker already do; otherwise
    // publish a data-less protocol commit at tip+1 (a give-up throws
    // before any deletion)
    val floor = if (multiPartFloor) 8 else 7
    val hasFloorTail = commits(table).exists(c =>
      c.version > h && c.minReader >= floor)
    if (!hasFloorTail)
      commitNext(table, "protocol") { v =>
        Commit(v, Seq.empty, Seq.empty, "protocol", -1L, minReader = floor)
      }
    val node = mapper.createObjectNode()
    node.put("horizon", h)
    // the horizon commit's in-commit stamp, captured BEFORE its file
    // vanishes (repeat expiry at the same horizon reuses the recorded
    // value — the commit is already gone): see [[retentionHorizonTs]]
    commits(table).find(_.version == h).map(_.ts)
      .orElse(retentionHorizonTs(table))
      .foreach(node.put("horizonTs", _))
    node.put("protocolVersion", floor)
    // atomic replace — a crash mid-write must never leave a torn marker
    // (readers parse it on the commit path; see [[retentionFloor]])
    val mkTmp = logDir(table).resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(mkTmp, mapper.writeValueAsBytes(node))
    Files.move(mkTmp, retentionMarkerPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    doomed.foreach(Files.deleteIfExists)
    commitCache.remove(table)
    stateCache.remove(table)
    Some(h)
  }

  /** Publish a reader-protocol floor in a file pre-`floor` readers DO
    * parse (see [[compactLog]] / [[expireLog]]). Checkpoints are
    * immutable once published (put-if-absent), so when the newest
    * versions already carry lower-stamped checkpoints the floor lands at
    * the newest version without one. */
  private def publishProtoFloor(table: String, floor: Int): Unit = {
    val alreadyStamped = listLog(table).exists { p =>
      p.getFileName.toString match {
        case CheckpointName(_) | CheckpointPartName(_, _, _) =>
          Option(mapper.readTree(Files.readAllBytes(p))
            .get("protocolVersion")).exists(_.asInt() >= floor)
        case _ => false
      }
    }
    if (alreadyStamped) return
    val have = checkpoints(table).map(_._1).toSet
    commits(table).map(_.version).reverse.find(!have.contains(_))
      .foreach(writeCheckpointAt(table, _, protoFloor = floor))
  }

  /** OPTIMIZE analog: rewrite the CURRENT snapshot into `targetFiles`
    * larger files — the small-file compaction every streaming/merge table
    * needs (each micro-batch commit lands a few small files; scan cost and
    * open-file overhead grow with file count, not bytes). With `clusterBy`
    * the rewrite range-partitions and sorts on those columns — pair with
    * the Z-order/Hilbert key expressions (PipelineQueries ext_zorder_key /
    * ext_hilbert_key) and this is OPTIMIZE ZORDER BY: each output file owns
    * a disjoint key range, so min/max footer stats prune file-level reads.
    *
    * The rewrite is data-only: one new commit adds the compacted files and
    * removes every pre-optimize file. Row multiset is unchanged, readers
    * flip atomically, pre-optimize versions stay time-travelable until
    * [[vacuum]] passes them. Optimistic like [[merge]]: losing the commit
    * race re-reads the new snapshot and recompacts. */
  /** Byte size per active file as of `asOf`: commit-carried sizes first
    * (recorded by [[tryCommit]]), a filesystem stat as the fallback for
    * pre-sizes logs. Metadata-scale — one map entry per active file. */
  def fileSizes(table: String, asOf: Option[Long] = None): Map[String, Long] = {
    val recorded = stateAt(table, asOf).sizes
    activeFiles(table, asOf).flatMap { f =>
      recorded.get(f).orElse {
        val p = Paths.get(resolve(table, f))
        if (Files.exists(p)) Some(Files.size(p)) else None
      }.map(f -> _)
    }.toMap
  }

  /** (row count, per-top-level-column null count) of one parquet file. */
  private type FooterCounts = (Long, Map[String, Long])

  /** [[FooterCounts]] per entry of `files` (table-relative or absolute),
    * from each parquet footer — the same numbers Delta records as
    * numRecords/nullCount, taken from metadata the write already
    * produced. Null counts only for top-level leaf columns whose
    * statistics are present in EVERY row group (a partial sum would
    * under-count and wrongly prune); a file whose footer cannot be read
    * has no entry, the "don't know" direction. One Hadoop configuration
    * serves every file (each new one re-parses the default resources). */
  private def footers(table: String, files: Seq[String])
      : Map[String, FooterCounts] = {
    lazy val conf = new org.apache.hadoop.conf.Configuration()
    files.flatMap(f => scala.util.Try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(resolve(table, f)), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        // per column-chunk Statistics carry numNulls; a column counts only
        // if every block sets it (Statistics may be absent per chunk)
        val perCol = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.size == 1)
          .groupBy(_.getPath.toDotString)
        val colNulls = perCol.flatMap { case (c, chunks) =>
          val stats = chunks.map(ch => Option(ch.getStatistics))
          if (stats.size == blocks.size &&
              stats.forall(_.exists(_.isNumNullsSet)))
            Some(c -> stats.map(_.get.getNumNulls).sum)
          else None
        }
        f -> (nRows, colNulls)
      } finally r.close()
    }.toOption).toMap
  }

  /** Commit-recorded row count per active file as of `asOf` — absent for
    * files whose commit predates row recording (consumers must treat
    * absence as unknown, never zero). */
  def fileRowCounts(table: String, asOf: Option[Long] = None): Map[String, Long] = {
    val recorded = stateAt(table, asOf).rows
    activeFiles(table, asOf).flatMap(f => recorded.get(f).map(f -> _)).toMap
  }

  /** COUNT(*) answered purely from commit metadata — no data file is
    * opened (Delta answers the same query from numRecords). Some(n) iff
    * every active file carries a recorded row count AND no deletion
    * vector is active (a DV hides rows the footer counted; subtracting
    * would need DV cardinality, which the log does not record; the
    * sidecars do) — otherwise None and the caller scans. At 100 TB this
    * is the difference between a millisecond metadata fold and a
    * full-table scan for the most common dashboard query there is. */
  def rowCount(table: String, asOf: Option[Long] = None): Option[Long] = {
    if (activeDvs(table, asOf).nonEmpty) return None
    val active = activeFiles(table, asOf)
    val recorded = stateAt(table, asOf).rows
    val counts = active.flatMap(recorded.get)
    if (counts.size == active.size) Some(counts.sum) else None
  }

  /** Output shape of a bin-packing OPTIMIZE rewrite ([[arrange]]):
    * `targetBytes` sizes the output as ceil(selected bytes / targetBytes)
    * files, from the commit-recorded sizes (Delta's maxFileSize — OPTIMIZE
    * toward ~1 GB files regardless of file count); otherwise
    * `targetFiles` files. */
  private final case class Packing(targetFiles: Int,
      targetBytes: Option[Long], clusterBy: Seq[org.apache.spark.sql.Column])

  /** Output arrangement for an OPTIMIZE rewrite: plain bin-packing
    * when no clustering is requested — `coalesce` (no shuffle) when the
    * read has at least `nOut` partitions, else a round-robin
    * `repartition`, since `coalesce` cannot split the read's partitions
    * (small files packed into few read splits would otherwise write
    * fewer, oversized files); with
    * `clusterBy` keys (a column, or a space-filling-curve key like
    * [[graft.functions.ZOrder.interleave2]]), a range repartition +
    * in-partition sort so every output file covers a tight min/max range
    * of the clustered dimensions — the rewrite that makes the recorded
    * file stats PRUNE (Delta's `OPTIMIZE … ZORDER BY`). The key
    * expressions need not be table columns: they are evaluated for the
    * shuffle/sort only and never appear in the output schema. */
  private def arrange(cur: DataFrame, nOut: Int,
      clusterBy: Seq[org.apache.spark.sql.Column]): DataFrame =
    if (clusterBy.isEmpty) {
      if (nOut > scanPartitions(cur)) cur.repartition(nOut)
      else cur.coalesce(nOut)
    } else cur.repartitionByRange(nOut, clusterBy: _*)
      .sortWithinPartitions(clusterBy: _*)

  /** The partitions `df`'s data scans split their files into, summed
    * over a union, from the physical plan alone. `df.rdd` would count
    * them by running the plan's broadcasts (a join's build side), whose
    * scans are not the read's and are skipped. */
  private def scanPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        Nil
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.inputPlan)
      case f: FileSourceScanExec => Seq(f)
      case _ => p.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.inputRDD.getNumPartitions).sum
  }

  /** The one compaction engine behind every OPTIMIZE-style verb. Each
    * attempt asks `select(base, active)` for the files to rewrite (empty:
    * no-op, `Left(base)`), reads them THROUGH their deletion vectors
    * (deletes materialize; row ids carry over when tracking is on), packs
    * them when `packing` is set (otherwise rewrites them as read), and
    * commits through [[commitRewrite]] as `commitOp` — `Right(v)`. A lost
    * race re-selects against the new snapshot. `statsCols`/`bloomCols`
    * are explicit extras on top of the declared and already-indexed
    * columns. */
  private def compact(spark: SparkSession, table: String, op: String,
      commitOp: String = "optimize", packing: Option[Packing] = None,
      statsCols: Seq[String] = Seq.empty, bloomCols: Seq[String] = Seq.empty)(
      select: (Option[Long], Seq[String]) => Seq[String])
      : Either[Option[Long], Long] =
    optimistic(table, op) { base =>
      val active = base.fold(Seq.empty[String])(_ => activeFiles(table, base))
      val sel = select(base, active)
      if (sel.isEmpty) Some(Left(base))
      else {
        val cur = readFiles(spark, table, sel, base,
          withRowIds = rowTrackingEnabled(table, base))
        val out = packing.fold(cur) { p =>
          val nOut = p.targetBytes.map { tb =>
            require(tb > 0, s"$op targetBytes must be positive: $tb")
            val sizes = fileSizes(table, base)
            val total = sel.map(f => sizes.getOrElse(f, 0L)).sum
            math.max(1L, (total + tb - 1) / tb).toInt
          }.getOrElse(p.targetFiles)
          arrange(cur, nOut, p.clusterBy)
        }
        commitRewrite(spark, table, base, active, sel, out,
          commitOp, statsCols = statsCols, bloomCols = bloomCols).map(Right(_))
      }
    }

  /** Full OPTIMIZE: rewrite every active file into `targetFiles` files
    * (or `targetBytes`-sized ones), materializing every deletion vector —
    * a one-file table with an active DV still rewrites. clusterBy +
    * statsCols is OPTIMIZE ZORDER BY with data skipping: compacted files
    * own disjoint key ranges AND the ranges ride the commit, so readRange
    * prunes to exactly the overlapping files. Explicit `bloomCols`
    * CREATES the index on an existing table (the "build a bloom index"
    * entry point); otherwise the rewrite carries forward whatever columns
    * the table already indexes. */
  def optimize(spark: SparkSession, table: String, targetFiles: Int = 1,
      clusterBy: Seq[org.apache.spark.sql.Column] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      targetBytes: Option[Long] = None,
      bloomCols: Seq[String] = Seq.empty): Long =
    compact(spark, table, "optimize",
      packing = Some(Packing(targetFiles, targetBytes, clusterBy)),
      statsCols = statsCols, bloomCols = bloomCols) { (base, active) =>
      require(base.nonEmpty, s"optimize on empty txlog table $table")
      active
    }.fold(_.get, identity)

  /** Bin-packing OPTIMIZE (Delta's minFileSize form): rewrite ONLY the
    * active files smaller than `minFileSizeBytes` into `targetFiles`
    * compacted files, leaving already-large files byte-identical in
    * place. THIS is the form that scales — a streaming table accretes a
    * trickle of micro-batch files next to properly-sized ones, and
    * full-snapshot OPTIMIZE would rewrite 100 TB to fix 1% of it. Sizes
    * come from the commit log ([[fileSizes]]); the rewrite reads the
    * selected files THROUGH their deletion vectors (deletes
    * materialize), and DVs whose every reference was rewritten retire
    * with the commit — DVs still covering an untouched large file stay
    * active. Returns None when fewer than 2 small files exist.
    *
    * `targetBytes` sizes the OUTPUT in bytes instead of file count —
    * the unit a 100 TB table is actually compacted in (Delta's
    * maxFileSize): the selected small files bin-pack into
    * ceil(their total bytes / targetBytes) output files, so a nightly
    * compaction pass yields ~targetBytes files however much trickle
    * accreted, with no per-table file-count tuning. Overrides
    * `targetFiles` when set; sizes come from the commit log, no
    * filesystem listing. */
  def optimizeSmall(spark: SparkSession, table: String,
      minFileSizeBytes: Long, targetFiles: Int = 1,
      statsCols: Seq[String] = Seq.empty,
      targetBytes: Option[Long] = None,
      clusterBy: Seq[org.apache.spark.sql.Column] = Seq.empty): Option[Long] =
    compact(spark, table, "optimizeSmall",
      packing = Some(Packing(targetFiles, targetBytes, clusterBy)),
      statsCols = statsCols) { (base, active) =>
      require(base.nonEmpty, s"optimize on empty txlog table $table")
      val sizes = fileSizes(table, base)
      val small = active.filter(f => sizes.getOrElse(f, 0L) < minFileSizeBytes)
      if (small.size < 2) Seq.empty else small // nothing to gain from a rewrite
    }.toOption

  /** CLUSTERING-AWARE INCREMENTAL OPTIMIZE (the Delta liquid-clustering
    * maintenance shape, ZCube-lite): on a table with declared
    * `graft.cluster.columns`, rewrite ONLY the files written since the
    * last OPTIMIZE — plus any still-small optimize outputs — into
    * cluster-sorted, range-disjoint files, leaving already-clustered
    * big files byte-identical. "Clustered" is metadata-derived: a file
    * added by an `optimize` commit went through the declared-cluster
    * write path ([[writeData]] range-sorts every write on such tables),
    * so the adding commit's op IS the cube marker — no tags, no scan.
    * Repeated maintenance cost follows the NEW data, not the table:
    * the operation a perpetual writer runs nightly on a 100 TB table,
    * where a full ZORDER rewrite is the operation that cannot ship.
    * Global clustering is deliberately approximate across cubes (the
    * liquid trade): skipping quality converges as cubes merge through
    * the small-output rule. Returns None when fewer than 2 files
    * qualify — an immediate second run is a no-op, which IS the
    * contract. */
  def optimizeIncremental(spark: SparkSession, table: String,
      minFileSizeBytes: Long = 128L * 1024 * 1024,
      targetBytes: Option[Long] = None,
      statsCols: Seq[String] = Seq.empty): Option[Long] = {
    val clusterCols = declaredCols(table, "graft.cluster.columns")
    require(clusterCols.nonEmpty,
      s"optimizeIncremental on $table: declare graft.cluster.columns " +
        "first (the clustering key is what incremental maintenance " +
        "restores); for unclustered compaction use optimizeSmall/OPTIMIZE")
    compact(spark, table, "optimizeSmall",
      packing = Some(Packing(1, targetBytes, clusterCols.map(col))),
      statsCols = statsCols) { (base, active) =>
      require(base.nonEmpty, s"optimize on empty txlog table $table")
      val sizes = fileSizes(table, base)
      val upTo = base.getOrElse(Long.MaxValue)
      // adding-commit op per active file; a file whose adding commit was
      // retention-expired folds as unclustered (rewritten once, cubed
      // thereafter)
      val addedOp: Map[String, String] = commits(table)
        .filter(_.version <= upTo)
        .flatMap(c => c.add.map(_ -> c.op)).toMap
      val uncubed = active.filter(f => !addedOp.get(f).contains("optimize") ||
        sizes.getOrElse(f, 0L) < minFileSizeBytes)
      if (uncubed.size < 2) Seq.empty else uncubed
    }.toOption
  }

  /** Partition-scoped compaction — `OPTIMIZE table WHERE partition = v`
    * (Delta's partition-predicate OPTIMIZE): rewrite ONLY the files of
    * the partitions matching `partition` (a conjunctive tuple over
    * partition columns; `null` matches the null partition), leaving
    * every other partition byte-identical. THE compaction form for a
    * partitioned 100 TB table: the nightly pass compacts yesterday's
    * trickle partition; a snapshot-wide rewrite of 1000 partitions to
    * fix one is the operation that cannot ship. DVs covering only the
    * rewritten files materialize and retire, as in every rewrite.
    * Returns None when the matching partitions hold fewer than 2 files.
    * Values compare against the Hive path values via `String.valueOf`
    * (the representation the partitioned writer produced). */
  def optimizeWhere(spark: SparkSession, table: String,
      partition: Map[String, Any], targetFiles: Int = 1,
      targetBytes: Option[Long] = None,
      clusterBy: Seq[org.apache.spark.sql.Column] = Seq.empty): Option[Long] = {
    require(partition.nonEmpty, "optimizeWhere needs a partition tuple")
    // the caller's tuple names columns LOGICALLY; paths record the
    // frozen physical name under column mapping — translate at the key
    val physName = physOf(mappingAsOf(table)) _
    val want: Map[String, Option[String]] = partition.map {
      case (k, null) => physName(k) -> None
      case (k, v) => physName(k) -> Some(String.valueOf(v))
    }
    val packing = Some(Packing(targetFiles, targetBytes, clusterBy))
    compact(spark, table, "optimizeWhere", packing = packing) { (base, active) =>
      require(base.nonEmpty, s"optimizeWhere on empty txlog table $table")
      val sel = active.filter { f =>
        val p = partValuesOf(f).toMap
        p.nonEmpty && want.forall { case (c, v) => p.get(c).contains(v) }
      }
      // a single-file partition is a no-op UNLESS a deletion vector
      // references it — then the rewrite has a job: materialize the
      // deletes and retire the DV (one metadata-sized ref read decides)
      val worthIt = sel.size >= 2 || sel.nonEmpty && {
        val refs = dvRefKeys(spark, table, activeDvs(table, base))
        sel.exists(f => refs.contains(fileKey(f)))
      }
      if (worthIt) sel else Seq.empty
    }.toOption
  }

  /** Deletion-vector maintenance (Delta's DV compaction threshold inside
    * OPTIMIZE): rewrite ONLY the data files whose DV'd-row fraction
    * exceeds `maxDeletedFraction` — those files scan and probe many dead
    * rows on every read — and leave lightly-deleted files
    * riding their cheap DVs. DV files whose every referenced data file
    * has left the active set retire with the commit. Dead rows come from
    * the DV bitsets, row totals from the commit log (a pre-row-count file
    * reads its footer), so no data file is scanned to decide. Returns the
    * base version unchanged when nothing crosses the threshold. */
  def optimizeDvs(spark: SparkSession, table: String,
      maxDeletedFraction: Double = 0.2): Long =
    compact(spark, table, "optimizeDvs", "optimizeDvs") { (base, files) =>
      require(base.nonEmpty, s"optimizeDvs on empty txlog table $table")
      val dvs = activeDvs(table, base)
      if (dvs.isEmpty) Seq.empty[String] else {
        // dead rows per data-file key: the cardinality of its bitset
        val dead = dvBitmaps(spark, table, dvs).map { case (f, bm) =>
          f -> graft.functions.DvBitmapCodec.cardinality(bm) }
        // total rows per DV'd file: commit-recorded, else its footer
        val dvd = files.filter(f => dead.contains(fileKey(f)))
        val recorded = stateAt(table, base).rows
        val footed = footers(table, dvd.filterNot(recorded.contains))
        dvd.filter { f =>
          val d = dead(fileKey(f))
          val total = recorded.get(f).orElse(footed.get(f).map(_._1))
          d.toDouble / math.max(total.getOrElse(d), 1L) > maxDeletedFraction
        }
      }
    }.fold(_.get, identity)

  /** `REORG TABLE … APPLY (PURGE)` (Delta's reorg verb): physically
    * rewrite exactly the files still carrying soft-deleted state —
    * rows covered by active deletion vectors, and the frozen bytes of
    * DROPped (mapped) columns — so disk no longer holds data the table
    * has logically retired (the GDPR / right-to-erasure path; DV DELETE
    * and DROP COLUMN alone are metadata-fast but leave the bytes).
    * Untouched files keep their paths; ONE commit swaps the affected
    * set and retires the now-inert DV sidecars; row ids survive (the
    * rewrite materializes them like every DML path). Returns None when
    * nothing needs purging. Footer checks run only over files added
    * before the last DROP COLUMN commit — the only possible carriers —
    * so a never-dropped table pays zero footer reads. */
  def reorgPurge(spark: SparkSession, table: String): Option[Long] =
    compact(spark, table, "reorgPurge", commitOp = "reorg") { (base, files) =>
      require(base.nonEmpty, s"reorgPurge on empty txlog table $table")
      val dvd = dvRefKeys(spark, table, activeDvs(table, base))
      val lastDrop = commits(table)
        .filter(c => c.op == "dropColumn" && base.forall(c.version <= _))
        .map(_.version).maxOption
      val stale: Seq[String] = lastDrop match {
        case None => Seq.empty
        case Some(dropV) =>
          val addedAt = commits(table)
            .filter(c => base.forall(c.version <= _))
            .flatMap(c => c.add.map(f => fileKey(f) -> c.version)).toMap
          val phys = physOf(mappingAsOf(table, base)) _
          val allowed = schemaAsOf(table, base).get.fieldNames
            .map(phys).toSet + RowIdCol
          files.filter { f =>
            addedAt.get(fileKey(f)).forall(_ < dropV) &&
              spark.read.parquet(resolve(table, f)).schema.fieldNames
                .exists(n => !allowed.contains(n))
          }
      }
      (files.filter(f => dvd.contains(fileKey(f))) ++ stale).distinct
    }.toOption

  /** Delete data files no snapshot in the last `retainVersions` versions
    * references — removed-before-horizon files and crash orphans. Bounds
    * disk to the live table (plus retention) but also bounds TIME TRAVEL
    * to the horizon: older reads will miss files afterwards. `minAgeMs`
    * protects files an in-flight writer staged but has not committed yet
    * (production callers pass hours; tests pass 0). Returns the deleted
    * relative paths.
    *
    * WARNING — shallow clones: a [[cloneTable]] of this table references
    * this table's files ABSOLUTELY, and vacuum cannot see those
    * references (clones carry no back-pointer — Delta's shallow clones
    * share the exact hazard). Vacuuming a clone SOURCE past the cloned
    * version breaks the clone. Use [[cloneTableDeep]] when the copy must
    * outlive the source's retention. */
  def vacuum(table: String, retainVersions: Int = 2,
      minAgeMs: Long = 0L, dryRun: Boolean = false,
      retainHours: Option[Double] = None,
      lite: Boolean = false): Seq[String] = {
    val latest = latestVersion(table).getOrElse(return Seq.empty)
    // a declared retention FLOOR (`graft.vacuum.retainVersions`) caps
    // how aggressively ANY caller may vacuum this table — the
    // table-level guard rail for time-travel/streaming consumers that a
    // per-call argument cannot provide (Delta's
    // delta.deletedFileRetentionDuration plays the same role)
    val declaredFloor = properties(table).get("graft.vacuum.retainVersions")
      .map { v =>
        try v.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"table property graft.vacuum.retainVersions on $table must " +
              s"be an integer version count, got '$v' — unset or correct " +
              "the property before vacuuming")
        }
      }.getOrElse(0)
    val effective = math.max(retainVersions, declaredFloor)
    val versionHorizon = math.max(1L, latest - effective + 1)
    // Time-based retention (`VACUUM … RETAIN n HOURS`, Delta's shape):
    // every version committed INSIDE the window survives, plus the
    // snapshot that was current AT the window edge — so time travel to
    // any instant within the retention window stays exact. Built on the
    // in-commit timestamp index, which is strictly monotone (see the
    // Commit.ts doc), so the window↔version translation is
    // deterministic regardless of writer clock skew. Composes with
    // version retention by keeping the MOST — retention floors never
    // shrink each other.
    val horizon = retainHours match {
      case None => versionHorizon
      case Some(h) =>
        require(h >= 0, s"VACUUM RETAIN hours on $table must be >= 0, got $h")
        val cutoff = System.currentTimeMillis() - (h * 3600000.0).toLong
        // a commit with no stamp (pre-timestamping log) cannot prove it
        // is outside the window — everything from version 1 is retained
        val atCutoff = commits(table)
          .filter(c => c.ts >= 0 && c.ts <= cutoff)
          .lastOption.map(_.version).getOrElse(1L)
        val hz = math.min(versionHorizon, atCutoff)
        // the newest log checkpoint is the fold anchor readers start
        // from; a time-window sweep that vacuums past it would break
        // time travel TO the checkpoint itself — refuse and name the
        // remedies (the explicit RETAIN n VERSIONS form is the
        // documented override for operators who accept the loss)
        checkpoints(table).lastOption.foreach { case (cv, _) =>
          require(cv >= hz,
            s"VACUUM RETAIN $h HOURS on $table would sweep past the " +
              s"latest log checkpoint (version $cv < horizon $hz) and " +
              "break time travel to it — run compact() to advance the " +
              "checkpoint first, or use RETAIN n VERSIONS to override " +
              "explicitly")
        }
        hz
    }
    // clamp at the LOG-retention horizon: versions below it are not
    // time-travelable at all (expireLog deleted their commits), so
    // protecting their files is meaningless — and asking stateAt for
    // them would refuse, failing a plain VACUUM whose retainVersions
    // happens to exceed the surviving tail
    val protectFrom = math.max(horizon,
      retentionHorizon(table).getOrElse(Long.MinValue))
    val protect = (protectFrom to latest)
      .flatMap(v => activeFiles(table, Some(v)) ++
        activeDvs(table, Some(v)) ++ activeBlooms(table, Some(v))).toSet
    val root = Paths.get(table)
    val now = System.currentTimeMillis()
    // VACUUM LITE (Delta 3.1's shape): candidates come from the LOG's
    // remove actions instead of a recursive directory walk — O(log
    // tail) metadata work where the full sweep pays O(files on disk),
    // the difference between seconds and hours on an object store
    // holding 10⁶+ files. The trade Delta documents applies here too:
    // never-committed orphans (crashed writes that staged data but lost
    // the commit race) are invisible to the log, so a periodic FULL
    // vacuum still owns those. Absolute (shallow-clone) references are
    // skipped — they belong to the source table and were never this
    // table's bytes to delete. Removes recorded in log-retention-expired
    // commits are gone with their commits; files they doomed were
    // vacuumable the moment they left every protected snapshot, so a
    // LITE cadence at least as frequent as log expiry loses nothing.
    val onDisk =
      if (lite)
        commits(table)
          .flatMap(c => c.remove ++ c.dvRemove ++ c.bloomRemove)
          .distinct
          .filterNot(_.startsWith("/"))
          .map(root.resolve(_))
          .filter(Files.exists(_))
      else listDir(root)
        .filter(p => Files.isDirectory(p) && {
          val n = p.getFileName.toString
          // data + deletion vectors + bloom-index sidecars
          n.startsWith("d-") || n.startsWith("dv-") || n.startsWith("bl-")
        })
        // walk recursively: partitioned staging dirs nest value dirs
        // (d-<uuid>/col=value/part-….parquet)
        .flatMap(walkDir)
        .filter(_.getFileName.toString.endsWith(".parquet"))
    val doomed = onDisk.filter { p =>
      val rel = root.relativize(p).toString
      !protect.contains(rel) &&
        now - Files.getLastModifiedTime(p).toMillis >= minAgeMs
    }
    // dry run (VACUUM ... DRY RUN): report what WOULD go, touch nothing —
    // the audit step before an irreversible horizon-bounded delete
    if (dryRun) return doomed.map(p => root.relativize(p).toString)
    doomed.foreach(Files.delete)
    // drop data dirs the sweep emptied of parquet (markers like _SUCCESS
    // go with them); raced/live dirs are left alone
    doomed.map(_.getParent).distinct.foreach { d =>
      val left = listDir(d)
      if (!left.exists(_.getFileName.toString.endsWith(".parquet"))) {
        left.foreach(f => try Files.delete(f)
          catch { case _: java.io.IOException => () })
        try Files.delete(d) catch { case _: java.io.IOException => () }
      }
    }
    doomed.map(p => root.relativize(p).toString)
  }
}
