package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Auto Loader-style schema tracking for the file-stream sources
  * (cloudFiles.schemaLocation + addNewColumns,
  * /root/reference/Amazon_books_review_medallion_architecture.py:12, 53).
  *
  * OSS Spark's file source takes a FIXED schema, so drift is handled the
  * way Auto Loader itself handles it: when newly-landed files carry
  * columns the tracked schema doesn't know, the tracked schema is widened
  * (new fields appended, nullable), persisted, and the stream is
  * RESTARTED with the evolved schema — the checkpoint's file-offset log
  * survives the restart, so only unprocessed files are read with the new
  * schema. Downstream parquet readers see both generations via
  * `mergeSchema`; pre-drift rows read NULL for the new columns.
  */
object SchemaEvolution {

  /** Append fields present in `observed` but unknown to `tracked`
    * (nullable — pre-drift data has no values for them). Existing fields
    * keep their tracked type: silent type *changes* are not evolution,
    * they are a pipeline bug to surface. */
  def evolve(tracked: StructType, observed: StructType): StructType =
    observed.fields.foldLeft(tracked) { (acc, f) =>
      if (acc.fieldNames.contains(f.name)) acc
      else acc.add(f.copy(nullable = true))
    }

  /** True iff `observed` carries fields `tracked` doesn't know. */
  def drifted(tracked: StructType, observed: StructType): Boolean =
    observed.fieldNames.exists(!tracked.fieldNames.contains(_))

  private def schemaFile(schemaDir: String) = new Path(schemaDir, "_schema.ddl")
  private def tmpFile(schemaDir: String) = new Path(schemaDir, "_schema.ddl.tmp")

  private def readDdl(fs: FileSystem, f: Path): StructType = {
    val in = fs.open(f)
    try StructType.fromDDL(new String(in.readAllBytes(), StandardCharsets.UTF_8))
    finally in.close()
  }

  /** Load the persisted tracked schema, or None before first track.
    *
    * The delete+rename swap in [[track]] is not atomic: a crash between the
    * two leaves only `_schema.ddl.tmp`. The tmp holds a COMPLETE evolved
    * schema (fully written and closed before the swap starts), so recover
    * it rather than returning None — reinitializing from the currently
    * observed files would silently drop previously-evolved columns once
    * old landing files are retired. */
  def load(spark: SparkSession, schemaDir: String): Option[StructType] = {
    val fs = FileSystem.get(new java.net.URI(schemaDir),
      spark.sparkContext.hadoopConfiguration)
    val f = schemaFile(schemaDir)
    if (fs.exists(f)) Some(readDdl(fs, f))
    else {
      val tmp = tmpFile(schemaDir)
      if (fs.exists(tmp)) Some(readDdl(fs, tmp))
      else None
    }
  }

  /** Merge `observed` into the persisted schema at `schemaDir` (creating
    * it on first call) and return the evolved schema — the schemaLocation
    * bookkeeping a restart reads its source schema from. The write goes
    * through a temp file + checked rename: `create(overwrite)` truncates
    * in place, so a crash mid-write would leave an empty DDL file that
    * breaks every subsequent restart. A crash BETWEEN the delete and the
    * rename is covered on the read side: [[load]] recovers the complete
    * tmp, and the next track() re-runs the swap to completion. */
  def track(spark: SparkSession, schemaDir: String,
      observed: StructType): StructType = {
    val tracked = load(spark, schemaDir).getOrElse(observed)
    val evolved = evolve(tracked, observed)
    val fs = FileSystem.get(new java.net.URI(schemaDir),
      spark.sparkContext.hadoopConfiguration)
    val tmp = tmpFile(schemaDir)
    val out = fs.create(tmp, true)
    try out.write(evolved.toDDL.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = schemaFile(schemaDir)
    if (fs.exists(target) && !fs.delete(target, false))
      throw new java.io.IOException(s"delete $target failed")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
    evolved
  }

  /** Auto Loader's AUTO-RESTART behavior (the `addNewColumns` failure→
    * retry loop, reference medallion.py:12/:53), emulated as a
    * supervisor: drive one `attempt` (an `AvailableNow` run that reads
    * the landing zone with the tracked schema and calls [[track]] itself —
    * e.g. `Medallion.bronzeStreamEvolving`) to completion, then compare
    * the persisted schema against the landing zone's merged file schema.
    * New columns ⇒ restart: the next attempt reads with the evolved
    * schema, and the checkpoint's offset log keeps already-processed
    * files processed. A file landing DURING an attempt is outside its
    * AvailableNow snapshot, so drifted files are not consumed under the
    * pre-drift schema (the residual race is the instant between track()
    * and stream start — Auto Loader closes it with its notification
    * service; this emulation narrows it to one attempt boundary).
    * Returns (final tracked schema, attempts run); throws if the zone is
    * still drifting after `maxRestarts` restarts. */
  def runAutoRestart(spark: SparkSession, landingDir: String,
      schemaDir: String, maxRestarts: Int = 5)(
      attempt: () => org.apache.spark.sql.streaming.StreamingQuery)
      : (StructType, Int) = {
    def observed: StructType =
      spark.read.option("mergeSchema", "true").parquet(landingDir).schema
    var attempts = 0
    while (attempts <= maxRestarts) {
      attempt().awaitTermination()
      attempts += 1
      val tracked = load(spark, schemaDir).getOrElse(observed)
      if (!drifted(tracked, observed)) return (tracked, attempts)
    }
    throw new IllegalStateException(
      s"landing zone still drifting after $maxRestarts restarts — " +
        "schema churn needs operator attention, not another retry")
  }
}
