package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The skipping metadata of one data file: (min, max) per stats column,
  * numerics and timestamps as doubles (`stats`) and strings as strings
  * (`sstats`), and one serialized bloom filter per bloom column. */
private[ops] final case class FileMeta(
    stats: Map[String, (Double, Double)],
    sstats: Map[String, (String, String)],
    blooms: Map[String, Array[Byte]]) {

  /** The bounds of this file together with `o`'s, a partial result of
    * the same file from another split of one scan. */
  def mergeBounds(o: FileMeta): FileMeta = {
    def bounds[T](a: Map[String, (T, T)], b: Map[String, (T, T)])(
        cmp: (T, T) => Int): Map[String, (T, T)] =
      (a.keySet ++ b.keySet).map { c =>
        c -> ((a.get(c), b.get(c)) match {
          case (Some((l1, h1)), Some((l2, h2))) =>
            (if (cmp(l1, l2) <= 0) l1 else l2, if (cmp(h1, h2) >= 0) h1 else h2)
          case (x, y) => x.orElse(y).get
        })
      }.toMap
    FileMeta(bounds(stats, o.stats)(java.lang.Double.compare),
      bounds(sstats, o.sstats)(TxLog.utf8Cmp), Map.empty)
  }
}

private[ops] object FileMeta {
  /** Types whose min/max cast to double losslessly enough for range
    * stats: numerics, and timestamps (epoch seconds — the same cast
    * range callers apply to their bounds, so units always agree).
    * Event-time is the most common clustering column at lake scale;
    * without this a time-range read would open every footer. */
  def doubleCastable(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _: TimestampType => true
    case _ => false
  }

  /** Filters hold ~3 % fpp (~7.3 bits per key) at the file's own row
    * count, clamped to [64, 4 M] items and 64 Mi bits — the sketch
    * aggregate's ceilings. An over-full filter only costs extra false
    * positives (extra reads), never a missed row. */
  def sizing(rows: Long): BloomFilterAggregate = {
    val est = math.min(math.max(rows, 64L), MaxItems)
    new BloomFilterAggregate(Literal(0L), Literal(est),
      Literal(math.min(est * 8L, 67108864L)))
  }

  val MaxItems = 4000000L
}

/** What [[FileMetaAcc]] collects from rows of `schema` (the data file's
  * columns, in order, under physical names): min/max of `statsCols` and
  * bloom filters of `bloomCols`. Stats columns of a type neither
  * [[FileMeta.doubleCastable]] nor STRING record nothing: the file is
  * simply never pruned on them, the safe direction. */
private[ops] final case class MetaSpec(schema: StructType,
    statsCols: Seq[String], bloomCols: Seq[String]) {
  val numCols: Seq[String] =
    statsCols.filter(c => FileMeta.doubleCastable(schema(c).dataType))
  val strCols: Seq[String] =
    statsCols.filter(c => schema(c).dataType == StringType)
  def isEmpty: Boolean =
    numCols.isEmpty && strCols.isEmpty && bloomCols.isEmpty
}

/** The one per-file accumulator of skipping metadata: every staged write
  * feeds it each row its task writes ([[FileMetaTracker]]), and a linked
  * (converted) file feeds it the rows of one scan. So the min/max and
  * bloom rules live here only:
  *   - min/max in Spark's own ordering of the column type, exactly what
  *     `min(c)`/`max(c)` compute — for strings UTF-8 byte order, the
  *     order `sstats` is compared in ([[TxLog.utf8Cmp]]); numeric and
  *     timestamp bounds then cast to double as `cast("double")` does
  *     (timestamps become epoch seconds). A column all NULL within the
  *     file records no bounds;
  *   - blooms hold `xxhash64(c)` (seed 42) of every row — NULL hashes to
  *     the seed — in Spark's runtime bloom-filter sketch, sized by
  *     [[FileMeta.sizing]] from the file's row count. A writing task
  *     learns that count when the file closes, so until then the hashes
  *     buffer (at most [[FileMeta.MaxItems]] per column: past that the
  *     size is fixed).
  * A file of zero rows records nothing. */
private[ops] final class FileMetaAcc(spec: MetaSpec) {
  private def index(cs: Seq[String]) = cs.map(spec.schema.fieldIndex).toArray
  private val num = index(spec.numCols)
  private val str = index(spec.strCols)
  private val statIdx = num ++ str
  private val types = statIdx.map(spec.schema(_).dataType)
  private val orders = types.map(PhysicalDataType.ordering)
  private val lo, hi = new Array[Any](statIdx.length)
  private lazy val hashOf = UnsafeProjection.create(
    index(spec.bloomCols).toSeq.map(i => new XxHash64(Seq(
      BoundReference(i, spec.schema(i).dataType, nullable = true)))))
  private val nBloom = spec.bloomCols.size
  private var rows = 0L
  private var sketch: BloomFilterAggregate = _
  private var filters: Array[BloomFilter] = _
  private var buffered = Array.fill(nBloom)(new Array[Long](64))

  def add(row: InternalRow): Unit = {
    var k = 0
    while (k < statIdx.length) {
      val v = row.get(statIdx(k), types(k))
      if (v != null) {
        if (lo(k) == null || orders(k).lt(v, lo(k))) lo(k) = own(v)
        if (hi(k) == null || orders(k).gt(v, hi(k))) hi(k) = own(v)
      }
      k += 1
    }
    if (nBloom > 0) {
      val h = hashOf(row)
      var j = 0
      if (filters != null) while (j < nBloom) {
        filters(j).putLong(h.getLong(j)); j += 1
      } else {
        if (rows == buffered(0).length) buffered = buffered.map(b =>
          java.util.Arrays.copyOf(b, b.length * 2))
        while (j < nBloom) { buffered(j)(rows.toInt) = h.getLong(j); j += 1 }
      }
    }
    rows += 1
    if (rows == FileMeta.MaxItems && nBloom > 0 && filters == null) flush(rows)
  }

  /** A retained value must not alias the writer's reused row buffer. */
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case o => o
  }

  /** Size the filters for `n` rows and move the buffered hashes in. */
  private def flush(n: Long): Unit = {
    sketch = FileMeta.sizing(n)
    filters = Array.fill(nBloom)(sketch.createAggregationBuffer())
    var j = 0
    while (j < nBloom) {
      var i = 0
      while (i < rows) { filters(j).putLong(buffered(j)(i)); i += 1 }
      j += 1
    }
    buffered = null
  }

  def result(): FileMeta = {
    if (rows == 0) return FileMeta(Map.empty, Map.empty, Map.empty)
    if (nBloom > 0 && filters == null) flush(rows)
    def bounds[T](cols: Seq[String], at: Int)(f: (Any, DataType) => T) =
      cols.zipWithIndex.collect { case (c, i) if lo(at + i) != null =>
        c -> (f(lo(at + i), types(at + i)), f(hi(at + i), types(at + i)))
      }.toMap
    FileMeta(
      bounds(spec.numCols, 0)((v, dt) =>
        Cast(Literal(v, dt), DoubleType, Some("UTC")).eval()
          .asInstanceOf[Double]),
      bounds(spec.strCols, num.length)((v, _) => v.toString),
      if (nBloom == 0) Map.empty
      else spec.bloomCols.zip(filters.map(sketch.serialize)).toMap)
  }
}

/** Per-task result of a [[FileMetaTracker]]: each file the task wrote,
  * keyed by its path below the write's output directory. */
private[ops] final case class FileMetaStats(files: Seq[(String, FileMeta)])
  extends WriteTaskStats

/** Collects [[FileMeta]] inside the write job: each task feeds every row
  * of every file it writes into one [[FileMetaAcc]] per file and returns
  * the results with its commit message, so no second job re-reads the
  * files. A file is keyed by its last `keySegs` path segments — its
  * `col=value` partition directories and its part-file name, which the
  * commit keeps when it moves the file from the task's temporary
  * directory. `results` fills on the driver when the job commits. */
private[ops] final class FileMetaTracker(spec: MetaSpec, keySegs: Int)
  extends WriteJobStatsTracker {
  @transient val results: mutable.Map[String, FileMeta] = mutable.Map.empty

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val open = mutable.Map.empty[String, FileMetaAcc]
      private val done = mutable.ArrayBuffer.empty[(String, FileMeta)]
      private var lastPath: String = _
      private var last: FileMetaAcc = _
      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit =
        open(path) = new FileMetaAcc(spec)
      override def closeFile(path: String): Unit = {
        open.remove(path).foreach(a => done += key(path) -> a.result())
        if (path == lastPath) { lastPath = null; last = null }
      }
      override def newRow(path: String, row: InternalRow): Unit = {
        if (!(path eq lastPath)) { lastPath = path; last = open(path) }
        last.add(row)
      }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
        open.keys.toSeq.foreach(closeFile)
        FileMetaStats(done.toSeq)
      }
    }

  private def key(path: String): String =
    path.split('/').takeRight(keySegs).mkString("/")

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    stats.foreach { case s: FileMetaStats => results ++= s.files }
}
