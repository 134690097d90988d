package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Roaring-style compressed bitset for deletion vectors (container
  * design after Chambi, Lemire, Kaser, Godin — "Better bitmap
  * performance with Roaring bitmaps", Software: Practice & Experience
  * 2016; run containers after Lemire et al., "Consistently faster and
  * smaller compressed bitmaps with Roaring", SPE 2016; own encoding, no
  * library dependency).
  *
  * Why: this is the ONE deletion-vector encoding (Delta stores every DV
  * as a serialized roaring bitmap too). Each 65 536-row block picks the
  * smallest of three containers, so no delete shape degenerates: a
  * contiguous predicate delete is a few run pairs (a 50 % delete of a
  * 100 000-row file is under 100 bytes), a scattered one is ≤ 2
  * bytes/row sparse or a hard 8 KiB per block dense — where a range
  * list would spend one row per isolated dead row.
  *
  * Layout (big-endian, all offsets byte-based):
  * {{{
  *   int32   container count
  *   per container, sorted by key:
  *     int64  key        = rowIndex >>> 16
  *     int8   kind       (0 = sorted uint16 array, 1 = 8 KiB bitmap,
  *                        2 = runs)
  *     int32  cardinality
  *     bytes  payload    (2×card for kind 0; 8192 for kind 1;
  *                        for kind 2 a uint16 run count, then per run
  *                        the sorted, non-overlapping uint16 pair
  *                        (start, length − 1))
  * }}}
  * Each container takes the smallest payload; a tie keeps the older
  * kind (array, then bitmap), so array vs bitmap still breaks even at
  * 4096 entries, where 2 bytes/entry crosses the fixed 8 KiB bitmap.
  *
  * Probing goes through [[DvBitmapCodec.Parsed]] — the container
  * directory (keys + payload offsets) parses ONCE per bitmap, then each
  * probe is a binary search over the key array plus one payload test
  * (bit test dense, uint16 binary search sparse and runs): O(log) per
  * row, zero per-row allocation. The probe expression builds its Parsed
  * map lazily at executor init.
  */
object DvBitmapCodec {

  private val BitmapBytes = 8192

  /** Payload bytes of the container whose header starts at `off`. */
  private def payloadBytes(bb: java.nio.ByteBuffer, off: Int): Int =
    bb.get(off + 8) match {
      case 0 => 2 * bb.getInt(off + 9)
      case 1 => BitmapBytes
      case _ => 2 + 4 * (bb.getShort(off + 13) & 0xFFFF)
    }

  /** Serialize from row-index ranges: each [start, end] run is split at
    * container boundaries; ranges may come in any order and may overlap
    * (each container collects into a bitset first). */
  def fromRanges(ranges: Seq[(Long, Long)]): Array[Byte] = {
    val containers = scala.collection.mutable.HashMap
      .empty[Long, java.util.BitSet]
    ranges.foreach { case (s, e) =>
      var lo = s
      while (lo <= e) {
        val key = lo >>> 16
        val hiOfKey = ((key + 1) << 16) - 1
        val upto = math.min(e, hiOfKey)
        val bs = containers.getOrElseUpdate(key, new java.util.BitSet(1 << 16))
        bs.set((lo & 0xFFFF).toInt, (upto & 0xFFFF).toInt + 1)
        lo = upto + 1
      }
    }
    // (key, bits, kind, payload bytes) — the smallest kind, ties to the older
    val sorted = containers.toSeq.sortBy(_._1).map { case (key, bs) =>
      var runs = 0
      var i = bs.nextSetBit(0)
      while (i >= 0) { runs += 1; i = bs.nextSetBit(bs.nextClearBit(i)) }
      val array = 2 * bs.cardinality()
      val run = 2 + 4 * runs
      if (run < math.min(array, BitmapBytes)) (key, bs, 2, run)
      else if (array <= BitmapBytes) (key, bs, 0, array)
      else (key, bs, 1, BitmapBytes)
    }
    val buf = java.nio.ByteBuffer.allocate(4 + sorted.map(13 + _._4).sum)
    buf.putInt(sorted.size)
    sorted.foreach { case (key, bs, kind, _) =>
      buf.putLong(key); buf.put(kind.toByte); buf.putInt(bs.cardinality())
      kind match {
        case 0 =>
          var i = bs.nextSetBit(0)
          while (i >= 0) { buf.putShort(i.toShort); i = bs.nextSetBit(i + 1) }
        case 1 =>
          buf.put(java.util.Arrays.copyOf(bs.toByteArray, BitmapBytes))
        case _ =>
          val countAt = buf.position()
          buf.putShort(0)
          var runs = 0
          var i = bs.nextSetBit(0)
          while (i >= 0) {
            val end = bs.nextClearBit(i)
            buf.putShort(i.toShort); buf.putShort((end - 1 - i).toShort)
            runs += 1
            i = bs.nextSetBit(end)
          }
          buf.putShort(countAt, runs.toShort)
      }
    }
    buf.array()
  }

  /** Parsed directory of a serialized bitset: container keys and byte
    * offsets as parallel arrays, built ONCE per bitmap (the probe
    * expression parses at executor init), so each row's probe is a
    * binary search over keys + one payload test instead of a linear
    * length-prefix walk per row. */
  final class Parsed(val bytes: Array[Byte]) {
    private val bb = java.nio.ByteBuffer.wrap(bytes)
    private val n = bb.getInt(0)
    val keys = new Array[Long](n)
    private val offs = new Array[Int](n) // payload offset
    private val kinds = new Array[Byte](n)
    // entries a sparse or run payload binary-searches: card or run count
    private val lens = new Array[Int](n)
    locally {
      var off = 4
      var i = 0
      while (i < n) {
        keys(i) = bb.getLong(off)
        kinds(i) = bb.get(off + 8)
        lens(i) =
          if (kinds(i) == 2) bb.getShort(off + 13) & 0xFFFF
          else bb.getInt(off + 9)
        offs(i) = off + 13 + (if (kinds(i) == 2) 2 else 0)
        off += 13 + payloadBytes(bb, off)
        i += 1
      }
    }
    def contains(ri: Long): Boolean = {
      if (ri < 0) return false
      val key = ri >>> 16
      val low = (ri & 0xFFFF).toInt
      val c = java.util.Arrays.binarySearch(keys, key)
      if (c < 0) return false
      if (kinds(c) == 1) {
        val b = bytes(offs(c) + (low >>> 3))
        ((b >> (low & 7)) & 1) == 1
      } else if (kinds(c) == 2) {
        // the last run starting at or before `low` is the only candidate
        var lo = 0; var hi = lens(c) - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val s = bb.getShort(offs(c) + 4 * mid) & 0xFFFF
          if (s > low) hi = mid - 1
          else if (low <= s + (bb.getShort(offs(c) + 4 * mid + 2) & 0xFFFF))
            return true
          else lo = mid + 1
        }
        false
      } else {
        var lo = 0; var hi = lens(c) - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val v = bb.getShort(offs(c) + 2 * mid) & 0xFFFF
          if (v == low) return true
          else if (v < low) lo = mid + 1
          else hi = mid - 1
        }
        false
      }
    }
  }

  /** One-shot probe against the serialized form (spec/driver use; the
    * per-row hot path goes through a cached [[Parsed]]). */
  def contains(bytes: Array[Byte], ri: Long): Boolean =
    new Parsed(bytes).contains(ri)

  /** Decode back to sorted, coalesced ranges — the inverse of
    * [[fromRanges]]. O(set bits) for array and bitmap containers,
    * O(runs) for run containers. */
  def toRanges(bytes: Array[Byte]): Seq[(Long, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt(0)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var runStart = -1L
    var runEnd = -2L
    def emit(s: Long, e: Long): Unit =
      if (s == runEnd + 1) runEnd = e
      else {
        if (runStart >= 0) out += ((runStart, runEnd))
        runStart = s; runEnd = e
      }
    var off = 4
    var i = 0
    while (i < n) {
      val key = bb.getLong(off)
      val card = bb.getInt(off + 9)
      bb.get(off + 8) match {
        case 0 =>
          var j = 0
          while (j < card) {
            val ri = (key << 16) | (bb.getShort(off + 13 + 2 * j) & 0xFFFF)
            emit(ri, ri)
            j += 1
          }
        case 1 =>
          var low = 0
          while (low < 65536) {
            val b = bytes(off + 13 + (low >>> 3))
            if (((b >> (low & 7)) & 1) == 1) emit((key << 16) | low, (key << 16) | low)
            low += 1
          }
        case _ =>
          val runs = bb.getShort(off + 13) & 0xFFFF
          var j = 0
          while (j < runs) {
            val s = (key << 16) | (bb.getShort(off + 15 + 4 * j) & 0xFFFF)
            emit(s, s + (bb.getShort(off + 17 + 4 * j) & 0xFFFF))
            j += 1
          }
      }
      off += 13 + payloadBytes(bb, off)
      i += 1
    }
    if (runStart >= 0) out += ((runStart, runEnd))
    out.toSeq
  }

  /** Total set bits — the dead-row count optimizeDvs budgets from; a
    * read of the container headers only. */
  def cardinality(bytes: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt(0)
    var off = 4
    var i = 0
    var total = 0L
    while (i < n) {
      total += bb.getInt(off + 9)
      off += 13 + payloadBytes(bb, off)
      i += 1
    }
    total
  }

  /** Bitwise OR of several bitsets (several DVs on one file) — through
    * their ranges, so a run is never expanded to its bits. One bitset
    * comes back as is. */
  def union(bitmaps: Seq[Array[Byte]]): Array[Byte] =
    if (bitmaps.size == 1) bitmaps.head
    else fromRanges(bitmaps.flatMap(toRanges))
}

/** `dv_bitmap_from_ranges(sort_array(collect_list(struct(start, end))))`
  * → serialized bitset bytes. One evaluation per DV'd file in the DV
  * write path — eval-only (CodegenFallback) is fine off the per-row
  * hot path. */
case class DvBitmapFromRanges(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _) if s.length == 2 &&
          s.fields.forall(_.dataType == LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dv_bitmap_from_ranges expects array<struct<start:bigint,end:bigint>>, got ${other.simpleString}")
    }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val ranges = (0 until arr.numElements()).map { i =>
      val row = arr.getStruct(i, 2)
      (row.getLong(0), row.getLong(1))
    }
    DvBitmapCodec.fromRanges(ranges)
  }
  override protected def withNewChildInternal(c: Expression): DvBitmapFromRanges =
    copy(child = c)
}

/** Constant-map DV probe: `bitmapsByFile` is resolved ONCE at plan time
  * (from a foldable map literal — the NearestCellsL2 pattern) and rides
  * the expression to executors; each row pays one parse-free
  * [[DvBitmapCodec.contains]] against its file's bytes. This keeps every
  * DV'd read JOIN-FREE — the per-file bitmap plays the role Delta's DV
  * descriptor plays in its scan's partition metadata.
  * Size ceiling is the plan-shipping cost of the map (same ceiling the
  * literal centroid matrix documents); a DV set outgrowing it is the
  * standing signal to run optimizeDvs, which rewrites heavily-deleted
  * files and retires their DVs. */
case class DvMapProbe(file: Expression, ri: Expression,
    bitmapsByFile: Map[String, Array[Byte]])
    extends Expression {
  override def children: Seq[Expression] = Seq(file, ri)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  // keyed by UTF8String (no per-row String conversion) and PRE-PARSED
  // (no per-row directory walk): built once per executor at first probe
  @transient private lazy val keyed: Map[UTF8String, DvBitmapCodec.Parsed] =
    bitmapsByFile.map { case (k, v) =>
      UTF8String.fromString(k) -> new DvBitmapCodec.Parsed(v) }
  /** Per-row probe shared by eval and the generated code. */
  def probe(f: UTF8String, r: Long): Boolean = keyed.get(f) match {
    case Some(p) => p.contains(r)
    case None => false
  }
  override def eval(input: InternalRow): Any = {
    val f = file.eval(input)
    val r = ri.eval(input)
    if (f == null || r == null) false
    else probe(f.asInstanceOf[UTF8String], r.asInstanceOf[Long])
  }
  /** Real codegen (not CodegenFallback): this sits on the scan side of
    * every DV'd read, and an interpreted expression there would
    * break the whole-stage-codegen span around the filter. The
    * expression instance ships as a codegen reference object; generated
    * code calls [[probe]] directly. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val refName = ctx.addReferenceObj("dvMapProbe", this)
    val fGen = file.genCode(ctx)
    val rGen = ri.genCode(ctx)
    ev.copy(code = code"""
      ${fGen.code}
      ${rGen.code}
      boolean ${ev.value} = false;
      if (!${fGen.isNull} && !${rGen.isNull}) {
        ${ev.value} = $refName.probe(${fGen.value}, ${rGen.value});
      }""", isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): DvMapProbe =
    copy(file = cs(0), ri = cs(1))
}
