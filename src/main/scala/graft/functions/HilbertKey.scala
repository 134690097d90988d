package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert curve index of a `bits`-resolution grid cell — a data-layout
  * key for [[graft.ops.TxLog.optimize]]'s `clusterBy`, as the
  * higher-locality alternative to the Morton key ([[ZOrder.interleave2]]).
  *
  * Why Hilbert next to Z-order: the Morton curve takes long diagonal jumps
  * at every power-of-two boundary, so a sorted file run can span a wide
  * rectangle in (a, b) space and its parquet min/max footer stats go slack
  * on one dimension; the Hilbert curve moves to an adjacent cell at EVERY
  * step (`HilbertSpec` pins this), so equal-size key ranges map to tighter
  * bounding boxes and skipping prunes more files — the difference grows
  * with file count, i.e. with table size.
  *
  * The classic iterative xy→d walk (Warren, Hacker's Delight §16; public
  * domain formulation) is state-mutating — per-bit rotate/flip of the
  * quadrant frame — which is exactly what a Catalyst expression tree is bad
  * at expressing: unrolling it as Column arithmetic triples the tree per
  * level (each of x', y' references both x and y), ~3^bits nodes. So this
  * is SURVEY.md §7.3 preference (b), a native expression whose
  * [[doGenCode]] emits the actual Java loop inside whole-stage codegen;
  * [[HilbertKey.xy2dSql]] emits the same walk for the DuckDB oracle as
  * `bits` nested subqueries, where each level's state lives in named
  * columns and the blowup doesn't occur.
  *
  * Inputs are grid coordinates in [0, 2^bits); anything outside returns
  * NULL rather than silently wrapping — an out-of-range coordinate is an
  * upstream bucketing bug, and wrapping it would scatter the row to an
  * arbitrary position in the layout where no one would ever notice.
  */
case class HilbertKey(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_key requires (bigint, bigint), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hilbert_key"

  private val n: Long = 1L << bits

  override def nullSafeEval(a: Any, b: Any): Any = {
    var x = a.asInstanceOf[Long]
    var y = b.asInstanceOf[Long]
    if (x < 0 || x >= n || y < 0 || y >= n) return null
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate the frame (flip first when in quadrant 3)
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
         |long $x = $a; long $y = $b;
         |if ($x < 0 || $x >= ${n}L || $y < 0 || $y >= ${n}L) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $d = 0L;
         |  for (long $s = ${n >> 1}L; $s > 0; $s >>= 1) {
         |    long $rx = (($x & $s) > 0) ? 1L : 0L;
         |    long $ry = (($y & $s) > 0) ? 1L : 0L;
         |    $d += $s * $s * ((3L * $rx) ^ $ry);
         |    if ($ry == 0) {
         |      if ($rx == 1) { $x = $s - 1 - $x; $y = $s - 1 - $y; }
         |      long $t = $x; $x = $y; $y = $t;
         |    }
         |  }
         |  ${ev.value} = $d;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertKey =
    copy(left = newLeft, right = newRight)
}

object HilbertKey {

  /** The identical walk as portable SQL: `bits` nested subqueries over
    * `from`, each advancing the (x, y, d) state columns by one bit level,
    * so DuckDB recomputes the curve bit-for-bit for the oracle. The
    * quadrant index `(3*rx) XOR ry` is spelled as the arithmetic
    * `3*rx + ry - 2*rx*ry` (identical on bit-valued operands) because no
    * XOR spelling is shared between engines — Spark's `^` is XOR but
    * DuckDB's is exponentiation, and Spark has no `xor()` function.
    * `passCols` are carried through untouched (the output key columns). */
  def xy2dSql(a: String, b: String, bits: Int, from: String,
              passCols: Seq[String]): String = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val pass = passCols.mkString(", ")
    // state columns are _h-prefixed so passCols named x/y/d can't collide
    val seed =
      s"SELECT $pass, CAST(($a) AS BIGINT) AS _hx, CAST(($b) AS BIGINT) AS _hy, CAST(0 AS BIGINT) AS _hd FROM $from"
    ((bits - 1) to 0 by -1).foldLeft(seed) { (inner, level) =>
      val s = 1L << level
      val rx = s"(CASE WHEN (_hx & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (_hy & $s) > 0 THEN 1 ELSE 0 END)"
      s"""SELECT $pass,
         | CASE WHEN $ry = 1 THEN _hx WHEN $rx = 1 THEN $s - 1 - _hy ELSE _hy END AS _hx,
         | CASE WHEN $ry = 1 THEN _hy WHEN $rx = 1 THEN $s - 1 - _hx ELSE _hx END AS _hy,
         | _hd + ${s * s} * (3 * $rx + $ry - 2 * $rx * $ry) AS _hd
         |FROM ($inner)""".stripMargin
    }
  }
}
