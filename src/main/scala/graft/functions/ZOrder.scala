package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve keys for multi-dimensional data layout.
  *
  * `interleave2` maps two `bits`-wide non-negative ints onto one z-value
  * whose ordering visits space in a locality-preserving curve: sorting a
  * table by it bounds the min/max range of BOTH dimensions inside every
  * file/row-group, so parquet footer stats prune reads on either column —
  * a lexicographic (a, b) sort only prunes on `a`
  * (pass it as `clusterBy` to [[graft.ops.TxLog.optimize]]).
  *
  * Built from shift/mask column arithmetic (codegen'd by Spark like any
  * integer expression); the identical formula is emitted as portable SQL
  * by [[interleaveSql]] for the DuckDB oracle. Callers bucket raw values
  * into the `bits` range first (e.g. `pmod(hash(col), 1 << bits)` or a
  * range quantile) — the curve needs a bounded grid, not raw domains.
  */
object ZOrder {

  /** Interleave the low `bits` of `a` (even positions) and `b` (odd). */
  def interleave2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      (shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** The same interleave as engine-portable SQL (works in DuckDB and
    * Spark SQL) over the given column expressions. */
  def interleaveSql(a: String, b: String, bits: Int = 16): String = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) * ${1L << (2 * i)}) + ((($b >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")
  }
}
