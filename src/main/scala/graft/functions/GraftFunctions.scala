package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Registration of graft's native Catalyst expressions.
  *
  * Two paths:
  *   - [[register]] on a live session (what the library helpers use);
  *   - [[GraftExtensions]] for `spark.sql.extensions=graft.functions.GraftExtensions`
  *     so SQL users get the functions at session build time.
  */
object GraftFunctions {

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "sequential-f64 dot product of two float vectors",
      es => FloatVecDot(es.head, es(1))),
    ("minhash_sig", "one-pass minhash signature over a pre-hashed array",
      es => MinHashSig(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue())),
    ("simhash64", "64-bit simhash over a pre-hashed token array",
      es => SimHash64(es.head)),
    ("shingle_hashes", "order-sensitive n-gram hashes from token hashes",
      es => ShingleHashes(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue())),
    ("ws_tokens", "whitespace tokens (Java regex \\s, empties dropped) in one byte scan",
      es => WsTokens(es.head)),
    ("ws_token_hashes", "xxhash64 of each whitespace token, no token strings built",
      es => WsTokenHashes(es.head)),
    ("vec_dot_i8", "exact integer dot product of two int8-quantized vectors",
      es => ByteVecDot(es.head, es(1))),
    ("sorted_intersect_size", "set-intersection size of two sorted long arrays (merge-walk, zero allocation)",
      es => SortedIntersectSize(es.head, es(1))),
    ("scrub_covered_tokens", "tokens not covered by any fixed-width duplicated span (one merge walk over sorted starts)",
      es => ScrubCoveredTokens(es.head, es(1), es(2))),
    ("hilbert_key", "Hilbert curve index of a 2-D grid cell (layout key)",
      es => HilbertKey(es.head, es(1),
        es(2).eval(null).asInstanceOf[Number].intValue())),
    ("nfc_normalize", "Unicode NFC canonical composition (codegen'd, UDF-free)",
      es => NfcNormalize(es.head)),
    // the centroid matrix and k must be foldable literals (typedLit / lit):
    // they are evaluated once at plan time and ride the expression as a
    // constant reference object — see NearestCellsL2's scaladoc for the
    // size ceiling and the two-level pattern past it
    ("nearest_cells", "k nearest centroid ids by squared L2 (codegen'd argmin over a literal centroid matrix)",
      es => NearestCellsL2(es.head,
        es(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()),
        es(2).eval(null).asInstanceOf[Number].intValue())),
    // Spark's own codegen'd bloom probe (internal expression, not in the
    // public registry); the filter bytes must be foldable — see
    // graft.ops.BloomSemi for the build-then-literal pattern
    ("bloom_might_contain", "membership probe against serialized bloom-filter bytes",
      es => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        es.head, es(1))),
    // The matching builder (Spark's runtime-filter sketch aggregate):
    // bloom_agg(xxhash64(col), estItems, numBits) -> serialized filter
    // bytes. Partial per-task filters OR together map-side, so a grouped
    // build (TxLog's per-file bloom index) is one distributed aggregation.
    // Feed it PRE-HASHED longs and probe with the same hash — the sketch
    // stores exactly the longs it was given.
    ("bloom_agg", "bloom-filter build over pre-hashed longs (grouped sketch aggregate)",
      es => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head, es(1), es(2))),
    // deletion-vector bitset codec (TxLog's scattered-delete encoding):
    // build from the per-file RLE range list the DV writer already
    // computes; probe via a LITERAL file->bitmap map evaluated once at
    // plan time (the NearestCellsL2 constant pattern) so the read path
    // stays join-free — see DvBitmap.scala
    ("dv_bitmap_from_ranges", "serialize sorted (start,end) ranges into a roaring-style bitset",
      es => DvBitmapFromRanges(es.head)),
    ("dv_bitmap_probe", "deletion-bitset membership probe against a literal file->bitmap map",
      es => {
        val m = es(2).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val keys = m.keyArray(); val vals = m.valueArray()
        val byFile = (0 until m.numElements()).map(i =>
          keys.getUTF8String(i).toString -> vals.getBinary(i)).toMap
        DvMapProbe(es.head, es(1), byFile)
      }))

  def register(spark: SparkSession): Unit = all.foreach { case (name, _, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
  }

  /** Column API over the registered native function (call [[register]] or
    * install [[GraftExtensions]] first). */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
}

/** `SparkSessionExtensions` installer: injectFunction for every native
  * expression plus the custom top-k-per-key planner strategy
  * (SURVEY.md §7.3 mechanism (c)). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopK)
    // Delta's CDF table-valued function over the txlog change feed
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo("graft.sql", "table_changes",
        "table_changes(table, keyCols, startVersion[, endVersion]) — " +
          "the txlog change feed as a table"),
      es => graft.sql.TableChangesTvf.plan(es)))
    // the active-file inventory as a metadata table (Delta/Iceberg's
    // `files` metadata-table shape)
    ext.injectTableFunction((
      FunctionIdentifier("table_files"),
      new ExpressionInfo("graft.sql", "table_files",
        "table_files(table [, version]) — active data files of a txlog " +
          "snapshot with partition, size, rows, adding version, DV flag"),
      es => graft.sql.TableFilesTvf.plan(es)))
    // the keyless signed change feed (rowDeltas) — what incremental
    // aggregate maintenance consumes; REFRESH MATERIALIZED VIEW automates
    // exactly this
    ext.injectTableFunction((
      FunctionIdentifier("table_deltas"),
      new ExpressionInfo("graft.sql", "table_deltas",
        "table_deltas(table, fromVersion[, toVersion]) — signed multiset " +
          "row delta (+1/-1) of a txlog version window"),
      es => graft.sql.TableDeltasTvf.plan(es)))
    // SQL DML/maintenance verbs for the txlog tier (MERGE INTO / UPDATE /
    // DELETE / OPTIMIZE / VACUUM) — the DeltaSqlParser pattern
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    // catalog-name DELETE/UPDATE routed on the RESOLVED relation — the
    // DeltaAnalysis pattern (txlog.`path` targets go through the parser)
    ext.injectPostHocResolutionRule(session =>
      graft.sql.GraftDmlResolution(session))
  }
}
