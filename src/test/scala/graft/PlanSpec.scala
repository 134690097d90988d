package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.functions.{hash, lit, pmod}

/** Physical-plan audits: the properties that make these operators hold at
  * 100 TB (SURVEY.md §4 + the scale design rules). A query that silently
  * loses pushdown, pruning, broadcast, or partial aggregation regresses at
  * scale long before it fails a correctness check — so we pin the plan
  * shape, not just the answer.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, SF)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** The physical plan an entry's result starts from (AQE's initial plan,
    * exchanges placed, before any stage runs). */
  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, SF).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("filter pushdown reaches the parquet scan (p4 startsWith/isNull)") {
    val p = plan("p4_filter_startswith_or_null")
    assert(p.contains("PushedFilters: [Or(StringStartsWith(source,src1),IsNull(lang))]"), p)
  }

  test("column pruning: 2-column projection reads a 2-column schema (s3)") {
    val p = plan("s3_parquet_scan")
    assert(p.contains("ReadSchema: struct<r_regionkey:int,r_name:string>"), p)
  }

  test("star join broadcasts the small dimension (j5)") {
    val p = plan("j5_join_multiway_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    // the big fact-fact join must NOT be nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("grouped aggregation is partial+final around one shuffle (a2)") {
    val p = plan("a2_grouped_count")
    assert(p.contains("partial_count"), p)
    assert(p.contains("hashpartitioning"), p)
  }

  test("predicate on derived YEAR still prunes scanned columns (p6)") {
    val p = plan("p6_filter_year_derived")
    assert(p.contains(
      "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderdate:timestamp_ntz>"), p)
    assert(!p.contains("o_orderpriority"), p)
  }

  test("top-k is TakeOrderedAndProject, not global sort (l1)") {
    val p = plan("l1_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), p)
  }

  test("whole-stage codegen covers the scan→project pipeline (p1)") {
    val df = SparkEntry.queries("p1_withcolumn")(spark, SF)
    val p = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen subtree"), p.take(2000))
  }

  test("brute-force similarity broadcasts the query side (ext_sim)") {
    val p = plan("ext_sim_topk_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // corpus streams once past broadcast queries
    assert(p.contains("vec_dot"), p)                 // native codegen'd expression in use
  }

  test("minhash LSH candidate join is an equi-join on the band key") {
    val p = plan("ext_dedup_minhash_lsh")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("token chunking is a pure generate — zero exchanges (ext_chunk_text)") {
    val p = plan("ext_chunk_text")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("LM scoring broadcasts the vocab and partially aggregates (ext_text_lm_score)") {
    val p = plan("ext_text_lm_score")
    assert(p.contains("BroadcastHashJoin"), p)   // vocab side never shuffles
    assert(p.contains("partial_sum"), p)         // map-side combine before the per-doc shuffle
  }

  test("BM25 serving scans only the probed terms' token-bucket dirs, terms pushed (ext_bm25_lakehouse)") {
    val scans = physical("ext_bm25_lakehouse").collect {
      case f: FileSourceScanExec
        if f.relation.location.inputFiles.exists(_.contains("/bkt=")) => f
    }
    assert(scans.size === 1, scans)
    val read = scans.head.relation.location.inputFiles.toSeq
      .flatMap(_.split('/').filter(_.startsWith("bkt="))).toSet
    // the entry's 4 query terms under the index's pmod(hash(token), 16)
    val probed = spark.range(1)
      .select(Seq("batch", "hash", "line", "sort")
        .map(t => pmod(hash(lit(t)), lit(16))): _*)
      .head().toSeq.map(b => s"bkt=$b").toSet
    assert(read === probed)
    assert(scans.head.metadata("PushedFilters")
      .contains("In(token, [batch,hash,line,sort])"), scans.head.metadata)
  }

  test("IVF-PQ ADC is broadcast-joined, partially aggregated and shortlisted below the shuffle (ext_ann_lakehouse_ivfpq)") {
    val p = physical("ext_ann_lakehouse_ivfpq")
    // probes, LUT and both rerank sides broadcast; the codes never shuffle
    // into a join
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size === 4, p)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty, p)
    val shuffled = p.collect { case e: ShuffleExchangeExec => e.child }
    assert(shuffled.exists {
      case h: HashAggregateExec => h.aggregateExpressions.forall(_.mode == Partial)
      case _ => false
    }, p)
    assert(shuffled.exists(_.isInstanceOf[WindowGroupLimitExec]), p)
  }
}
