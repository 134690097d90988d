package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: formatted physical plans of the headline queries, so
  * the plan shapes (pushdown, pruning, broadcasts, partial aggregation,
  * custom operators) are reviewable without running Spark. */
object PlanDump {
  val headline = Seq(
    "p4_filter_startswith_or_null", "j5_join_multiway_agg", "a5_tpch_q1",
    "l1_topk", "l2_topk_custom_operator", "ext_sim_topk_bruteforce",
    "ext_dedup_minhash_lsh", "ext_asof_join", "ext_bloom_semi",
    "ext_contamination", "ext_contamination_hashed", "ext_sim_topk_sq8",
    "ext_hilbert_key", "ext_chunk_text", "ext_text_lm_score",
    "sql2_exists_subquery", "ext_dedup_ngram_span", "ext_tfidf_incremental",
    "ext_upsert_merge", "j9_join_skew", "src_txlog_versions",
    "ext_sim_topk_opq", "ext_heavy_hitters", "sql4_lateral_join",
    "ext_dedup_semantic", "src_txlog_skipping", "src_txlog_changes",
    "ext_dedup_jaccard_blocked", "src_txlog_dv", "st23_stream_cdc_apply",
    "src_txlog_sql_skipping", "src_txlog_dv_scatter",
    "src_txlog_changes_preimage", "ext_corpus_datacard",
    "src_txlog_partitioned", "src_txlog_overwrite_partitions",
    "src_txlog_sql_merge", "src_txlog_sql_update_delete",
    "src_txlog_sql_optimize_zorder", "src_txlog_sql_convert",
    "src_txlog_sql_merge_nmbs", "src_txlog_partition_evolution",
    "src_txlog_generated_partition_prune", "ext_sim_topk_ivfpq",
    "ext_ann_lakehouse_ivfpq", "src_txlog_log_retention",
    "src_txlog_sql_mview", "src_txlog_mview_minmax",
    "src_txlog_table_files", "src_txlog_sql_table_deltas",
    "src_txlog_mview_join", "src_txlog_multipart_checkpoint",
    "src_txlog_auto_compact", "src_txlog_sql_optimize_incr",
    "ext_ann_filtered", "src_txlog_sql_generate",
    "ext_dsir_selection", "ext_text_bm25", "ext_bm25_lakehouse",
    "ext_countmin_freq", "ext_fuzzy_join", "f23_variant_extract",
    "src_txlog_bucket_prune", "src_txlog_vacuum_lite",
    "ext_quality_classifier", "ext_bm25_topk", "ext_dedup_phash",
    "ext_hybrid_retrieval")

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of headline queries (sf0.001)\n\n"
    sb ++= "Generated by `graft.PlanDump`; regenerate after plan-affecting changes.\n"
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n```\n$plan```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
    Graft.shutdown(spark)
  }
}
