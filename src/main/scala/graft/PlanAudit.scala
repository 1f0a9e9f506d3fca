package graft

/** Prints formatted physical plans for selected queries so the
  * shuffle/broadcast/pushdown story can be audited (SURVEY §4).
  * Usage: runMain graft.PlanAudit [sfDir] [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q1_agg", "q2_filter_project", "q3_join_agg", "q5_multi_join",
      "q18_asof_join", "q23_asof_native", "q26_ntile",
      "dedup_minhash_lsh", "dedup_embedding", "knn_lsh", "knn_bruteforce",
      "sketch_hll_distinct", "text_fingerprint", "pipeline_contamination",
      "sketch_bloom_filter", "dedup_winnowing", "knn_ivf_quantized",
      "pipeline_quality_gate", "src_zorder_layout", "q36_asof_tolerance",
      "ecs_spatial_neighbors", "knn_pq", "q45_lateral_topk",
      "q44_range_frame", "text_lm_score", "pipeline_domain_mix",
      // r4 additions
      "q53_interpolate", "q54_scd2", "q55_funnel", "knn_mmr",
      "text_hash_features", "pipeline_pagerank", "sketch_hll_rolling",
      "src_compact_small_files", "mm_png_decode", "ecs_flocking")
    val spark = Graft.session("local[8]", "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
