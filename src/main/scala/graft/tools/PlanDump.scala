package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` of the flagship pipeline and the
  * scale-critical queries to BENCH/PLANS.md — the plan-shape evidence
  * (pushdown, pruning, broadcast, exchange count, codegen spans) in
  * reviewable form. PlanSpec asserts these shapes; this file shows them. */
object PlanDump {
  /** The registry queries whose plans the dump shows. */
  val Names: Seq[String] = Seq("q_gate_filter", "q_charset_proj", "q_broadcast_join",
    "q_dedup_jaccard", "q_dedup_minhash_pairs", "q_dedup_embed_lsh",
    "q_simhash_pairs", "q_knn_ivf", "q_hll_distinct", "q_cms_heavyhitters",
    "q_asof_join", "q_moving_agg", "q_split_assign",
    "q_ratio_match", "q_unigram_lm", "q_pii_scrub", "q_dedup_incremental",
    "q_semantic_dedup", "q_dedup_survivor", "q_knn_pq", "q_skew_join",
    "q_topk_agg", "q_bm25", "q_dsir_weight", "q_bigram_lm",
    "q_kmv_intersect", "q_priority_sample", "q_pmi_pairs", "q_funnel",
    "q_curate_e2e", "q_bpe_train", "q_bpe_apply", "q_hard_negatives",
    "q_c4_rules", "q_domain_rank", "q_embed_meanpool", "q_sft_pairs",
    "q_dpo_pairs", "q_anomaly_mad", "q_conv_budget", "q_rank_fusion",
    "q_ndcg_eval", "q_containment", "q_cluster_purity",
    "q_conv_valid", "q_tool_loops")

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Sessions.create("local[8]", 32, logLevel = "ERROR")(
      _.config("spark.sql.adaptive.enabled", "true"))

    val sb = new StringBuilder
    sb.append("# BENCH/PLANS — formatted physical plans (auto-written by graft.tools.PlanDump)\n\n")
    sb.append("Source of truth for these shapes is `PlanSpec` (asserted in CI);\n")
    sb.append(s"this dump (sf dir: $sf) is the same evidence in reviewable form.\n")

    sb.append("\n## flagship extraction pipeline (fused; ONE exchange)\n\n```\n")
    val flag = graft.pipe.ExtractPipeline.run(spark,
      graft.gen.TranscriptGen.dataset(spark, 42L, nConvs = 20, hotBase = 40))
    sb.append(flag.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)).append("```\n")

    // a library read of the snapshot table: Spark's parquet scan over the
    // manifest's files (ManifestFileIndex), planned without a listing job
    sb.append("\n## snapshot table library read (files from the manifest)\n\n```\n")
    val tableDir = Files.createTempDirectory("plandump-snapshot")
    val table = new graft.table.SnapshotTable(tableDir.toString, numBuckets = 4)
    table.commit(spark, graft.gen.TranscriptGen.dataset(spark, 42L, nConvs = 20,
      hotBase = 40).toDF(), "plandump")
    sb.append(table.read(spark).where("turn_idx = 0").queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)).append("```\n")
    org.apache.commons.io.FileUtils.deleteQuietly(tableDir.toFile)

    Names.foreach { n =>
      sb.append(s"\n## $n\n\n```\n")
      val df = graft.SparkEntry.queries(n)(spark, sf)
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)).append("```\n")
    }
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/PLANS.md"), sb.toString)
    println(s"wrote BENCH/PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
