package graft
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = s"${graft.queries.Fixtures.testdataRoot}/sf0.01"
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q02_revenue_by_nation", "q25_genic_status",
        "q44_knn_bruteforce", "q43_dedup_ngram_jaccard", "q53_knn_ivf",
        "q40_dedup_exact", "q41_dedup_minhash_lsh", "q63_dedup_upsert",
        "q82_postprocess_fasta", "q84_pipeline_chain",
        "q108_dedup_minhash_word", "q111_data_mixture", "q113_kmeans_step",
        "q114_ivf_lifecycle", "q115_ann_recall", "q116_multimodal_decode",
        "q117_ivf_nprobe", "q118_semantic_dedup_ivf",
        "q119_semantic_dedup_pipeline", "q120_incremental_semantic_dedup",
        "q121_dedup_lsh_hotcap", "q122_semantic_index_compaction",
        "q123_semantic_index_retraction", "q124_semantic_index_retrain",
        "q125_ivf_operating_point", "q126_lsh_operating_point",
        "q127_dedup_word_hotcap", "q128_semantic_drift_retrain",
        "q129_semantic_threshold_point", "q130_multimodal_ann",
        "q131_semantic_hotcell_cap", "q134_index_geometry_point",
        "q135_hotcap_operating_point")
      // q109/q110/q112/q132/q133/q136 are excluded: explaining their
      // final rollup would run a full streaming/compaction (or
      // multi-epoch index build) lifecycle for a trivial plan; their
      // physical shapes are documented per-stage in PLANS.md instead
    for (name <- names) {
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
