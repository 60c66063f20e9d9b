package graft

/** Plan-inspection surface: `runMain graft.Explain [queryName ...]` prints
  * the formatted physical plan for the named queries (default: a scan/
  * join/agg sample) — the review loop for pushdown, pruning, broadcast,
  * and WholeStageCodegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q02_filter_pushdown_topn",
        "q03_join_revenue_nation", "q06_rfm_card_style", "q11_events_hourly",
        "q25_ngram_jaccard", "q30_knn_bruteforce", "q45_window_family",
        "q51_range_join_auto", "q54_exists_subquery", "q60_snapshot_merge",
        "q61_profile", "q79_contamination", "q85_sequence_pack",
        "q88_curate_corpus", "q90_repeated_spans", "q91_vec_centroids",
        "q93_bm25", "q94_weighted_sample", "q96_span_removal_keepfirst",
        "q97_semantic_dedup", "q98_unigram_ce", "q101_unigram_ce_frozen",
        "q103_semantic_dedup_increment", "q104_knn_ivf_adaptive",
        "q117_image_dedup_corpus", "q119_doc_chunking",
        "q120_dsir_importance", "q123_corpus_shuffle",
        "q125_gopher_rules", "q126_rrf_hybrid", "q127_prototype_prune",
        "q128_semantic_decontam")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
