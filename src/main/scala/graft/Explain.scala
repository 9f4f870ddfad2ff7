package graft

/** Dumps formatted physical plans for the headline operators into
  * EXPLAIN.md — evidence that the plans have the intended 100 TB
  * shapes (broadcast joins, partial top-k aggregation, pushdown,
  * partition pruning). Run:
  *   sbt "runMain graft.Explain /root/testdata/sf0.001 EXPLAIN.md"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "EXPLAIN.md"
    // The *_big queries derive their query set from lineitem ids
    // (id % 9973 == 1) — EMPTY at sf0.001, which lets Catalyst fold
    // the whole plan to a LocalTableScan <empty> (the degenerate
    // r04/r05 EXPLAIN sections). Capture those at a scale where the
    // query set is non-empty so the sections show the real scan +
    // pruning shapes.
    val bigDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val root = GraftSession.local(8)

    val interesting = Seq(
      "knn_flat_l2", "knn_idsel_range", "assign_1nn", "range_search_l2",
      "ivf_search_nprobe4", "ivfsq_search_exact", "sq8_knn",
      "minhash_lsh_neardup", "exact_dedup_vectors", "topk_group_lineitem",
      "training_data_pipeline",
      "knn_flat_l2_big", "ivf_search_big", "ivfpq_search_big",
      "bivf_search", "rq_search", "rq_lut_search", "ivfrq_search",
      "prq_roundtrip", "ivfsh_search", "index2layer_roundtrip",
      "zn_lattice_roundtrip", "nsg_exact_search", "ivf_hnsw_search",
      "hnsw_sq_search", "nsg_sq_search", "hnsw_pq_search", "nsg_pq_search",
      "chunk_documents", "benchmark_decontaminate",
      "pq4fs_search", "ivfpq4fs_search", "ivfpq4fsr_search", "rq4fs_search",
      "ivfrq4fs_search", "ivfsq4_search_exact",
      "semantic_dedup", "unigram_logprob", "tfidf_top_terms",
      "sliding_index_window", "factory_ivf_search", "winnow_fingerprints",
      "ivfrq_from_codes_search",
      "lsq_search", "ivf_rcq_search", "imi2_search", "opq32_ivfpq_search",
      "unigram_logprob_big", "minmax_roundtrip", "factory_refine_search",
      "sq8_knn_big", "range_search_big", "minhash_neardup_big",
      "pq4fs_search_big",
      "imi_pq_search", "imi_pq_search_big", "imi_sq_search",
      "ivfpq_polysemous_search", "autotune_pareto_multi",
      "reconstruct_neighbors_codes", "hnsw_reconstruct_rerank",
      "kmeans_train_encoded", "corpus_stratified_sample",
      "sequence_packing", "bivf_hnsw_search",
      "ivf_hnsw_pq_search", "ivf_nsg_search", "ivf_paren_pq_search",
      "ivf_two_level_search", "residual_mxn_roundtrip",
      "hnsw2level_search", "rq_qnorm_qint8_search",
      "rq_qnorm_cqint8_search", "minmax_pq_roundtrip",
      "ivf_paren_pq_pq_search", "ivf_two_level_search_big",
      "shards_search", "lsh_threshold_search", "pii_redact",
      "boilerplate_removal", "ivf_hnsw_pq_search_big",
      // r12 additions. The distributed_ondisk_recipe and
      // autotune_pareto_hnsw_coarse queries are deliberately absent:
      // their fns materialize tiny driver-side results (the
      // bounded-collect idiom / the operating-point grid), so their
      // explain would be a LocalTableScan — the scanned plans are
      // ivf_search_big's and the ivfpq probe-join respectively.
      "ivf_paren_sq_search", "ivf_paren_pca_search", "rq_nonorm_search",
      "rq_qnorm_lsq2x4_search", "range_pr",
      "ivf_search_big_batch",
      // r13 additions: the IVF-prefixed stored-norm LUT scan, the
      // by-residual AQ fast-scan, the hot-list stress search, and the
      // recursive sphere-codec bijection gates
      "ivfrq_qnorm_search", "ivfrq4fsr_search", "ivf_search_skewed",
      "zn_rec_roundtrip",
      // r13 grammar closure: LSQ/product fast-scan, IVF product-AQ
      // decompress, the reference SH spelling with a replaced PCA
      "lsq4fs_search", "prq4fs_search", "ivfprq_search",
      "ivfsh_pca_search",
      // r14 additions: the fourth spectral-hash threshold mode and the
      // rescale_norm fast-scan (scaled-norm integer scan)
      "ivfsh_centroid_half_search", "rq4fs_rescale_search",
      // r15 additions: the IVF-SQ and 600k-row fast-scan
      // write_index/read_index lifecycles (save happens eagerly inside
      // the query fn; the explained plan is the post-reload search)
      "ivfsq_io_roundtrip", "fastscan_io_big",
      // r16: the SemDeDup within-cell near-dup (index_io_matrix is
      // deliberately absent - its result is a bounded driver-side
      // table, so its explain would be a LocalTableScan; the scanned
      // plans are each family's own search entries)
      "semantic_neardup_cells",
      // r17: end-to-end SemDeDup over the bounded within-cell pair
      // source (components + keep-one with no n^2 stage)
      "semantic_dedup_cells",
      // r18: the hot-bucket cap — the plan must show the
      // filter(size(ids) <= cap) BEFORE the pair explode, bounding
      // per-bucket work ahead of the O(B^2) expansion
      "minhash_hotcap_neardup",
      // the rest of the IMI and binary IVF searches: every one picks its
      // probes in process and looks its probe rows up in the scan
      "imi_search", "imi_pq_range_search", "imi_sq_residual_search",
      "bivf_range_search")
    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans of headline operators\n\n")
    sb.append("Generated by `graft.Explain` at sf0.001 (sf0.01 for the *_big\n")
    sb.append("at-scale queries, whose query sets are empty below that).\n")
    sb.append("What to look for:\n")
    sb.append("BroadcastNestedLoopJoin (queries broadcast, base streamed),\n")
    sb.append("ObjectHashAggregate with partial_topk (map-side heap combine),\n")
    sb.append("PushedFilters/ReadSchema on the parquet scans (pushdown +\n")
    sb.append("column pruning), and a single hashpartitioning exchange per\n")
    sb.append("top-k (only ≤k rows per group cross the wire), or none when a\n")
    sb.append("small batch's IVF scan looks its probe rows up\n")
    sb.append("(Generate inline(probe_lookup(...))) over one input split.\n")
    // whole plans: the session default (8192 characters) cuts the
    // longest plans mid-tree, and two commits' dumps would then differ
    // only where the cut falls
    val whole = "spark.sql.maxPlanStringLength" ->
      org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toString
    graft.core.ScopedConf.withConfs(root, whole) { spark =>
      // a plan string is cut at the ACTIVE session's length
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      interesting.foreach { name =>
        // contains, not endsWith: ivf_search_big_batch derives its
        // query set from the big table too (empty below sf0.01, where
        // the plan would fold to a degenerate LocalTableScan)
        val df = SparkEntry.queries(name)(spark,
          if (name.contains("_big")) bigDir else dir)
        sb.append(s"\n## $name\n\n```\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        sb.append("```\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    root.stop()
  }
}
