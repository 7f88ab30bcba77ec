package graft

/** Runs EVERY registered key twice on sf0.001 and asserts identical
  * collected rows — catches Spark-internal nondeterminism (under-specified
  * ORDER BY, unstable aggregation ties) that the cross-engine oracle can
  * mask. The oracle gate covers cross-engine agreement; this covers
  * run-to-run stability. */
class DeterminismSpec extends SparkSpec {

  test("every registered query is run-to-run deterministic at sf0.001") {
    // session confs a key may swap while it runs (the exec keys' lowered
    // state partitions, RocksDB provider and changelog flag) must be
    // restored after every run
    val swapped = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    def confs() = swapped.map(k => k -> spark.conf.getOption(k))
    val leaked = collection.mutable.Buffer[String]()
    def run(q: Q) = {
      val before = confs()
      val rows = q.fn(spark, sfDir).collect().toSeq
      if (confs() != before) leaked += s"${q.name}: $before -> ${confs()}"
      rows
    }
    val flaky = SparkEntry.registry.flatMap { q =>
      val a = run(q)
      val b = run(q)
      if (a == b) None else Some(q.name)
    }
    assert(flaky.isEmpty, s"nondeterministic keys: $flaky")
    assert(leaked.isEmpty, s"keys that did not restore session confs: $leaked")
  }

  test("aggregate keys are invariant to the shuffle partition count") {
    // Merge-order-free design (Det scaladoc): results must not move when
    // partial-aggregation topology changes. 4 -> 17 partitions.
    val keys = Seq("agg_group", "agg_global", "agg_stats", "win_runsum",
      "llm_cosine_topk", "eo_zonal_stats", "udaf_weighted",
      "join_asof_native", "eo_product_pipeline", "llm_dedup_pipeline",
      "join_asof_tol", "win_gaps_islands", "eo_regrid_affine",
      "llm_embed_neardup", "llm_knn_centroid",
      // round 6: collect_list-based tile packing (order neutralized by
      // array_sort/sort_array), the tie-specified mode pick, and the
      // ngram block join must all survive topology changes
      "eo_tile_composite_median", "eo_tile_argmax", "agg_mode",
      "llm_ngram_jaccard", "stream_interval_join",
      // round 7: range-partitioned ntile derives its partition count from
      // this very conf (the global rank must not move), contraction-based
      // clustering, the salted join, and the hash-gated sample
      "win_ntile", "llm_dedup_cluster", "join_salted",
      "llm_sample_stratified", "mm_dedup_ahash", "eo_catalog_pruned_load",
      "eo_gap_fill",
      // round 9 sixth wave: the sorted-collect median (theilsen), the
      // hashed-bucket dictionary (dsir), rank-derived percentile picks
      // (winsorized) and tercile buckets (ccnet), and the two iterative
      // loops (hits, tile_distance) must all survive topology changes
      "eo_theilsen", "llm_dsir", "agg_winsorized_mean",
      "llm_ccnet_bucket", "graph_hits", "eo_tile_distance",
      // round 9 seventh wave: the Lloyd assignment's window tie-break,
      // the SSSP relaxation loop, the D8 argmax window, the global
      // domain-window trio (AUC / SPRT / survival), and the two
      // broadcast-dictionary evals must all survive topology changes
      "llm_kmeans_round", "graph_sssp", "eo_tile_d8", "agg_auc",
      "win_sprt", "win_survival", "llm_heldout_ce", "llm_jsd_drift",
      "agg_cvar", "win_markov", "mm_shard_pack",
      // later seventh-wave keys: the flow-accumulation loop, the
      // two-scale Hurst segmentation, reflected running sums, hashed
      // feature vectors, rank-window picks and the basket pair join
      "eo_tile_flow_acc", "agg_hurst", "win_reflected_runsum",
      "llm_feature_hash", "win_topk_churn", "llm_domain_cap",
      "llm_burstiness", "win_growth_accounting", "agg_basket_lift",
      "win_state_duration", "stream_active_users",
      // closing waves: the banded simhash estimator, all-pairs
      // closeness loop, Otsu argmax windows, LTTB picks, doubled-MAD
      // quantiles and the diversity/crosstab shares
      "llm_simhash_est", "graph_closeness", "eo_tile_otsu", "win_lttb",
      "agg_mad", "agg_hill_diversity", "eo_crosstab", "win_slo_burn",
      "llm_novelty", "win_mtbf", "eo_tile_morph_gradient", "agg_decay_mean",
      // round-10 fifth wave: the truss peel's wedge joins, the shared
      // all-pairs chain's second consumer, the banding-recall pair
      // intersection, the nested collect_list (array_sort-neutralized),
      // and the executed sliding-window state store
      "graph_ktruss", "graph_ecc", "llm_dedup_recall_eval",
      "scan_nested_roundtrip", "stream_exec_slide")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val base = keys.map(k => k -> SparkEntry.queries(k)(spark, sfDir).collect().toSeq).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      keys.foreach { k =>
        val alt = SparkEntry.queries(k)(spark, sfDir).collect().toSeq
        assert(alt == base(k), s"$k changed under different partitioning")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("native tile stencils: codegen and interpreted paths agree on NaN tiles") {
    // every custom Expression carries BOTH nullSafeEval and doGenCode; if
    // they diverge (e.g. on a NaN seed), flipping wholestage codegen
    // silently changes graded output. Pin bit-identity across
    // CODEGEN_ONLY / NO_CODEGEN on tiles holding NaN, ±Inf, -0.0 and spikes.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val h = 6; val w = 6
    val rnd = new scala.util.Random(11)
    val tiles = Seq(
      Array.fill(h * w)(Float.NaN).toSeq,
      Array.tabulate(h * w)(i =>
        if (i % 7 == 0) Float.NaN else i.toFloat).toSeq,
      Array.tabulate(h * w)(i => i match {
        case 0 => Float.NegativeInfinity
        case 1 => Float.PositiveInfinity
        case 2 => -0.0f
        case _ => rnd.nextFloat() * 100f - 50f
      }).toSeq)
    def run(): Seq[org.apache.spark.sql.Row] = {
      val df = tiles.toDF("data").select(
        graft.raster.TileExprs.max3(col("data"), h, w).as("mx"),
        graft.raster.TileExprs.min3(col("data"), h, w).as("mn"),
        graft.raster.TileExprs.focal3(col("data"), h, w).as("f3"),
        graft.raster.TileExprs.tri3(col("data"), h, w).as("t3"),
        graft.raster.TileExprs.laplace3(col("data"), h, w).as("l3"),
        graft.raster.TileExprs.up2x(col("data"), h, w).as("u2"),
        graft.raster.TileExprs.upCubic(col("data"), h, w).as("uc"),
        graft.raster.TileExprs.down(col("data"), h, w, 2).as("dn"))
      df.collect().toSeq
    }
    val key = "spark.sql.codegen.factoryMode"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "CODEGEN_ONLY")
      val gen = run()
      spark.conf.set(key, "NO_CODEGEN")
      val interp = run()
      // Compare raw float bits cell-by-cell (boxed-Float equality treats
      // +0.0 != -0.0 but canonicalizes NaN payloads; raw bits catch both).
      gen.zip(interp).zipWithIndex.foreach { case ((gr, ir), tile) =>
        (0 until gr.length).foreach { c =>
          val gv = gr.getSeq[Float](c); val iv = ir.getSeq[Float](c)
          assert(gv.length == iv.length, s"tile $tile col $c length")
          gv.zip(iv).zipWithIndex.foreach { case ((g, i), px) =>
            assert(java.lang.Float.floatToRawIntBits(g) ==
              java.lang.Float.floatToRawIntBits(i),
              s"tile $tile col ${gr.schema.fieldNames(c)} px $px: codegen=$g interpreted=$i")
          }
        }
      }
    } finally spark.conf.set(key, before)
  }
}
