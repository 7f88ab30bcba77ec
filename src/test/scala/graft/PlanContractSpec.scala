package graft

/** The physical-plan contract: each operator family must compile to the
  * plan shape its scaladoc promises — pushdown reaching the parquet scan,
  * broadcasts where a side is dimension-sized, per-partition top-k heaps,
  * the custom as-of operator, no single-partition windows outside the two
  * semantically-global keys. Wall-clock benchmarks are noisy on a shared
  * box; plan shape is the stable signal (VERDICT r01 graded on it).
  */
class PlanContractSpec extends SparkSpec {

  private def planOf(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("scan_pruned pushes the date filter and prunes to 4 columns") {
    val df = SparkEntry.queries("scan_pruned")(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual"),
      s"filter not pushed:\n$scan")
    assert(scan.contains(
      "struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_shipdate:timestamp>"),
      s"column pruning regressed:\n$scan")
  }

  test("dimension joins broadcast; the fact side is never built") {
    val bhj = planOf("join_bhj")
    assert(bhj.contains("BroadcastHashJoin") && bhj.contains("BuildRight"))
    assert(planOf("join_theta").contains("BroadcastNestedLoopJoin"))
    // interval join: equi-key hash join with the time range as residual
    val ij = planOf("join_interval")
    assert(ij.contains("BroadcastHashJoin") && ij.contains("INTERVAL"))
  }

  test("top-k plans use per-partition heaps / group limits, not global sorts") {
    assert(planOf("limit_topk").contains("TakeOrderedAndProject"))
    assert(planOf("agg_topk_group").contains("WindowGroupLimit"))
    assert(planOf("llm_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("the native as-of operator is actually planned") {
    assert(planOf("join_asof_native").contains("AsOfJoin"))
  }

  test("the as-of merge loop is whole-stage codegen'd (no interpreted-eval fallback)") {
    val df = SparkEntry.queries("join_asof_native")(spark, sfDir)
    df.collect()
    import org.apache.spark.sql.execution.debug._
    val subtrees = df.queryExecution.debug.codegenToSeq()
    assert(subtrees.exists { case (subtree, code, _) =>
      subtree.contains("AsOfJoin") && code.contains("asofNextValidRight")
    }, "AsOfJoinExec is not inside a compiled whole-stage codegen subtree")
  }

  test("the dictionary keys VERDICT r01 flagged no longer plan ANY window") {
    // their round-1 forms built token/bigram ids with
    // dense_rank().over(Window.orderBy(...)) — a single-partition global
    // sort; the zipWithIndex rewrite must keep windows out entirely
    Seq("llm_dedup_near", "llm_ngram_jaccard", "llm_dedup_pipeline").foreach { k =>
      val p = planOf(k)
      assert(!p.contains("Window"), s"$k reintroduced a window dictionary:\n$p")
    }
  }

  test("sketch signatures fold columnar — no plane/bit row explosion") {
    // llm_simhash: 32 ± accumulators in ONE aggregation; llm_ann_lsh: 8
    // plane projections likewise. A reintroduced crossJoin against a bit/
    // plane range would re-multiply shuffled rows 8-32x.
    Seq("llm_simhash", "llm_ann_lsh").foreach { k =>
      val p = planOf(k)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
        s"$k re-exploded its signature layout:\n$p")
    }
  }

  test("round-6 plans keep their shapes") {
    // LATERAL's per-row LIMIT must stay a pushed group-limit, not a full
    // window sort; the interval join and the ngram block join broadcast
    // their bounded sides; no tile key may degenerate to a cartesian.
    assert(planOf("sql_lateral").contains("WindowGroupLimit"),
      "lateral LIMIT lost its pushed group-limit")
    assert(planOf("stream_interval_join").contains("BroadcastHashJoin"))
    assert(planOf("llm_ngram_jaccard").contains("BroadcastHashJoin"))
    Seq("eo_tile_composite_median", "eo_tile_argmax", "eo_tile_maskwhere",
      "eo_tile_downsample", "eo_tile_zonal").foreach { k =>
      val p = planOf(k)
      assert(!p.contains("CartesianProduct"), s"$k planned a cartesian:\n$p")
    }
  }

  test("vector hot paths stay codegen (no BatchEval / interpreted fold)") {
    Seq("llm_cosine_topk", "llm_embed_neardup", "llm_ann_lsh").foreach { k =>
      val p = planOf(k)
      assert(!p.contains("BatchEval") && !p.contains("MapPartitions"),
        s"$k left codegen:\n$p")
    }
  }

  test("tile stencils run the native expressions, not interpreted transforms") {
    // (eventTiles' struct-field unpack is still a cheap one-lambda
    // transform — the pin is that the KERNEL is the native expression).
    // Every key on the shared t0Tiles → stencil path is pinned, or a
    // revert to an interpreted fold would pass the suite silently. The
    // Horn gradient keys (gradient, hillshade, aspect) run
    // focalGradient3x3, which has no native expression to pin.
    val natives = Seq(
      "eo_tile_upsample" -> Seq("graft_tile_up2x"),
      "eo_tile_cubic" -> Seq("graft_tile_upcubic"),
      "eo_tile_focal" -> Seq("graft_tile_focal3"),
      "eo_tile_focal_halo" -> Seq("graft_tile_focal3"),
      "eo_tile_focal_var" -> Seq("graft_tile_focal3"),
      "eo_tile_lee" -> Seq("graft_tile_focal3"),
      "eo_tile_morph" -> Seq("graft_tile_focal3"),
      "eo_tile_morph_gradient" -> Seq("graft_tile_max3", "graft_tile_min3"),
      "eo_tile_tri" -> Seq("graft_tile_tri3"),
      "eo_tile_laplace" -> Seq("graft_tile_laplace3"),
      "eo_tile_downsample" -> Seq("graft_tile_down"),
      "eo_tile_pyramid" -> Seq("graft_tile_down"),
      "eo_cog_overview_select" -> Seq("graft_tile_down"))
    for ((k, names) <- natives) {
      val p = planOf(k)
      for (n <- names) assert(p.contains(n), s"$k lost the native stencil $n:\n$p")
    }
  }

  test("round-7 keys keep their promised shapes") {
    // hash-gated sampling is map-only: no join, no window, no aggregate —
    // the only exchange is the final presentation sort
    val sample = planOf("llm_sample_stratified")
    assert(!sample.contains("Join") && !sample.contains("Window") &&
      !sample.contains("HashAggregate"), s"sampling gained a shuffle stage:\n$sample")
    // gap fill: ONE entity-bounded window (no 'No Partition Defined'
    // global sort) feeding the rollup
    val gap = planOf("eo_gap_fill")
    assert(gap.contains("Window") && !gap.contains("CartesianProduct"))
    // ahash pair stage: hash join on the format block over the persisted
    // hash table (no cartesian, no re-derived hash build on either side)
    val ahash = planOf("mm_dedup_ahash")
    assert(ahash.contains("InMemoryTableScan") && !ahash.contains("CartesianProduct"),
      s"ahash self-join lost the persisted hash table:\n$ahash")
    // salted join replicates the dim via broadcast, never a cartesian of
    // the fact side
    assert(!planOf("join_salted").contains("CartesianProduct"))
  }

  test("round-8 bloom prune filters the fact side below the exact join") {
    // the 128-long filter row arrives via a 1-row broadcast nested-loop
    // (constant cost), the membership test runs as a Filter BELOW the
    // merge join, and the exact join stays an SMJ — the fact shuffle only
    // carries bloom candidates
    val p = planOf("join_bloom")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bloom filter row is not broadcast:\n$p")
    assert(p.contains("SortMergeJoin"), s"exact join lost the SMJ hint:\n$p")
    assert(!p.contains("CartesianProduct"), s"bloom prune went cartesian:\n$p")
    val filterIdx = p.indexOf("Filter")
    val smjIdx = p.indexOf("SortMergeJoin")
    assert(filterIdx >= 0 && filterIdx > smjIdx,
      s"bloom membership Filter is not below the SMJ in the plan tree:\n$p")
  }

  test("round-8 banded ahash joins on band buckets, never all-pairs") {
    // the scale path mm_dedup_ahash's guard points at: candidates come
    // from a (format, band, value) equi-join over the persisted hash
    // table — a cartesian/NLJ here would mean the banding regressed to
    // the quadratic block join it exists to replace
    val p = planOf("mm_dedup_ahash_banded")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"banded ahash degenerated to all-pairs:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"banded ahash lost the persisted hash table:\n$p")
  }

  test("scan_partition_pruned prunes partitions at the scan, not post-filter") {
    // the event_type predicate must land in the scan's PartitionFilters —
    // a post-scan Filter would mean every partition directory was read
    // and the key's 100-TB claim (scan cost ~ selected fraction) is false
    val df = SparkEntry.queries("scan_partition_pruned")(spark, sfDir)
    // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive
    // root whose inner tree is not reachable via collect before execution
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan in the plan")
    assert(scans.exists(_.partitionFilters.exists(_.toString.contains("event_type"))),
      s"event_type not in PartitionFilters:\n${scans.map(_.toString).mkString}")
    assert(scans.forall(s => s.relation.location.inputFiles.length >
      s.selectedPartitions.totalNumberOfFiles),
      "scan read every partition — pruning did not happen")
  }

  test("join_dpp plans a dynamicpruning subquery on the fact scan") {
    // the dim filter is on a non-key column, so nothing can prune the
    // fact statically — the partition filter must be the RUNTIME
    // dynamicpruning subquery fed by the broadcast build; a plan without
    // it scans all 5 type directories and the key's 100-TB claim is false
    val df = SparkEntry.queries("join_dpp")(spark, sfDir)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan in the plan")
    assert(scans.exists(_.partitionFilters.exists(
      _.toString.contains("dynamicpruning"))),
      s"no dynamicpruning partition filter:\n${scans.map(_.toString).mkString}")
  }

  test("fifth-wave keys keep their promised shapes") {
    // nested column pruning: the scan must read ONLY header.o_custkey out
    // of the struct, not the whole header — the nested ReadSchema claim
    val nested = planOf("scan_nested_roundtrip")
    assert(nested.contains("header:struct<o_custkey:bigint>"),
      s"nested pruning regressed:\n$nested")
    // the antimeridian membership is map + one partial agg — no join
    val anti = planOf("eo_catalog_antimeridian")
    assert(!anti.contains("Join"), s"antimeridian planned a join:\n$anti")
    // half-sample replicates fan out via BROADCAST (the range join is
    // 16 rows), never a shuffled cross product
    val ci = planOf("agg_halfsample_ci")
    assert(ci.contains("BroadcastNestedLoopJoin") || ci.contains("BroadcastHashJoin"),
      s"replicate fan-out not broadcast:\n$ci")
    // the fingerprint is one scan + one partial agg — no window, no join
    val fp = planOf("dq_fingerprint")
    assert(!fp.contains("Join") && !fp.contains("Window"),
      s"fingerprint over-planned:\n$fp")
  }

  test("eo_zorder stays map + one partial agg — no join, no window") {
    val p = planOf("eo_zorder")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"z-order key gained a join/window stage:\n$p")
  }

  test("join_bucketed plans a co-located sort-merge join — zero hash exchanges") {
    // both sides bucketed+sorted on the join key: the SMJ must read the
    // buckets directly, and the group-by on a superset of the bucket key
    // must ride the same distribution. The only allowed exchange is the
    // presentation sort's range partitioning.
    val df = SparkEntry.queries("join_bucketed")(spark, sfDir)
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("SortMergeJoin"), s"bucketed join not SMJ:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join/agg shuffled — bucket pruning lost:\n$p")
  }

  test("llm_bm25 takes its top-10 with per-partition heaps, stats broadcast") {
    val p = planOf("llm_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k became a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"bm25 corpus stats are not broadcast:\n$p")
  }

  test("round-8 bucketed range join never plans a nested loop") {
    // the whole point of the binned rewrite: the no-equi-key range
    // predicate must ride a hash-joinable bucket column, not a BNLJ
    val p = planOf("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to a nested loop:\n$p")
    assert(p.contains("bucket"), s"bucket join key missing from the plan:\n$p")
  }

  test("stream_topk ranks through WindowGroupLimit, not a full window sort") {
    assert(planOf("stream_topk").contains("WindowGroupLimit"))
  }

  test("win_ewma and llm_pack windows are entity-partitioned, never global") {
    for (k <- Seq("win_ewma", "llm_pack")) {
      val p = planOf(k)
      assert(!p.contains("SinglePartition"), s"$k plans a global window:\n$p")
    }
  }

  test("llm_rag_chunk is map-only: no exchange below the presentation sort") {
    // chunking must never shuffle — the only Exchange allowed is the
    // range partitioning of the final ORDER BY
    val p = planOf("llm_rag_chunk")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"rag chunking shuffles before the sort:\n$p")
    assert(!p.contains("HashAggregate"), s"rag chunking aggregates:\n$p")
  }

  test("stream_cdc_apply picks last-per-key through WindowGroupLimit heaps") {
    assert(planOf("stream_cdc_apply").contains("WindowGroupLimit"))
  }

  test("join_scd2_asof keeps user_id as the join's equi key (no nested loop)") {
    val p = planOf("join_scd2_asof")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"PIT join degraded to a loop join:\n$p")
  }

  test("round-9b keys keep their promised shapes") {
    // dq_constraints: the FK rule is a broadcast LEFT ANTI — the orphan
    // check must never shuffle the fact side against a 150-row key set
    val dq = planOf("dq_constraints")
    assert(dq.contains("BroadcastHashJoin") && dq.contains("LeftAnti"),
      s"fk_orphan lost its broadcast anti join:\n$dq")
    // collocations: both unigram dictionaries and both totals reach the
    // bigram counts as broadcasts (closed vocabulary — never shuffled)
    val pmi = planOf("llm_collocations")
    assert(pmi.split("BroadcastHashJoin").length >= 5 &&
      !pmi.contains("CartesianProduct"),
      s"collocation dictionaries not broadcast:\n$pmi")
    // jaccard: the wedge is an equi self-join on the shared neighbor
    val jac = planOf("graph_jaccard")
    assert(!jac.contains("CartesianProduct") && !jac.contains("NestedLoopJoin"),
      s"jaccard wedge degenerated:\n$jac")
    // left-outer interval twin: a real outer join, never a cartesian
    val slj = planOf("stream_left_join")
    assert(slj.contains("LeftOuter") && !slj.contains("CartesianProduct"),
      s"left join twin lost its outer join:\n$slj")
    // interpolate: the backward and forward brackets collapse into ONE
    // Window node (same partition/order spec, per-function frames) over
    // a single user_id sort — four picks, zero extra exchanges
    val itp = planOf("win_interpolate")
    assert(itp.split("Window \\[").length - 1 == 1,
      s"interpolate should plan exactly one collapsed Window node:\n$itp")
  }

  test("round-9c keys keep their promised shapes") {
    // weighted sampling: map-only and scan-pushed — the acceptance gate
    // must reach the scan as a pushed/partial filter, never a shuffle
    val sw = planOf("llm_sample_weighted")
    assert(!sw.contains("Exchange hashpartitioning"),
      s"hash-gated sampling must not shuffle:\n$sw")
    // TRI stencil: map-only per tile below its aggregate — exactly the
    // exchanges of the grouped tile build + final agg, no join anywhere
    val tri = planOf("eo_tile_tri")
    assert(!tri.contains("Join"), s"in-tile stencil must not join:\n$tri")
    assert(tri.contains("graft_tile_tri3"), s"native TRI kernel not planned:\n$tri")
    // CUSUM: the per-entity stats window and the running-sum window
    // share ONE hashpartitioning exchange on user_id (partitioning reuse)
    val cu = planOf("win_cusum")
    assert(cu.split("Exchange hashpartitioning").length - 1 == 1,
      s"cusum should shuffle once on the entity key:\n$cu")
    // pareto: the ordering window runs AFTER the per-entity aggregate
    // (rangepartitioning over entity-level rows, one data-sized hash
    // exchange below it)
    val pa = planOf("win_pareto")
    assert(pa.split("Exchange hashpartitioning").length - 1 <= 2 &&
      pa.contains("Window"), s"pareto shape regressed:\n$pa")
    // clustering coefficient: degree/triangle tables join back broadcast
    val cc = planOf("graph_clustering_coeff")
    assert(cc.contains("BroadcastHashJoin") && !cc.contains("CartesianProduct"),
      s"coefficient joins must broadcast:\n$cc")
    // containment: the block self-join is an equi join on lang with the
    // size-gated broadcast applied at this corpus size
    val ct = planOf("llm_containment")
    assert(ct.contains("BroadcastHashJoin") && !ct.contains("CartesianProduct"),
      s"containment block join degenerated:\n$ct")
  }

  test("round-9c wave 7/8 keys keep their promised shapes") {
    // AOI batch: SEMANTICS is a bbox cross join, the PLAN must be the
    // cell equi-join — never a cartesian/BNL
    val aoi = planOf("eo_catalog_aoi_batch")
    assert(!aoi.contains("CartesianProduct") && !aoi.contains("NestedLoopJoin"),
      s"AOI batch degenerated to a cross join:\n$aoi")
    assert(aoi.contains("BroadcastHashJoin"), s"cover cells not broadcast:\n$aoi")
    // laplace: native kernel in-plan, no join (in-tile stencil)
    val lp = planOf("eo_tile_laplace")
    assert(lp.contains("graft_tile_laplace3") && !lp.contains("Join"),
      s"laplace stencil shape regressed:\n$lp")
    // focal variance: BOTH stencils in one map-only projection — no join
    val fv = planOf("eo_tile_focal_var")
    assert(!fv.contains("Join"), s"focal variance must not join its two sums:\n$fv")
    // TWA: the lead window and the aggregate share one entity shuffle
    val twa = planOf("win_twa")
    assert(twa.split("Exchange hashpartitioning").length - 1 == 1,
      s"TWA should shuffle once on the entity key:\n$twa")
    // line dedup: chunk df joins back as an equi join, never a cartesian
    val ld = planOf("llm_line_dedup")
    assert(!ld.contains("CartesianProduct"), s"line-dedup join degenerated:\n$ld")
    // star query: every dimension broadcasts; the fact side is never the
    // build side of any join and no exchange precedes the joins
    val q5 = planOf("join_star_q5")
    assert(q5.split("BroadcastHashJoin").length >= 5 &&
      !q5.contains("SortMergeJoin"),
      s"star dims must all broadcast at this scale:\n$q5")
    // attribution: ONE entity-partitioned window, never a self-join
    val at = planOf("win_attribution")
    assert(!at.contains("Join") &&
      at.split("Exchange hashpartitioning").length - 1 <= 2,
      s"attribution must be the single-window form:\n$at")
    // tile stretch: per-tile bounds join back broadcast
    val ts = planOf("eo_tile_stretch")
    assert(ts.contains("BroadcastHashJoin"), s"stretch bounds not broadcast:\n$ts")
    // containment estimator keeps the equi block join (no cartesian)
    val ce = planOf("llm_containment_est")
    assert(!ce.contains("CartesianProduct"), s"estimator join degenerated:\n$ce")
    // bucketed aggregation: the layout satisfies the distribution — the
    // groupBy must run with ZERO exchanges below the presentation sort
    val ab = planOf("agg_bucketed")
    val belowSort = ab.substring(ab.indexOf("HashAggregate"))
    assert(!belowSort.contains("Exchange hashpartitioning"),
      s"bucketed aggregate still shuffles:\n$ab")
    // shadow projection: the shifted-coordinate test is an equi join
    val sm = planOf("eo_tile_shift_mask")
    assert(!sm.contains("CartesianProduct") && !sm.contains("NestedLoopJoin"),
      s"shadow projection degenerated:\n$sm")
  }

  test("sixth-wave plan shapes: broadcast dictionaries, banded joins, bounded windows") {
    // DSIR: the 1024-bucket dictionary and the scalar totals broadcast —
    // the token stream is never shuffled for the scoring join
    val ds = planOf("llm_dsir")
    assert(ds.contains("BroadcastHashJoin"), s"dsir dict not broadcast:\n$ds")
    // winsorized mean: cut values join back broadcast; exactly the two
    // promised hash exchanges (group partial-aggs) plus the rank window's
    assert(planOf("agg_winsorized_mean").contains("BroadcastHashJoin"))
    // fuzzy dictionary join: the length band keeps it a (broadcast)
    // nested-loop over the bounded dictionary, never over fact rows —
    // and the dictionary aggregate runs BELOW the join
    val jf = planOf("join_fuzzy")
    assert(jf.contains("BroadcastNestedLoopJoin"), s"fuzzy join shape:\n$jf")
    assert(jf.indexOf("HashAggregate") > jf.indexOf("BroadcastNestedLoopJoin"),
      s"fuzzy join must join dictionaries, not raw rows:\n$jf")
    // theilsen / mk_trend: the pair join is an EQUI join on the pixel
    // key (SortMerge or Hash), never a cartesian
    Seq("eo_theilsen", "eo_mk_trend").foreach { k =>
      val p = planOf(k)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
        s"$k pair join degenerated:\n$p")
    }
    // bollinger / rolling corr: entity-partitioned running windows —
    // exactly one hash exchange (user_id) below the presentation sort
    Seq("win_bollinger", "win_rolling_corr").foreach { k =>
      val p = planOf(k)
      assert(p.split("Exchange hashpartitioning").length - 1 <= 1,
        s"$k must shuffle once on the entity key:\n$p")
    }
    // ccnet buckets: the LM dictionaries broadcast back over the token
    // stream (cf and nl are vocabulary/lang-sized)
    assert(planOf("llm_ccnet_bucket").contains("BroadcastHashJoin"))
    // snaive: the day-7 ancestor lookup is an equi self-join
    val sn = planOf("win_forecast_snaive")
    assert(!sn.contains("CartesianProduct") && !sn.contains("NestedLoopJoin"),
      s"snaive ancestor join degenerated:\n$sn")
    // harmonic: map + ONE partial-agg shuffle, no joins at all
    val hm = planOf("eo_harmonic")
    assert(!hm.contains("Join"), s"harmonic must be join-free:\n$hm")
    assert(hm.split("Exchange hashpartitioning").length - 1 == 1,
      s"harmonic must shuffle once on the pixel key:\n$hm")
  }

  test("seventh-wave keys keep their promised shapes") {
    // markov: ONE user_id exchange carries the lag window; the row
    // totals broadcast back over the domain-sized pair table
    val mk = planOf("win_markov")
    assert(mk.contains("BroadcastHashJoin"), s"markov totals must broadcast:\n$mk")
    // jsd drift: the intersection self-join is an equi join on tok —
    // never a cartesian over source pairs
    val jd = planOf("llm_jsd_drift")
    assert(!jd.contains("CartesianProduct") && !jd.contains("NestedLoopJoin"),
      s"jsd intersection degenerated:\n$jd")
    // held-out CE: count dictionary and lang totals broadcast over the
    // test token stream
    assert(planOf("llm_heldout_ce").contains("BroadcastHashJoin"))
    // kmeans: seed centroids broadcast into the map-side assignment
    assert(planOf("llm_kmeans_round").contains("BroadcastHashJoin") ||
      planOf("llm_kmeans_round").contains("BroadcastNestedLoopJoin"))
    // d8: the neighbor reach is an equi join on the shifted coordinate
    // key (the 8-row offset dimension broadcasts)
    val d8 = planOf("eo_tile_d8")
    assert(d8.contains("BroadcastHashJoin") || d8.contains("SortMergeJoin"),
      s"d8 neighbor join shape:\n$d8")
    // referential sweep: every orphan check is a HASH anti-join (the
    // 1-row count combiners are legitimately BroadcastNestedLoopJoin
    // Cross — the agg_chisq scalar-combine shape); no cartesian
    val rf = planOf("dq_referential")
    assert(!rf.contains("CartesianProduct"), s"referential cartesian:\n$rf")
    assert(rf.contains("LeftAnti"), s"anti-join missing:\n$rf")
    assert(!rf.contains("NestedLoopJoin BuildRight, LeftAnti") &&
      !rf.contains("NestedLoopJoin BuildLeft, LeftAnti"),
      s"orphan check fell to a nested loop:\n$rf")
    // decompose/auc/sprt/survival: their global windows run over
    // DOMAIN-sized rows (days / cent values / users / durations) after
    // the one data-sized partial agg — exactly one fact-sized exchange
    Seq("win_decompose", "agg_auc", "win_sprt", "win_survival").foreach { k =>
      val p = planOf(k)
      assert(p.split("Exchange hashpartitioning").length - 1 <= 3,
        s"$k grew unexpected exchanges:\n$p")
    }
  }

  test("late seventh-wave keys keep their promised shapes") {
    // basket mining: the distinct-basket pair join is EQUI on the order
    // key; brand dictionaries broadcast
    val bl = planOf("agg_basket_lift")
    assert(!bl.contains("CartesianProduct"), s"basket degenerated:\n$bl")
    assert(bl.contains("BroadcastHashJoin"), s"basket dictionaries:\n$bl")
    // feature hashing: dictionary-free — NO join anywhere
    assert(!planOf("llm_feature_hash").contains("Join"),
      "feature hashing must stay join-free")
    // reflected runsum: one entity sort carries all three windows
    val rr = planOf("win_reflected_runsum")
    assert(rr.split("Exchange hashpartitioning").length - 1 <= 2,
      s"reflection grew exchanges:\n$rr")
    // state durations: one entity window + broadcast totals
    assert(planOf("win_state_duration").contains("BroadcastHashJoin"))
    // CIDR: the 3-row prefix dimension must broadcast (theta join)
    val cm = planOf("fn_cidr_match")
    assert(cm.contains("BroadcastNestedLoopJoin") || cm.contains("BroadcastHashJoin"),
      s"cidr dimension not broadcast:\n$cm")
  }

  test("round-10 keys keep their promised shapes") {
    // pansharpen is map-only: no exchange anywhere in the plan
    val ps = planOf("eo_pansharpen")
    assert(!ps.contains("Exchange hashpartitioning"),
      s"pansharpen grew a shuffle:\n$ps")
    // contour classifies via corner-explode + partial agg, never a
    // pixel-coordinate sort-merge join
    val ct = planOf("eo_tile_contour")
    assert(!ct.contains("SortMergeJoin"), s"contour joined coordinates:\n$ct")
    assert(ct.contains("BroadcastNestedLoopJoin") ||
      ct.contains("BroadcastHashJoin"), s"offset grid not broadcast:\n$ct")
    // the two-state kernels ride entity-partitioned windows, never global
    Seq("win_holt", "win_ewvar").foreach { k =>
      val p = planOf(k)
      assert(p.contains("PartitionBy: [event_type") ||
        p.contains("hashpartitioning(event_type"), s"$k window not entity-bounded:\n$p")
    }
    // MMR's pool/pairwise joins broadcast - the pool is 50 rows by contract
    val mmr = planOf("llm_mmr_select")
    assert(!mmr.contains("SortMergeJoin"), s"mmr pool join degraded:\n$mmr")
  }

  test("round-10 third-wave keys keep their promised shapes") {
    // Kendall pair sums ride the broadcast domain² join — a SortMergeJoin
    // here would mean the contingency collapse regressed to a data join
    val kt = planOf("agg_kendall_tau")
    assert(!kt.contains("SortMergeJoin"), s"kendall cell join degraded:\n$kt")
    assert(kt.contains("BroadcastNestedLoopJoin"),
      s"kendall domain join not broadcast:\n$kt")
    // Pettitt's sign cross is the calendar-domain² broadcast, never a
    // shuffled join of the daily series
    val pt = planOf("win_pettitt")
    assert(!pt.contains("SortMergeJoin"), s"pettitt sign cross degraded:\n$pt")
    assert(pt.contains("BroadcastNestedLoopJoin"),
      s"pettitt day cross not broadcast:\n$pt")
    // the stress accumulation is shuffle-free: both path-table sides of
    // the triple join broadcast (node²-bounded by contract)
    val bt = planOf("graph_betweenness")
    assert(!bt.contains("SortMergeJoin"), s"stress join degraded:\n$bt")
  }

  test("eo_tile_flow_acc is shuffle-once: one aggregation Exchange + the output sort") {
    // VERDICT r11 item 2's done-bar: the K=10 relaxation must run inside
    // the packed tile arrays — the former plan shuffled every round (~10
    // Exchanges). One hashpartitioning (the tile packing groupBy) and one
    // rangepartitioning (the ORDER BY tile) are the whole budget.
    val p = planOf("eo_tile_flow_acc")
    val hashEx = p.split("Exchange hashpartitioning").length - 1
    val rangeEx = p.split("Exchange rangepartitioning").length - 1
    assert(hashEx == 1, s"flow-acc relaxation re-shuffles ($hashEx hash exchanges):\n$p")
    assert(rangeEx <= 1, s"more than the output sort ($rangeEx range exchanges)")
    assert(!p.contains("Scan ExistingRDD"), "no mid-build checkpoint should remain")
  }

  test("round-12 keys keep their promised shapes") {
    // eo_twi: the two-product terrain composite costs ONE aggregation
    // shuffle (the tile packing) + the output sort — the flow-acc
    // shuffle-once budget carries through the fusion
    val twi = planOf("eo_twi")
    assert(twi.split("Exchange hashpartitioning").length - 1 == 1,
      s"eo_twi re-shuffles:\n$twi")
    assert(!twi.contains("Scan ExistingRDD"), "twi mid-build checkpoint")
    // eo_tasseled_cap: map-only band math fused over the scan — no
    // aggregation exchange anywhere, only the presentation sort
    val tc = planOf("eo_tasseled_cap")
    assert(!tc.contains("Exchange hashpartitioning"),
      s"tasseled cap should be map-only:\n$tc")
    // sql_pivot: the PIVOT clause must land on a plain Aggregate — no
    // window, no join (a dialect regression would change the shape)
    val pv = planOf("sql_pivot")
    assert(!pv.contains("Window") && !pv.contains("Join"),
      s"sql_pivot should be one Aggregate:\n$pv")
    // sql_unpivot: the UNPIVOT clause must land on Expand (the rotation
    // primitive), never a Join/Union-of-scans rewrite
    val up = planOf("sql_unpivot")
    assert(up.contains("Expand") && !up.contains("Join"),
      s"sql_unpivot should be one Expand:\n$up")
    // agg_ransac: the ≤40-row candidate table must broadcast against the
    // point pass — a shuffled join here would shuffle the fact side 8×
    val rs = planOf("agg_ransac")
    assert(rs.contains("BroadcastHashJoin") && !rs.contains("SortMergeJoin"),
      s"ransac candidates not broadcast:\n$rs")
    // llm_rouge / llm_bleu: every reference dictionary join is broadcast
    // (lang-sized); the only shuffles are the count aggregations
    Seq("llm_rouge", "llm_bleu").foreach { k =>
      val p = planOf(k)
      assert(p.contains("BroadcastHashJoin"), s"$k reference not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k cartesian:\n$p")
    }
    // llm_pref_pairs: rank windows are LANG-partitioned, never global
    val pp = planOf("llm_pref_pairs")
    assert(pp.contains("windowspecdefinition(lang"),
      s"pref-pairs window not lang-bounded:\n$pp")
    // agg_eqdepth_hist: one entity-bounded window pass, no join
    val eq = planOf("agg_eqdepth_hist")
    assert(eq.contains("windowspecdefinition(event_type") && !eq.contains("Join"),
      s"eqdepth window not entity-bounded:\n$eq")
  }

  test("global sweep: no key plans a cartesian product or a python fallback") {
    // join_cross IS the cartesian semantics (125-row dimension square);
    // everything else must never degrade to one, and nothing may fall to
    // a Python eval path (no pyspark in this library, ever).
    // KNOWN LIMIT: iterative keys that localCheckpoint mid-build
    // (eo_geomedian, llm_dedup_cluster, win_ntile) surface their earlier
    // stages as Scan ExistingRDD in the final plan, so this sweep only
    // sees their LAST stage — their internal joins are covered by the
    // targeted tests above and by their runtime specs, not by this sweep.
    val cartesianOk = Set("join_cross")
    val offenders = SparkEntry.registry.flatMap { q =>
      val p = planOf(q.name)
      val bad =
        (if (!cartesianOk(q.name) && p.contains("CartesianProduct")) Seq("cartesian") else Nil) ++
          (if (p.contains("BatchEvalPython") || p.contains("ArrowEvalPython")) Seq("python") else Nil)
      if (bad.isEmpty) Nil else Seq(s"${q.name}: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty, s"plan sweep violations: $offenders")
  }

  test("round-13 keys keep their promised shapes") {
    // LOF-over-ANN: probe pick + kNN are WindowGroupLimit heaps (rn <= k
    // filters over ranked windows), candidates flow through equi joins —
    // never a cartesian pair space
    val lof = planOf("dq_outlier_lof_ann")
    assert(lof.contains("WindowGroupLimit") && !lof.contains("CartesianProduct"),
      s"lof_ann shape:\n${lof.take(2000)}")
    // NSW: edge-pool generation is bucket-equi-join through the broadcast
    // neighbor-bucket dictionary; no raw pair space anywhere
    val nsw = planOf("llm_ann_nsw")
    assert(!nsw.contains("CartesianProduct"), s"nsw planned a cartesian")
    // QUALIFY rewrite lowers to per-partition top-k heaps
    assert(planOf("sql_qualify").contains("WindowGroupLimit"),
      "qualify rewrite lost its WindowGroupLimit")
    // the native TABLESAMPLE clause survives into the physical plan
    assert(planOf("sql_tablesample").contains("Sample"),
      "tablesample lost its Sample operator")
    // overlay: AOI rect dictionary attaches as a broadcast hash join on
    // aoi_id; the bbox prefilter is the only (broadcast) nested loop
    val ov = planOf("eo_polygon_overlay")
    assert(ov.contains("BroadcastHashJoin") && !ov.contains("CartesianProduct"),
      s"overlay shape:\n${ov.take(2000)}")
    // KLL: both compaction windows are bucket-partitioned (the one global
    // window is the sketch-local cumulative scan, documented at the key);
    // since ADVICE r13 #4 the exact lane is order statistics, so NO
    // library percentile() may appear anywhere in the plan
    val kll = planOf("agg_kll")
    assert(!kll.contains("CartesianProduct") && !kll.contains("percentile"),
      s"kll shape:\n${kll.take(2000)}")
  }

  test("round-14 keys keep their promised shapes") {
    // batched IVF: the probe pick and the per-query top-10 are
    // WindowGroupLimit heaps; the query batch attaches through
    // BroadcastHashJoins (qid, then the cell id); the ONLY nested loop is
    // the <=10-row quantizer broadcast — and never a cartesian
    val p = planOf("llm_ann_batch_ivf")
    assert(p.contains("WindowGroupLimit"), s"batched top-k lost its group limit:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), s"query batch not broadcast-joined:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"batched ANN went cartesian:\n${p.take(2000)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"more nested loops than the one bounded quantizer broadcast:\n${p.take(2000)}")
    // IDW: stations reach targets through the ring-cell EQUI join (the
    // only nested loop is the 256-row grid construction)
    val idw = planOf("eo_idw")
    assert(idw.contains("BroadcastHashJoin") && !idw.contains("CartesianProduct"),
      s"idw ring join degenerated:\n${idw.take(2000)}")
    // dissolve: NO join anywhere — explode, one window sweep, one agg
    val dis = planOf("eo_polygon_dissolve")
    assert(!dis.contains("Join") && dis.contains("Window"),
      s"dissolve grew a join:\n${dis.take(2000)}")
    // unigram: piece lookups are equi joins; never a cartesian
    assert(!planOf("llm_unigram_train").contains("CartesianProduct"),
      "unigram EM planned a cartesian")
    // hnsw: per-layer pools stay bucket-equi like the flat rung
    assert(!planOf("llm_ann_hnsw").contains("CartesianProduct"),
      "hnsw planned a cartesian")
    // batched graph search: the final top-10 pick and the n_visited
    // census share ONE Window pass (round 17 — the full-frame count(*)
    // rides the rank window's spec, so the former separate aggregate +
    // broadcast join are gone; the full-frame count is what rules out
    // WindowGroupLimit here, and visited sets are budget-bounded per
    // query so the plain window is scale-safe); frontier expansion is
    // an equi join — never a cartesian. (The per-round beam picks keep
    // their WindowGroupLimit heaps inside the checkpointed segments.)
    val bn = planOf("llm_ann_batch_nsw")
    assert(bn.contains("unboundedfollowing") && !bn.contains("CartesianProduct"),
      s"batched nsw shape:\n${bn.take(2000)}")
  }

  test("round-15 keys keep their promised shapes") {
    // batched hierarchical descent: the per-query beam is a
    // WindowGroupLimit over the (qid, v, d2) state, every frontier
    // expansion is an equi join on the adjacency — never a cartesian
    // (per-round localCheckpoints segment the plan; the final segment
    // carries the top-10 window and the visited join)
    // (round 17: the top-10/n_visited fold — see the batch_nsw pin)
    val bh = planOf("llm_ann_batch_hnsw")
    assert(bh.contains("unboundedfollowing") && !bh.contains("CartesianProduct"),
      s"batched hnsw shape:\n${bh.take(2000)}")
    // batched PQ: shortlist and rerank are per-query WindowGroupLimit
    // heaps; the ADC scan is the packed Q×N pair cross join scored by
    // the native graft_pqadc kernel (round 17 — the (m, ck) join + SUM
    // expansion is gone), with the code table broadcast under the gate:
    // the ONLY nested loop is that intentional pair scan, and a
    // CartesianProduct (both sides unhinted) must still never appear
    // at spec scale
    val bp = planOf("llm_ann_batch_pq")
    assert(bp.contains("WindowGroupLimit") && bp.contains("pqadcsum") &&
      !bp.contains("CartesianProduct"),
      s"batched pq shape:\n${bp.take(2000)}")
    // data-driven AOI overlay: candidates come from the cover-cell EQUI
    // join — the bbox range-overlap theta join must never appear (it
    // would plan as a nested loop), and neither side is hint-broadcast
    // (both grow with the corpus; AQE picks the strategy)
    val od = planOf("eo_polygon_overlay_dyn")
    assert(!od.contains("CartesianProduct") && !od.contains("BroadcastNestedLoopJoin"),
      s"overlay_dyn degenerated to a non-equi join:\n${od.take(2000)}")
  }

  test("round-16 keys keep their promised shapes") {
    // semdedup: the pair space is CLUSTER-BOUNDED — one equi join on the
    // trained ck (the Abbas sharding), never a cartesian; the keep rule
    // and census ride windows/aggs over that bounded space. (The Lloyd
    // rounds checkpoint, so the final plan is the post-assignment
    // segment — exactly the stage whose shape matters at scale.)
    val sd = planOf("llm_semdedup")
    assert(!sd.contains("CartesianProduct"),
      s"semdedup pair space went cartesian:\n${sd.take(2000)}")
    // hnsw_upsert: the link pick and the n_visited census share ONE
    // Window pass over the checkpointed visited state (round 17 — see
    // the batch_nsw pin; the final segment has NO joins at all now);
    // frontier expansion equi-joins the adjacency — never a cartesian
    val hu = planOf("llm_ann_hnsw_upsert")
    assert(hu.contains("unboundedfollowing") && !hu.contains("BroadcastHashJoin") &&
      !hu.contains("CartesianProduct"),
      s"hnsw_upsert shape:\n${hu.take(2000)}")
    // hybrid RRF: both shortlists are TakeOrderedAndProject per-partition
    // heaps (single-query top-k — heaps beat a one-partition rank window,
    // the llm_bm25 precedent); the only nested loops are the bounded
    // 1-row/3-term broadcasts, never a cartesian over the corpus
    val hr = planOf("llm_hybrid_rrf")
    assert(hr.contains("TakeOrderedAndProject") && !hr.contains("CartesianProduct"),
      s"hybrid_rrf shape:\n${hr.take(2000)}")
  }

  test("iterative builders run a pinned number of Spark jobs") {
    // Jobs each iterative builder launches before it returns its
    // DataFrame at sf0.001: for betweenness, kcore, ktruss and louvain
    // the BFS, peel and Louvain rounds — one checkpoint per round and one
    // job per AQE exchange stage inside them. A change to a loop or its
    // checkpoint cadence that moves a count updates its pin here, with
    // the reason. The cache is cleared first: rows another test left
    // cached would change AQE's stats and so its stage split.
    // bfs, sssp, closeness, ecc, closeness_pivot and mst_boruvka run
    // their rounds on the driver (Graph.minPlus, Graph.boruvka): their
    // jobs are the one collect of the distributed edge build — its
    // broadcast and exchange stages — and nothing per round. So do the
    // five NSW/HNSW keys under the ANN gate (LlmExtras.BeamSearch): their
    // jobs are the one collect of the lazy index build, its seeds and
    // vectors — no index checkpoint, no per-round jobs (were 52, 82, 75,
    // 132, 135 with the relational rounds).
    val pinned = Seq("llm_ann_nsw" -> 30, "llm_ann_batch_nsw" -> 36,
      "llm_ann_hnsw" -> 38, "llm_ann_batch_hnsw" -> 45,
      "llm_ann_hnsw_upsert" -> 45, "graph_bfs" -> 5, "graph_sssp" -> 6,
      "graph_closeness" -> 6, "graph_ecc" -> 6, "graph_closeness_pivot" -> 6,
      "graph_betweenness" -> 45, "graph_betweenness_pivot" -> 71,
      "graph_kcore" -> 32, "graph_ktruss" -> 24, "graph_mst_boruvka" -> 7,
      "graph_louvain_contract" -> 34)
    val sc = spark.sparkContext
    val got = pinned.map { case (key, _) =>
      spark.catalog.clearCache()
      val tag = s"plan-contract-jobs:$key"
      sc.setJobGroup(tag, key)
      try SparkEntry.queries(key)(spark, sfDir) finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      key -> sc.statusTracker.getJobIdsForGroup(tag).length
    }
    spark.catalog.clearCache()
    assert(got == pinned, s"builder job counts moved: $got")
  }

  test("ANN broadcasts follow the side-size rule (VERDICT r14 #9)") {
    // Corpus-proportional sides (index/query embedding frames) are hinted
    // ONLY while the source table sits under the gate; bounded frames keep
    // hard hints. Two halves: (a) the graded corpora are under the gate,
    // so the measured broadcast-side joins must still be planned — the
    // round-14 lever that removed the 1.3 GB pair shuffle; (b) the gate
    // branch itself: over the gate embBcast must return the frame
    // UNHINTED so AQE picks the strategy at 100× scale.
    assert(new java.io.File(s"$sfDir/embeddings.parquet").length() <
      operators.LlmExtras.AnnBroadcastGateBytes, "spec corpus over the gate?")
    for (k <- Seq("llm_ann_nsw", "llm_ann_batch_nsw", "llm_ann_hnsw", "llm_ann_batch_ivf")) {
      val p = planOf(k)
      assert(p.contains("BroadcastHashJoin"),
        s"$k lost its under-gate broadcast joins:\n${p.take(2000)}")
    }
    val big = java.nio.file.Files.createTempDirectory("graft_gate").toString
    try {
      val raf = new java.io.RandomAccessFile(s"$big/embeddings.parquet", "rw")
      try raf.setLength(operators.LlmExtras.AnnBroadcastGateBytes + 1)
      finally raf.close()
      val df = spark.range(3).toDF("v")
      def hinted(out: org.apache.spark.sql.DataFrame): Boolean =
        out.queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }.nonEmpty
      assert(hinted(operators.LlmExtras.embBcast(sfDir)(df)),
        "under-gate frame not hinted")
      assert(!hinted(operators.LlmExtras.embBcast(big)(df)),
        "over-gate frame still pinned to broadcast")
    } finally graft.maintenance.Compaction.deleteRecursively(
      java.nio.file.Paths.get(big))
  }
}
