package graft

/** Plan-shape regression tests: the scale stance is part of the
  * contract, so the plans that encode it are pinned here. Each test
  * executes the real query (so AQE finalizes) and asserts on the
  * executed plan — a regression that, say, un-pushes a filter or turns
  * the star join into a shuffle would fail CI long before a benchmark
  * notices.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(key: String): String = {
    val df = run(key)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** All FileSourceScanExec leaves of an executed plan — collect() does
    * not descend through AQE wrappers, so unwrap the adaptive root and
    * query-stage nodes explicitly.
    */
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }

  /** Every node of an executed plan, unwrapping the adaptive root and
    * query stages; a ReusedExchange is listed but not descended into,
    * so a reused subtree counts once.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => planNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(planNodes)
  }

  test("scan_pruned_filter pushes predicates and prunes columns at the parquet scan") {
    val plan = executedPlan("scan_pruned_filter")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate predicates must reach the scan")
    assert(plan.contains("ReadSchema: struct<l_extendedprice:double,l_shipdate"),
      "scan must read only the two referenced columns")
  }

  test("window_rank_topk runs as two-phase WindowGroupLimit, not a full window sort") {
    val plan = executedPlan("window_rank_topk")
    assert(plan.contains("WindowGroupLimit"),
      "rank filter must become partial+final WindowGroupLimit")
  }

  test("join_broadcast_chain is all broadcast joins — zero fact-table shuffles pre-agg") {
    val plan = executedPlan("join_broadcast_chain")
    // AQE prints both the final and the initial plan — require ≥4 joins
    // and none of them sort-merge.
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("join_sortmerge_large keeps the pinned sort-merge strategy") {
    val plan = executedPlan("join_sortmerge_large")
    assert(plan.contains("SortMergeJoin"))
  }

  test("sim_cosine_topk stays in whole-stage codegen with the native dot product") {
    val plan = executedPlan("sim_cosine_topk")
    assert(plan.contains("dotproductf"), "native expression missing from plan")
    // executed AQE plans render whole-stage codegen stages as "*(n)"
    assert(plan.contains("*("), "expected a whole-stage codegen span")
  }

  test("agg_pricing_summary aggregates partial+final (map-side combine present)") {
    val plan = executedPlan("agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "expected partial and final HashAggregate stages")
  }

  test("dedup_embedding_cosine proposes via equi-joins only — no all-pairs product") {
    val plan = executedPlan("dedup_embedding_cosine")
    assert(!plan.contains("CartesianProduct"),
      "banded LSH must never degrade to a cartesian pair product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay an equi-join on the band key")
    assert(plan.contains("dotproductf"),
      "exact dispose stage must use the native codegen fold")
  }

  test("dedup_semantic pairs only within a cell — cell-keyed equi-join, native fold") {
    val plan = executedPlan("dedup_semantic")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the within-cluster pair scan must stay an equi-join on the cell key")
    assert(plan.contains("dotproductf"),
      "exact cosine dispose must use the native codegen fold")
  }

  test("join_range_binned runs as an equi-join on the bin key, never nested-loop") {
    val plan = executedPlan("join_range_binned")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "binning must turn the BETWEEN theta join into a hash-partitionable equi-join")
  }

  test("sim_ann_ivf scans only the chosen cells (broadcast cell filter, native fold)") {
    val plan = executedPlan("sim_ann_ivf")
    assert(plan.contains("BroadcastHashJoin"),
      "cell membership must be a broadcast semi/inner join on label")
    assert(plan.contains("dotproductf"))
  }

  test("join_bucketed is co-located: sort-merge join with ZERO exchanges") {
    graft.ops.ScaleOps.withBucketedJoin(spark, sf) { df =>
      df.collect()
      // AQE prints the final plan first, then "== Initial Plan ==" —
      // assert on the final section only
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"))
      // the join's subtree must be exchange-free: bucketing already
      // satisfies the distribution requirement on both sides. The only
      // exchanges allowed are AFTER the partial aggregate (final agg +
      // the orderBy range partition), i.e. on post-join, tiny data —
      // and those render ABOVE the join in the tree, so everything from
      // the join down must be shuffle-free.
      val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSubtree.contains("Exchange"),
        "bucketed join sides must not shuffle")
    }
  }

  test("agg_heavy_hitters sketches via partial+final ObjectHashAggregate") {
    val plan = executedPlan("agg_heavy_hitters")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      "the TypedImperativeAggregate must run as partial+final object agg")
    assert(plan.contains("heavy_hitters"))
  }

  test("scan_time_partitioned prunes the directory tree: 7 of 30 day-partitions read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = graft.ops.ScaleOps.stageTimePartitioned(spark, sf)
    val df = graft.ops.ScaleOps.timePartitionedRead(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the time-range predicate must be a PARTITION filter (resolved
    // against directory names), not a post-scan data filter
    assert(plan.toString.contains("PartitionFilters: [isnotnull(dt"),
      "dt range must reach the scan as a partition filter")
    val scans = scansOf(plan)
    assert(scans.nonEmpty)
    val partitionsRead = scans.map(_.metrics("numPartitions").value).sum
    assert(partitionsRead === 7,
      s"expected exactly the 7 day-partitions in range, read $partitionsRead")
    // and the pruned scan must still see the unpruned total of 30 days
    assert(spark.read.parquet(dir).select("dt").distinct().count() === 30)
  }

  test("scan_dpp_join prunes fact partitions at RUNTIME through the dim join (DPP)") {
    val dir = graft.ops.ScaleOps.stageTimePartitioned(spark, sf)
    val df = graft.ops.ScaleOps.dppRead(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the predicate must arrive as a DPP subquery filter on the fact
    // scan — no literal date range exists anywhere in the query
    val factScans = scansOf(plan)
      .filter(_.toString.contains("dynamicpruningexpression"))
    assert(factScans.nonEmpty,
      "fact scan must carry a dynamicpruningexpression partition filter")
    val partitionsRead = factScans.map(_.metrics("numPartitions").value).sum
    assert(partitionsRead === 6,
      s"campaign-2 days are 6 of 30; DPP read $partitionsRead partitions")
  }

  test("corpus_decontaminate probes the benchmark grams via broadcast — no corpus-wide shuffle join") {
    val plan = executedPlan("corpus_decontaminate")
    // the contamination probe must be a broadcast left-semi join on the
    // (small, fixed) benchmark gram set, never a shuffled join keyed by
    // the corpus's gram universe
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "benchmark gram probe must be a broadcast left-semi join")
    assert(!plan.contains("SortMergeJoin"),
      "no corpus-sized shuffle join in the decontamination path")
  }

  test("window_rank_distributed ranks via range partitioning — no row_number window at all") {
    // phase 1 (pre-checkpoint): the fact flows through a range exchange
    val ids = graft.ops.ScaleOps.rankIdsPlan(spark, sf)
    ids.collect()
    assert(ids.queryExecution.executedPlan.toString.contains("rangepartitioning"),
      "phase 1 must be a range repartition of the fact")
    // full key: the global rank comes from id arithmetic + broadcast
    // offsets; the only window anywhere is the P-row offset sum
    val plan = executedPlan("window_rank_distributed")
    assert(!plan.contains("row_number("),
      "no row_number window may appear — that is the single-partition shape")
  }

  test("corpus_domain_cap windows over a source-keyed exchange, never a global sort") {
    val plan = executedPlan("corpus_domain_cap")
    assert(plan.contains("hashpartitioning(source"),
      "the quota window must partition by source — the distributed shape")
  }

  test("window_gap_fill joins the calendar spine by broadcast — no sort-merge join") {
    // spine (days × types) and the per-(type, day) counts are bounded
    // by the calendar, not the data: both joins must stay broadcast
    val plan = executedPlan("window_gap_fill")
    assert(!plan.contains("SortMergeJoin"),
      "calendar-bounded relations must broadcast, not shuffle the join")
  }

  test("index_persist serves from the REOPENED persisted tables, not training lineage") {
    val df = run("index_persist")
    df.collect()
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.size >= 2, "both persisted artifacts must be scanned")
    assert(scans.forall(_.metadata.get("Location").exists(_.contains("ivf-store-"))),
      "every scan must read the persisted artifact store — lineage back to " +
        "the training job would retrain on every consumer")
  }

  test("window_rank_dense computes rank/dense_rank/ntile with NO window operator at all") {
    // The two-phase spelling replaces every window — even the P-row
    // offset cumsum runs as a broadcast prefix-sum join — so the
    // executed plan must contain zero WindowExec nodes and no window
    // function text anywhere.
    val df = run("window_rank_dense")
    df.collect()
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    assert(nodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) === 0,
      "no WindowExec may appear — global rank must be id arithmetic + broadcast offsets")
    assert(!df.queryExecution.executedPlan.toString.contains("row_number("),
      "no row_number window may appear — that is the single-partition shape")
  }

  test("join_runtime_filter probes a bloom filter at the fact side — the non-partition DPP sibling") {
    graft.ops.ScaleOps.withRuntimeFilterJoin(spark, sf) { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        "the runtime bloom probe must reach the fact side of the join")
      assert(plan.contains("SortMergeJoin"),
        "the technique targets the shuffle join (broadcast is scoped off)")
    }
  }

  test("join_skew_aqe splits the hot key at runtime — SortMergeJoin(skew=true)") {
    graft.ops.ScaleOps.withSkewAqeJoin(spark, sf) { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "OptimizeSkewedJoin must mark and split the skewed join")
      assert(plan.contains("SortMergeJoin"),
        "the technique targets the shuffle join (broadcast is scoped off)")
    }
  }

  test("join_skew_salted derives S from observed hot-key mass; replicated-dim shape pinned") {
    import spark.implicits._
    import graft.ops.ScaleOps
    // uniform archive (TPC-H orderkeys, multiplicity ≤ 7): the probe
    // must land on the demo floor — production would skip salting here
    assert(ScaleOps.saltedS(spark, sf) === 2,
      "uniform key mass must derive the floor fan-out")
    // one key carrying ~90% of the fact: S must rise to ~hotShare × P
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val hotFact = (0 until 4000).map { i =>
      (if (i % 10 != 0) 7L else 1000L + i, (i % 50).toLong,
        ((i % 7) + 1).toLong, 10.0 + (i % 9))
    }.toDF("l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice")
    val dimKeys = (Seq(7L) ++ (0 until 4000 by 10).map(1000L + _))
      .map(k => (k, s"P${k % 3}"))
      .toDF("o_orderkey", "o_orderpriority")
    val dir = stageTables("lineitem" -> hotFact, "orders" -> dimKeys)
    val sHot = ScaleOps.saltedS(spark, dir)
    assert(math.abs(sHot - math.ceil(0.9 * p).toInt) <= 1,
      s"hot-key mass ~0.9 over $p partitions must derive S≈${0.9 * p}, got $sHot")
    assert(sHot > 2, "skewed mass must derive above the floor")
    // plan shape: the dim side is replicated via explode (Generate)
    // with the DERIVED fan-out, and the join key is (key, salt). (At
    // fixture scale AQE rightly broadcasts the tiny replicated dim —
    // the strategy choice is size-based and not pinned here; the
    // replicated-salt shape is.)
    val df = run("join_skew_salted", dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"Generate explode([${(0 until sHot).mkString(",")}])"),
      s"the dim replication must be the exploded DERIVED salt array (S=$sHot)")
    assert(plan.contains("salt"), "the join must carry the salt column")
    // S-independence of the answer: the salted join equals the plain join
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = hotFact.join(dimKeys, $"l_orderkey" === $"o_orderkey")
      .groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"),
        graft.core.Det.moneySum($"l_extendedprice").as("revenue"))
      .orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === want.toSeq)
  }

  test("cdc_scd2 pushes the changed-key predicate below the version window") {
    val plan = executedPlan("cdc_scd2")
    val windowIdx = plan.indexOf("Window")
    val pushedIdx = plan.indexOf("% 10) = 0) OR")
    assert(windowIdx >= 0 && pushedIdx >= 0, "expected a Window and the OR predicate")
    // the OR filter on the partition key must sit BELOW the window (at
    // the scans), so unchanged keys never enter the shuffle…
    assert(pushedIdx > windowIdx,
      "changed-key predicate must be below the Window, not above it")
    // …and the only residual filter above the window is the op filter
    assert(!plan.substring(0, windowIdx).contains("% 10"),
      "no key-mod predicate may remain above the Window")
  }

  test("text_repetition collapses duplicate tokens map-side (two partial+final aggs)") {
    val plan = executedPlan("text_repetition")
    // explode feeds a PARTIAL aggregate before the first exchange — the
    // token stream never shuffles raw — and the per-doc rollup is its
    // own partial+final pair: ≥4 HashAggregates across 2 exchanges.
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "expected two partial+final HashAggregate pairs")
    val firstExchange = plan.indexOf("Exchange")
    val generate = plan.indexOf("Generate")
    assert(generate > firstExchange,
      "the explode must sit below every exchange (map-side partial agg)")
  }

  test("graph_pagerank iterates via equi-joins and partial+final aggs — no product, no window") {
    val plan = executedPlan("graph_pagerank")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "every superstep must stay an equi-join on src/dst")
    // the per-iteration contribution rollup must combine map-side
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "expected partial+final aggregate pairs per iteration")
    assert(!plan.contains("Window"), "the argmax-free recurrence needs no window")
  }

  test("dedup_simhash proposes via the chunk equi-join — no all-pairs product") {
    val plan = executedPlan("dedup_simhash")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("join_asof_nearest evaluates both range frames after one hash shuffle and one sort") {
    val df = run("join_asof_nearest")
    df.collect()
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    // Spark evaluates the growing (unboundedPreceding..0) and shrinking
    // (0..unboundedFollowing) frames as two WindowExec passes — but both
    // share the (user_id, ms) sort, so the second pays NO new exchange
    // and NO new sort. The scale property pinned here is the data
    // movement: exactly one hash shuffle and one window-side sort.
    assert(all.count(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) <= 2)
    val hashShuffles = all.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(hashShuffles.size === 1,
      "the nearest as-of costs exactly one user_id shuffle (plus the output sort)")
    // ≤2 sorts total: the shared window sort + the final ORDER BY
    assert(all.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) <= 2,
      "the second frame must reuse the first frame's sort order")
  }

  test("sample_reservoir lowers to TakeOrdered — a size-k heap per partition, never a global sort") {
    val plan = executedPlan("sample_reservoir")
    assert(plan.contains("TakeOrderedAndProject"),
      "hash-ranked k-sample must be TakeOrderedAndProject, not Sort+Limit")
  }

  test("dedup_span_exact stays equi-join only with map-side partial span counts") {
    val plan = executedPlan("dedup_span_exact")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "span dedup must never form pairs — hash semi-join back to the dup set only")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      "span counts must combine map-side before the doc_id shuffle")
  }

  test("embedding_gram reduces via one-pass gram_sum buffers off one scan") {
    val df = run("embedding_gram")
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(scansOf(p).length === 1, "the gram pass reads the corpus exactly once")
    val s = p.toString
    assert(s.contains("partial_gram_sum"),
      "gram buffers must accumulate map-side — one O(d²) buffer per task " +
        "crosses the exchange, not d²/2 rows per partition")
    assert(!s.contains("posexplode"),
      "the d²/2-rows-per-vector pair explode must not exist (r16: replaced " +
        "by the native gram_sum aggregate)")
  }

  test("corpus_prep_e2e fuses dedup, gates, and accounting over a single corpus scan") {
    val df = run("corpus_prep_e2e")
    df.collect()
    assert(scansOf(df.queryExecution.executedPlan).length === 1,
      "the fused pipeline must not rescan the corpus between stages")
  }

  test("text_bm25 is one corpus scan, map-side partials, and a TakeOrdered top-k") {
    val df = run("text_bm25")
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(scansOf(p).count(_.toString.contains("documents")) === 1,
      "dl and the per-term tfs must come from ONE conditional aggregation pass")
    val s = p.toString
    assert(s.contains("partial_count") || s.contains("partial_sum"),
      "per-doc term counts must combine map-side")
    assert(s.contains("TakeOrderedAndProject"),
      "top-20 must be a size-k heap per partition, not a global sort")
  }

  test("cohort_retention derives cohorts with a keyed window over a single event scan") {
    val df = run("cohort_retention")
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(scansOf(p).length === 1,
      "the min-over-user window must not rescan events like a self-join would")
    assert(!p.toString.contains("SortMergeJoin") &&
      !p.toString.contains("BroadcastHashJoin"),
      "cohort assignment is a window, not a join")
  }

  test("fill-forward and time-weighted windows are keyed by user — never global") {
    for (key <- Seq("window_fill_forward", "event_time_weighted")) {
      val plan = executedPlan(key)
      // a Window with an empty partition spec prints "Window [..], [..]"
      // with no partition column list and moves ALL data to one task
      val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windowLines.nonEmpty && windowLines.forall(_.contains("[user_id")),
        s"$key must partition its window by user_id: $windowLines")
    }
  }

  test("triangle count closes wedges with equi-joins on the oriented edge set") {
    val plan = executedPlan("graph_triangle_count")
    assert(plan.contains("LeftSemi"),
      "the closing-edge membership test must be a semi-join")
    // the 1-row count assembly cross-joins are fine; the wedge join and
    // closing join must not be — they carry the edge-set cardinality
    assert(!plan.contains("CartesianProduct"),
      "wedge formation must never be a product over the edge set")
  }

  test("corpus_pack_sequences packs via range partitioning + broadcast offsets — no global token window") {
    // phase 1 (pre-checkpoint): the token table flows through a range
    // exchange, the same spelling window_rank_distributed pins
    val ids = graft.ops.PackOps.packIdsPlan(spark, sf)
    ids.collect()
    assert(ids.queryExecution.executedPlan.toString.contains("rangepartitioning"),
      "phase 1 must be a range repartition of the token table")
    // full key: the corpus-side cumsum window is partitioned by pid and
    // the P-row offsets arrive by broadcast — the single-partition
    // global-window shape never appears over the token table
    val plan = executedPlan("corpus_pack_sequences")
    assert(plan.contains("BroadcastHashJoin"),
      "partition offsets must join back by broadcast")
    assert(plan.contains("windowspecdefinition(pid"),
      "the per-row cumsum must be the pid-partitioned window")
  }

  test("basket pair mining stays keyed — no product over baskets") {
    for (key <- Seq("assoc_basket_lift", "graph_adamic_adar", "graph_bfs_depth")) {
      val plan = executedPlan(key)
      assert(!plan.contains("CartesianProduct"),
        s"$key must enumerate pairs through keyed equi-joins")
    }
  }

  test("feature_target_encode broadcasts the bucket statistics over one fact scan") {
    val plan = executedPlan("feature_target_encode")
    assert(plan.contains("BroadcastHashJoin"),
      "the |buckets|-row stats table must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "the fact table must never shuffle for this join")
  }

  test("rolling and rank-stat windows are keyed — never global") {
    val wants = Seq(
      "window_median_rolling" -> "[user_id",
      "stat_ks_test" -> "[event_type",
      "stat_mann_whitney" -> "[event_type",
      "ts_interpolate_linear" -> "[event_type")
    for ((key, part) <- wants) {
      val plan = executedPlan(key)
      val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windowLines.nonEmpty && windowLines.forall(_.contains(part)),
        s"$key must partition its windows by $part: $windowLines")
    }
  }

  test("vocab coverage picks the vocabulary with TakeOrdered and probes by broadcast") {
    val plan = executedPlan("tokenizer_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-100 vocab must be a size-k heap per partition")
    assert(plan.contains("BroadcastHashJoin"),
      "the 100-row vocab must broadcast to the probe scan")
  }

  test("nested-struct scan prunes the unread sibling field") {
    val plan = executedPlan("scan_nested_struct")
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    // the nested read wants meta.detail.event_type and tags — the
    // sibling cents field must never reach the parquet scan
    assert(schemas.exists(_.contains("event_type")),
      "the dot-path projection must reach the scan")
    assert(!schemas.exists(_.contains("c:bigint")),
      s"nested pruning must drop the unread cents field: $schemas")
  }

  test("negative sampling never materializes the user x bucket grid") {
    // round 11: the old anti-join shape broadcast a build side that
    // grew with N (measured 33x at sf0.1 -> sf1); the pick must now be
    // a map-side array_except against the 1-row broadcast bucket
    // domain — no grid join, no per-user window
    val plan = executedPlan("sample_negative")
    assert(plan.contains("array_except"),
      "the per-user pick must be the map-side array_except projection")
    assert(!plan.contains("LeftAnti") && !plan.contains("WindowExec"),
      "no anti join over the candidate grid, no per-user window")
  }

  test("sim_maxsim_labels broadcasts a rank-limited probe shortlist, not the corpus slice") {
    // The round-8 grade: broadcasting every label-{0,1} vector grows
    // the broadcast with the corpus. The probe side must pass through
    // a WindowGroupLimit (the ≤32-per-label rank filter, pruned
    // map-side) before the broadcast, bounding it at any corpus size.
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val df = run("sim_maxsim_labels")
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    val bnl = all.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.nonEmpty, "the MaxSim probe scoring is a broadcast cross join")
    for (j <- bnl) {
      val bSide = if (j.buildSide.toString.contains("Right")) j.right else j.left
      assert(nodes(bSide).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowGroupLimitExec]),
        "the broadcast probe side must be rank-limited (fixed-size shortlist)")
    }
  }

  test("dedup_fuzzy_levenshtein equi-joins distinct names on PassJoin segments — never a block cross") {
    val plan = executedPlan("dedup_fuzzy_levenshtein")
    val joinLines = plan.linesIterator
      .filter(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
      .toSeq
    assert(joinLines.nonEmpty, "the pair enumeration must be an equi-join")
    assert(joinLines.exists(l => l.contains("p_brand") && l.contains("seg")),
      s"the distinct-name candidate join must key on the segment string " +
        s"(PassJoin filter), not brand alone: $joinLines")
    assert(!plan.contains("CartesianProduct"), "no all-pairs product")
  }

  test("exact-rank keys never run a WindowExec over raw fact rows keyed by a low-cardinality column") {
    // The round-8 grade: a window partitioned by a ≤10-value key
    // (event_type, l_returnflag) over FACT rows funnels N/|groups|
    // rows through one task. The re-spelled keys run their windows
    // over bounded post-aggregate ledgers (per-(group, value) counts)
    // or over a single checkpointed range cell — so in every executed
    // plan, each WindowExec must have an aggregate strictly below it,
    // or no file scan below it at all (the bounded-checkpoint case).
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def isAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
      case _ => false
    }
    for (key <- Seq("window_cume_dist",
        "agg_winsorized_mean", "anomaly_tukey_fence", "agg_trimmed_mean",
        "agg_percentile_disc", "feature_binning_transfer",
        "eval_auc", "stat_spearman_rho")) {
      val df = run(key)
      df.collect()
      val windows = nodes(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      for (w <- windows) {
        val below = nodes(w).drop(1)
        val ok = below.exists(isAgg) ||
          !below.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
        assert(ok, s"$key: WindowExec consumes raw fact-scan rows — " +
          "the low-cardinality single-task funnel the two-phase spelling forbids")
      }
    }
    // agg_weighted_median's window legitimately reads fact rows — but
    // only the crossing CELL's (broadcast-join filtered) and
    // partitioned by the cell id, so no partition holds N/|groups|
    val wm = run("agg_weighted_median")
    wm.collect()
    val wmWindows = nodes(wm.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wmWindows.nonEmpty)
    for (w <- wmWindows) {
      val head = w.toString.linesIterator.next()
      assert(head.contains("c1") && head.contains("c2"),
        "the running-sum window must be partitioned by the bisection " +
          "cells, not the 3-value returnflag alone")
    }
    // The round-10 wave: sample_class_balance / corpus_token_budget /
    // corpus_domain_cap run the same two-level bisection — their only
    // raw-row window may rank the broadcast-located CROSSING CELL,
    // partitioned by (group, cell), never by the low-cardinality group
    // alone.
    for (key <- Seq("sample_class_balance", "corpus_token_budget",
        "corpus_domain_cap")) {
      val df = run(key)
      df.collect()
      val windows = nodes(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      for (w <- windows) {
        val below = nodes(w).drop(1)
        val rawScan =
          below.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) &&
            !below.exists(isAgg)
        if (rawScan) {
          assert(below.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
            s"$key: a raw-row window must be scoped by the broadcast " +
              "crossing-cell filter")
          assert(w.partitionSpec.size >= 2,
            s"$key: the crossing-cell window must partition by (group, cell), " +
              s"not the group alone: ${w.partitionSpec}")
        }
      }
    }
  }

  test("Levene deviations join the broadcast moment table — the fact never shuffles") {
    val plan = executedPlan("stat_levene")
    assert(plan.contains("BroadcastHashJoin"),
      "the ≤k-row per-group moment table must broadcast back over the fact scan")
    assert(!plan.contains("SortMergeJoin"),
      "no fact-sized shuffle join in the deviation pass")
    assert(!plan.contains("Window "), "Levene needs no window at all")
  }

  test("modularity equi-joins the brand map onto the shared edge artifact") {
    // the part->brand map is SF-scaled, so the joins are hint-free
    // (plan-linter R5): AQE broadcasts the map while it is small — the
    // shape asserted here — and graduates to shuffle joins at scale
    val plan = executedPlan("graph_modularity")
    assert(plan.contains("BroadcastHashJoin"),
      "at this SF the brand map must still broadcast to both endpoints")
    assert(!plan.contains("CartesianProduct"),
      "the only cross joins are 1-row grand totals (broadcast nested loop)")
  }

  test("assortativity broadcasts the degree table to both edge endpoints") {
    val plan = executedPlan("graph_assortativity")
    assert(plan.contains("BroadcastHashJoin"),
      "the bounded degree table must broadcast onto the directed edge list")
    assert(!plan.contains("CartesianProduct"),
      "only 1-row moment/total combinations may cross (broadcast nested loop)")
  }

  test("hampel windows run over the hourly rollup, never raw fact rows") {
    val plan = executedPlan("ts_hampel_outliers")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("[event_type")),
      s"the rolling median window must partition by event_type: $windowLines")
    // the window's input is the calendar-bounded (type, hour) aggregate —
    // a HashAggregate must sit below the window, proving the fact table
    // collapsed BEFORE any sort
    assert(plan.contains("HashAggregate"),
      "hourly pre-aggregation must collapse the fact before the window")
  }

  test("dedup_rate_by_source shuffles hashes, never document text") {
    val plan = executedPlan("dedup_rate_by_source")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text")),
      s"no exchange may carry the text column: $exchanges")
  }

  test("ngram novelty anti-joins on the gram hash — no product, text never shuffles") {
    val plan = executedPlan("corpus_ngram_novelty")
    assert(!plan.contains("CartesianProduct"),
      "train-gram membership must be a keyed anti-join, never a product")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text")),
      s"no exchange may carry the text column: $exchanges")
  }

  test("Kneser-Ney bigram windows partition by doc_id — never a global token order") {
    // The bigram ledger is shared (graft.core.Share): its four readers
    // (ctx, cont, bt, the scored join) plan the same subtree, so the
    // ledger's (lang, w1, w2) exchange runs once and the other three
    // branches read it as a ReusedExchange — the tokenize + lead window
    // never re-runs per branch.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val df = run("text_bigram_kneser_ney")
    df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    val leadWindows = df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Window ") && l.contains("lead(")).toSeq
    assert(leadWindows.nonEmpty && leadWindows.forall(_.contains("[doc_id")),
      s"the bigram lead window must partition by doc_id: $leadWindows")
    def isLedger(e: ShuffleExchangeExec) = e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.map(_.toString.takeWhile(_ != '#')) == Seq("lang", "w1", "w2")
      case _ => false
    }
    val ledger = all.collect { case e: ShuffleExchangeExec if isLedger(e) => e }
    assert(ledger.size === 1, s"the ledger's exchange must appear once: $ledger")
    val reused = all.collect {
      case r @ ReusedExchangeExec(_, e: ShuffleExchangeExec) if isLedger(e) => r
    }
    assert(reused.size === 3,
      s"ctx, cont and bt must each read the ledger as a ReusedExchange: $reused")
  }

  test("seeded PPR iterates via equi-joins and partial+final aggs — no product") {
    val plan = executedPlan("graph_ppr_seeded")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "each power iteration must stay an equi-join")
    assert(plan.contains("HashAggregate"),
      "contribution sums must be partial+final aggregates")
  }

  test("PMI collocations window only within documents — never a global token order") {
    val plan = executedPlan("text_collocations_pmi")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("[doc_id")),
      s"the bigram lead window must partition by doc_id: $windowLines")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-20 cut must be a size-k heap per partition, not a global sort")
  }
  test("kendall cells pair via broadcast equi-join — the fact never products") {
    val plan = executedPlan("stat_kendall_tau")
    assert(plan.contains("BroadcastHashJoin"),
      "the bounded cell grid must broadcast onto itself")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no relation-level product in: cell-pair join")
  }

  test("Holt fold runs with NO WindowExec — the recursion lives in aggregate()") {
    val plan = executedPlan("ts_holt_forecast")
    assert(!plan.linesIterator.exists(_.contains("Window ")),
      "the sequential state machine must be the array fold, not a window")
  }

  test("Theil-Sen pairs join equi on type — never a nested-loop product") {
    val plan = executedPlan("ts_theil_sen")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the O(D^2) pair join must still be a type-keyed equi-join")
  }

  test("markov stationary folds the bounded matrix in-row — no per-step shuffle") {
    val plan = executedPlan("seq_markov_stationary")
    // the 12-step fixpoint runs as HOF expressions over ONE collected
    // |types|²-row ledger: the only exchanges left are the bigram
    // count's partial+final pair, the single-row ledger collect, and
    // the final sort — a per-step join/shuffle would multiply that
    assert(!plan.contains("CartesianProduct"),
      "no step may degrade to a product")
    // executed-plan text (AQE prints initial + final) measured 14
    // exchange mentions post-rewrite vs 58 with per-step joins; the
    // bound has headroom for text drift but fails a per-step shuffle
    assert("Exchange".r.findAllIn(plan).size <= 20,
      "the 12-step fold must not shuffle per step")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.forall(_.contains("user_id")),
      s"the bigram lag window must partition by user_id: $windowLines")
  }

  test("local clustering closes wedges by equi-join — no product, one explode credit") {
    val plan = executedPlan("graph_local_clustering")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "triangle closure must be the (t1, t2) equi-join")
    assert(plan.contains("Generate explode"),
      "per-vertex credit must be the 3-way explode, not three scans")
  }

  test("sliding distinct runs ONE keyed island window — never a 7× fact replication") {
    val plan = executedPlan("window_sliding_distinct")
    // the only windows are the island lag + running sum, both keyed by
    // user_id; a global (empty-partition) window over the fact would be
    // the decomposability trap this key exists to avoid
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("user_id")),
      s"island windows must partition by user_id: $windowLines")
    // both interval endpoints explode from one island row: the window
    // subtree must appear once — 2 Window nodes, printed ≤2× by AQE
    // (final + initial plan), never the 4 real nodes of a per-union-leg
    // re-evaluation (which AQE would print as 8 lines)
    assert(windowLines.size <= 4,
      s"island subtree must be shared, not re-evaluated per endpoint: $windowLines")
    assert(plan.contains("Generate explode"),
      "endpoint deltas must explode from one pass over the islands")
  }

  test("interval overlap joins hash-equi on the grid bin — never a nested-loop theta") {
    val plan = executedPlan("join_interval_overlap")
    assert(plan.contains("BroadcastHashJoin"),
      "the bin must be an equi key with the bounded incident side broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the overlap predicate must prune via the grid, not a product")
  }

  test("centroid drift reads the shared source ledger — one corpus pass only") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val df = run("embedding_centroid_drift")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the (source, pos) ledger is shared (graft.core.Share): its exchange
    // runs once and the global centroid, the norms and the vector counts
    // read it as ReusedExchanges — the corpus (components + documents)
    // is never read again
    val all = planNodes(df.queryExecution.executedPlan)
    def isLedger(e: ShuffleExchangeExec) = e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.map(_.toString.takeWhile(_ != '#')) == Seq("source", "pos")
      case _ => false
    }
    assert(all.count { case e: ShuffleExchangeExec => isLedger(e); case _ => false } === 1,
      "the ledger must be built once")
    assert(all.count {
      case ReusedExchangeExec(_, e: ShuffleExchangeExec) => isLedger(e)
      case _ => false
    } === 3, "every other reader must read the ledger as a ReusedExchange")
    // each input is scanned at most once (a broadcast of the documents
    // may itself arrive as a reused stage)
    val scans = all.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.mkString(",") }
    assert(scans.nonEmpty && scans.distinct.size === scans.size &&
      scans.count(_.contains("documents.parquet")) <= 1,
      s"the corpus pass must happen once, inside the ledger build: $scans")
    assert(!plan.contains("embeddings.parquet") && !plan.contains("posexplode"),
      "the components come from the quantized-components artifact")
  }

  test("kruskal-wallis ranks two-phase: every window keyed by the coarse bucket") {
    val plan = executedPlan("stat_kruskal_wallis")
    // the global tie-averaged rank must never funnel through an
    // empty-partition WindowExec — the prefix runs inside $10 buckets
    // (partition key b) with broadcast offsets merging across them
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("[b#")),
      s"ledger windows must partition by the bucket: $windowLines")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets and the ranked ledger must arrive by broadcast")
  }

  test("mcnemar never windows and collapses the 2×2 table map-side") {
    val plan = executedPlan("eval_mcnemar")
    assert(!plan.contains("Window "),
      "the paired test is joins + aggregates only — no window anywhere")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the profile join must stay an equi-join on user_id")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      "the agreement counts must pre-aggregate map-side")
  }

  test("hits half-steps are windowless joins with broadcast normalizers") {
    val plan = executedPlan("graph_hits")
    assert(!plan.contains("Window "),
      "each half-step is one equi-join + one agg — no window anywhere")
    assert(plan.contains("BroadcastExchange"),
      "the 1-row step maxima must arrive by broadcast")
    assert(!plan.contains("CartesianProduct"),
      "only the bounded 1-row normalizer may nest-loop; never a product")
  }

  test("phash bands equi-join on the chunk — never an all-pairs product") {
    val plan = executedPlan("multimodal_dedup_phash")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidates must be same-chunk pairs via a hash equi-join")
    assert(plan.contains("bit_count"),
      "the dispose must be the native bit_count over the XOR")
  }

  test("seasonal anomaly broadcasts the bounded profile and moments") {
    val plan = executedPlan("ts_seasonal_anomaly")
    assert(!plan.contains("Window "),
      "the cross-multiplied 3-sigma test needs no window")
    assert(plan.contains("BroadcastHashJoin"),
      "the 24x|types| profile and the per-type moments must broadcast")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "every join is keyed by (event_type[, hod])")
  }

  test("jarque-bera is one windowless map-side moment pass") {
    val plan = executedPlan("stat_jarque_bera")
    assert(!plan.contains("Window "),
      "the moment formulas need no window anywhere")
    assert(plan.contains("partial"),
      "power sums must pre-aggregate map-side before the exchange")
    assert(!plan.contains("Join"), "one pass over the fact — no join at all")
  }

  test("bloom probes join the bit ledger by broadcast — never a product") {
    val plan = executedPlan("agg_bloom_membership")
    assert(plan.contains("BroadcastHashJoin"),
      "the ≤4096-bit ledger must broadcast to the probe side")
    assert(!plan.contains("CartesianProduct"),
      "membership checks are equi-joins on the bit")
  }

  test("k-center's final plan reads the Mat'd 4-row center table only") {
    val plan = executedPlan("sample_kcenter_coreset")
    // the three greedy rounds execute while the per-round centers are
    // localCheckpointed; the returned plan must be a scan of the
    // materialized round-3 blocks (ExistingRDD) — the corpus is never
    // re-read and no round's lineage is re-executed
    assert(plan.contains("Scan ExistingRDD"),
      "the result must scan the checkpointed round-3 center table")
    assert(!plan.contains("embeddings.parquet") && !plan.contains("Join"),
      "no corpus re-read, no join in the final plan")
    // the round bodies themselves: pin the distance fan-out shape on
    // the logical plan of one round's candidate relation
    val s = spark; import s.implicits._
    val iq = graft.ops.LlmPipeline2.quantizedComponents(spark, sf)
    val cc = iq.limit(64).select($"vec_id".as("cid"), $"pos", $"q".as("cq"))
    val round = iq.join(org.apache.spark.sql.functions.broadcast(cc), Seq("pos"))
      .groupBy($"vec_id", $"cid")
      .agg(org.apache.spark.sql.functions.sum(($"q" - $"cq") * ($"q" - $"cq"))
        .as("dc"))
    val rp = round.queryExecution.executedPlan.toString
    assert(rp.contains("BroadcastHashJoin") && !rp.contains("CartesianProduct"),
      "center components must arrive by broadcast equi-join on pos")
  }

  test("ece folds to a ten-row bin ledger with no join and no window") {
    val plan = executedPlan("eval_calibration_ece")
    assert(!plan.contains("Window ") && !plan.contains("Join"),
      "two nested aggregates over one scan — nothing else")
    assert(plan.contains("partial"),
      "bin counts must pre-aggregate map-side")
  }

  test("dominant period self-joins the ranked hourly ledger — windows stay keyed") {
    val plan = executedPlan("ts_dominant_period")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("event_type")),
      s"the row_number ranking must partition by type: $windowLines")
    assert(!plan.contains("CartesianProduct"),
      "lagged pairs come from the (type, rn-lag) equi-join, not a product")
    assert(plan.contains("Generate"),
      "the 36-lag spine explodes from the ledger rows")
  }

  test("hapax ratio is two map-side collapses over one scan") {
    val plan = executedPlan("text_hapax_ratio")
    assert(!plan.contains("Window ") && !plan.contains("Join"),
      "vocabulary ledger then language report — no join, no window")
    assert(plan.contains("partial"),
      "token counts must pre-aggregate map-side before the vocab shuffle")
  }

  test("durbin-watson windows only the typed hourly ledger") {
    val plan = executedPlan("stat_durbin_watson")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("event_type")),
      s"the lag must partition by type: $windowLines")
    assert(!plan.contains("Join"), "one ledger pass + one collapse — no join")
  }

  test("vocab overlap self-joins on the token and broadcasts the size ledger") {
    val plan = executedPlan("corpus_vocab_overlap")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "pairs come from the per-token equi-join, never a product")
    assert(plan.contains("BroadcastHashJoin"),
      "the per-source size ledger must broadcast to the pair table")
  }

  test("session stats windows stay keyed by user and fold map-side") {
    val plan = executedPlan("seq_session_stats")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("user_id")),
      s"sessionization must partition by user: $windowLines")
    assert(!plan.contains("Join"), "no join anywhere in the rollup")
  }

  test("average precision prefixes two-phase over the value ledger") {
    val plan = executedPlan("eval_average_precision")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("[b#")),
      s"ledger prefixes must partition by the coarse bucket: $windowLines")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets must merge by broadcast")
  }

  test("cochran q is a keyed profile join plus one map-side fold") {
    val plan = executedPlan("stat_cochran_q")
    assert(!plan.contains("Window "), "no window in the paired test")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the profile join must stay equi on user_id")
    assert(plan.contains("partial"),
      "G and L moments must pre-aggregate map-side")
  }

  test("survivorship joins stay keyed on the content hash") {
    val plan = executedPlan("dedup_survivorship_report")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "winner rejoin must be an equi-join on the md5 / winner id")
    assert(!plan.contains("Window "), "no window anywhere")
  }

  test("systematic sampling ranks without any WindowExec") {
    val plan = executedPlan("sample_systematic")
    assert(!plan.contains("Window "),
      "the global rank is (pid, lrn) + broadcast offsets — no window")
    assert(plan.contains("BroadcastHashJoin"),
      "partition offsets must arrive by broadcast")
  }

  test("paired t is one keyed collapse and one fold — no join, no window") {
    val plan = executedPlan("stat_ttest_paired")
    assert(!plan.contains("Window ") && !plan.contains("Join"),
      "era sums are a conditional aggregate, not a self-join")
    assert(plan.contains("partial"),
      "per-user era sums must pre-aggregate map-side")
  }

  test("rolling corr windows via the broadcast theta self-join, not a global frame") {
    val plan = executedPlan("window_rolling_corr")
    assert(!plan.contains("Window "),
      "the trailing frame is the theta join — no single-partition window")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "the calendar-bounded ledger must broadcast to itself")
    assert(!plan.contains("CartesianProduct"),
      "the range predicate must ride the broadcast, never a product")
  }

  test("heaps prefixes run two-phase over the doc ledger") {
    val plan = executedPlan("corpus_heaps_law")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("[b#")),
      s"cumulative sums must partition by the doc bucket: $windowLines")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets must merge by broadcast")
  }

  test("sequence-gap audit ranks both ledgers without any WindowExec") {
    val plan = executedPlan("audit_sequence_gaps")
    assert(!plan.contains("Window "),
      "both global ranks ride (pid, lrn) + broadcast offsets")
    assert(!plan.contains("CartesianProduct"),
      "the shifted island join is equi on the island rank")
  }

  test("duplicate audit is one count collapse and one fold") {
    val plan = executedPlan("audit_duplicate_events")
    assert(!plan.contains("Window ") && !plan.contains("Join"),
      "union, count, fold — nothing else")
    assert(plan.contains("partial"),
      "per-id counts must pre-aggregate map-side")
  }

  test("unigram drift folds the vocabulary once with broadcast totals") {
    val plan = executedPlan("corpus_unigram_drift")
    assert(!plan.contains("Window "), "no window over the vocabulary")
    assert(plan.contains("partial"),
      "era cell counts must pre-aggregate map-side")
    assert(!plan.contains("CartesianProduct"),
      "only the 1-row totals may nest-loop by broadcast")
  }

  test("norm audit joins ids equi and never windows") {
    val plan = executedPlan("audit_embedding_norms")
    assert(!plan.contains("Window ") && !plan.contains("CartesianProduct"),
      "per-vector norms collapse then join sources on the id")
  }

  test("manifest snapshot never scans the tombstoned file") {
    val df = run("scan_manifest_snapshot")
    df.collect()
    val roots = scansOf(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.exists(_.contains("/f0")),
      s"live files must be scanned: $roots")
    assert(!roots.exists(_.contains("/f3")),
      s"the removed file must never enter the plan: $roots")
  }

  test("variance F test is a single conditional fold") {
    val plan = executedPlan("stat_f_test_variance")
    assert(!plan.contains("Window ") && !plan.contains("Join"),
      "both arms come from one conditional aggregate over one scan")
  }

  test("weekday profile folds to the 7x|types| grid with a broadcast contrast") {
    val plan = executedPlan("ts_weekday_profile")
    assert(!plan.contains("Window "), "grid and contrast are aggregates only")
    assert(plan.contains("BroadcastHashJoin"),
      "the per-type contrast ledger must broadcast back to the grid")
  }

  test("tukey quartiles window the typed value ledger, fences broadcast back") {
    val plan = executedPlan("anomaly_tukey_fence")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("event_type")),
      s"the cumulative pick must partition by type: $windowLines")
    assert(plan.contains("BroadcastHashJoin"),
      "the fence table must broadcast over the second fact pass")
    assert(!plan.contains("CartesianProduct"))
  }

  test("chi2 goodness folds to the type ledger and one scalar row") {
    val plan = executedPlan("stat_chi2_goodness")
    assert(!plan.contains("Window ") && !plan.contains("Join"),
      "two nested aggregates over one scan — nothing else")
  }

  test("cumulative share prefixes two-phase over the daily ledger") {
    val plan = executedPlan("window_cumulative_share")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("[b#")),
      s"the running sum must partition by the day bucket: $windowLines")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets must merge by broadcast")
  }

  test("seeded closeness supersteps are windowless equi-joins") {
    val plan = executedPlan("graph_closeness_seeded")
    assert(!plan.contains("Window "),
      "BFS relaxation is join + groupBy-min per round — no window")
    assert(!plan.contains("CartesianProduct"),
      "every superstep joins the frontier on the node key")
  }

  test("ljung-box rides the typed ledger self-join with broadcast moments") {
    val plan = executedPlan("stat_ljung_box")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("event_type")),
      s"the ranking must partition by type: $windowLines")
    assert(plan.contains("BroadcastHashJoin"),
      "the per-type moment ledger must broadcast to the pair stream")
    assert(!plan.contains("CartesianProduct"))
  }

  test("poisson z is one conditional fold over one scan") {
    val plan = executedPlan("stat_poisson_ztest")
    assert(!plan.contains("Window ") && !plan.contains("Join"),
      "era counts are a conditional aggregate — nothing else")
  }

  test("cost threshold rides the two-phase descending ledger prefix") {
    val plan = executedPlan("eval_cost_threshold")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("[b#")),
      s"ledger prefixes must partition by the coarse bucket: $windowLines")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets must merge by broadcast")
  }

  test("top-n share cuts via TakeOrdered, never a global sort") {
    val plan = executedPlan("agg_topn_share")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-10 must be the O(k)-per-partition cut")
    assert(!plan.contains("Window "), "no window anywhere")
  }

  test("kmv takes its k minima via TakeOrdered, never a global sort") {
    val plan = executedPlan("agg_kmv_distinct")
    assert(plan.contains("TakeOrderedAndProject"),
      "the k smallest hashes must be the O(k)-per-partition cut")
    assert(!plan.contains("Sort ["), "no global sort of the hash space")
  }

  test("burstiness cuts its top-20 via TakeOrdered over the word ledger") {
    val plan = executedPlan("text_burstiness")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-20 words must be the O(k)-per-partition cut")
    assert(!plan.contains("Window "), "no window anywhere")
  }

  test("katz cuts its top-20 via TakeOrdered, never a global sort") {
    val plan = executedPlan("graph_katz_centrality")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-20 must be the O(k)-per-partition cut")
  }

  test("markov removal propagates by broadcast, never a cartesian or SMJ") {
    val plan = executedPlan("seq_attribution_markov_removal")
    assert(plan.contains("BroadcastHashJoin"),
      "power steps must join mass against the broadcast edge ledger")
    assert(!plan.contains("CartesianProduct"),
      "variant expansion must stay a broadcast nested loop, never a " +
        "shuffled cartesian")
  }

  test("silhouette scores against broadcast centroids, no cartesian") {
    val plan = executedPlan("sim_silhouette")
    assert(plan.contains("BroadcastHashJoin"),
      "the K×64 centroid table must broadcast to the component scan")
    assert(!plan.contains("CartesianProduct"), "no all-pairs product")
  }

  test("kmv set ops cut both sketches via TakeOrdered") {
    val plan = executedPlan("agg_kmv_set_ops")
    assert(plan.contains("TakeOrderedAndProject"),
      "each sketch must be the O(k)-per-partition minima cut")
    assert(!plan.contains("CartesianProduct"), "no all-pairs product")
  }

  test("cms sketch shuffles a bounded cell ledger and probes by broadcast") {
    val plan = executedPlan("agg_cms_estimate")
    // the corpus-side 4× depth explode must collapse map-side: the
    // DEEPEST Generate (the probe side has its own small one above)
    // sits below the first exchange, so the wire carries ≤4·256 cells
    // per partition
    val firstExchange = plan.indexOf("Exchange")
    val generate = plan.lastIndexOf("Generate")
    assert(generate > firstExchange && firstExchange >= 0,
      "the sketch explode must feed a partial agg before any exchange")
    assert(plan.contains("BroadcastHashJoin"),
      "probes must join the 1024-cell ledger by broadcast")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-10 selection must be TakeOrdered, never a global sort")
  }
}
