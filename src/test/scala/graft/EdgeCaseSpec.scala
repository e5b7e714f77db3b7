package graft

import org.apache.spark.sql.functions._

/** Adversarial-input coverage (SURVEY §5.2): every test stages crafted
  * parquet tables in a temp sf-dir and runs the REAL `SparkEntry.queries`
  * functions on them — not reimplementations.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------------- NULL keys

  test("inner join drops NULL keys on both sides") {
    val dir = stageTables(
      "customer" -> Seq((Some(1L), "SEG1"), (None: Option[Long], "SEGNULL"))
        .toDF("c_custkey", "c_mktsegment"),
      "orders" -> Seq((Some(1L), 10L, 100.0), (None: Option[Long], 11L, 900.0))
        .toDF("o_custkey", "o_orderkey", "o_totalprice"))
    val rows = run("join_inner_hash", dir).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "SEG1")
    assert(rows(0).getLong(1) === 1L)
  }

  test("left outer join keeps unmatched and NULL-keyed left rows") {
    val dir = stageTables(
      "customer" -> Seq(Some(1L), Some(2L), (None: Option[Long]))
        .toDF("c_custkey"),
      "orders" -> Seq((Some(1L), 10L, 50.0)).toDF("o_custkey", "o_orderkey", "o_totalprice"))
    val byKey = run("join_left_outer", dir).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap
    assert(byKey === Map(Some(1L) -> 1L, Some(2L) -> 0L, None -> 0L))
  }

  // ------------------------------------------------------------ tie-break

  test("top-k with fully tied sort values breaks ties by order key") {
    val orders = Seq.tabulate(6)(i => (100L + i, 1L, 555.55))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dir = stageTables(
      "orders" -> orders,
      "customer" -> Seq((1L, "S")).toDF("c_custkey", "c_mktsegment"))
    val rows = run("window_rank_topk", dir).collect()
    assert(rows.map(_.getLong(2)).toSeq === Seq(100L, 101L, 102L))
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
  }

  test("first/last per user break (ms, event_id) ties deterministically") {
    // Two events at the SAME millisecond: event_id must decide.
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (2L, ns(1000), 7L, "b"),
      (1L, ns(1000), 7L, "a"),
      (3L, ns(9999999999L), 7L, "z")).toDF("event_id", "ts", "user_id", "event_type"))
    val r = run("window_first_last", dir).collect()
    assert(r.length === 1)
    assert(r(0).getString(1) === "a") // first: lower event_id at tied ms
    assert(r(0).getString(2) === "z")
  }

  // -------------------------------------------------------- UDAF + groups

  test("weighted-avg UDAF yields NULL (not 0) for an all-zero-weight group") {
    val dir = stageTables("lineitem" -> Seq(
      ("A", 10.0, 0.5), ("A", 20.0, 0.5),
      ("Z", 99.0, 0.0), ("Z", 42.0, 0.0)).toDF("l_returnflag", "l_extendedprice", "l_discount"))
    val byFlag = run("udaf_weighted_avg", dir).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(byFlag("A") === Some(15.0))
    assert(byFlag("Z") === None)
  }

  // --------------------------------------------------------- empty arrays

  test("empty embedding arrays produce NULLs, not ANSI errors") {
    val dir = stageTables("embeddings" -> Seq(
      (1L, Seq(0.5f, 0.5f)), (2L, Seq.empty[Float])).toDF("vec_id", "embedding"))
    val ao = run("array_ops", dir).collect().map(r => r.getLong(0) -> r).toMap
    assert(ao(2L).getLong(1) === 0L) // dim
    assert(ao(2L).isNullAt(2) && ao(2L).isNullAt(3) && ao(2L).isNullAt(4))
    val hof = run("higher_order_fn", dir).collect().map(r => r.getLong(0) -> r).toMap
    assert(hof(2L).isNullAt(1)) // x2_second on empty
    assert(hof(2L).getDouble(2) === 0.0) // L1 fold over empty = zero element
  }

  // ------------------------------------------------- LLM pipeline corners

  test("near-dup: identical docs collide on all 4 bands; short docs never band") {
    val long1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"x$i").mkString(" ")
    val dir = stageTables("documents" -> Seq(
      (1L, long1), (2L, long1), // exact near-dup pair
      (3L, "just two"), // < 3 tokens: no shingles, no bands
      (4L, other)).toDF("doc_id", "text"))
    val pairs = run("dedup_near_minhash", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 4L)))
  }

  test("near-dup: hot LSH buckets (>100 docs per band) are guarded, small clusters kept") {
    val boiler = (1 to 30).map(i => s"b$i").mkString(" ")
    val pairTx = (1 to 30).map(i => s"p$i").mkString(" ")
    val docs = (1L to 120L).map(i => (i, boiler)) ++ Seq((200L, pairTx), (201L, pairTx))
    val dir = stageTables("documents" -> docs.toDF("doc_id", "text"))
    val pairs = run("dedup_near_minhash", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((200L, 201L))) // 120-doc boilerplate bucket dropped
  }

  test("minhash estimate: identical docs land on the matches=8 row with exact jac 1") {
    val long1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"x$i").mkString(" ")
    val dir = stageTables("documents" -> Seq(
      (1L, long1), (2L, long1), (4L, other)).toDF("doc_id", "text"))
    val rows = run("dedup_minhash_estimate", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
    // only (1,2) is a candidate; all 8 slices agree; |est − jac| = 0
    assert(rows.toMap === Map(8L -> ((1L, 1.0, 0.0))))
  }

  test("knn classify: majority vote over the 10 nearest, ties to the smaller label") {
    // 11 identical vectors: each probe's top-11 is everything (vec_id
    // tie order), self drops out, and the vote counts are closed-form
    val dir = stageTables("embeddings" ->
      (0L to 10L).map(i => (i, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"))
    val got = run("sim_knn_classify", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      0L -> ((1L, 4L)), 1L -> ((0L, 4L)),
      2L -> ((0L, 4L)), // labels 0 and 1 tie at 4 votes → smaller label
      3L -> ((1L, 4L)), 4L -> ((0L, 4L))))
  }

  test("PMI collocations: a dominant adjacent pair scores the ln of its lift") {
    val dir = stageTables("documents" -> Seq(
      (1L, "a b a b a b a b a b")).toDF("doc_id", "text"))
    val rows = run("text_collocations_pmi", dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // unigrams a×5 b×5 (N1=10); bigrams ab×5 ba×4 (N2=9); only ab ≥ 5
    // pmi = ln(5·10²/(9·5·5)) = ln(20/9) = 0.798508
    assert(rows.toSeq === Seq(("a", "b", 5L, 0.798508)))
  }

  test("bigrams: single-token docs contribute nothing") {
    val dir = stageTables("documents" -> Seq(
      (1L, "a b c"), (2L, "solo")).toDF("doc_id", "text"))
    val bg = run("text_ngram", dir).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bg === Map("a b" -> 1L, "b c" -> 1L))
  }

  test("pairwise-label cosine: singleton label yields NULL intra-similarity") {
    val dir = stageTables("embeddings" -> Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label"))
    val m = run("sim_pairwise_label", dir).collect()
      .map(r => (r.getLong(1), r.getLong(0)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(m((0L, 0L)) === Some(0.0)) // orthogonal pair: avg intra cos = 0
    assert(m((1L, 1L)) === None) // 1 member: no pairs
    assert(m((1L, 0L)) === Some(0.5)) // inter: (1+0)/2
  }

  // ------------------------------------------------------------ sessions

  test("sessionization: 30-min gap splits sessions; counts bounded by events") {
    val ns = (minutes: Long) => minutes * 60000L * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(0), 7L), (2L, ns(10), 7L), // session 1
      (3L, ns(60), 7L), // session 2 (50-min gap)
      (4L, ns(0), 8L)).toDF("event_id", "ts", "user_id"))
    val r = run("stream_session", dir).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(7L).getLong(1) === 2L) // n_sessions
    assert(r(7L).getLong(2) === 3L) // n_events
    assert(r(8L).getLong(1) === 1L)
    assert(r.values.map(_.getLong(1)).sum <= r.values.map(_.getLong(2)).sum)
  }

  // ----------------------------------------------------------------- HLL

  test("approx HLL emits the exact distinct plus a green 2% accuracy gate") {
    val approx = run("agg_approx_hll").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val exact = run("agg_count_distinct", sf).collect()
    // agg_count_distinct counts distinct users per event_type too
    val exactMap = exact.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exactMap.keySet)
    approx.foreach { case (k, (nExact, ok)) =>
      assert(nExact === exactMap(k), s"$k: exact leg disagrees")
      assert(ok, s"$k: HLL estimate left the ±2% envelope")
    }
  }

  // --------------------------------------------------- corpus mix & layout

  test("pii mask leaves no live email or phone; counts audit the injections") {
    val rows = run("text_pii_mask").collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val masked = r.getAs[String]("masked")
      assert(!masked.contains("@"), s"unmasked email in: $masked")
      assert(!masked.matches("(?s).*[0-9]{1,2}-[0-9]{3}-[0-9]{4}.*"),
        s"unmasked phone in: $masked")
      assert(r.getAs[Long]("n_emails") >= 1L)
      assert(r.getAs[Long]("n_phones") >= 1L)
    }
  }

  test("corpus mix lands every source on the uniform target share") {
    val rows = run("corpus_mix_epochs").collect()
    val target = 1.0 / rows.length
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("share") - target) < 0.01,
        s"${r.getString(0)}: share ${r.getAs[Double]("share")} vs target $target")
      // upsampling regime (r ∈ [1,2]): strictly more copies than docs,
      // never more than 2×
      assert(r.getAs[Long]("n_emitted") >= 25L && r.getAs[Long]("n_emitted") <= 50L)
    }
  }

  test("z-order cells bound BOTH dimensions — the file-skipping payoff") {
    val rows = run("zorder_cluster").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // a cell fixes the top 2 quantized bits of each dim: ≤4 qx steps
      // (≈12.5 size units) and ≤4 qy steps (25.0 price units)
      assert(r.getAs[Int]("max_size") - r.getAs[Int]("min_size") <= 13,
        s"cell ${r.getLong(0)}: size bound violated")
      assert(r.getAs[Double]("max_price") - r.getAs[Double]("min_price") <= 25.0,
        s"cell ${r.getLong(0)}: price bound violated")
    }
  }

  // ------------------------------------------------------- IVF parameters

  test("IVF index re-parameterizes: K=4/nProbe=2 still returns a sane top-10") {
    val rows = graft.ops.LlmPipeline2.ivfTopK(spark, sf, numCells = 4).collect()
    assert(rows.length === 10)
    // the probe always finds itself (cosine ~1.0, tie-broken first) —
    // its own cell must rank among the probed lists at any K
    assert(rows(0).getLong(0) === 0L)
    assert(rows(0).getDouble(1) > 0.999)
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims === sims.sorted.reverse, "sims must be non-increasing")
    // the declared key derives (K, nProbe) from the corpus; at fixture
    // scale that collapses to the helper's K=8/nProbe=2 defaults
    val declared = run("sim_ann_ivf").collect().map(_.toSeq)
    val viaHelper = graft.ops.LlmPipeline2.ivfTopK(spark, sf).collect().map(_.toSeq)
    assert(declared.toSeq === viaHelper.toSeq)
  }

  test("SQ8 scalar quantization: the probe tops its own shortlist, sims sorted") {
    val rows = run("sim_ann_sq8").collect()
    assert(rows.length === 10)
    // the probe's own codes maximize the asymmetric integer score, so
    // the exact re-rank always sees it — and ranks it first
    assert(rows(0).getLong(0) === 0L)
    assert(rows(0).getDouble(1) > 0.999)
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims === sims.sorted.reverse, "sims must be non-increasing")
  }

  test("PQ index re-parameterizes: 16 subspaces / K=8 still returns a sane top-10") {
    val rows = graft.ops.LlmPipeline2.pqTopK(spark, sf, numSub = 16, numCells = 8)
      .collect()
    assert(rows.length === 10)
    // exact re-rank guarantees the probe tops the list as long as the
    // ADC shortlist admits it — its own codes maximize the table sum
    assert(rows(0).getLong(0) === 0L)
    assert(rows(0).getDouble(1) > 0.999)
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims === sims.sorted.reverse, "sims must be non-increasing")
    // the declared key IS the helper at its M=8/K=16/R=50 defaults
    val declared = run("sim_ann_pq").collect().map(_.toSeq)
    val viaHelper = graft.ops.LlmPipeline2.pqTopK(spark, sf).collect().map(_.toSeq)
    assert(declared.toSeq === viaHelper.toSeq)
  }

  // ------------------------------------------------- scale-key edges

  test("distributed rank: fully tied sort values still rank uniquely by order key") {
    // degenerate range-partitioner input: every price equal, so the
    // boundaries land entirely on the orderkey tiebreak — ranks must
    // still be the unique global row_number
    val dir = stageTables("orders" ->
      Seq.tabulate(100)(i => ((i + 1).toLong, 500.0)).toDF("o_orderkey", "o_totalprice"))
    val rows = run("window_rank_distributed", dir).collect()
    assert(rows.length === 100)
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      (1 to 100).map(i => (i.toLong, i.toLong)))
  }

  test("schema-merge scan: an archive holding only the evolved era reads with n_v1 = 0") {
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(1000), "click", 20.0),
      (3L, ns(2000), "click", 30.0)).toDF("event_id", "ts", "event_type", "value"))
    val r = run("scan_schema_merge", dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 2L) // cnt
    assert(r(0).getLong(2) === 0L) // no v1-era rows
    assert(r(0).getLong(3) === 2L) // both rows carry the evolved column
  }

  // ------------------------------------------------------ corpus gating

  test("decontamination flags 8-gram overlap with the benchmark slice, skips short docs") {
    val bench = (0 until 20).map(i => s"w$i").mkString(" ") // doc 0: benchmark (0 % 97 = 0)
    val leaky = "intro " + (5 until 13).map(i => s"w$i").mkString(" ") + " outro"
    val clean = (0 until 20).map(i => s"z$i").mkString(" ")
    val short = "w5 w6 w7 w8 w9 w10 w11" // 7 tokens: no 8-gram possible
    val dir = stageTables("documents" -> Seq(
      (0L, bench, "en", "s1", bench.length.toLong),
      (1L, leaky, "en", "s1", leaky.length.toLong),
      (2L, clean, "en", "s1", clean.length.toLong),
      (3L, short, "en", "s1", short.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = run("corpus_decontaminate", dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 3L) // docs 1,2,3 checked (0 is benchmark)
    assert(r(0).getLong(2) === 1L) // only the leaky doc shares an 8-gram
  }

  test("unigram logprob matches hand-computed values on a tiny vocabulary") {
    def dmirror(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val dir = stageTables("documents" -> Seq(
      (1L, "a a a", "en", "s1", 5L),
      (2L, "b", "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = run("text_unigram_logprob", dir).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getDouble(2)))).toMap
    // counts: a=3, b=1, N=4 → p(a)=0.75, p(b)=0.25
    assert(r(1L) === ((3L, dmirror(math.log(0.75)))))
    assert(r(2L) === ((1L, dmirror(math.log(0.25)))))
  }

  // ------------------------------------------------------------ empty sweep

  test("SCD2: reprice opens a new interval, delete closes history with no current row") {
    // key 10: repriced → two intervals, second open/current
    // key 17: deleted → one closed interval, no current row
    // key 170: repriced then deleted → two closed intervals
    // key 3: unchanged → not emitted (trivially one open interval)
    val dir = stageTables("orders" ->
      Seq((10L, 100.0, "O"), (17L, 50.0, "F"), (170L, 80.0, "P"), (3L, 10.0, "O"))
        .toDF("o_orderkey", "o_totalprice", "o_orderstatus"))
    val rows = run("cdc_scd2", dir).collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(5))
    }
    assert(!rows.exists(_._1 == 3L))
    assert(rows.filter(_._1 == 10L).toSet ===
      Set((10L, 0L, 1L, false), (10L, 1L, -1L, true)))
    assert(rows.filter(_._1 == 17L).toSet === Set((17L, 0L, 2L, false)))
    assert(rows.filter(_._1 == 170L).toSet ===
      Set((170L, 0L, 1L, false), (170L, 1L, 2L, false)))
  }

  test("repetition gate: a one-token document flags repetitive, varied prose does not") {
    val dir = stageTables("documents" -> Seq(
      (1L, Array.fill(40)("spam").mkString(" "), "en", "s1", 160L),
      (2L, (0 until 40).map(i => s"w$i").mkString(" "), "en", "s1", 160L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val byId = run("text_repetition", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(6)))).toMap
    assert(byId(1L) === ((40L, 1L, true)))   // max_ratio 1.0 → repetitive
    assert(byId(2L) === ((40L, 40L, false))) // all-distinct → clean
  }

  test("approx quantiles carry a green 2% rank-error gate per percentile") {
    val rows = run("agg_approx_quantile").collect()
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val cnts = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet === cnts.keySet)
    rows.foreach { r =>
      val flag = r.getString(0)
      assert(r.getLong(1) === cnts(flag), s"$flag: cnt leg disagrees")
      Seq(2, 3, 4).foreach(i => assert(r.getBoolean(i),
        s"$flag: q${25 * (i - 1)} estimate left the ±2% rank envelope"))
    }
  }

  test("pagerank: structurally identical users tie; better-connected types rank higher") {
    // users 1,2 share the identical type set {a,b}; type a additionally
    // reaches users 3,4 while type b reaches only 1,2.
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(1), 1L, "a"), (2L, ns(2), 1L, "b"),
      (3L, ns(3), 2L, "a"), (4L, ns(4), 2L, "b"),
      (5L, ns(5), 3L, "a"), (6L, ns(6), 4L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type"))
    val ranks = run("graph_pagerank", dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks("u:1") === ranks("u:2"), "identical neighborhoods must tie exactly")
    assert(ranks("t:a") > ranks("t:b"), "the higher-degree type must outrank")
    assert(ranks("t:a") > ranks("u:3"), "a hub outranks a leaf")
  }

  test("seeded PPR ranks the seed's own customers above bystanders") {
    // users 1,2 purchase; user 3 only views. Personalized teleport on
    // t:purchase keeps all rank mass in the purchase neighborhood.
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(1), 1L, "purchase"), (2L, ns(2), 2L, "purchase"),
      (3L, ns(3), 3L, "view"), (4L, ns(4), 1L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type"))
    val ranks = run("graph_ppr_seeded", dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.contains("t:purchase") && ranks.contains("u:1")
      && ranks.contains("u:2"))
    assert(ranks("t:purchase") > ranks("u:1"), "the seed holds the most mass")
    assert(ranks("u:1") > ranks.getOrElse("u:3", 0L),
      "a purchaser outranks a viewer-only user")
    assert(ranks("u:2") > 0L)
  }

  test("Kneser-Ney: continuation mass separates ties that raw counts can't") {
    // bigram types: (a,b)×2, (b,c), (c,b), (b,a), (a,d) → B = 5.
    // contexts: c(a)=3, N1+(a,·)=2; c(c)=1. continuations: N1+(·,b)=2
    // {a,c}, N1+(·,d)=1.
    // P(b|a) = (max(8−3,0)·5 + 3·2·2)/(4·3·5) = 37/60 = 0.616667
    // P(d|a) = (1·5 + 3·2·1)/60 = 11/60 = 0.183333
    // P(b|c) = (1·5 + 3·1·2)/(4·1·5) = 11/20 = 0.55
    val dir = stageTables("documents" -> Seq(
      (0L, "a b c b", "en", "s"), (1L, "a b a d", "en", "s"))
      .toDF("doc_id", "text", "lang", "source"))
    val rows = run("text_bigram_kneser_ney", dir).collect()
      .map(r => (r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getDouble(5)))).toMap
    assert(rows(("a", "b")) === ((2L, 0.616667)))
    assert(rows(("a", "d"))._2 === 0.183333)
    assert(rows(("c", "b"))._2 === 0.55)
  }

  test("replay_backfill serves history-only when the archive ends before the cutover") {
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(1000), 1L, "a", 10.0, "{}"),
      (2L, ns(2000), 2L, "a", 5.0, "{}"),
      (3L, ns(3000), 1L, "b", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    // every event is epoch-1970 — far before the 2024 cutover, so the
    // streaming leg has no day dirs to glob and must be skipped, not
    // crash the query
    val got = run("replay_backfill", dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq(("a", 2L, 15.0), ("b", 1L, 2.5)))
  }

  test("join_asof_nearest picks the closer signup and breaks ties to the earlier one") {
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(100), 1L, "signup"), // a signup is its own nearest (dist 0)
      (2L, ns(150), 1L, "click"), // equidistant 100 vs 200 → earlier wins
      (3L, ns(190), 1L, "click"), // strictly closer to 200
      (4L, ns(200), 1L, "signup"),
      (5L, ns(500), 2L, "click"), // no signup for user 2 → NULL
      (6L, ns(50), 3L, "click"), // only a LATER signup exists → forward match
      (7L, ns(80), 3L, "signup"))
      .toDF("event_id", "ts", "user_id", "event_type"))
    val got = run("join_asof_nearest", dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(1L) === Some(100L))
    assert(got(2L) === Some(100L), "tie must break to the earlier signup")
    assert(got(3L) === Some(200L))
    assert(got(5L) === None)
    assert(got(6L) === Some(80L), "an event before every signup matches forward")
  }

  test("corpus_pack_sequences two-phase packing equals the naive global-window spelling") {
    // the distributed plan (range partitions + broadcast offsets) must be
    // a PURE plan change: same bins as one global exclusive cumsum
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val naive = docs
      .select($"doc_id", size(split($"text", " ")).cast("long").as("tok"))
      .withColumn("cum", sum($"tok").over(
        org.apache.spark.sql.expressions.Window.orderBy($"doc_id")) - $"tok")
      .withColumn("seq", expr("cum div 256"))
      .groupBy("seq")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").cast("long").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
    val packed = run("corpus_pack_sequences").collect().map(_.toSeq).toSet
    assert(packed === naive.collect().map(_.toSeq).toSet)
    // conservation: every token lands in exactly one sequence
    val total = docs.select(sum(size(split($"text", " ")).cast("long"))).head.getLong(0)
    assert(run("corpus_pack_sequences").agg(sum($"n_tokens")).head.getLong(0) === total)
  }

  test("embedding_quantize stays within int8 range and the rounding error bound") {
    val rows = run("embedding_quantize").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qmin, qmax) = (r.getLong(2), r.getLong(3))
      val (scale, l1) = (r.getDouble(4), r.getDouble(5))
      assert(qmin >= -127 && qmax <= 127, s"q out of int8 range: $qmin..$qmax")
      // per-element |err| ≤ scale/2, 64 dims ⇒ Σ ≤ 32·scale (+ rounding slack)
      assert(l1 <= 32.0 * scale + 0.01, s"l1_err $l1 breaches bound for scale $scale")
    }
  }

  test("graph_components_star labels the candidate graph identically to the Pregel fold") {
    val star = run("graph_components_star").collect().map(_.toSeq).toSet
    val pregel = run("dedup_cluster").collect().map(_.toSeq).toSet
    assert(star === pregel,
      "star contraction and min-label propagation must agree on every cluster")
  }

  test("multimodal_resize fits every asset into the 64-canvas preserving aspect") {
    val rows = run("multimodal_resize").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h, ow, oh) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(math.max(ow, oh) === 64L, "the long side must scale to exactly 64")
      assert(math.min(ow, oh) >= 1L)
      // aspect preserved up to the integer floor: the short side sits
      // within 1 of the exact ratio 64·min/max
      val exactShort = 64.0 * math.min(w, h) / math.max(w, h)
      assert(math.abs(math.min(ow, oh) - exactShort) <= 1.0,
        s"short side ${math.min(ow, oh)} vs exact $exactShort for ${w}x$h")
    }
  }

  test("span dedup counts cross-doc spans only — internal repetition is not duplication") {
    // doc 0 repeats its own 8-gram (a..h twice); doc 1 shares that gram;
    // doc 2 is under 8 tokens and must not appear at all.
    val docs = Seq(
      (0L, "a b c d e f g h a b c d e f g h", "en", "s0", 31L),
      (1L, "p q r s t u v w a b c d e f g h", "en", "s0", 31L),
      (2L, "too short for one span", "en", "s0", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = stageTables("documents" -> docs)
    val byDoc = run("dedup_span_exact", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 16 tokens ⇒ 9 spans each. The shared gram "a b c d e f g h" sits at
    // doc0 pos 1+9 and doc1 pos 9 ⇒ dup counts 2 and 1; doc0's other
    // internal grams stay single-doc and must NOT count.
    assert(byDoc === Map(0L -> ((9L, 2L)), 1L -> ((9L, 1L))))
  }

  test("chunker emits one short chunk under the window, strided chunks above it") {
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, mk(10), "en", "s0", 10L),
      (1L, mk(64), "en", "s0", 64L),
      (2L, mk(100), "en", "s0", 100L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = stageTables("documents" -> docs)
    val rows = run("corpus_doc_chunk", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === Seq(
      (0L, 0L, 10L),                           // under window: one chunk
      (1L, 0L, 64L), (1L, 1L, 16L),            // stride 48 from a 64-token doc
      (2L, 0L, 64L), (2L, 1L, 52L), (2L, 2L, 4L)))
  }

  test("embedding_gram equals the reference outer-product fold") {
    val vecs = Seq(
      (0L, Array(0.5f, -0.25f, 1.0f), 0L),
      (1L, Array(-1.0f, 0.125f, 0.75f), 0L),
      (2L, Array(0.0f, 0.5f, -0.5f), 1L)).toDF("vec_id", "embedding", "label")
    val dir = stageTables("embeddings" -> vecs)
    val got = run("embedding_gram", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2).toLong)
      .toMap
    val qs = Seq(Array(0.5, -0.25, 1.0), Array(-1.0, 0.125, 0.75), Array(0.0, 0.5, -0.5))
      .map(_.map(x => math.floor(x * 1e6).toLong))
    val want = (for {
      i <- 0 until 3; j <- i until 3
    } yield (i + 1L, j + 1L) -> qs.map(q => q(i) * q(j)).sum).toMap
    assert(got === want)
  }

  test("prep pipeline keeps one copy of duplicate text and drops short docs") {
    val long = (1 to 25).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, long, "en", "s0", 100L),
      (1L, long, "en", "s0", 100L),          // exact duplicate: keeper only
      (2L, "tiny doc", "en", "s0", 8L))      // under the 20-token gate
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = stageTables("documents" -> docs)
    val rows = run("corpus_prep_e2e", dir).collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(2) === 1L)   // n_docs: dup collapsed, short dropped
    assert(rows(0).getLong(3) === 25L)  // total_tokens from the keeper only
  }

  test("tfidf ranks by rounded score and breaks exact ties by term") {
    val docs = Seq(
      (0L, "a a b", "en", "s0", 5L),
      (1L, "b c c", "en", "s0", 5L),
      (2L, "a c", "en", "s0", 3L)) // equal tf ⇒ equal score ⇒ term order
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = stageTables("documents" -> docs)
    val rows = run("text_tfidf", dir).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getString(1)).toMap
    assert(rows((0L, 1L)) === "a", "doc 0: tf(a)=2/3 beats tf(b)=1/3")
    assert(rows((2L, 1L)) === "a" && rows((2L, 2L)) === "c",
      "equal scores must fall back to term order")
  }

  test("bm25 scores only query-term docs and orders by term richness") {
    val docs = Seq(
      (0L, "join join hash scan x", "en", "s0", 22L),
      (1L, "join x y z", "en", "s0", 10L),
      (2L, "p q r s", "en", "s0", 7L)) // no query term: not retrieved
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = stageTables("documents" -> docs)
    val rows = run("text_bm25", dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(rows.map(_._1).toSet === Set(0L, 1L),
      "a doc with no query term must not be retrieved")
    assert(rows.find(_._1 == 0L).get._3 === 1L,
      "three matched terms with higher tf must outrank one")
  }

  test("fill-forward repairs error gaps per user and leaves leading gaps null") {
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(100), 7L, "view", 1.0, "{}"),
      (2L, ns(200), 7L, "error", 99.0, "{}"), // nulled, refills to 1.0
      (3L, ns(300), 7L, "error", 98.0, "{}"),
      (4L, ns(400), 7L, "view", 4.0, "{}"),
      (5L, ns(100), 8L, "error", 97.0, "{}")) // leading gap: stays null
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("window_fill_forward", dir).collect()
      .map(r => r.getLong(1) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got(1L) === Some(1.0) && got(2L) === Some(1.0) &&
      got(3L) === Some(1.0) && got(4L) === Some(4.0))
    assert(got(5L) === None, "no prior observation ⇒ the gap stays null")
  }

  test("median interpolates at even counts; mode ties break to the smaller bucket") {
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(1), 1L, "x", 1.0, "{}"), (2L, ns(2), 1L, "x", 2.0, "{}"),
      (3L, ns(3), 1L, "x", 3.0, "{}"), (4L, ns(4), 1L, "x", 4.0, "{}"),
      (5L, ns(5), 1L, "y", 5.5, "{}"), (6L, ns(6), 1L, "y", 5.7, "{}"),
      (7L, ns(7), 1L, "y", 9.9, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("agg_median_mode", dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got("x") === ((2.5, 1L, 1L)),
      "even count interpolates; all-tied buckets pick the smallest")
    assert(got("y") === ((5.7, 5L, 2L)))
  }

  test("time-weighted average holds each value until the next event") {
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(0), 1L, "a", 10.0, "{}"),    // held 100 ms
      (2L, ns(100), 1L, "a", 20.0, "{}"),  // held 200 ms
      (3L, ns(300), 1L, "a", 999.0, "{}"), // last: no interval, no weight
      (4L, ns(50), 2L, "a", 7.0, "{}"))    // single event: no interval
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("event_time_weighted", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // (10·100 + 20·200) / 300 = 16.666667 at the 6dp grid
    assert(got.toSeq === Seq((1L, 2L, 300L, 16.666667)))
  }

  test("cohort retention counts users per first-seen day and offset") {
    val ns = (day: Long) => day * 86400000L * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(0), 1L, "a", 0.0, "{}"), (2L, ns(1), 1L, "a", 0.0, "{}"),
      (3L, ns(0), 2L, "a", 0.0, "{}"),
      (4L, ns(1), 3L, "a", 0.0, "{}"), (5L, ns(2), 3L, "a", 0.0, "{}"),
      (6L, ns(2) + 1000000L, 3L, "b", 0.0, "{}")) // same day: one user-day
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("cohort_retention", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((0L, 0L) -> 2L, (0L, 1L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  test("triangle count sees a 4-clique of identical docs as fully clustered") {
    val same = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = (0L to 3L).map(i => (i, same, "en", "s0", 40L)) :+
      ((9L, "completely different words here", "en", "s0", 31L))
    val dir = stageTables("documents" ->
      docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = run("graph_triangle_count", dir).collect()
    assert(r.length === 1)
    val row = r(0)
    // K4: 4 vertices, 6 edges, Σ d(d-1)/2 = 4·3 = 12 wedges, 4 triangles,
    // coefficient 3·4/12 = 1; the unrelated doc forms no edges at all.
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getDouble(4)) === ((4L, 6L, 12L, 4L, 1.0)))
  }

  test("stream outer join emits null rows only past the watermark horizon") {
    val ns = (ms: Long) => ms * 1000000L
    // final watermark = min(max click, max purchase) − 1 h
    //                 = 10_000_000 − 3_600_000 = 6_400_000
    // NOT ms=0 for the emitted click: an event time of exactly epoch 0
    // coincides with Spark's INITIAL watermark and the row is never
    // admitted to join state (probed empirically; ms=1 onward behaves) —
    // a measure-zero pathology real 2024-epoch archives cannot hit.
    val dir = stageTables("events" -> Seq(
      (1L, ns(1000), 1L, "click", 0.0, "{}"), // end 1.801e6 < wm: emitted
      (2L, ns(4600000L), 5L, "click", 0.0, "{}"), // end == wm: boundary, held
      (3L, ns(6000000L), 6L, "click", 0.0, "{}"), // end > wm: held
      (4L, ns(100), 4L, "click", 0.0, "{}"), // matched below
      (5L, ns(1000), 4L, "purchase", 0.0, "{}"),
      (6L, ns(10000000L), 2L, "click", 0.0, "{}"), // sets click max
      (7L, ns(10000000L), 3L, "purchase", 0.0, "{}")) // sets purchase max
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("stream_join_outer", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1L, 1L)),
      "one matched pair and ONE closed-horizon unmatched click in hour 0; " +
        "boundary-equal and open-window clicks stay unemitted")
  }

  // ------------------------------------------------------- curation wave

  test("dedup_semantic flags exact duplicates within their k-means cell") {
    // 8 orthogonal-ish seed vectors (vec_id 0..7 become the K=8 Lloyd
    // seeds), plus vec 8 = an exact copy of vec 0 and vec 9 close to
    // vec 1 (cos 0.8). Identical vectors always share a cell (equal
    // scores, same tiebreak), so the within-cell pair scan must flag
    // both planted dups and nothing else (the rest are orthogonal).
    val seedVecs = Seq.tabulate(8) { i =>
      val v = Array.fill(8)(0f); v(i) = 1f; (i.toLong, v)
    }
    val extra = Seq(
      (8L, { val v = Array.fill(8)(0f); v(0) = 1f; v }),
      (9L, { val v = Array.fill(8)(0f); v(1) = 0.8f; v(2) = 0.6f; v }))
    val dir = stageTables(
      "embeddings" -> (seedVecs ++ extra).toDF("vec_id", "embedding"))
    val rows = run("dedup_semantic", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum === 10L, "every vector is assigned to a cell")
    val dupCells = rows.filter(_._3 > 0)
    assert(dupCells.map(c => (c._2, c._3, c._4)).toSeq ===
      Seq((2L, 1L, 1L), (2L, 1L, 1L)),
      "exactly the two planted near-dup pairs, one dropped keeper each")
    assert(dupCells.map(_._1).toSet === Set(0L, 1L),
      "dups land in their seed's cell")
  }

  test("dedup_semantic derives K = max(8, ceil(N/64)) — candidate volume linear in N, not N²") {
    import graft.ops.LlmPipeline2.{ivfDerivedK, IvfTargetCell}
    // the growth rule itself, across scales: K tracks N/B̄ above the
    // fixture clamp, so mean cell size stays ≈B̄ at ANY corpus size
    assert(ivfDerivedK(1L) === 8)
    assert(ivfDerivedK(8 * 64L) === 8)
    assert(ivfDerivedK(8 * 64L + 1) === 9)
    assert(ivfDerivedK(2000L) === 32)
    assert(ivfDerivedK(1000000000L) === 15625000)
    // on real data: the trained partition's candidate volume Σ|c|·(|c|−1)/2
    // is bounded by N·B̄·slack (linear in N) — the SemDeDup economics the
    // declared key now runs; a fixed-K parameterization would be N²/2K
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val k = ivfDerivedK(n)
    val (_, a2, _) = graft.ops.LlmPipeline2.ivfIndex(spark, sf, k)
    val sizes = a2.groupBy("cell").count().collect().map(_.getLong(1))
    assert(sizes.sum === n, "every vector lands in exactly one cell")
    val candPairs = sizes.map(c => c * (c - 1) / 2).sum
    assert(candPairs <= n * IvfTargetCell * 2,
      s"candidate volume $candPairs must stay linear in N=$n (B̄=$IvfTargetCell)")
  }

  test("agg_percentile_disc picks the LOWER middle of an even-count group") {
    // n=4 values (10,20,30,40): the discrete median is the rank-⌈0.5·4⌉=2
    // element = 20, an OBSERVED value — an interpolating quantile would
    // invent 25. p90 → rank ⌈3.6⌉=4 → 40.
    val rows = Seq((1L, 1L, "R", 10.0), (2L, 1L, "R", 20.0),
      (3L, 1L, "R", 30.0), (4L, 1L, "R", 40.0))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val dir = stageTables("lineitem" -> rows)
    val r = run("agg_percentile_disc", dir).collect()
    assert(r.length === 1)
    assert(r(0).getDouble(1) === 20.0)
    assert(r(0).getDouble(2) === 40.0)
  }

  test("window_gap_fill surfaces a zero row for a day with no events") {
    val ns = (ms: Long) => ms * 1000000L
    val day2 = 2L * 86400000L // 1970-01-03; 1970-01-02 has no events
    val dir = stageTables("events" -> Seq(
      (1L, ns(0L), 1L, "a"),
      (2L, ns(day2), 1L, "a")).toDF("event_id", "ts", "user_id", "event_type"))
    val rows = run("window_gap_fill", dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq(
      ("a", "1970-01-01", 1L), ("a", "1970-01-02", 0L), ("a", "1970-01-03", 1L)))
  }

  test("join_asof_tolerance: a gap of exactly one hour matches; one ms more does not") {
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(0L), 7L, "signup"),
      (2L, ns(3600000L), 7L, "click"), // gap exactly 1 h → matches
      (3L, ns(0L), 8L, "signup"),
      (4L, ns(3600001L), 8L, "click")) // 1 ms beyond → unmatched
      .toDF("event_id", "ts", "user_id", "event_type"))
    val r = run("join_asof_tolerance", dir).collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(3)) None else Some(x.getLong(3)))).toMap
    assert(r(2L) === Some(0L))
    assert(r(4L) === None)
    assert(r(1L) === None, "a signup has no prior signup (strict before)")
  }

  test("sink_reshard: the cutover millisecond itself belongs to the 16-shard era") {
    // cut = (min+max) div 2 = 2000; era membership is STRICT < cut, so
    // the event AT 2000 routes with mod 16. user_id=1 hashes to
    // 507152113 → shard 1 under mod 8 AND mod 16 (parent 1): the split
    // lineage column is pinned alongside the boundary rule.
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(1000), 1L, "a", 1.0),
      (2L, ns(1999), 1L, "a", 1.0),
      (3L, ns(2000), 1L, "a", 1.0),
      (4L, ns(3000), 1L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"))
    val rows = run("sink_reshard", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq((0L, 1L, 1L, 2L), (1L, 1L, 1L, 2L)))
  }

  test("corpus_domain_cap keeps at most 30 per source, chosen in quality order") {
    // source "a" floods with 32 docs: exactly the 30 longest survive
    // (the two shortest are cut); source "b" is under the cap — all kept
    val docs = (1 to 32).map(i => (i.toLong, "w w", "en", "a", (200 - i).toLong)) ++
      Seq((100L, "w", "en", "b", 10L), (101L, "w", "en", "b", 9L),
        (102L, "w", "en", "b", 8L))
    val dir = stageTables(
      "documents" -> docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = run("corpus_domain_cap", dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r("a") === ((32L, 30L, 60L)), "30 kept × 2 tokens each")
    assert(r("b") === ((3L, 3L, 3L)))
  }

  test("sim_ann_ivfpq quality: the composed index recovers most of the exact top-10") {
    // the composed path can only return vectors from the probed
    // inverted lists, so its recall is bounded by IVF's — but within
    // those lists the exact re-rank must recover what ADC found. A
    // banding/training regression that tanks the composition shows up
    // here as a recall collapse, invisible to the hash gate alone.
    val approx = graft.ops.LlmPipeline2.ivfPqTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("p"))
    val exact = emb.crossJoin(org.apache.spark.sql.functions.broadcast(probe))
      .select(col("vec_id"),
        graft.functions.VectorExpressions.dotF(spark, col("embedding"), col("p")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(approx.size === 10)
    assert((approx & exact).size >= 6,
      s"composed recall ${(approx & exact).size}/10 collapsed")
  }

  test("persisted IVF artifacts reopen bit-identically in a FRESH session") {
    // build-once/query-forever across jobs: a restarted cluster must
    // reopen the persisted index instead of retraining. newSession()
    // shares the JVM but none of the session state — its reads cannot
    // ride any lineage or cache of the training session.
    val (ap, cp) = graft.ops.LlmPipeline2.ivfPersist(spark, sf)
    val s2 = spark.newSession()
    val reopened = s2.read.parquet(ap).orderBy("vec_id").collect().map(_.toSeq)
    val orig = spark.read.parquet(ap).orderBy("vec_id").collect().map(_.toSeq)
    assert(reopened.toSeq === orig.toSeq)
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(reopened.length === n, "every corpus vector has a persisted assignment")
    // the centroid table covers exactly the cells the assignment uses
    assert(s2.read.parquet(cp).select("cell").distinct().collect().map(_.getLong(0)).toSet
      === reopened.map(_(1).asInstanceOf[Long]).toSet)
  }

  test("corpus_token_budget admits greedily until the running sum crosses") {
    // en: 3000 + 2500 tokens admitted (budget unspent before each),
    // the 10-token doc sees cum-before 5500 >= 5000 and is rejected.
    // fr: untouched by en's spend — its own budget admits the one doc.
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, "en", 300L, words(3000)),
      (2L, "en", 200L, words(2500)),
      (3L, "en", 100L, words(10)),
      (4L, "fr", 50L, words(10)))
      .toDF("doc_id", "lang", "n_chars", "text")
    val dir = stageTables("documents" -> docs)
    val got = run("corpus_token_budget", dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("en", 2L, 5500L), ("fr", 1L, 10L)))
  }

  test("window_ntile_shard equals engine-native ntile, including n < k") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(150, 15)) { // 150 = 9*16+6 (uneven buckets); 15 < k=16
      val docs = Seq.tabulate(n)(i => (i.toLong, (i * 37 % 997).toLong))
        .toDF("doc_id", "n_chars")
      val dir = stageTables("documents" -> docs)
      val got = run("window_ntile_shard", dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val native = docs.select($"n_chars", ntile(16).over(
          Window.orderBy(md5($"doc_id".cast("string")).asc, $"doc_id".asc))
          .cast("long").as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_total"))
        .orderBy("shard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === native, s"distributed ntile diverged at n=$n")
    }
  }

  test("sample_importance clamps: long docs always kept, empty docs never") {
    val docs = Seq(
      (1L, "en", 2000L, "a"), (2L, "en", 5000L, "b"), // p = 1 -> kept
      (3L, "fr", 0L, "c")) // p = 0 -> never kept
      .toDF("doc_id", "lang", "n_chars", "text")
    val dir = stageTables("documents" -> docs)
    val byLang = run("sample_importance", dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byLang("en") === ((2L, 2L, 7000L)))
    assert(byLang("fr") === ((1L, 0L, 0L)))
  }

  test("agg_corr on exactly linear data: corr 1, slope 2, covar n-1-scaled") {
    val li = Seq.tabulate(5)(i => ("A", (i + 1).toDouble, 2.0 * (i + 1)))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val dir = stageTables("lineitem" -> li)
    val r = run("agg_corr", dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 5L)
    assert(r(0).getDouble(2) === 1.0) // corr
    assert(r(0).getDouble(3) === 5.0) // covar_samp: cov(x, 2x) = 2*2.5
    assert(r(0).getDouble(4) === 2.0) // OLS slope
  }

  test("every declared query survives fully empty tables") {
    val empties = graft.core.Tables.names.map { n =>
      val raw = spark.read.parquet(s"$sf/$n.parquet").filter(lit(false))
      n -> raw
    }
    val dir = stageTables(empties: _*)
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (key, fn) =>
      try {
        val n = fn(spark, dir).count()
        // ≤1 allows grand-total rows; sim_ann_recall reports one
        // (zero-overlap) row per index even on an empty corpus, and
        // eval_pr_sweep's output IS the 9 fixed thresholds (zero
        // counts each)
        val cap = key match {
          case "sim_ann_recall" => 5 // one zero-overlap row per index incl. ivfpq
          case "eval_pr_sweep" => 9
          case "eval_roc_points" => 9 // output IS the 9 fixed thresholds
          case "eval_confusion_multiclass" => 3 // fixed 3-row class spine
          case _ => 1
        }
        if (n <= cap) None else Some(s"$key: unexpected $n rows")
      } catch { case e: Throwable => Some(s"$key: ${e.getClass.getSimpleName} ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("BPE encode applies mined merges in priority order on a hand-checked corpus") {
    // bigram mining over {ab, ab, abab, xy}: ab×4 (rank 1), ba×1
    // (rank 2), xy×1 (rank 3). Encoding collapses each merged pair to
    // one symbol: "abab" → 2 symbols, "xy" → 1 — both langs compress 2×.
    val dir = stageTables("documents" -> Seq(
      (0L, "ab ab abab", "en"),
      (1L, "xy", "de")).toDF("doc_id", "text", "lang"))
    val r = run("tokenizer_bpe_apply", dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))).toMap
    assert(r("en") === ((3L, 8L, 4L, 2.0)), "ab→1 sym, abab→2 syms")
    assert(r("de") === ((1L, 2L, 1L, 2.0)), "rank-3 merge xy still applies")
  }

  test("CJK tokenizer emits overlapping char bigrams for zh, words elsewhere") {
    val dir = stageTables("documents" -> Seq(
      (0L, "abcd efg", "zh"),
      (1L, "hello world hello", "en")).toDF("doc_id", "text", "lang"))
    val r = run("text_tokenize_cjk", dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))).toMap
    // zh: spaces stripped → "abcdefg" → 6 overlapping bigrams, all distinct
    assert(r("zh") === ((1L, 6L, 6L, 2.0)))
    // en: whitespace tokens, "hello" twice → 2 types over 3 tokens
    assert(r("en") === ((1L, 2L, 3L, 5.0)))
  }

  test("KPL deaggregation conserves counts and checksums across packed batches") {
    val ns = (ms: Long) => ms * 1000000L
    // 20 messages → 3 aggregated records (ids 0-7, 8-15, 16-19); props
    // lengths vary so sub-record length prefixes genuinely differ, and
    // the payloads are adversarial: the record magic ("AGG"), 8-digit
    // runs that mimic length prefixes, and multi-byte unicode — the
    // offset walk must be driven by the prefixes alone, and character
    // (not byte) counting must agree between pack and unpack
    val rows = (0 until 20).map { i =>
      (i.toLong, ns(1000L * i), i.toLong % 5,
        if (i % 2 == 0) "a" else "b", i + 0.25,
        i % 4 match {
          case 0 => "{}"
          case 1 => s"""{"k": $i, "pad": "AGG0001${"x" * i}"}"""
          case 2 => s"""{"k": $i, "pad": "00000042héllo wörld ünïcode"}"""
          // id 3 mimics the frame magic inside a payload; id 7+ pads
          // past 128 chars so its varint length prefix takes TWO bytes
          // — the offset walk must branch on the continuation bit
          case _ => s"""{"k": $i, "pad": "F3899AC2${"x" * (if (i > 4) 180 else i)}"}"""
        })
    }
    val dir = stageTables("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val out = run("scan_kpl_deaggregate", dir).collect()
    val r = out
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r("a") === ((10L, 90L, 9250L)), "even ids: Σid=90, Σcents=9250")
    assert(r("b") === ((10L, 100L, 10250L)), "odd ids: Σid=100, Σcents=10250")
    // the two planted malformed frames (alien magic, lying trailer)
    // are dead-lettered — counted on every row, never thrown
    assert(out.forall(_.getLong(4) === 2L), "exactly the 2 planted frames die")
  }

  test("schema-evolving replay files v1 rows as NULL-rev, v2 rows with the new field") {
    val ns = (ms: Long) => ms * 1000000L
    val rows = Seq(
      (0L, ns(1000L), 1L, "a", 1.50, "{}"),
      (1L, ns(2000L), 2L, "a", 2.25, "{}"),
      (2L, ns(3000L), 3L, "b", 3.00, "{}"),
      (3L, ns(4000L), 4L, "b", 4.75, "{}"))
    val dir = stageTables("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("replay_schema_evolve", dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))).toMap
    assert(r("a") === ((2L, 1L, 1L, 225L)), "id 0 is v1 (NULL rev), id 1 carries 225")
    assert(r("b") === ((2L, 1L, 1L, 475L)), "id 2 is v1, id 3 carries 475")
  }

  test("index append assigns every new vector without touching base assignments") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    // the round-14 fixture appends the bounded 1% landing slice, not
    // the whole corpus (ScaleProofSpec pins batch ≪ N)
    val batch = emb.filter(col("vec_id") % 100 === 0).count()
    val rows = run("index_append").collect()
    assert(rows.map(_.getLong(1)).sum === n, "base population = corpus size")
    assert(rows.map(_.getLong(2)).sum === batch, "every landing twin got a cell")
    assert(rows.forall(_.getLong(1) >= 1L), "only trained (non-empty) cells exist")
  }

  test("Gopher rules fail exactly the planted violations, one per rule") {
    val ok = Seq.fill(60)("word").mkString(" ")
    val short = "tiny doc here"
    val longWords = Seq.fill(60)("extraordinarily-long-hyphenated-token").mkString(" ")
    val numeric = (Seq.fill(50)("123") ++ Seq.fill(10)("abc")).mkString(" ")
    val dir = stageTables("documents" -> Seq(
      (0L, ok, "en"), (1L, short, "en"),
      (2L, longWords, "en"), (3L, numeric, "en")).toDF("doc_id", "text", "lang"))
    val r = run("quality_gopher_rules", dir).collect()
    assert(r.length === 1)
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4), r(0).getLong(5)) === ((4L, 1L, 1L, 1L, 1L)),
      "word-count, word-length, and alpha violations each caught once; one doc survives")
  }

  test("lang-id confusion grid completes zero cells and conserves the doc count") {
    // labels en/zh; the en doc scores on en markers, the zh doc has no
    // markers so the tie falls to 'en' — both land in the pred=en column
    val dir = stageTables("documents" -> Seq(
      (0L, "the cat and the dog", "en", "srcA"),
      (1L, "mao gou yu", "zh", "srcA"))
      .toDF("doc_id", "text", "lang", "source"))
    val r = run("eval_langid_confusion", dir).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r.size === 8, "2 labels × the fixed 4-lang pred domain")
    assert(r(("en", "en")) === 1L && r(("zh", "en")) === 1L)
    assert(r.values.sum === 2L, "grid conserves every predicted doc")
    assert(r(("en", "fr")) === 0L, "zero cells keep their row")
  }

  test("embedding coverage audit separates matched, missing, orphan, and bad-dim") {
    val dir = stageTables(
      "documents" -> Seq(
        (0L, "a", "en", "s"), (1L, "b", "en", "s"), (2L, "c", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"),
      "embeddings" -> Seq(
        (0L, Seq(0.1f, 0.2f)),          // matched but wrong dimension
        (1L, Seq.fill(64)(0.5f)),       // matched, contract shape
        (9L, Seq.fill(64)(0.1f)))       // orphan vector
        .toDF("vec_id", "embedding"))
    val r = run("audit_embedding_coverage", dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 3L, 2L)))
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((1L, 1L, 1L)),
      "doc 2 unembedded; vec 9 orphaned; vec 0 flagged bad-dim")
  }

  test("pareto frontier keeps exactly the non-dominated (quantity, price) pairs") {
    // q=20 @ $8 is dominated by q=30 @ $7 (more quantity, cheaper);
    // the other three are mutually non-dominated
    val li = Seq((1L, 10.0, 5.0), (2L, 20.0, 8.0), (3L, 30.0, 7.0),
      (4L, 40.0, 10.0))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice")
    val r = run("agg_pareto_frontier", stageTables("lineitem" -> li))
      .collect().map(x => (x.getDouble(0), x.getLong(1))).toSeq
    assert(r === Seq((40.0, 1000L), (30.0, 700L), (10.0, 500L)))
  }

  test("percentile_cont lerps between straddling members; disc picks one") {
    // quantities {1,2,3,4}: (n−1)·0.5 = 1.5 → 2 + 0.5·(3−2) = 2.5;
    // (n−1)·0.9 = 2.7 → 3 + 0.7·(4−3) = 3.7
    val li = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0), (4L, "A", 4.0))
      .toDF("l_orderkey", "l_returnflag", "l_quantity")
    val dir = stageTables("lineitem" -> li)
    val r = run("agg_percentile_cont", dir).collect()(0)
    assert(r.getDouble(1) === 2.5)
    assert(math.abs(r.getDouble(2) - 3.7) < 1e-9)
  }

  test("keyset pagination fetches exactly offset-page 3; short tables page empty") {
    import org.apache.spark.sql.functions.{from_unixtime, to_timestamp, col}
    def orders(n: Int) = (1 to n).map(i => (i.toLong, i.toLong * 86400L, i * 1.5))
      .toDF("o_orderkey", "ep", "o_totalprice")
      .withColumn("o_orderdate", to_timestamp(from_unixtime(col("ep"))))
      .drop("ep")
    val full = stageTables("orders" -> orders(250))
    val page3 = run("sort_keyset_pagination", full).collect()
    assert(page3.length === 50)
    assert(page3.map(_.getLong(0)).toSeq === (201L to 250L))
    assert(page3.head.getLong(1) === 201L * 86400L)
    // fewer than two full pages → the boundary is the table's last key
    // and page 3 must be EMPTY, not wrap or throw
    val short = stageTables("orders" -> orders(150))
    assert(run("sort_keyset_pagination", short).isEmpty)
  }

  test("pre-epoch events land on the floor day, not the truncated one") {
    // ms = −1 is 1969-12-31T23:59:59.999: floor division buckets it on
    // 1969-12-31; a truncating `div` would collapse it onto 1970-01-01
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, ns(-1L), 1L, "t", 1.0, "{}"),
      (2L, ns(1000L), 1L, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("window_gap_fill", dir).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got === Map("1969-12-31" -> 1L, "1970-01-01" -> 1L))
  }

  test("frame sampling is uniform: min(nf, 8) distinct, in-range, increasing") {
    val rows = run("multimodal_frame_sample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nf = r.getLong(1)
      val n = r.getLong(2)
      val fr = r.getString(3).split(",").map(_.toLong)
      assert(n === math.min(nf, 8L), s"budget law broke at nf=$nf")
      assert(fr.length.toLong === n)
      assert(fr.head >= 1L && fr.last <= nf, "sampled frame out of clip range")
      assert(fr.zip(fr.tail).forall(p => p._1 < p._2), "sample must ascend")
    }
  }

  test("ngram novelty: copied test docs score 0, unseen text 1, short docs NULL") {
    // doc_id % 4 == 0 is the test split: doc 0 copies train doc 1
    // verbatim (novelty 0), doc 4 is unseen (novelty 1), doc 8 is too
    // short to form a trigram (counted, rate NULL)
    val dir = stageTables("documents" -> Seq(
      (0L, "a b c d", "en", "s"), (1L, "a b c d", "en", "s"),
      (4L, "x y z w", "fr", "s"), (8L, "q r", "zh", "s"))
      .toDF("doc_id", "text", "lang", "source"))
    val r = run("corpus_ngram_novelty", dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        if (x.isNullAt(4)) null else x.getDouble(4)))).toMap
    assert(r("en") === ((1L, 2L, 0L, 0.0)))
    assert(r("fr") === ((1L, 2L, 2L, 1.0)))
    assert(r("zh") === ((1L, 0L, 0L, null)))
  }

  test("JS divergence: a matching mix scores 0, a single-lang source the closed form") {
    // corpus mix = {en ½, fr ½}; srcA all-en and srcB all-fr are each
    // JSD(1|0 vs ½|½) = 0.215762 nats (½·ln(4/3) + ¼·ln(2/3) + ¼·ln 2)
    val skew = stageTables("documents" -> Seq(
      (0L, "a", "en", "srcA"), (1L, "b", "en", "srcA"),
      (2L, "c", "fr", "srcB"), (3L, "d", "fr", "srcB"))
      .toDF("doc_id", "text", "lang", "source"))
    val r = run("corpus_js_divergence", skew).collect()
      .map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(math.abs(r("srcA") - 0.215762) < 1e-5)
    assert(math.abs(r("srcB") - 0.215762) < 1e-5)
    // every source mirroring the corpus mix → all terms ln 1 → exactly 0
    val even = stageTables("documents" -> Seq(
      (0L, "a", "en", "srcA"), (1L, "b", "fr", "srcA"),
      (2L, "c", "en", "srcB"), (3L, "d", "fr", "srcB"))
      .toDF("doc_id", "text", "lang", "source"))
    val r2 = run("corpus_js_divergence", even).collect()
    assert(r2.forall(_.getDouble(2) === 0.0))
  }

  test("dedup rate by source separates within-source copies from cross-source mirrors") {
    val dir = stageTables("documents" -> Seq(
      (0L, "unique one", "en", "srcA"),
      (1L, "copied text", "en", "srcA"),
      (2L, "copied text", "en", "srcA"),   // within-source dup
      (3L, "mirrored text", "en", "srcA"),
      (4L, "mirrored text", "en", "srcB"), // cross-source dup
      (5L, "unique two", "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source"))
    val r = run("dedup_rate_by_source", dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r("srcA") === ((4L, 3L, 1L)),
      "two copies + one mirror are dups; only the mirror is cross-source")
    assert(r("srcB") === ((2L, 1L, 1L)))
  }

  test("regression metrics are exactly zero-error on a noiseless linear stream") {
    val ns = (ms: Long) => ms * 1000000L
    // y cents = 300 + 7k exactly → the OLS fit recovers (a, b) = (300, 7)
    val rows = (0 until 10).map { i =>
      (i.toLong, ns(1000L * i), i.toLong, if (i % 2 == 0) "a" else "b",
        3.0 + 0.07 * i, s"""{"k": $i}""")
    }
    val dir = stageTables("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("eval_regression_metrics", dir).collect()
    assert(r.length === 2)
    r.foreach { x =>
      assert(x.getDouble(2) === 0.0, s"MAE must vanish: $x")
      assert(x.getDouble(3) === 0.0, s"RMSE must vanish: $x")
      assert(x.getDouble(4) === 1.0, s"R² must be exactly 1: $x")
    }
  }

  test("Cramér's V is exactly 1 when the label is determined by the split") {
    val ns = (ms: Long) => ms * 1000000L
    val rows = (0 until 8).map { i =>
      (i.toLong, ns(1000L * i), i.toLong,
        if (i % 2 == 0) "even" else "odd", 1.0, "{}")
    }
    val dir = stageTables("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_cramers_v", dir).collect()
    assert(r.length === 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2)) === ((8L, 2L, 2L)))
    assert(r(0).getDouble(4) === 1.0, "perfect association scores V = 1")
  }

  test("packed-archive replay equals the flat replay row for row") {
    val ns = (ms: Long) => ms * 1000000L
    val rows = (0 until 30).map { i =>
      (i.toLong, ns(3600000L * (i % 3) + 1000L * i), i.toLong % 4,
        if (i % 2 == 0) "a" else "b", i + 0.25, s"""{"k": $i}""")
    }
    val dir = stageTables("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val packed = run("replay_kpl", dir).collect().map(_.toSeq).toSeq
    val flat = run("replay_stream", dir).collect().map(_.toSeq).toSeq
    assert(packed === flat,
      "aggregated-record replay must reproduce the flat replay exactly")
  }

  test("percent_rank treats tied balances as distinct ranks — the suppkey tiebreak is part of the order") {
    // the oracle windows on (s_acctbal DESC, s_suppkey ASC) — a TOTAL
    // order with no peers — so tied balances must NOT share a rank
    val dir = stageTables("supplier" -> Seq(
      (1L, 100.0), (2L, 100.0), (3L, 50.0))
      .toDF("s_suppkey", "s_acctbal"))
    val r = run("window_percent_rank", dir).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(2), x.getDouble(3)))).toMap
    assert(r(1L) === ((0.0, 0.333333)), "first of the tied pair ranks 1")
    assert(r(2L) === ((0.5, 0.666667)), "second of the tied pair ranks 2 — not a shared peer rank")
    assert(r(3L) === ((1.0, 1.0)))
  }

  test("cume_dist ranks NULL values first, matching the explicit oracle placement") {
    val ns = (ms: Long) => ms * 1000000L
    val rows = Seq(
      (0L, ns(1000L), 1L, "t", Some(1.0), "{}"),
      (1L, ns(2000L), 2L, "t", (None: Option[Double]), "{}"),
      (2L, ns(3000L), 3L, "t", Some(2.0), "{}"))
    val dir = stageTables("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val byId = run("window_cume_dist", dir).collect()
      .map(x => x.getLong(1) -> x.getDouble(3)).toMap
    assert(byId(1L) === 0.333333, "the NULL value sorts FIRST (cd = 1/3)")
    assert(byId(0L) === 0.666667)
    assert(byId(2L) === 1.0)
  }

  test("weighted-median bisection lands exactly on half-weight boundaries in and across cells") {
    // flag A: all prices inside ONE coarse $1000 cell, crossing exactly
    // at 2W = T on the first price; flag B: crossing mid-range in the
    // second cell; flag C: 2W = T exactly on the FIRST cell's last unit
    // — the descent must not skip past an exact-boundary cell
    val rows = Seq(
      ("A", 10.00, 3L), ("A", 12.00, 1L), ("A", 19.99, 2L),
      ("B", 500.00, 5L), ("B", 1500.00, 5L), ("B", 2500.00, 2L),
      ("C", 500.00, 6L), ("C", 1500.00, 4L), ("C", 2500.00, 2L))
    val li = rows.zipWithIndex.map { case ((f, p, w), i) =>
      (f, p, w, i.toLong, 1) }
      .toDF("l_returnflag", "l_extendedprice", "l_quantity",
        "l_orderkey", "l_linenumber")
    val got = run("agg_weighted_median", stageTables("lineitem" -> li))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got("A") === ((6L, 10.00)), "2W = T picks the first price")
    assert(got("B") === ((12L, 1500.00)), "crossing lands in the second cell")
    assert(got("C") === ((12L, 500.00)), "exact boundary stays in the first cell")
  }

  test("fuzzy levenshtein candidates scale linearly on a length-disjoint doubled fixture") {
    // The (brand, length-bucket ±1) blocking keys the |Δlen| ≤ 2 band
    // into the join itself: doubling the corpus with a copy whose
    // lengths sit ≥ 5 away from the originals must exactly DOUBLE the
    // candidate ledger (the copy pairs only within itself) — the
    // brand-only N²/25 shape would enumerate every cross pair first.
    def parts(shift: Int, off: Long) =
      Seq.tabulate(12) { i =>
        (off + i, "Brand#11", "part name " + ("x" * ((i % 6) + shift)))
      }.toDF("p_partkey", "p_brand", "p_name")
    val base = stageTables("part" -> parts(0, 0L))
    val doubled = stageTables("part" -> parts(0, 0L).union(parts(10, 100L)))
    def cands(dir: String): Long =
      run("dedup_fuzzy_levenshtein", dir).collect()
        .map(_.getLong(1)).sum
    val nBase = cands(base)
    assert(nBase > 0, "the base fixture must produce band pairs")
    assert(cands(doubled) === 2 * nBase,
      "candidates must double with the corpus, not quadruple")
  }

  test("sliding distinct merges ≤6-day gaps and splits 7-day gaps into disjoint cover") {
    val dns = (day: Long) => day * 86400000L * 1000000L
    // A: days {0, 6} — gap 6 merges into one island covering 0..12;
    // B: day {0} only; C: day {20}; D: days {30, 37} — gap 7 SPLITS:
    // if the two islands wrongly overlapped, day 37 would count D twice
    val rows = Seq(
      (1L, dns(0), 10L, "t", 1.0, "{}"), (2L, dns(6), 10L, "t", 1.0, "{}"),
      (3L, dns(0), 20L, "t", 1.0, "{}"), (4L, dns(20), 30L, "t", 1.0, "{}"),
      (5L, dns(30), 40L, "t", 1.0, "{}"), (6L, dns(37), 40L, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // a NULL-user row is invisible to the distinct count on both sides
    val nullUser = Seq((7L, dns(6), "t", 1.0, "{}"))
      .toDF("event_id", "ts", "event_type", "value", "props")
      .withColumn("user_id", org.apache.spark.sql.functions.lit(null)
        .cast("long"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = stageTables("events" -> rows.union(nullUser))
    val got = run("window_sliding_distinct", dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 2L, 6L -> 2L, 20L -> 1L, 30L -> 1L, 37L -> 1L))
  }

  test("interval overlap counts half-open session×incident pairs exactly once") {
    val ns = (ms: Long) => ms * 1000000L
    // error at ms 0 → incident hour 0 = [0, 7_200_000).
    // u10: events at 0 and 1_800_000 (gap exactly 30 min merges) →
    //   one session [0, 1_800_001), overlap 1_800_001 ms;
    // u20: events at 0 and 1_800_001 (gap 30 min + 1 splits) → two
    //   1 ms sessions, both inside the incident;
    // u30: event at −1 → session [−1, 0) ends AT the incident start:
    //   half-open means NO overlap — a closed spelling would count it.
    val dir = stageTables("events" -> Seq(
      (1L, ns(0L), 10L, "error", 1.0, "{}"),
      (2L, ns(1800000L), 10L, "t", 1.0, "{}"),
      (3L, ns(0L), 20L, "t", 1.0, "{}"),
      (4L, ns(1800001L), 20L, "t", 1.0, "{}"),
      (5L, ns(-1L), 30L, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("join_interval_overlap", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(0L -> ((3L, 1800003L))))
  }

  test("centroid drift is 1 for the global-direction source; orphans stay out") {
    // a ∥ [1,0], b ∥ [0,1], c ∥ [1,1] = the global direction ⇒ c
    // drifts not at all (cos 1.0) while a and b sit at 45° (1/√2).
    // Vec 99 has no document and doc 4 has no vector: neither may
    // leak into the global centroid or the output.
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "source")
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.5f, 0.5f)), (99L, Seq(9.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val dir = stageTables("documents" -> docs, "embeddings" -> embs)
    val got = run("embedding_centroid_drift", dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(
      "a" -> ((1L, 0.707107)), "b" -> ((1L, 0.707107)), "c" -> ((1L, 1.0))))
  }

  test("kruskal-wallis matches the textbook closed form and NULLs on all ties") {
    // groups a={1¢,2¢}, b={3¢,4¢}: ranks a={1,2}, b={3,4}, no ties ⇒
    // S = (3² + 7²)/2 = 29, H = 12/(4·5)·29 − 3·5 = 2.4, ε² = H/3 = 0.8
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "a", 0.01, "{}"), (2L, 0L, 1L, "a", 0.02, "{}"),
      (3L, 0L, 1L, "b", 0.03, "{}"), (4L, 0L, 1L, "b", 0.04, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_kruskal_wallis", dir).collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 2.4 && r.getDouble(3) === 0.8)
    // every value identical ⇒ tie correction denominator N³−N−ΣT = 0:
    // the statistic is undefined and must surface NULL, not an error
    val tied = stageTables("events" -> Seq(
      (1L, 0L, 1L, "a", 0.05, "{}"), (2L, 0L, 1L, "b", 0.05, "{}"),
      (3L, 0L, 1L, "b", 0.05, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val t = run("stat_kruskal_wallis", tied).collect().head
    assert(t.isNullAt(2) && t.isNullAt(3))
  }

  test("kruskal-wallis stays exact when a group's quantized R²/n passes 2⁶³") {
    // N = 60,000 distinct cents, a = the lowest third: group b's term
    // R_b²/n_b · 1e6 ≈ 6.4e19, past BIGINT — the sf0.1 regime where a
    // floor(double) → BIGINT quantization saturates
    val n = 60000L
    val dir = stageTables("events" -> spark.range(n).select(
      $"id".as("event_id"), lit(0L).as("ts"), lit(1L).as("user_id"),
      when($"id" < n / 3, "a").otherwise("b").as("event_type"),
      ($"id" / 100.0).as("value"), lit("{}").as("props")))
    // no ties (rank of id i is i + 1), so H needs no correction
    val (ra, rb) = (1L to n).partition(_ <= n / 3)
    val s = Seq(ra, rb).map(g => BigDecimal(g.sum).pow(2) / g.size).sum
    val h = (12 * s / (BigDecimal(n) * (n + 1)) - 3 * (n + 1)).toDouble
    val r = run("stat_kruskal_wallis", dir).collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === n)
    assert(math.abs(r.getDouble(2) - h) < 1e-5, s"H ${r.getDouble(2)} vs closed form $h")
    assert(math.abs(r.getDouble(3) - h / (n - 1)) < 1e-6)
  }

  test("mcnemar pairs per row, defaults NULL users to B=no, floors the correction") {
    // A = (v ≥ $50); B = (user mean ≥ $50).
    // u1 ($60 purchase, $10 view): mean $35 ⇒ B=no ⇒ rows → n10, n11;
    // u2 ($40 purchase): B=no ⇒ n00; u3 ($70 view): B=yes ⇒ n00;
    // u4 ($30 purchase + $80 view): mean $55 ⇒ B=yes ⇒ n01, n00;
    // NULL user ($20 view): B defaults no, A no, y=0 ⇒ n11.
    val rows = Seq(
      (1L, 0L, 1L, "purchase", 60.0, "{}"), (2L, 0L, 1L, "view", 10.0, "{}"),
      (3L, 0L, 2L, "purchase", 40.0, "{}"), (4L, 0L, 3L, "view", 70.0, "{}"),
      (5L, 0L, 4L, "purchase", 30.0, "{}"), (6L, 0L, 4L, "view", 80.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val nullUser = Seq((7L, 0L, "view", 20.0, "{}"))
      .toDF("event_id", "ts", "event_type", "value", "props")
      .withColumn("user_id",
        org.apache.spark.sql.functions.lit(null).cast("long"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = stageTables("events" -> rows.union(nullUser))
    val r = run("eval_mcnemar", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((7L, 2L, 1L, 1L, 3L)))
    assert(r.getDouble(5) === 0.428571 && r.getDouble(6) === 0.428571)
    // n10 = n01 = 1: |b−c|−1 floors at 0 ⇒ χ² = 0, never 1/(b+c)
    assert(r.getDouble(7) === 0.0)
  }

  test("hits crowns the star centers: broad user tops hubs, shared type tops authorities") {
    // u1 touches every type (the hub); every user touches a (the
    // authority). After each renormalized half-step the max-scoring
    // node carries exactly Scale = 1e10; symmetric spokes must tie.
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "a", 1.0, "{}"), (2L, 0L, 1L, "b", 1.0, "{}"),
      (3L, 0L, 1L, "c", 1.0, "{}"), (4L, 0L, 2L, "a", 1.0, "{}"),
      (5L, 0L, 3L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("graph_hits", dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.length === 6)
    val auths = got.filter(_._1 == "auth")
    val hubs = got.filter(_._1 == "hub")
    assert(auths.head === (("auth", "t:a", 10000000000L)),
      "the type every user touches must top the authority side at Scale")
    assert(hubs.head === (("hub", "u:1", 10000000000L)),
      "the user touching every type must top the hub side at Scale")
    val Seq(b, c) = auths.tail.map(_._3).toSeq
    assert(b === c && b < 10000000000L, "symmetric spoke types must tie below")
    val Seq(u2, u3) = hubs.tail.map(_._3).toSeq
    assert(u2 === u3 && u2 < 10000000000L, "symmetric spoke users must tie below")
  }

  test("phash surfaces exact dupes at distance 0 and the hot-chunk guard mutes mega-clusters") {
    // three byte-identical payloads share the md5 digest, hence the
    // dHash: all three pairs surface at Hamming 0; the two singleton
    // docs sit ~32 bits from everything and propose nothing
    val docs = Seq(
      (1L, "en", "dup dup dup"), (2L, "en", "dup dup dup"),
      (3L, "en", "dup dup dup"), (4L, "en", "alpha unique payload"),
      (5L, "en", "beta other payload"))
      .toDF("doc_id", "lang", "text")
    val got = run("multimodal_dedup_phash", stageTables("documents" -> docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)))
    // 150 identical assets heat every chunk past the 100-member guard:
    // the banding stage must suppress the quadratic cluster, not emit
    // 150·149/2 pairs
    val mega = (1L to 150L).map(i => (i, "en", "same same same"))
      .toDF("doc_id", "lang", "text")
    assert(run("multimodal_dedup_phash", stageTables("documents" -> mega))
      .count() === 0L)
  }

  test("seasonal anomaly ignores the daily cycle, flags the planted spike, survives constants") {
    val hns = (h: Long) => h * 3600000L * 1000000L
    // "s": a strong 12h-on/12h-off daily cycle repeated 4 days — raw
    // z-scores alarm every lull; the seasonal residuals are all zero.
    // "x": flat $1 except one $1000 spike — exactly that hour flags
    // (with 4 days the diluted same-hod residuals stay inside 3σ).
    // "c": constant series — varn = 0 must yield zero outliers, not a
    // division error.
    val rows =
      (0L until 96L).map(h => (1000L + h, hns(h), 1L, "s",
        if (h % 24 < 12) 5.0 else 1.0, "{}")) ++
      (0L until 96L).map(h => (2000L + h, hns(h), 1L, "x",
        if (h == 30L) 1000.0 else 1.0, "{}")) ++
      (0L until 10L).map(h => (3000L + h, hns(h), 1L, "c", 2.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("ts_seasonal_anomaly", dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map("s" -> ((96L, 0L)), "x" -> ((96L, 1L)),
      "c" -> ((10L, 0L))))
  }

  test("jarque-bera hits the two-point closed form and NULLs on constants") {
    // a symmetric two-point sample {$1, $3}: skewness 0, excess
    // kurtosis exactly -2 (the two-point minimum), JB = n/6·(0 + 4/4)
    // = 1/3; a constant series has m2n = 0 and must yield NULL stats
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "a", 1.0, "{}"), (2L, 0L, 1L, "a", 3.0, "{}"),
      (3L, 0L, 1L, "b", 2.0, "{}"), (4L, 0L, 1L, "b", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("stat_jarque_bera", dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) === 2L && a.getDouble(2) === 0.0 &&
      a.getDouble(3) === -2.0 && a.getDouble(4) === 0.333333)
    val b = got("b")
    assert(b.getLong(1) === 2L && b.isNullAt(2) && b.isNullAt(3) &&
      b.isNullAt(4))
  }

  test("bloom filter never misses a member and the fixture's fp count is pinned") {
    // users 1..50 → 195 distinct bits of 4096 set (5 collisions);
    // probes = the 50 members + synthesized 51..150: the Bloom
    // guarantee (no false negatives) is structural, and with fill
    // ratio 195/4096 the 100 absent probes yield 0 false positives
    // ((195/4096)⁴ ≈ 5e-6 each) — all md5-deterministic, hash-stable
    val rows = (1L to 50L).map(u => (u, 0L, u, "t", 1.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("agg_bloom_membership", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((50L, 100L, 195L, 50L, 0L, 0L)))
  }

  test("k-center picks the farthest-point sequence on a planted geometry") {
    // seed = min id = 1 at the origin; the greedy sequence must be
    // 2 (d²=100), then 4 (min-dist 50 beats 3's 36), then 3 (whose
    // min-dist to {1,2,4} is 26, via the (5,5) center) — the near-
    // duplicate point 5 never wins a round
    val embs = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 0.0f)),
      (3L, Seq(0.0f, 6.0f)), (4L, Seq(5.0f, 5.0f)),
      (5L, Seq(0.25f, 0.25f)))
      .toDF("vec_id", "embedding")
    val got = run("sample_kcenter_coreset", stageTables("embeddings" -> embs))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    val M = 1000000L * 1000000L // (10⁶ quantization)² per squared unit
    assert(got.toSeq === Seq(
      (0L, 1L, -1L), (1L, 2L, 100L * M), (2L, 4L, 50L * M),
      (3L, 3L, 26L * M)))
  }

  test("ece and mce are exact on a hand-built two-bin table") {
    // ($0.50 purchase): bin 0, |10000·1 − 50| = 9950;
    // ($95 view): bin 9, |0 − 9500| = 9500.
    // ECE = 19450/20000 = 0.9725; MCE = 9950/10000 = 0.995
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "purchase", 0.5, "{}"), (2L, 0L, 1L, "view", 95.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("eval_calibration_ece", dir).collect().head
    assert((r.getLong(0), r.getLong(1)) === ((2L, 2L)))
    assert(r.getDouble(2) === 0.9725 && r.getDouble(3) === 0.995)
  }

  test("parity gap spans the extreme cohorts and $50 sits on the positive side") {
    // cohorts = user_id % 5: u0 → 1.0, u1 → 0.0, u2 ($50 exactly, the
    // boundary) → 1.0, u3 ($49.99) → 0.0, u4 (one of two) → 0.5;
    // gap = 1.0 on every row; the NULL user contributes nowhere
    val rows = Seq(
      (1L, 0L, 0L, "t", 60.0, "{}"), (2L, 0L, 1L, "t", 10.0, "{}"),
      (3L, 0L, 2L, "t", 50.0, "{}"), (4L, 0L, 3L, "t", 49.99, "{}"),
      (5L, 0L, 4L, "t", 60.0, "{}"), (6L, 0L, 4L, "t", 10.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val nullUser = Seq((7L, 0L, "t", 99.0, "{}"))
      .toDF("event_id", "ts", "event_type", "value", "props")
      .withColumn("user_id",
        org.apache.spark.sql.functions.lit(null).cast("long"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = stageTables("events" -> rows.union(nullUser))
    val got = run("eval_demographic_parity", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got === Map(
      0L -> ((1L, 1L, 1.0, 1.0)), 1L -> ((1L, 0L, 0.0, 1.0)),
      2L -> ((1L, 1L, 1.0, 1.0)), 3L -> ((1L, 0L, 0.0, 1.0)),
      4L -> ((2L, 1L, 0.5, 1.0))))
  }

  test("dominant period finds the planted 6-hour cycle; constants emit nothing") {
    val hns = (h: Long) => h * 3600000L * 1000000L
    // a perfect period-6 sawtooth: ACF is exactly 1 at lags 6, 12, 18,
    // 24, 30, 36 — the tie must break to the SMALLEST lag, 6. A
    // constant series has zero variance at every lag and must vanish
    // from the output rather than emit a NULL-scored row.
    val rows =
      (0L until 72L).map(h => (1000L + h, hns(h), 1L, "p",
        if (h % 6 == 0) 10.0 else 1.0, "{}")) ++
      (0L until 48L).map(h => (2000L + h, hns(h), 1L, "c", 3.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("ts_dominant_period", dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(got === Map("p" -> ((6L, 1.0))))
  }

  test("hapax ratio counts one-occurrence vocabulary per language") {
    val docs = Seq(
      (1L, "aa", "a a b c c c d"), (2L, "bb", "x x"))
      .toDF("doc_id", "lang", "text")
    val got = run("text_hapax_ratio", stageTables("documents" -> docs))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // aa: vocab {a,b,c,d}, 7 tokens, hapax {b,d}, dis {a} → ratio 0.5
    assert(got === Map(
      "aa" -> ((4L, 7L, 2L, 1L, 0.5)), "bb" -> ((1L, 2L, 0L, 1L, 0.0))))
  }

  test("durbin-watson nears 4 on alternation and NULLs on constants") {
    val hns = (h: Long) => h * 3600000L * 1000000L
    // 48 hourly points alternating 0/200 cents: Σd² = 47·40000,
    // m2n = 48·960000 − 4800² = 23040000, DW = 48·1880000/23040000
    // = 47/12 = 3.91666̄ → 3.916667; the constant series must emit
    // NULL, not divide
    val rows =
      (0L until 48L).map(h => (1000L + h, hns(h), 1L, "alt",
        if (h % 2 == 0) 0.0 else 2.0, "{}")) ++
      (0L until 10L).map(h => (2000L + h, hns(h), 1L, "c", 3.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("stat_durbin_watson", dir).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(got("alt") === 3.916667)
    assert(got("c").isNaN)
  }

  test("vocab overlap scores shared-token pairs and drops disjoint ones") {
    val docs = Seq(
      (1L, "en", "srcA", "a b c"), (2L, "en", "srcB", "b c d"),
      (3L, "en", "srcC", "x"))
      .toDF("doc_id", "lang", "source", "text")
    val got = run("corpus_vocab_overlap", stageTables("documents" -> docs))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // A∩B = {b, c}, |A∪B| = 4 → 0.5; srcC shares nothing and appears
    // in no pair — the join cannot see an empty intersection
    assert(got === Map(("srcA", "srcB") -> ((2L, 4L, 0.5))))
  }

  test("session stats merge the exact-30-min gap and split one ms beyond") {
    val ns = (ms: Long) => ms * 1000000L
    // u1: gap exactly 30 min merges → one 2-event session of 1800000
    // ms; u2: one event (bounce, plus a duplicate (user, ms) row that
    // must collapse); u3: gap 30 min + 1 ms splits → two bounces
    val dir = stageTables("events" -> Seq(
      (1L, ns(0L), 1L, "t", 1.0, "{}"),
      (2L, ns(1800000L), 1L, "t", 1.0, "{}"),
      (3L, ns(5L), 2L, "t", 1.0, "{}"),
      (4L, ns(5L), 2L, "t", 2.0, "{}"),
      (5L, ns(0L), 3L, "t", 1.0, "{}"),
      (6L, ns(1800001L), 3L, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("seq_session_stats", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 3L, 5L)))
    assert(r.getDouble(3) === 1.25)
    assert(r.getLong(4) === 450000L && r.getLong(5) === 1800000L)
  }

  test("average precision hits the hand ranking and NULLs with no positives") {
    // descending scores: $3 (pos) → P=1/1; $2 (neg) skipped; $1 (pos)
    // → P=2/3. AP = (1 + 2/3)/2 = 5/6 = 0.833333
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "purchase", 3.0, "{}"), (2L, 0L, 1L, "view", 2.0, "{}"),
      (3L, 0L, 1L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("eval_average_precision", dir).collect().head
    assert((r.getLong(0), r.getLong(1)) === ((3L, 2L)))
    assert(r.getDouble(2) === 0.833333)
    val neg = stageTables("events" -> Seq(
      (1L, 0L, 1L, "view", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(run("eval_average_precision", neg).collect().head.isNullAt(2))
  }

  test("cochran q matches the hand table and NULLs on unanimous agreement") {
    // per-row correctness (A=v≥$50, B=user-mean≥$50, C=even-id):
    // r1 (u1, id2, purchase $60) → (1,1,1); r2 (u2, id3, view $30) →
    // (1,1,1); r3 (u3, id5, purchase $10) → (0,0,0); r4 (NULL user,
    // id4, view $20) → (1,1,0). G=(3,3,2), L=(3,3,0,2) ⇒
    // Q = 2·(3·22 − 64)/(3·8 − 22) = 4/2 = 2
    val rows = Seq(
      (2L, 0L, 1L, "purchase", 60.0, "{}"), (3L, 0L, 2L, "view", 30.0, "{}"),
      (5L, 0L, 3L, "purchase", 10.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val nullUser = Seq((4L, 0L, "view", 20.0, "{}"))
      .toDF("event_id", "ts", "event_type", "value", "props")
      .withColumn("user_id",
        org.apache.spark.sql.functions.lit(null).cast("long"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = run("stat_cochran_q", stageTables("events" ->
      rows.union(nullUser))).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 3L, 3L, 2L)))
    assert(r.getDouble(4) === 2.0)
    // every classifier right on every row → denominator 0 → NULL
    val agree = stageTables("events" -> Seq(
      (2L, 0L, 1L, "purchase", 60.0, "{}"), (4L, 0L, 2L, "purchase", 70.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(run("stat_cochran_q", agree).collect().head.isNullAt(4))
  }

  test("benjamini-yekutieli is a prefix cut no looser than benjamini-hochberg") {
    val bh = run("stat_fdr_bh").collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    val by = run("stat_benjamini_yekutieli").collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    // step-up: the rejected set is a prefix of the k-ranking
    val rej = by.filter(_._2 === 1L).map(_._1)
    assert(rej.sorted === (1L to rej.length).toSeq,
      "BY rejections must form a k-prefix")
    // the harmonic divisor only shrinks the threshold: BY ⊆ BH
    assert(by.forall { case (k, r) => r <= bh(k) },
      "BY must never reject a hypothesis BH keeps")
  }

  test("survivorship keeps min-id winners and charges cross-source losses") {
    // "dup" lives in A (docs 1, 2) and B (doc 3): winner = doc 1 (A);
    // doc 4 is unique in B. A keeps 1 of 2 (same-source loss); B keeps
    // 1 of 2 and its loss crosses to A.
    val docs = Seq(
      (1L, "en", "srcA", "dup"), (2L, "en", "srcA", "dup"),
      (3L, "en", "srcB", "dup"), (4L, "en", "srcB", "uniq"))
      .toDF("doc_id", "lang", "source", "text")
    val got = run("dedup_survivorship_report", stageTables("documents" -> docs))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      "srcA" -> ((2L, 1L, 1L, 0L)), "srcB" -> ((2L, 1L, 1L, 1L))))
  }

  test("systematic sampling takes ranks 1, 8, 15 and checksums them exactly") {
    val rows = (1L to 15L).map(i => (i, 0L, 1L, "t", i.toDouble, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("sample_systematic", dir).collect().head
    // ranks 1, 8, 15 → values $1 + $8 + $15 = 2400 cents
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((15L, 3L, 2400L, 15L)))
  }

  test("paired t matches the two-user closed form and drops unpaired users") {
    // u1: era1 $10 vs era0 $4 → d = 600; u2: $8 vs $6 → d = 200;
    // u3 appears only in era 1 and must not pair.
    // t = 800·√1/√(2·400000 − 640000) = 800/400 = 2
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "t", 10.0, "{}"), (2L, 0L, 1L, "t", 4.0, "{}"),
      (3L, 0L, 2L, "t", 8.0, "{}"), (4L, 0L, 2L, "t", 6.0, "{}"),
      (5L, 0L, 3L, "t", 99.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_ttest_paired", dir).collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 400L)
    assert(r.getDouble(2) === 2.0)
  }

  test("rolling corr is 1 on proportional series and NULL on the 1-point window") {
    val hns = (h: Long) => h * 3600000L * 1000000L
    // view = 2 × purchase at every common hour ⇒ every window with
    // n ≥ 2 scores exactly 1; the first hour's window has one point
    // (zero variance) and must emit NULL
    val rows = (0L until 26L).flatMap(h => Seq(
      (1000L + h, hns(h), 1L, "purchase", (h + 1).toDouble, "{}"),
      (2000L + h, hns(h), 1L, "view", 2.0 * (h + 1), "{}")))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("window_rolling_corr", dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(got(0L).isNaN)
    assert((1L until 26L).forall(h => got(h) === 1.0))
  }

  test("heaps fit recovers the planted doubling-growth exponent 1/2") {
    // cumulative (tokens, vocab) checkpoints: (2,2), (4,3), (8,4) —
    // x = ln2·{1,2,3}, y = {ln2, ln3, ln4} ⇒ OLS slope = ln2/(2·ln2)
    // = 0.5 exactly; intercept = ln(3)/3
    val docs = Seq(
      (0L, "en", "s", "a b"), (1L, "en", "s", "a c"),
      (2L, "en", "s", "a b c d"))
      .toDF("doc_id", "lang", "source", "text")
    val r = run("corpus_heaps_law", stageTables("documents" -> docs))
      .collect().head
    assert(r.getLong(0) === 3L)
    assert(math.abs(r.getDouble(1) - 0.5) < 1e-4, s"beta = ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - math.log(3.0) / 3) < 1e-4)
  }

  test("sequence-gap audit reconstructs islands, totals, and the widest gap") {
    // observed ids {1,2,3, 120,121, 300} (none ≡ 13 mod 97, so the
    // planted-drop staging filter passes all of them): islands
    // [1..3][120..121][300] ⇒ 2 gaps of 116 and 178, 294 missing —
    // and the island-sum must reconcile with the span arithmetic
    val rows = Seq(1L, 2L, 3L, 120L, 121L, 300L)
      .map(i => (i, 0L, 1L, "t", 1.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("audit_sequence_gaps", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ===
      ((1L, 300L, 6L, 294L, 2L, 294L, 178L)))
  }

  test("duplicate audit finds exactly the planted at-least-once ids") {
    // ids 1..10; the staging plants a second copy of ids ≡ 7 mod 101
    // → only id 7 duplicates: 1 dup id, 1 extra row, multiplicity 2
    val rows = (1L to 10L).map(i => (i, 0L, 1L, "t", 1.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("audit_duplicate_events", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((10L, 1L, 1L, 2L, 7L)))
  }

  test("sign test drops zero diffs and floors the continuity correction") {
    // era = event_id parity; u1..u3 spend more in era 1 (+), u4 less
    // (−), u5 exactly ties (dropped), u6 is unpaired (excluded):
    // z = (|3 − 1| − 1)/√4 = 0.5
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "t", 5.0, "{}"), (2L, 0L, 1L, "t", 1.0, "{}"),
      (3L, 0L, 2L, "t", 6.0, "{}"), (4L, 0L, 2L, "t", 2.0, "{}"),
      (5L, 0L, 3L, "t", 7.0, "{}"), (6L, 0L, 3L, "t", 3.0, "{}"),
      (7L, 0L, 4L, "t", 1.0, "{}"), (8L, 0L, 4L, "t", 9.0, "{}"),
      (9L, 0L, 5L, "t", 4.0, "{}"), (10L, 0L, 5L, "t", 4.0, "{}"),
      (12L, 0L, 6L, "t", 8.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_sign_test", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 1L, 1L)))
    assert(r.getDouble(3) === 0.5)
  }

  test("length histogram bins docs on integer log2 edges") {
    // 1, 3, 5 tokens → bin(n) lengths 1, 2, 3 — the power-of-two edge
    // (n = 1 vs 2) never touches a float
    val docs = Seq(
      (1L, "aa", "s", "a"), (2L, "aa", "s", "a b c"),
      (3L, "aa", "s", "a b c d e"))
      .toDF("doc_id", "lang", "source", "text")
    val got = run("corpus_length_histogram", stageTables("documents" -> docs))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(
      ("aa", 1L, 1L, 1L), ("aa", 2L, 1L, 3L), ("aa", 3L, 1L, 5L)))
  }

  test("unigram drift is 0 on identical eras and ln2-normalized-1 on disjoint") {
    val same = Seq((0L, "en", "s", "a b"), (1L, "en", "s", "a b"))
      .toDF("doc_id", "lang", "source", "text")
    val r0 = run("corpus_unigram_drift", stageTables("documents" -> same))
      .collect().head
    assert(r0.getDouble(3) === 0.0 && r0.getDouble(4) === 0.0)
    // disjoint vocabularies sit at the JSD maximum ln 2; the
    // quantized spelling lands at 0.693148 / 1.000001 exactly
    val disj = Seq((0L, "en", "s", "a a"), (1L, "en", "s", "b b"))
      .toDF("doc_id", "lang", "source", "text")
    val r1 = run("corpus_unigram_drift", stageTables("documents" -> disj))
      .collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((2L, 2L, 2L)))
    assert(r1.getDouble(3) === 0.693148 && r1.getDouble(4) === 1.000001)
  }

  test("norm audit flags the off-unit vector and floors the exact mean") {
    val docs = Seq((1L, "s"), (2L, "s"), (3L, "s")).toDF("doc_id", "source")
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f)),   // ‖v‖² = 1e12 — on contract
      (2L, Seq(0.5f, 0.5f)),   // 5e11 — off contract
      (3L, Seq(0.6f, 0.8f)))   // 1e12 — on contract
      .toDF("vec_id", "embedding")
    val r = run("audit_embedding_norms",
      stageTables("documents" -> docs, "embeddings" -> embs)).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) ===
      ((3L, 500000000000L, 1000000000000L, 833333333333L, 1L)))
  }

  test("manifest snapshot excludes exactly the tombstoned file's rows") {
    // ids 0..7, value = id dollars; the manifest removes file f3
    // (ids ≡ 3 mod 4 → 3 and 7): 6 rows survive, Σ = $18
    val rows = (0L to 7L).map(i => (i, 0L, 1L, "t", i.toDouble, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("scan_manifest_snapshot", dir).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2)) ===
      (("t", 6L, 1800L)))
  }

  test("variance F test matches the hand ratio and NULLs on a constant arm") {
    // era 0 (even ids) = {$1, $3} → s² = 20000; era 1 (odd) = {$1, $2}
    // → s² = 5000 ⇒ F = 4
    val dir = stageTables("events" -> Seq(
      (2L, 0L, 1L, "t", 1.0, "{}"), (4L, 0L, 1L, "t", 3.0, "{}"),
      (1L, 0L, 1L, "t", 1.0, "{}"), (3L, 0L, 1L, "t", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_f_test_variance", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 2L, 1L, 1L)))
    assert(r.getDouble(4) === 4.0)
    // constant denominator arm → NULL, not a division error
    val const = stageTables("events" -> Seq(
      (2L, 0L, 1L, "t", 1.0, "{}"), (4L, 0L, 1L, "t", 3.0, "{}"),
      (1L, 0L, 1L, "t", 5.0, "{}"), (3L, 0L, 1L, "t", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(run("stat_f_test_variance", const).collect().head.isNullAt(4))
  }

  test("weekday profile maps epoch days to Monday-0 and lifts the weekend") {
    val dns = (day: Long) => day * 86400000L * 1000000L
    // day 4 = 1970-01-05, a Monday (dow 0); days 9/10 = Sat/Sun.
    // $1 weekdays, $3 weekend days ⇒ lift = 3
    val rows = Seq(
      (1L, dns(4L), 1L, "t", 1.0, "{}"), (2L, dns(5L), 1L, "t", 1.0, "{}"),
      (3L, dns(9L), 1L, "t", 3.0, "{}"), (4L, dns(10L), 1L, "t", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = run("ts_weekday_profile", stageTables("events" -> rows))
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(got === Map(
      0L -> ((1L, 100L, 100L, 3.0)), 1L -> ((1L, 100L, 100L, 3.0)),
      5L -> ((1L, 300L, 300L, 3.0)), 6L -> ((1L, 300L, 300L, 3.0))))
  }

  test("tukey fence flags exactly the planted spike via integer quartiles") {
    // $1..$11 plus one $100 spike: Q1 = $3, Q3 = $9 (disc picks, n=12)
    // ⇒ fences [−$6, $18] — only the spike sits above, nothing below
    val rows = (1L to 11L).map(i => (i, 0L, 1L, "t", i.toDouble, "{}")) :+
      (12L, 0L, 1L, "t", 100.0, "{}")
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("anomaly_tukey_fence", dir).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) === ((12L, -600L, 1800L, 0L, 1L)))
  }

  test("chi2 goodness is 0 on a uniform mix and exact on a skewed one") {
    val uni = stageTables("events" -> Seq(
      (1L, 0L, 1L, "a", 1.0, "{}"), (2L, 0L, 1L, "a", 1.0, "{}"),
      (3L, 0L, 1L, "b", 1.0, "{}"), (4L, 0L, 1L, "b", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r0 = run("stat_chi2_goodness", uni).collect().head
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2)) === ((2L, 4L, 1L)))
    assert(r0.getDouble(3) === 0.0)
    // {3, 1} vs uniform 2/2: χ² = (2·10 − 16)/4 = 1
    val skew = stageTables("events" -> Seq(
      (1L, 0L, 1L, "a", 1.0, "{}"), (2L, 0L, 1L, "a", 1.0, "{}"),
      (3L, 0L, 1L, "a", 1.0, "{}"), (4L, 0L, 1L, "b", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(run("stat_chi2_goodness", skew).collect().head.getDouble(3) === 1.0)
  }

  test("roc points separate the discriminating threshold") {
    // pos $95, neg $85: thresholds $10..$80 catch both (tpr=1, fpr=1);
    // $90 keeps the positive and drops the negative (tpr=1, fpr=0)
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "purchase", 95.0, "{}"), (2L, 0L, 1L, "view", 85.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("eval_roc_points", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    (1L to 8L).foreach(k =>
      assert(got(k * 1000L) === ((1L, 1L, 1.0, 1.0))))
    assert(got(9000L) === ((1L, 0L, 1.0, 0.0)))
  }

  test("seeded closeness reduces the bfs depths to exact quantized scores") {
    // u1 touches purchase+view, u2 touches purchase only: from the
    // purchase seed → u1, u2 at depth 1, t:view at depth 2.
    // closeness = ⌊3e6/4⌋, harmonic = 1e9 + 1e9 + 5e8
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "purchase", 1.0, "{}"), (2L, 0L, 2L, "purchase", 1.0, "{}"),
      (3L, 0L, 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("graph_closeness_seeded", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 4L, 750000L, 2500000000L)))
  }

  test("cumulative share paces to exactly 1 at the last day") {
    val dns = (day: Long) => day * 86400000L * 1000000L
    val dir = stageTables("events" -> Seq(
      (1L, dns(0L), 1L, "t", 1.0, "{}"), (2L, dns(1L), 1L, "t", 2.0, "{}"),
      (3L, dns(2L), 1L, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("window_cumulative_share", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (0L, 100L, 100L, 0.25), (1L, 200L, 300L, 0.75),
      (2L, 100L, 400L, 1.0)))
  }

  test("ljung-box blows up on periodicity, NULLs on constants and short series") {
    val hns = (h: Long) => h * 3600000L * 1000000L
    // "p": a strong period-6 sawtooth over 72 hours — the portmanteau
    // must reject whiteness decisively; "c": constant (m2n = 0) and
    // "s": only 10 points (n ≤ h) must both yield NULL, never an error
    val rows =
      (0L until 72L).map(h => (1000L + h, hns(h), 1L, "p",
        if (h % 6 == 0) 10.0 else 1.0, "{}")) ++
      (0L until 20L).map(h => (2000L + h, hns(h), 1L, "c", 3.0, "{}")) ++
      (0L until 10L).map(h => (3000L + h, hns(h), 1L, "s", h.toDouble, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("stat_ljung_box", dir).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    assert(got("p") > 50.0, s"periodic Q = ${got("p")}")
    assert(got("c").isNaN && got("s").isNaN)
  }

  test("poisson z compares era rates exactly and survives a one-sided type") {
    // "a": 3 even-id vs 1 odd-id events → ratio 3, z = 2/2 = 1;
    // "b": only odd ids → ratio 0, z = −2/√2
    val dir = stageTables("events" -> Seq(
      (2L, 0L, 1L, "a", 1.0, "{}"), (4L, 0L, 1L, "a", 1.0, "{}"),
      (6L, 0L, 1L, "a", 1.0, "{}"), (1L, 0L, 1L, "a", 1.0, "{}"),
      (3L, 0L, 1L, "b", 1.0, "{}"), (5L, 0L, 1L, "b", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("stat_poisson_ztest", dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") === ((3L, 1L, 3.0, 1.0)))
    assert(got("b") === ((0L, 2L, 0.0, -1.414214)))
  }

  test("cost threshold argmins the asymmetric loss and beats predict-nothing") {
    // pos $95/$60, neg $50/$5 under FP=1, FN=5: cost(t) = npred + 10
    // − 6·tp → t=$95:5, t=$60:0, t=$50:1, t=$5:2 ⇒ best = $60 at 0,
    // predict-nothing baseline = 10
    val dir = stageTables("events" -> Seq(
      (1L, 0L, 1L, "purchase", 95.0, "{}"), (2L, 0L, 1L, "purchase", 60.0, "{}"),
      (3L, 0L, 1L, "view", 50.0, "{}"), (4L, 0L, 1L, "view", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("eval_cost_threshold", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((4L, 2L, 6000L, 0L, 10L)))
  }

  test("one-proportion z is 0 at the design share and exact off it") {
    val at = stageTables("events" -> Seq(
      (1L, 0L, 1L, "purchase", 1.0, "{}"), (2L, 0L, 1L, "view", 1.0, "{}"),
      (3L, 0L, 1L, "click", 1.0, "{}"), (4L, 0L, 1L, "error", 1.0, "{}"),
      (5L, 0L, 1L, "signup", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r0 = run("stat_zprop_one", at).collect().head
    assert((r0.getLong(0), r0.getLong(1), r0.getDouble(2), r0.getDouble(3))
      === ((5L, 1L, 0.2, 0.0)))
    // 3 of 5 purchases: z = (15 − 5)/(2√5) = √5 = 2.236068
    val off = stageTables("events" -> Seq(
      (1L, 0L, 1L, "purchase", 1.0, "{}"), (2L, 0L, 1L, "purchase", 1.0, "{}"),
      (3L, 0L, 1L, "purchase", 1.0, "{}"), (4L, 0L, 1L, "view", 1.0, "{}"),
      (5L, 0L, 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(run("stat_zprop_one", off).collect().head.getDouble(3) === 2.236068)
  }

  test("word-length histogram grids per language with the exact mean") {
    val docs = Seq((1L, "aa", "s", "ab c ab")).toDF("doc_id", "lang", "source", "text")
    val got = run("text_word_length_hist", stageTables("documents" -> docs))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("aa", 1L, 1L, 1.666666), ("aa", 2L, 2L, 1.666666)))
  }

  test("top-n share carves the exact whale slice of revenue") {
    // user u spends $u, u = 1..12: top-10 = users 3..12 ⇒ 7500 of
    // 7800 cents → share ⌊10⁶·7500/7800⌋ = 0.961538
    val rows = (1L to 12L).map(u => (u, 0L, u, "t", u.toDouble, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("agg_topn_share", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((12L, 10L, 7500L, 7800L)))
    assert(r.getDouble(4) === 0.961538)
  }

  test("cms estimates dominate exact counts and rank the true top-10") {
    // user k appears k times, k = 1..20: top-10 = users 20..11; with 20
    // keys in a 4×256 grid an ALL-4-depth collision is (1/256)⁴-rare,
    // so every estimate is exact here — and ≥ exact structurally
    val rows = (1L to 20L).flatMap(k => (1L to k).map(i =>
      (k * 100 + i, 0L, k, "t", 1.0, "{}")))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("agg_cms_estimate", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === (20L to 11L by -1L).toSeq)
    assert(got.forall { case (u, ex, est, over) =>
      ex === u && est >= ex && over === est - ex })
    assert(got.forall { case (_, ex, est, _) => est === ex })
  }

  test("kmv below k distinct IS the exact set: estimate equals exact") {
    // 10 distinct users, each duplicated 3× (duplicates must not eat
    // LIMIT slots — the distinct-hash law): nk = 10 < 64 ⇒ est = exact
    val rows = (1L to 10L).flatMap(u => (1L to 3L).map(i =>
      (u * 10 + i, 0L, u, "t", 1.0, "{}")))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("agg_kmv_distinct", dir).collect().head
    assert(r.getLong(0) === 10L)     // n_exact
    assert(r.getLong(1) === 10L)     // k_used < 64
    assert(r.getLong(3) === 10L)     // kmv_est = exact
    assert(r.getBoolean(4))
  }

  test("linear counting in its sparse regime is near-exact and flagged") {
    // 30 distinct users in 4096 buckets: collisions are ~0.4%-rare, so
    // n_zero ≥ 4066 and the estimate stays inside the 5% gate
    val rows = (1L to 30L).map(u => (u, 0L, u, "t", 1.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("agg_linear_counting", dir).collect().head
    assert(r.getLong(0) === 30L && r.getLong(1) === 4096L)
    assert(r.getLong(2) >= 4066L) // z = m − bits set
    assert(r.getBoolean(4))
  }

  test("bartlett statistic is exactly 0 for equal-variance groups") {
    // {1,2,3} vs {4,5,6} dollars: both variances 1e4 cents², pooled
    // ln cancels term-by-term through the 1e6 quantization
    val rows = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 4.0), (5L, "b", 5.0), (6L, "b", 6.0))
      .map { case (id, g, v) => (id, 0L, 1L, g, v, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_bartlett", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) === ((2L, 6L, 1L)))
    assert(r.getDouble(2) === 0.0)
  }

  test("yule's k closed form: 'a a b' scores 10⁴·(5−3)/9") {
    val dir = stageTables("documents" -> Seq(
      (1L, "a a b", "s0")).toDF("doc_id", "text", "source"))
    val r = run("text_yule_k", dir).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2)) === (("s0", 2L, 3L)))
    assert(r.getDouble(3) === 2222.222222)
  }

  test("burstiness separates a clumping word from a uniform one") {
    // over 4 docs: 'x' = [2,2,0,0] → mean 1, var 1, fano 1, B 0;
    // 'y' = [1,1,1,1] → var 0, fano 0, B = −1 (the uniform floor)
    val dir = stageTables("documents" -> Seq(
      (1L, "x x y", "s"), (2L, "x x y", "s"),
      (3L, "y", "s"), (4L, "y", "s")).toDF("doc_id", "text", "source"))
    val got = run("text_burstiness", dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got("x") === ((2L, 4L, 1.0, 0.0)))
    assert(got("y") === ((4L, 4L, 0.0, -1.0)))
  }

  test("katz closed form counts walks on a 4-node bipartite path") {
    // u1→{a,b}, u2→{a}: w₁ = (a:2, b:1, u1:2, u2:1), w₂ = (3,2,3,2),
    // w₃ = (5,3,5,3) ⇒ katz = 100w₁+10w₂+w₃ = (235, 123, 235, 123)
    val rows = Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 2L, "a"))
      .map { case (id, u, ty) => (id, 0L, u, ty, 1.0, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("graph_katz_centrality", dir).collect()
      .map(r => (r.getString(0), r.getLong(4)))
    assert(got.toSeq === Seq(("t:a", 235L), ("u:1", 235L),
      ("t:b", 123L), ("u:2", 123L)))
  }

  test("sax words a two-level step series as aaaddd") {
    // 12 days, first half $0/day, second half $2/day: z = ∓1 per day,
    // 6 segments of 2 days ⇒ paa −1,−1,−1,+1,+1,+1 → a,a,a,d,d,d
    val day = 86400000L * 1000000L
    val rows = (0L to 11L).map(dd =>
      (dd, dd * day, 1L, "t", if (dd < 6) 0.0 else 2.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("ts_sax_symbols", dir).collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getString(4)))
    assert(got.toSeq === Seq((0L, -1.0, "a"), (1L, -1.0, "a"),
      (2L, -1.0, "a"), (3L, 1.0, "d"), (4L, 1.0, "d"), (5L, 1.0, "d")))
  }

  test("friedman reaches its k=3 maximum on perfectly consistent blocks") {
    // both users rank a<b<c: R2 = (4, 8, 12) ⇒ Q = 3·224/24 − 24 = 4,
    // the k=3, n=2 ceiling
    val rows = for {
      u <- Seq(1L, 2L); (ty, v) <- Seq(("a", 1.0), ("b", 2.0), ("c", 3.0))
    } yield (u * 10 + v.toLong, 0L, u, ty, v, "{}")
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_friedman", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) === ((3L, 2L, 2L)))
    assert(r.getDouble(2) === 4.0)
  }

  test("blocklist is token-exact: 'slower' does not trip 'slow'") {
    val dir = stageTables("documents" -> Seq(
      (1L, "slower is fine", "s"), (2L, "slow here", "s"),
      (3L, "clean doc", "s")).toDF("doc_id", "text", "source"))
    val r = run("quality_blocklist_filter", dir).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 1L, 2L)))
    assert(r.getDouble(4) === 0.666666)
  }

  test("silhouette of an all-identical corpus is exactly 0 everywhere") {
    // every vector equals every centroid: a = b = 0 ⇒ the conventional
    // s = 0, no negatives — the degenerate floor of the score
    val emb = (0L until 16L).map(i =>
      (i, Array.fill(8)(0.5f), i % 2))
    val dir = stageTables("embeddings" -> emb
      .toDF("vec_id", "embedding", "label"))
    val got = run("sim_silhouette", dir).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getDouble(2) === 0.0 && r.getLong(3) === 0L))
    assert(got.map(_.getLong(1)).sum === 16L)
  }

  test("hurst of a pure ramp approaches 1 with the exact closed form") {
    // daily cents 0,100,...,1500 over 16 days: R/S = 1.788854 / 3.491486
    // / 6.941775 at w = 4/8/16 ⇒ H = (ln rs16 − ln rs4)/(2 ln 2)
    val day = 86400000L * 1000000L
    val rows = (0L to 15L).map(i => (i, i * day, 1L, "t", i.toDouble, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("ts_hurst_rs", dir).collect().head
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2)) ===
      ((1.788854, 3.491486, 6.941775)))
    assert(r.getDouble(3) === 0.978134)
  }

  test("f-beta argmaxes move with beta on a hand-ranked sweep") {
    // scores 40/30/20/10, labels +,−,+,−: F½ peaks at the precise top-1
    // cut (thr 4000), F1 and F2 at the recall-complete cut (thr 2000)
    val rows = Seq((1L, "purchase", 40.0), (2L, "view", 30.0),
      (3L, "purchase", 20.0), (4L, "view", 10.0))
      .map { case (id, ty, v) => (id, 0L, 1L, ty, v, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("eval_fbeta_sweep", dir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq((50L, 4000L, 0.833333),
      (100L, 2000L, 0.8), (200L, 2000L, 0.909090)))
  }

  test("markov removal effect matches the hand-propagated 3-user chain") {
    // u1: click→conv, u2: click→view→(null), u3: view→conv.
    // full: p = 0.666666665 (two floor steps of thirds); removing
    // click leaves only the view path (0.166666666 ⇒ effect 0.75),
    // removing view only the click path (0.333333333 ⇒ 0.499999)
    val ns = 1000000L
    val rows = Seq(
      (11L, 0L, 1L, "click"), (12L, ns, 1L, "purchase"),
      (21L, 0L, 2L, "click"), (22L, ns, 2L, "view"),
      (31L, 0L, 3L, "view"), (32L, ns, 3L, "purchase"))
      .map { case (id, ts, u, ty) => (id, ts, u, ty, 1.0, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("seq_attribution_markov_removal", dir).collect()
      .map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
    assert(got.toSeq === Seq(
      ("click", 0.166666666, 0.75),
      ("full", 0.666666665, -1.0),
      ("view", 0.333333333, 0.499999)))
  }

  test("binary segmentation names the planted mean-shift day exactly") {
    // $1/day for days 0..9 then $5/day for days 10..19: the SSE-optimal
    // split is after day 9 — levels 100 and 500 cents recovered exactly
    val day = 86400000L * 1000000L
    val rows = (0L to 19L).map(i =>
      (i, i * day, 1L, "t", if (i < 10) 1.0 else 5.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("ts_changepoint_binseg", dir).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) === ((9L, 10L, 10L, 100L, 500L)))
  }

  test("filtered ann: post-filter bounds hold and the exact leg fills k") {
    // 47 label-1 vectors at sf0.001 ⇒ the exact leg always returns 5;
    // the IVF leg may return fewer (the post-filter shortfall the key
    // exists to expose) and overlap can never exceed either leg
    val got = run("sim_ann_filtered").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 3)
    assert(got.forall { case (ivf, ex, ov) =>
      ex === 5L && ivf <= 5L && ov <= ivf && ov <= ex })
  }

  test("equalized odds: a no-positive cohort reports NULL and leaves the gap") {
    // cohort 0: tp/fn/fp/tn each once → tpr = fpr = 0.5; cohort 1 has
    // no positives → tpr NULL, excluded from the tpr gap (both gaps 0)
    val rows = Seq(
      (1L, 0L, "purchase", 60.0), (2L, 0L, "purchase", 10.0),
      (3L, 0L, "view", 70.0), (4L, 0L, "view", 10.0),
      (5L, 1L, "view", 60.0), (6L, 1L, "view", 10.0))
      .map { case (id, u, ty, v) => (id, 0L, u, ty, v, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("eval_equalized_odds", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq === Seq(
      (0L, 2L, 0.5, 0.5, 0.0, 0.0), (1L, 0L, -1.0, 0.5, 0.0, 0.0)))
  }

  test("cochran-armitage scores a perfect monotone trend at z = 2") {
    // cohorts 0/1/2 with shares 0, ½, 1 over n = 2 each: T·√N/√Var
    // collapses to exactly 2
    val rows = Seq((0L, "view"), (0L, "view"), (1L, "purchase"),
      (1L, "view"), (2L, "purchase"), (2L, "purchase"))
      .zipWithIndex.map { case ((u, ty), i) => (i.toLong, 0L, u, ty, 1.0, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_cochran_armitage", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 6L, 3L)))
    assert(r.getDouble(3) === 2.0)
  }

  test("contamination deciles: full copy 10, disjoint 0, short doc −1") {
    val bench = "a b c d e f g h"
    val dir = stageTables("documents" -> Seq(
      (0L, bench, "s"), (1L, bench, "s"),
      (2L, "q r s t u v w x", "s"), (3L, "short doc", "s"))
      .toDF("doc_id", "text", "source"))
    val got = run("corpus_contamination_score", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((-1L, 1L), (0L, 1L), (10L, 1L)))
  }

  test("fanout replay: sinks agree and the ledger covers the archive") {
    val got = run("replay_fanout_consistent").collect()
    assert(got.map(_.getLong(1)).sum === 1000L)
    assert(got.forall(_.getLong(3) === 0L), "symmetric difference must be 0")
  }

  test("time split embargoes exactly one day after the 80% cutoff") {
    // one event per day, days 0..10: cutoff = day 8 (train 9 rows),
    // embargo = (8, 9] (1 row), test > day 9 (1 row)
    val day = 86400000L * 1000000L
    val rows = (0L to 10L).map(i => (i, i * day, 1L, "t", 1.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("sample_time_split", dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
    assert(got.toSeq === Seq(("embargo", 1L, 0.090909),
      ("test", 1L, 0.090909), ("train", 9L, 0.818181)))
  }

  test("recursive cte walks the derived id-tree to the right depths") {
    // users {1,2,3,6}: 1 is the root (parent 0 absent), 2 and 3 hang
    // off it, 6 hangs off 3 ⇒ histogram (0:1, 1:2, 2:1)
    val rows = Seq(1L, 2L, 3L, 6L).zipWithIndex.map { case (u, i) =>
      (i.toLong, 0L, u, "t", 1.0, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("sql_recursive_cte", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("isotonic fit pools the adjacent violators exactly") {
    // bucket rates 0.5, 0.0, 1.0 (n = 2 each): PAV pools the first two
    // into 0.25 and leaves the third ⇒ fitted 0.25, 0.25, 1.0
    val rows = Seq((5.0, "purchase"), (5.0, "view"), (15.0, "view"),
      (15.0, "view"), (25.0, "purchase"), (25.0, "purchase"))
      .zipWithIndex.map { case ((v, ty), i) => (i.toLong, 0L, 1L, ty, v, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("eval_calibration_isotonic", dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq((0L, 0.5, 0.25), (1L, 0.0, 0.25),
      (2L, 1.0, 1.0)))
  }

  test("kmv set ops below k are the exact sets") {
    // click-big users {1..6}, error-big {4..9}: below k = 128 the
    // sketch IS the set — intersection {4,5,6}, union {1..9}, flags true
    val rows =
      (1L to 6L).map(u => (u, 0L, u, "click", 95.0, "{}")) ++
        (4L to 9L).map(u => (100 + u, 0L, u, "error", 95.0, "{}")) ++
        Seq((200L, 0L, 1L, "click", 10.0, "{}")) // below the $90 gate
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("agg_kmv_set_ops", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((6L, 6L, 3L, 9L, 9L, 3L)))
    assert(r.getBoolean(6) && r.getBoolean(7))
  }

  test("kmv set difference below k is the exact difference; the theta partition holds") {
    // click-big {1..6}, error-big {4..9}: A∖B = {1,2,3}, B∖A = {7,8,9};
    // below k the estimates ARE the exact counts and the below-θ
    // only_a + only_b + common partition must account for every
    // retained union hash
    val rows =
      (1L to 6L).map(u => (u, 0L, u, "click", 95.0, "{}")) ++
        (4L to 9L).map(u => (100 + u, 0L, u, "error", 95.0, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("agg_kmv_diff", dir).collect().head
    assert((r.getLong(0), r.getLong(1)) === ((6L, 6L)))
    assert((r.getLong(2), r.getLong(3)) === ((3L, 3L)), "exact diffs")
    assert((r.getLong(4), r.getLong(5)) === ((3L, 3L)),
      "below-k estimates degrade to the exact sets")
    assert(r.getBoolean(6), "partition law")
    assert(r.getBoolean(7) && r.getBoolean(8))
  }

  test("mood's median test scores a clean 2×2 split at chi2 = 4") {
    // {$1,$2} vs {$3,$4}: grand lower median 200 cents, groups sit
    // entirely on opposite sides ⇒ every cell contributes 1
    val rows = Seq((1L, "a", 1.0), (2L, "a", 2.0),
      (3L, "b", 3.0), (4L, "b", 4.0))
      .map { case (id, g, v) => (id, 0L, 1L, g, v, "{}") }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("stat_mood_median", dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)) ===
      ((2L, 4L, 200L, 1L)))
    assert(r.getDouble(3) === 4.0)
  }

  test("pacf closes the durbin-levinson recursion on a 6-point ramp") {
    // hourly cents 100..600: r = (0.5, 0.057143, −0.271429) and the
    // depth-3 recursion gives φ22 = −0.257143, φ33 = −0.255245
    val hour = 3600000L * 1000000L
    val rows = (1L to 6L).map(i => (i, i * hour, 1L, "t", i.toDouble, "{}"))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("ts_pacf_lags", dir).collect().head
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) ===
      ((0.5, 0.057143, -0.271429)))
    assert((r.getDouble(4), r.getDouble(5), r.getDouble(6)) ===
      ((0.5, -0.257143, -0.255245)))
  }

  test("audio energy flags exactly the planted silent window") {
    // doc 4 (≡ 0 mod 4) has window 0 forced silent; doc 1 does not
    val dir = stageTables("documents" -> Seq(
      (1L, "x", "en"), (4L, "y", "en")).toDF("doc_id", "text", "lang"))
    val r = run("multimodal_audio_energy", dir).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 8L, 1L)))
    assert(r.getLong(5) > 0L)
  }

  test("cms merge is exact: sharded grids sum to the direct build") {
    // user k appears k times spread across 2 shards: merged estimates
    // must equal the direct ones bit-for-bit (counting is linear)
    val rows = (1L to 20L).flatMap(k => (1L to k).map(i =>
      (k * 100 + i, 0L, k, if (i % 2 == 0) "a" else "b", 1.0, "{}")))
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = run("agg_cms_merge", dir).collect()
    assert(got.length === 10)
    assert(got.forall(r => r.getBoolean(4) && r.getBoolean(5)))
    assert(got.map(_.getLong(0)).toSeq === (20L to 11L by -1L).toSeq)
  }

  test("cross-correlation peaks at the planted one-day lead") {
    // clicks on day d count d+1 (d = 0..3); purchases the NEXT day with
    // the same count: the lag-+1 pairs are identical series ⇒ r = 1
    val day = 86400000L * 1000000L // ns per day
    val rows = (0L to 3L).flatMap { dd =>
      (0L to dd).flatMap(i => Seq(
        (dd * 100 + i, dd * day, 1L, "click", 1.0, "{}"),
        (dd * 100 + 50 + i, (dd + 1) * day, 1L, "purchase", 1.0, "{}")))
    }
    val dir = stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val byLag = run("ts_cross_correlation", dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byLag(1L).getDouble(2) === 1.0)
    assert(byLag.size === 7)
  }
}
