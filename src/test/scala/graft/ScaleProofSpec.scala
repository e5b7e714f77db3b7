package graft

import org.apache.spark.sql.functions._

/** Scale-proofing regressions for the round-4 rewrites: the 64-bit
  * SimHash and the banded random-hyperplane embedding LSH must (a) still
  * find true near-duplicates and (b) generate provably sub-quadratic
  * candidate volumes; the native session_window operator must agree with
  * its lag+cumsum twin; the gzip NDJSON round trip must be lossless.
  * All tests drive the REAL `SparkEntry.queries` functions.
  */
class ScaleProofSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.map { case (id, text) => (id, text, "en", "s1", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("simhash-64: exact and near-identical docs collide within Hamming 3") {
    val shared = (0 until 200).map(i => s"tok$i").mkString(" ")
    val dir = stageTables("documents" -> docsDf(Seq(
      1L -> shared,
      2L -> shared, // exact dup → Hamming 0
      3L -> (shared + " extratoken"), // near dup → tiny Hamming
      4L -> (100 until 300).map(i => s"other$i").mkString(" "),
      5L -> (500 until 700).map(i => s"far$i").mkString(" "))))
    val pairs = run("dedup_simhash", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) === 0L)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 3L)
    assert(!pairs.contains((4L, 5L)) && !pairs.contains((1L, 4L)))
  }

  test("simhash-64: candidate volume is far below the all-pairs product") {
    val n = graft.core.Tables.t(spark, sf, "documents").count()
    val cand = graft.ops.LlmPipeline2.simhashCandidates(spark, sf).count()
    // 4 bands × cap 100 bounds candidates at O(N·cap); on real data the
    // 16-bit chunks are near-unique so candidates are a sliver of N²/2.
    assert(cand <= 4L * 100L * n)
    assert(cand < n * (n - 1) / 2 / 10, s"cand=$cand n=$n")
  }

  test("embedding LSH: candidate volume is guard-bounded and sub-quadratic") {
    val n = graft.core.Tables.t(spark, sf, "embeddings").count()
    val cand = graft.ops.LlmPipeline2.embCandidates(spark, sf).count()
    assert(cand <= 8L * 100L * n) // bands × hot-bucket cap × N
    assert(cand < n * (n - 1) / 2 / 4, s"cand=$cand n=$n")
  }

  test("embedding LSH: near-identical vectors land in the dedup output") {
    // vec 2 = vec 1 with one component nudged; vec 3 orthogonal-ish.
    val base = (1 to 64).map(i => if (i % 2 == 0) 0.125f else -0.125f)
    val near = base.updated(0, -0.120f)
    val far = (1 to 64).map(i => if (i % 3 == 0) 0.2f else 0.01f)
    val dir = stageTables("embeddings" ->
      Seq((1L, base, 0), (2L, near, 0), (3L, far, 1))
        .toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>")))
    val pairs = run("dedup_embedding_cosine", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("native session_window agrees with the lag+cumsum sessionization twin") {
    val native = run("stream_session_window")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val twin = run("stream_session").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(native === twin)
  }

  test("dedup_cluster: min-label propagation closes a transitive chain") {
    // B is the concatenation A ++ C of two disjoint docs: the MinHash
    // bands propose A–B and B–C but NOT A–C (verified: this exact
    // fixture yields exactly those two candidate edges — md5 makes it
    // stable), so only multi-hop propagation puts all three in one
    // cluster labeled by the smallest doc_id. Doc 9 is unrelated (no
    // edges) and must not appear in the output at all.
    val a = (0 until 40).map(i => s"a0x$i").mkString(" ")
    val c = (0 until 40).map(i => s"c0y$i").mkString(" ")
    val b = a + " " + c
    val far = (0 until 60).map(i => s"z$i").mkString(" ")
    val dir = stageTables("documents" -> docsDf(Seq(
      1L -> a, 2L -> b, 3L -> c, 9L -> far)))
    val rows = run("dedup_cluster", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet === Set(1L, 2L, 3L))
    assert(rows.values.toSet === Set((1L, 3L)))
    // sanity: A and C really do NOT collide directly — the cluster is a
    // propagation result, not one big band bucket
    val cand = run("dedup_near_minhash", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cand.contains((1L, 3L)))
    assert(cand.contains((1L, 2L)) && cand.contains((2L, 3L)))
  }

  test("heavy-hitters sketch keeps the majority token through evictions and merges") {
    import org.apache.spark.unsafe.types.UTF8String
    // capacity 2, stream dominated by "hot": Misra-Gries guarantees any
    // token with frequency > n/(cap+1) = n/3 survives — drive update
    // and an out-of-order merge directly against the aggregate class.
    val agg = graft.functions.HeavyHitters(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true), 2)
    def feed(tokens: Seq[String]) = {
      val buf = agg.createAggregationBuffer()
      tokens.foreach { t =>
        agg.update(buf,
          org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(t)))
      }
      buf
    }
    val b1 = feed(Seq("hot", "a", "hot", "b", "hot", "c", "hot"))
    val b2 = feed(Seq("hot", "d", "hot", "e", "hot"))
    assert(b1.size <= 2 && b2.size <= 2)
    // serialization round trip (the shuffle path) then merge
    val merged = agg.merge(agg.deserialize(agg.serialize(b1)),
      agg.deserialize(agg.serialize(b2)))
    assert(merged.size <= 2)
    assert(merged.keys.map(_.toString).toSet.contains("hot"))
  }

  test("agg_heavy_hitters returns exactly the above-threshold set on a skewed fixture") {
    // 10 heavy tokens (counts 50..41, all above n/65 of n=655) over a
    // 200-singleton tail: the sketch must retain every heavy token
    // through evictions and the exact re-count must discard the whole
    // tail (counts of 1 are far below the support threshold).
    val words = (0 until 10).flatMap(i => Seq.fill(50 - i)(s"hh$i")) ++
      (0 until 200).map(i => s"tail$i")
    val dir = stageTables("documents" -> docsDf(Seq(1L -> words.mkString(" "))))
    val got = run("agg_heavy_hitters", dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === (0 until 10).map(i => (s"hh$i", (50 - i).toLong)))
  }

  test("sink_compact: 64 ingest fragments compact to size-targeted files, losslessly") {
    val (summary, before, after) = graft.ops.ScaleOps.compactRun(spark, sf)
    assert(before === 64, "the staged small-file problem should be 64 fragments")
    assert(after >= 1 && after < 8, s"compaction should merge to a few files, got $after")
    // lossless: the exact id checksum over the compacted output equals
    // the checksum over the original archive
    val compacted = summary.agg(sum($"sum_id")).collect()(0).getLong(0)
    val original = graft.core.Tables.events(spark, sf)
      .agg(sum($"event_id")).collect()(0).getLong(0)
    assert(compacted === original)
  }

  // ---- sf0.1→sf1 ratio-tail pins (VERDICT r11 ask #2) ----------------
  // BENCH_sf1.json measures every key at sf0.1 and the deterministic
  // synthesized sf1 (graft.StageSf1). The measured per-key time ratios
  // are pinned here: every key must stay SUB-LINEAR-OR-LINEAR in the
  // 10× data (global bound), keys outside the documented tail must stay
  // well under it, and each documented tail key carries its structural
  // explanation — a new key drifting into the tail fails this suite
  // until it is either re-planned or explained below.

  /** Keys measured >4.5× for 10× data, each with the audited structural
    * driver of its growth (the explanation IS the whitelist entry).
    */
  private val ratioTail: Map[String, String] = Map(
    "sim_silhouette" ->
      ("routing-width growth ACROSS THE K-BRANCH: since round 14 the " +
        "b(i) candidate set is exact one-vs-all-K at K ≤ 64 (the sf0.1 " +
        "leg, K=32 — N·K with a branch-bounded K) and the two-level " +
        "router (O(N·√K), pinned below) above (the sf1 leg, K=320) — " +
        "the ratio therefore compares two branch costs, both " +
        "sub-quadratic; the former unconditional one-vs-all-K N²/64 " +
        "law this key used to carry is gone"),
    "dedup_fuzzy_levenshtein" ->
      ("vocabulary-bounded since round 13: the ledger is (brand, len) " +
        "arithmetic, copies collapse to multiplicities, and only " +
        "DISTINCT names enumerate through the PassJoin segment join — " +
        "growth is the group-count scan plus a constant vocabulary, " +
        "so the ratio asymptotes toward the data ratio"),
    "window_rolling_slope" ->
      ("scan-linear: the window input is the calendar-bounded hourly " +
        "ledger (|types|×|hours| rows, CONSTANT across SF) — all growth " +
        "is the fact scan + partial agg, which asymptotes toward the " +
        "data ratio as fixed cost amortizes"),
    "window_nth_value" ->
      ("output-linear: per-user window partitions stay constant-size " +
        "(events/user preserved by StageSf1); rows in AND out scale " +
        "10×, so the ratio asymptotes toward the data ratio — the " +
        "healthy shape for a linear operator"),
    "window_first_last" ->
      ("output-linear: single partial+final min_by/max_by agg whose " +
        "output is one row per user — 10× users → 10× output rows; " +
        "no super-linear term exists in the plan"),
    "dedup_cluster" ->
      ("edge-linear: star-sparsified candidate edges (Σ(m−1) per band " +
        "bucket — the sf10 leg exposed the pairwise Σm²/2 blow-up on " +
        "duplicate cliques and drove the sparsification) folded by the " +
        "adaptive CC engine — a 2-round propagation probe, then " +
        "large-star/small-star contraction (O(log n) rounds) when the " +
        "frontier floods — each round shuffling the ∝N edge table"),
    "zorder_cluster" ->
      ("write-linear: the z-order rewrite re-encodes and re-writes " +
        "every row — 10× rows → 10× parquet encode+write work; the " +
        "interleave arithmetic itself is per-row constant"))

  test("sf1 scaling record: no super-linear key, tail documented (BENCH_sf1.json)") {
    val f = new java.io.File("BENCH_sf1.json")
    assume(f.exists(), "BENCH_sf1.json not present in this checkout")
    val rec = spark.read.option("multiLine", "true").json(f.getPath)
    val q = rec.select("queries.*")
    val row = q.collect()(0)
    val ratios = q.schema.fields.zipWithIndex.flatMap { case (fld, i) =>
      if (row.isNullAt(i)) None
      else {
        val st = row.getStruct(i)
        val j = st.schema.fieldIndex("ratio")
        if (st.isNullAt(j)) None
        else Some(fld.name -> st.getDouble(j))
      }
    }
    assert(ratios.length > 300, "the record must cover the full surface")
    val superLinear = ratios.filter(_._2 > 12.0)
    assert(superLinear.isEmpty,
      s"key(s) scale SUPER-linearly in 10x data: ${superLinear.mkString(", ")}")
    val undocumented = ratios
      .filter { case (k, r) => r > 5.5 && !ratioTail.contains(k) }
    assert(undocumented.isEmpty,
      "key(s) drifted into the ratio tail without a structural " +
        s"explanation in ratioTail: ${undocumented.mkString(", ")}")
    val tailBlown = ratios
      .filter { case (k, r) => ratioTail.contains(k) && r > 7.5 }
    assert(tailBlown.isEmpty,
      s"documented tail key(s) exceed their envelope: ${tailBlown.mkString(", ")}")
    val med = ratios.map(_._2).sorted.apply(ratios.length / 2)
    assert(med <= 3.0, s"median per-key ratio regressed to $med")
  }

  /** The sf10 leg deliberately EXCLUDES the structurally super-linear
    * keys — measuring them at 100× corpus would only re-demonstrate
    * the quadratics already pinned above, at minutes of cost each. The
    * exclusion list is versioned here so a future round can't silently
    * widen it: each entry names the pinned structural driver.
    */
  private val sf10Excluded: Map[String, String] = Map.empty

  /** sf1→sf10 keys measured above 8× for 10× data, each carrying its
    * audited structural driver (the sf10 analogue of [[ratioTail]]).
    */
  private val sf10Tail: Map[String, String] = Map.empty
  // EMPTY since round 15: the former tail was re-planned away —
  // sql_recursive_cte 9.14 → 7.37 (broadcast-frontier hint into the
  // UnionLoop step join), dedup_cluster 7.99 → 5.1 (adaptive CC:
  // 2-round probe then star contraction), join_skew_aqe 7.75 → 5.9
  // (archive-size-derived skew thresholds), join_skew_salted
  // 7.88 → <4.9 (hot-key-mass-derived salt fan-out). A key drifting
  // back above 8× must earn a new entry here with its structural
  // driver, like those once did.

  test("sf10 scaling record: the 100 heaviest scale-path keys stay sub-linear (BENCH_sf10.json)") {
    // the second measured decade, widened from 25 to the top-100 keys
    // by sf1 cost (VERDICT r13 ask #1): sf1 → the synthesized 100×
    // corpus (StageSf1, copies=100). Every measured key must cost at
    // most the data ratio for 10× more data (≤12 envelope, same as the
    // sf1 record); anything above 8× needs a structural explanation in
    // [[sf10Tail]].
    val f = new java.io.File("BENCH_sf10.json")
    assume(f.exists(), "BENCH_sf10.json not present in this checkout")
    val rec = spark.read.option("multiLine", "true").json(f.getPath)
    val q = rec.select("queries.*")
    val row = q.collect()(0)
    val ratios = q.schema.fields.zipWithIndex.flatMap { case (fld, i) =>
      if (row.isNullAt(i)) None
      else {
        val st = row.getStruct(i)
        val j = st.schema.fieldIndex("ratio")
        if (st.isNullAt(j)) None else Some(fld.name -> st.getDouble(j))
      }
    }
    assert(ratios.length >= 100, "the record must cover the 100-key set")
    assert(ratios.map(_._1).toSet.intersect(sf10Excluded.keySet).isEmpty,
      "an excluded super-linear key leaked into the measured set")
    val superLinear = ratios.filter(_._2 > 12.0)
    assert(superLinear.isEmpty,
      s"key(s) scale SUPER-linearly in 10x data at the sf10 leg: " +
        superLinear.mkString(", "))
    val undocumented = ratios
      .filter { case (k, r) => r > 8.0 && !sf10Tail.contains(k) }
    assert(undocumented.isEmpty,
      "key(s) above 8× at the sf10 leg without a structural " +
        s"explanation in sf10Tail: ${undocumented.mkString(", ")}")
    val med = ratios.map(_._2).sorted.apply(ratios.length / 2)
    assert(med <= 4.5, s"median sf1→sf10 per-key ratio regressed to $med")
  }

  /** Third measured decade (sf10 → sf30, data ratio 3) — VERDICT r13
    * ask #6: the five keys whose scale laws were rewritten in rounds
    * 13–14 carry closed-form cost models, and the measured ratio at a
    * THIRD point must track the model, the way the first two decades
    * pinned the totals. Envelopes are model × slack (fixed-cost
    * amortization pulls measured ratios BELOW the model; the slack
    * absorbs scheduling noise, never a complexity class).
    */
  private val sf30Models: Map[String, (Double, String)] = Map(
    "sim_silhouette" ->
      ((5.2, "routed E-step O(N·√K): 3·√3 ≈ 5.2")),
    "sim_ann_recall" ->
      ((5.2, "probe-set eval: exact baseline O(probes·N), ivf O(N·√K)")),
    "dedup_fuzzy_levenshtein" ->
      ((4.5, "(brand,len) ledger arithmetic + segment join over a " +
        "near-constant distinct-name vocabulary: ~data-linear")),
    "dedup_cluster" ->
      ((5.5, "∝N star edges × O(log n) contraction rounds (adaptive " +
        "CC: 2-round probe, then large-star/small-star): 3× data with " +
        "at most ~2 extra rounds")),
    "index_append" ->
      ((5.2, "|batch|·√K with batch = N/100: 3·√3 ≈ 5.2")))

  test("sf30 third decade: measured ratios track the rewritten cost models (BENCH_sf30.json)") {
    val f = new java.io.File("BENCH_sf30.json")
    assume(f.exists(), "BENCH_sf30.json not present in this checkout")
    val rec = spark.read.option("multiLine", "true").json(f.getPath)
    val q = rec.select("queries.*")
    val row = q.collect()(0)
    val ratios = q.schema.fields.zipWithIndex.flatMap { case (fld, i) =>
      if (row.isNullAt(i)) None
      else {
        val st = row.getStruct(i)
        val j = st.schema.fieldIndex("ratio")
        if (st.isNullAt(j)) None else Some(fld.name -> st.getDouble(j))
      }
    }.toMap
    assert(ratios.keySet === sf30Models.keySet,
      "the third-decade record must cover exactly the rewritten-law keys")
    sf30Models.foreach { case (k, (envelope, model)) =>
      val r = ratios(k)
      assert(r <= envelope,
        s"$k measured ${r}× for 3× data; model '$model' allows ≤ $envelope")
    }
  }

  test("streaming family: the committed sf0.1 record carries the lifecycle/operator split, operator share bounded") {
    // VERDICT r14 ask #4, completing the round-13/14 re-baseline: the
    // family budget is lifecycle floor (Spark-fixed, an assumed 0.5 s ×
    // counted lifecycles) + operator share, and
    // the OPERATOR share is the number a round may not silently grow.
    // Bench emits the split per streaming key into bench_full.json;
    // this law bounds it on the committed driver-protocol record.
    val f = new java.io.File("bench_full.json")
    assume(f.exists(), "bench_full.json not present in this checkout")
    val rec = spark.read.option("multiLine", "true").json(f.getPath)
    val sfv = rec.select("sf").collect()(0).getString(0)
    assume(sfv.endsWith("sf0.1"),
      "the committed record must be the driver-protocol sf0.1 run")
    // The bounds below describe a 32-core record. Records from before
    // Bench stated its cores carry no `cpus`; one that states it must
    // state 32, or a scaling leg or local run was committed in its place.
    if (rec.schema.fieldNames.contains("cpus")) {
      val cpus = rec.select("cpus").collect()(0).get(0).toString
      assert(cpus == "32",
        s"bench_full.json states cpus=$cpus: a non-protocol run wrote the " +
          "record; only a 32-core full sf0.1 run may (Bench.recordPath)")
    }
    assert(rec.schema.fieldNames.contains("stream_split"),
      "the record must carry the per-key lifecycle/operator split")
    val q = rec.select("stream_split.*")
    val row = q.collect()(0)
    val split = q.schema.fields.zipWithIndex.flatMap { case (fld, i) =>
      if (row.isNullAt(i)) None
      else {
        val st = row.getStruct(i)
        Some((fld.name, st.getLong(st.schema.fieldIndex("lifecycles")),
          st.getDouble(st.schema.fieldIndex("operator_sec"))))
      }
    }
    // Only keys that START a StreamingQuery appear in the split: the
    // family's batch-twin keys (stream_tumbling, stream_sliding, the
    // cdc_* window merges, …) compute streaming semantics as batch
    // plans and pay no lifecycle. Measured live set = 10 replay sinks
    // + 6 stateful stream keys = 16 keys / 20 lifecycles (multi-query
    // keys like replay_filtered run 2 per rep).
    assert(split.length >= 14,
      s"the live-streaming subset is 16 keys; the split covers ${split.length}")
    val lcTotal = split.map(_._2).sum
    assert(lcTotal >= 16 && lcTotal <= 60,
      s"family lifecycle count drifted to $lcTotal (measured structure " +
        "is 20: 16 live keys, 4 of them two-query)")
    val worstOp = split.maxBy(_._3)
    assert(worstOp._3 <= 4.5,
      s"per-key operator share must stay under 4.5 s at sf0.1; " +
        s"${worstOp._1} = ${worstOp._3}")
    val opTotal = split.map(_._3).sum
    assert(opTotal <= 22.0,
      s"family operator share regressed to $opTotal s at sf0.1 " +
        "(re-baselined budget: floor ≈ lifecycles × 0.5 s + ≤22 s operator)")
  }

  test("ANN recall@10 holds at sf1: the derived-K/probe policy preserves QUALITY, not just latency") {
    // VERDICT r11 ask #6. The latency side of the 10x scaling story is
    // BENCH_sf1.json; this is the quality side: the same sim_ann_recall
    // pipeline (exact scan vs ivf/lsh/pq/sq8, probes {0,1,2}) run on the
    // 10x corpus must hold each index's recall@10 within tolerance of
    // its sf0.1 value — i.e. K=⌈N/64⌉ cells, derived nProbe, and the
    // band-width policy keep pruning the SAME fraction of true
    // neighbors as N grows, rather than buying the measured latency by
    // silently shedding quality. Gated on the staged corpus (runMain
    // graft.StageSf1), like the BENCH_sf1.json record above.
    val sf1 = "target/sf1"
    assume(new java.io.File(s"$sf1/embeddings.parquet").isDirectory,
      "sf1 corpus not staged (runMain graft.StageSf1)")
    def recalls(dir: String): Map[String, Double] =
      run("sim_ann_recall", dir).collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val base = recalls("/root/testdata/sf0.1")
    val scaled = recalls(sf1)
    assert(base.keySet === Set("ivf", "ivfpq", "lsh", "pq", "sq8"))
    base.foreach { case (method, r01) =>
      val r1 = scaled(method)
      assert(r1 >= r01 - 0.15,
        s"$method recall@10 fell from $r01 (sf0.1) to $r1 (sf1): the " +
          "derived parameterization is shedding quality as N grows")
    }
  }

  test("ivfDerivedK stays linear in N; the two-level router caps E-step work at O(N·√K)") {
    import graft.ops.LlmPipeline2.{ivfDerivedK, ivfSuperG}
    // K = max(8, ⌈N/64⌉): cells hold ~64 vectors at ANY corpus size, so
    // within-cell candidate volume stays linear (the SemDeDup goal).
    assert(ivfDerivedK(512) === 8)
    assert(ivfDerivedK(6400) === 100)
    assert(ivfDerivedK(64000) === 1000)
    val n = 6400L
    assert(ivfDerivedK(n * 10) === ivfDerivedK(n) * 10,
      "K grows linearly with N (cells stay ~64)")
    // The round-12 pinned scale killer — one-vs-all-K assignment at
    // N·K = N²/64 — is now broken by the two-level router: each vector
    // scores G = ⌈√K⌉ super-centroids (twice, top-2 routing) plus the
    // routed groups' ~K/G member cells, so per-vector E-step work is
    // O(√K), not O(K). Pin the G rule at the same scales as K above.
    assert(ivfSuperG(8) === 3)
    assert(ivfSuperG(100) === 10)
    assert(ivfSuperG(1000) === 32)
    assert(ivfSuperG(15625000) === 3953) // the 1e9-vector corpus: 4k of 15.6M cells
    // 10× data → K ×10 → routing width ×√10: per-vector work grows
    // ~3.2×, not 10× — the sub-quadratic law the sf10 record measures.
    assert(ivfSuperG(ivfDerivedK(n * 10)) <=
      math.ceil(math.sqrt(10.0) * ivfSuperG(ivfDerivedK(n))).toInt)
  }

  test("two-level routing scans strictly fewer centroids than one-vs-all-K on the real corpus") {
    // Executed-shape law, not arithmetic: the mean number of candidate
    // cells a vector's final E-step scores (its ≤2 routed groups'
    // members) must sit far below K — the concrete measurement that
    // the router prunes the centroid sweep. Runs on sf0.1 (K=32),
    // above the K=8 clamp where G=⌈√8⌉=3 groups make top-2 routing
    // cover most of the tiny index by construction. Measured: mean
    // 10.7 candidates against K=32 (groups 2,4,4,6,6,10) — pinned at
    // 0.6·K to absorb group-size skew drift.
    import graft.ops.LlmPipeline2
    val d = "/root/testdata/sf0.1"
    val n = graft.core.Tables.t(spark, d, "embeddings").count()
    val k = LlmPipeline2.ivfDerivedK(n)
    assert(k > 8, "the law needs a corpus above the K clamp")
    val (_, _, c2) = LlmPipeline2.ivfIndex(spark, d, k)
    val qa = LlmPipeline2.ivfQrows(graft.core.Tables.t(spark, d, "embeddings"))
    val (csup, vr) = LlmPipeline2.ivfRouting(qa, c2, k)
    val groupSizes = csup.groupBy("sup").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groupSizes.values.sum === c2.select("cell").distinct().count(),
      "every surviving cell belongs to exactly one routing group")
    val routed = vr.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(routed.groupBy(_._1).forall(_._2.length <= 2), "top-2 routing")
    val meanCand = routed.map(p => groupSizes.getOrElse(p._2, 0L)).sum.toDouble / n
    assert(meanCand < 0.6 * k,
      s"mean candidate cells per vector ($meanCand) must prune the K=$k sweep")
  }

  test("index_append: the landing batch is bounded (batch ≪ N) and append work is sub-scan") {
    // VERDICT r13 ask #2: the round-13 fixture appended the WHOLE
    // corpus's twins, so the key's measured ratio was a corpus-sized
    // rebuild's, not an incremental landing's. The production shape is
    // pinned here: the batch is the 1% slice (vec_id % 100 = 0), the
    // grown ledger conserves both populations exactly, and the routed
    // E-step's work model |batch|·2√K sits below even ONE linear scan
    // of the corpus — the arithmetic form of "appending a landing
    // never re-touches the base corpus".
    import graft.ops.LlmPipeline2.{ivfDerivedK, ivfSuperG}
    val d = "/root/testdata/sf0.1"
    val emb = graft.core.Tables.t(spark, d, "embeddings")
    val n = emb.count()
    val batch = emb.filter(col("vec_id") % 100 === 0).count()
    assert(batch > 0 && batch <= n / 50 + 1,
      s"landing batch ($batch) must be ≪ corpus ($n)")
    val rows = run("index_append", d).collect()
    assert(rows.map(_.getLong(1)).sum === n,
      "every base vector appears in the grown index exactly once")
    assert(rows.map(_.getLong(2)).sum === batch,
      "every landing vector appears in the grown index exactly once")
    val k = ivfDerivedK(n)
    assert(batch * 2L * ivfSuperG(k) < n,
      s"routed append work (|batch|·2√K = ${batch * 2L * ivfSuperG(k)}) " +
        s"must undercut one corpus scan (N = $n)")
  }

  test("fuzzy levenshtein: same-length copies quadruple the LEDGER but not the enumerated work") {
    // the flip side of EdgeCaseSpec's length-disjoint doubling law, and
    // the round-13 de-quadratic pin: when the doubled copy shares the
    // originals' names/lengths (the sf1 corpus and any duplicate-rich
    // archive), the REPORTED candidate count still quadruples — it is
    // the oracle-defined banded row-pair statistic, quadratic in
    // duplicate multiplicity by definition — but it is now computed as
    // ARITHMETIC off the (brand, len) ledger, and the ENUMERATED
    // distinct-name candidate set (the only part that pays levenshtein
    // comparisons) must be IDENTICAL before and after the doubling:
    // copies collapse into multiplicities, never into pairs.
    def parts(off: Long) =
      Seq.tabulate(12) { i =>
        (off + i, "Brand#11", "part name " + ("x" * ((i % 6) + 1)))
      }.toDF("p_partkey", "p_brand", "p_name")
    val base = stageTables("part" -> parts(0L))
    val doubled = stageTables("part" -> parts(0L).union(parts(100L)))
    def cands(dir: String): Long =
      run("dedup_fuzzy_levenshtein", dir).collect().map(_.getLong(1)).sum
    val nBase = cands(base)
    assert(nBase > 0)
    val nDoubled = cands(doubled)
    assert(nDoubled >= 4 * nBase,
      s"same-length doubling must ~quadruple the ledger ($nBase -> $nDoubled)")
    assert(nDoubled <= 5 * nBase,
      "but never exceed the exact 4x-plus-band-edge envelope")
    def enumerated(dir: String): Set[(String, String, String)] =
      graft.ops.MiningOps.fuzzyDistinctPairs(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val eb = enumerated(base)
    assert(eb.nonEmpty, "the segment filter must surface the near-dup names")
    assert(enumerated(doubled) === eb,
      "verbatim copies must not grow the enumerated distinct-pair set")
  }

  test("window_rolling_slope's window input is calendar-bounded, not corpus-scaled") {
    // the structural reason its sf1 ratio is scan growth, not window
    // growth: the hourly ledger has one row per (type, hour) — bounded
    // by the archive's time span — at EVERY scale factor.
    val hours = graft.core.Tables.events(spark, sf)
      .select(((col("ms") - pmod(col("ms"), lit(3600000L))) / 3600000L)
        .cast("long").as("h"), col("event_type"))
      .distinct().count()
    val out = run("window_rolling_slope").count()
    assert(out === hours,
      "one output row per (type, hour): the WindowExec sees the bounded " +
        "ledger, never fact rows")
  }

  test("scan_text_gz round trip is lossless vs the parquet archive") {
    val viaGz = run("scan_text_gz").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val direct = graft.core.Tables.events(spark, sf)
      .select($"event_type", $"value",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum($"k").as("sum_k"),
        graft.core.Det.moneySum($"value").as("total_value"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(viaGz === direct)
  }
}
