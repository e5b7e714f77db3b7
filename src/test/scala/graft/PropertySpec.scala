package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** Property-based coverage (SURVEY §5.2): scalacheck generators drive
  * both pure invariants of the determinism kernel and whole-query
  * invariants over generated tables run through the real query fns.
  * (scalacheck is driven directly — the scalatestplus bridge is not on
  * the dependency allowlist.)
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** The archive a component search's cuts are size-gated on. */
  private val docs = s"$sf/documents.parquet"

  private def check(p: Prop, min: Int = 100): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** Driver-side mirror of Det.dround / OSql.sround. */
  private def dmirror(x: Double, n: Int): Double = {
    val f = math.pow(10, n)
    math.floor(x * f + 0.5) / f
  }

  test("dround: idempotent and within half-step of the input (forAll)") {
    check(Prop.forAll(Gen.chooseNum(-1e9, 1e9), Gen.chooseNum(0, 6)) { (x, n) =>
      val r = dmirror(x, n)
      dmirror(r, n) == r && math.abs(r - x) <= 0.5 * math.pow(10, -n) + math.ulp(x) * 10
    })
  }

  test("dround Column implementation agrees bit-for-bit with the scalar mirror") {
    val xs = Gen.listOfN(300, Gen.chooseNum(-1e7, 1e7)).sample.get
    val got = xs.toDF("x")
      .select(graft.core.Det.dround($"x", 4).as("r"))
      .collect().map(_.getDouble(0))
    assert(got.toSeq === xs.map(dmirror(_, 4)))
  }

  test("fdivExpr is exact FLOOR division for any sign (engine-evaluated)") {
    // the determinism contract behind every day/hour bucket: the pmod
    // spelling must equal Math.floorDiv — not Spark `div`'s
    // truncate-toward-zero — including for negative (pre-epoch) values
    val pairs = Gen.listOfN(300, Gen.zip(
      Gen.chooseNum(-4102444800000L, 4102444800000L),
      Gen.oneOf(1000L, 3600000L, 86400000L, 8L))).sample.get
    val got = pairs.toDF("x", "k")
      .select(org.apache.spark.sql.functions
        .expr(graft.core.Det.fdivExpr("x", "k")).as("r"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === pairs.map { case (x, k) => Math.floorDiv(x, k) })
  }

  test("cosine of an L2-normalized vector with itself is 1 ± 1e-6 (engine-evaluated)") {
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f))
      .suchThat(v => v.exists(x => math.abs(x) > 0.01f))
    val vecs = Gen.listOfN(100, vecGen).sample.get
    val cos = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "raw")
      // normalize then take dot(v, v) with the SAME fold sim_cosine_topk uses
      .withColumn("norm", sqrt(aggregate($"raw", lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .withColumn("v", transform($"raw", x => x.cast("double") / $"norm"))
      .select(aggregate(zip_with($"v", $"v", (a, b) => a * b), lit(0.0),
        (acc, x) => acc + x).as("cos"))
      .collect().map(_.getDouble(0))
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-6), cos.mkString(","))
  }

  test("DotProductF (codegen expression) agrees bit-for-bit with the zip_with fold") {
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f))
    val pairs = Gen.listOfN(200, Gen.zip(vecGen, vecGen)).sample.get
    val df = pairs.toDF("a", "b")
    val got = df.select(
        graft.functions.VectorExpressions.dotF(spark, $"a", $"b").as("native"),
        aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("fold"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // and it is usable from SQL text via the registered name
    graft.functions.VectorExpressions.register(spark)
    df.createOrReplaceTempView("dotf_probe")
    val sqlRow = spark.sql("SELECT dot_f(a, b) AS v FROM dotf_probe LIMIT 1").collect()
    assert(sqlRow.length === 1)
  }

  test("sessionization invariants hold on generated event tables (forAll)") {
    val eventGen = for {
      user <- Gen.chooseNum(1L, 5L)
      minute <- Gen.chooseNum(0L, 600L)
    } yield (user, minute)
    check(Prop.forAll(Gen.nonEmptyListOf(eventGen)) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, m), i) =>
        (i.toLong, m * 60000L * 1000000L, u)
      }
      val dir = stageTables("events" -> rows.toDF("event_id", "ts", "user_id"))
      val r = run("stream_session", dir).collect()
      val users = evs.map(_._1).distinct.size
      r.length == users &&
        r.map(_.getLong(2)).sum == evs.size && // events conserved
        r.forall(row => row.getLong(1) >= 1L && row.getLong(1) <= row.getLong(2))
    }, min = 8)
  }

  test("interval-merge session state is exact under ANY batch split and arrival order (forAll)") {
    import graft.streaming.StatefulSessions.{Iv, mergeIvs}
    val G = 1800000L // GapMs
    // event times spanning ~4h in minute steps so gaps straddle G
    val ptsGen = Gen.nonEmptyListOf(
      Gen.chooseNum(0L, 240L).map(_ * 60000L))
    check(Prop.forAll(ptsGen, Gen.chooseNum(1, 6), Gen.long) { (pts, nBatches, seed) =>
      // fold the points through the streaming state in a random batch
      // split and random arrival order — exactly what an out-of-order
      // multi-epoch replay feeds foldGroupEt
      val shuffled = new scala.util.Random(seed).shuffle(pts)
      val batches = shuffled.grouped(
        math.max(1, shuffled.size / nBatches)).toSeq
      val folded = batches.foldLeft(Seq.empty[Iv]) { (open, b) =>
        mergeIvs(open ++ b.map(ms => Iv(ms, ms, 1L)))
      }
      // reference: sort every point, split where the gap exceeds G
      val sorted = pts.sorted
      val ref = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, p) =>
        if (p - acc.head.head <= G) (p :: acc.head) :: acc.tail
        else List(p) :: acc
      }.reverse.map(sess => Iv(sess.min, sess.max, sess.size.toLong))
      folded.sortBy(_.t0) == ref.sortBy(_.t0)
    }, min = 300)
  }

  // ---- KPL wire-walk fuzz (VERDICT r13 ask #8) -----------------------
  // Random AggregatedRecord frames driven through BOTH walkers: the
  // shipped native expression and its HOF executable spec must decode
  // the identical (msg, pk) multiset, the encoder (an independent
  // tag/LEB128 spelling) predicts intact frames exactly, and the
  // dead-letter ledger counts exactly the planted envelope corruption.
  // Generated corruption is at the granularities both walkers DEFINE
  // identically — element-boundary truncation re-sealed behind a fresh
  // md5 (a torn frame that passes the gate), short (≤3 hex chars)
  // trailing garbage, bad magic, bad trailer; byte-level garbage INSIDE
  // a varint is covered by the pinned deterministic stop-law in
  // ReplayTwinSpec (the two walkers stop at the same record there but
  // arbitrary mid-payload cuts are out of the HOF's declared contract).

  private def hexLeb(v: Int): String =
    if (v < 128) f"$v%02X" else f"${(v & 0x7f) | 0x80}%02X${v >> 7}%02X"

  private def kplEntry(key: String): String = "0A" + hexLeb(key.length) + key

  private def kplRec(idx: Int, msg: String): String = {
    val iw = if (idx < 128) 1 else 2
    val jw = if (msg.length < 128) 1 else 2
    val recLen = 1 + iw + 1 + jw + msg.length
    "1A" + hexLeb(recLen) + "08" + hexLeb(idx) + "1A" + hexLeb(msg.length) + msg
  }

  private def kplSeal(body: String): String =
    graft.ops.ScaleOps.KplMagic + body +
      java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("KPL walkers: native ≡ HOF ≡ encoder on generated frames; ledger counts the planted dead letters (forAll)") {
    val keyGen = Gen.chooseNum(0, 140).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val frameGen = for {
      nKeys <- Gen.frequency(4 -> Gen.chooseNum(1, 12), 1 -> Gen.chooseNum(129, 135))
      keys <- Gen.listOfN(nKeys, keyGen)
      nRecs <- Gen.chooseNum(0, 6)
      recs <- Gen.listOfN(nRecs, Gen.zip(
        Gen.chooseNum(0, nKeys + 2), // +2: out-of-table index → pk null
        Gen.chooseNum(0, 160).flatMap(m =>
          Gen.listOfN(m, Gen.alphaNumChar).map(_.mkString))))
      mode <- Gen.frequency(5 -> "intact", 2 -> "torn", 1 -> "tail",
        1 -> "magic", 1 -> "trailer")
      cut <- Gen.chooseNum(0, nKeys + nRecs)
      // trailing garbage short enough that the native walker's 4-char
      // minimum stops it, with a first byte that is not a valid tag
      // (0x0A/0x1A) — a garbage byte that accidentally spells a tag is
      // the mid-structure granularity only the pinned deterministic
      // stop-law covers
      tail <- Gen.oneOf("FF", "F0A", "C1", "EE7", "B")
    } yield {
      val elems = keys.map(kplEntry) ++ recs.map { case (i, m) => kplRec(i, m) }
      val expected: Seq[(String, String)] = mode match {
        case "intact" => recs.map { case (i, m) =>
          (m, if (i < nKeys) keys(i) else null) }
        case _ => null // torn/tail prefixes: only native ≡ HOF is asserted
      }
      val line = mode match {
        case "torn"    => kplSeal(elems.take(cut).mkString)
        case "tail"    => kplSeal(elems.mkString + tail)
        case "magic"   => "00000000" + elems.mkString + ("0" * 32)
        case "trailer" => graft.ops.ScaleOps.KplMagic + elems.mkString + ("f" * 32)
        case _         => kplSeal(elems.mkString)
      }
      (line, expected, mode == "magic" || mode == "trailer")
    }
    check(Prop.forAll(Gen.listOfN(4, frameGen)) { frames =>
      val df = frames.map(_._1).toDF("value")
      def canon(d: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
        d.collect().map(r => (r.getString(0), r.getString(1)))
          .sortBy(p => (p._1, String.valueOf(p._2))).toSeq
      val native = canon(graft.ops.ScaleOps.kplDeaggRaw(df))
      val hof = canon(graft.ops.ScaleOps.kplDeaggregateHofRaw(df, maxSteps = 170))
      val dead = graft.ops.ScaleOps.kplFrameLedger(df)
        .collect()(0).getLong(1)
      val expIntact = frames.flatMap(f => Option(f._2)).flatten
        .sortBy(p => (p._1, String.valueOf(p._2)))
      val nIntactRows = frames.count(_._2 != null)
      // native must contain every intact frame's prediction exactly;
      // torn frames may add a shared prefix on top (native ≡ HOF pins it)
      val nativeIntactOk = if (nIntactRows == frames.size) native == expIntact
        else expIntact.forall(e => native.count(_ == e) >= expIntact.count(_ == e))
      (native == hof) :| s"native=$native hof=$hof" &&
        nativeIntactOk :| s"native=$native expected⊇$expIntact" &&
        (dead == frames.count(_._3).toLong) :| s"dead=$dead"
    }, min = 8)
  }

  // ---- CDC apply fuzz (VERDICT r14 ask #8) ---------------------------
  // Random changelogs driven through the REAL streaming merge sink
  // (CdcApply.applyChangelogDir, maxFilesPerTrigger=1 → every parquet
  // file its own epoch): latest-version-wins with retained tombstones
  // must land on exactly the batch-twin window merge AND an in-memory
  // oracle, for ANY update/delete mix, duplicate sequence numbers
  // (at-least-once redelivery — same payload by construction, the CDC
  // delivery contract), arrival order, and micro-batch split. A late
  // lower-version update arriving after its key's delete must stay
  // dead; a delete that is not the latest version must NOT win.

  test("CDC apply: streaming merge ≡ batch twin ≡ oracle on generated changelogs (forAll)") {
    // payload and op are pure functions of (key, ver) ⊕ case seed, so
    // redelivered rows are bit-identical (duplicate sequence numbers
    // are redeliveries, never conflicting writes)
    def price(k: Long, v: Long, seed: Long): Double =
      ((k * 31 + v * 7 + (seed & 15)) % 997).toDouble + 0.25
    def status(k: Long, v: Long): String = s"s${(k + v) % 3}"
    def op(k: Long, v: Long, seed: Long): String =
      if ((k * 2654435761L + v * 40503L + seed) % 4 == 0) "D" else "U"
    val caseGen = for {
      nKeys <- Gen.chooseNum(1, 10)
      keys <- Gen.listOfN(nKeys, Gen.chooseNum(0L, 30L))
      vers <- Gen.listOfN(nKeys, Gen.nonEmptyListOf(Gen.chooseNum(0L, 4L)))
      nDup <- Gen.chooseNum(0, 6)
      nFiles <- Gen.chooseNum(1, 4)
      seed <- Gen.long
    } yield (keys, vers, nDup, nFiles, seed)
    check(Prop.forAll(caseGen) { case (keys, vers, nDup, nFiles, seed) =>
      val rnd = new scala.util.Random(seed)
      val base = keys.zip(vers).flatMap { case (k, vs) =>
        vs.distinct.map(v => (k, price(k, v, seed), status(k, v), v, op(k, v, seed)))
      }.distinct // two generated positions may name the same key
      val redelivered = Seq.fill(nDup)(base(rnd.nextInt(base.size)))
      val arrival = rnd.shuffle(base ++ redelivered)
      // stage the changelog as nFiles parquet appends — with
      // maxFilesPerTrigger=1 each file becomes its own merge epoch
      val chDir = graft.core.TmpDirs.dir("cdc-fuzz")
      val per = math.max(1, (arrival.size + nFiles - 1) / nFiles)
      arrival.grouped(per).foreach { slice =>
        slice.toDF("key", "price", "status", "ver", "op")
          .repartition(1).write.mode("append").parquet(chDir)
      }
      val got = graft.streaming.CdcApply
        .applyChangelogDir(spark, chDir, maxFilesPerTrigger = 1)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2), r.getLong(3))))
        .toMap
      // in-memory oracle: per key, the max version's payload; dead if
      // that version is a tombstone
      val oracle = base.groupBy(_._1).flatMap { case (k, rows) =>
        val (_, p, st, v, o) = rows.maxBy(_._4)
        if (o == "D") None else Some(k -> ((p, st, v)))
      }
      // batch twin: the same merge as ONE window over the full arrival
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"key").orderBy($"ver".desc)
      val twin = arrival.toDF("key", "price", "status", "ver", "op")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("rn").filter($"op" =!= "D")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2), r.getLong(3))))
        .toMap
      (got == oracle) :| s"stream=$got oracle=$oracle" &&
        (twin == oracle) :| s"twin=$twin oracle=$oracle"
    }, min = 8)
  }

  /** Driver-side union-find oracle: vertex → min id of its component. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("star-contraction CC equals a union-find oracle on random graphs (forAll)") {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 25L)
      b <- Gen.chooseNum(0L, 25L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    check(Prop.forAll(Gen.nonEmptyListOf(edgeGen)) { pairs =>
      val uniq = pairs.distinct
      val sym = uniq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val got = graft.ops.LlmPipeline.starContraction(spark, sym.toDF("v", "u"), docs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(uniq)
    }, min = 10)
  }

  test("a 40-node chain (diameter far past plain propagation) resolves exactly") {
    // a chain's frontier does not collapse geometrically, so the
    // adaptive fold must hand over to starContraction — and still
    // produce the exact component minimum, not fail or split the chain
    val pairs = (0L until 39L).map(i => (i, i + 1))
    val sym = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val cc = graft.ops.LlmPipeline.connectedComponents(spark, sym.toDF("v", "u"), docs)
    val labels = cc.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 40)
    assert(labels.forall(_._2 == 0L), "every chain vertex joins component 0")
    assert(cc.contracted,
      "a flooding frontier must commit to contraction")
  }

  test("adaptive CC: flooding graphs switch after the 2-round probe; geometric graphs stay on propagation") {
    // The scale law behind dedup_cluster's iterative fold. Measured at
    // the 100-copy corpus, min-label propagation (even with the
    // label-of-label compression term) degrades to O(diameter)
    // flooding on branched star graphs — so the fold may spend at most
    // the 2-round probe before committing to starContraction's
    // guaranteed O(log n), and must NOT burn a fixed round cap first.
    // A regression of this policy — 2 vs 17 wasted rounds at the 10×
    // corpus — fails here instead of surfacing as an sf10 bench tail.
    for (d <- Seq(64, 256)) {
      val pairs = (0L until d.toLong).map(i => (i, i + 1))
      val sym = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val cc = graft.ops.LlmPipeline.connectedComponents(spark, sym.toDF("v", "u"), docs)
      val labels = cc.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(labels.length === d + 1)
      assert(labels.forall(_._2 == 0L), s"chain of diameter $d joins component 0")
      assert(cc.contracted,
        s"diameter-$d chain floods; the probe must commit to contraction")
      assert(cc.rounds <= 2,
        s"probe overran: ${cc.rounds} rounds " +
          "of propagation before the switch")
    }
    // the geometric regime: disjoint hub stars (the dedup quasi-clique
    // shape) — every member one hop from its hub, frontier collapses
    // in round 1 and the fast path must be kept
    val stars = (0L until 40L).flatMap { h =>
      (1L to 5L).map(i => (h * 100, h * 100 + i))
    }
    val symStars = stars.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val starCc = graft.ops.LlmPipeline
      .connectedComponents(spark, symStars.toDF("v", "u"), docs)
    val starLabels = starCc.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(starLabels.length === 240)
    assert(starLabels.forall { case (v, l) => l == (v / 100) * 100 })
    assert(!starCc.contracted,
      "a geometric frontier must stay on min-label propagation")
    assert(starCc.rounds <= 4,
      s"quasi-clique graph took ${starCc.rounds} rounds")
  }

  test("set-algebra cardinality laws hold against the raw tables") {
    val custKeys = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_nationkey".cast("long")).distinct().count()
    val suppKeys = spark.read.parquet(s"$sf/supplier.parquet")
      .select($"s_nationkey".cast("long")).distinct().count()
    val unionAll = run("set_union_all").count()
    val unionD = run("set_union_distinct").count()
    val inter = run("set_intersect").count()
    val except = run("set_except").count()
    val rawRows = spark.read.parquet(s"$sf/customer.parquet").count() +
      spark.read.parquet(s"$sf/supplier.parquet").count()
    assert(unionAll === rawRows) // UNION ALL preserves multiplicity
    assert(except + inter === custKeys) // A = (A∖B) ⊎ (A∩B)
    assert(unionD === except + suppKeys) // |A∪B| = |A∖B| + |B|
  }

  test("Misra-Gries: freq > n/(cap+1) tokens survive ANY partition split + merge order (forAll)") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    val tokGen = Gen.chooseNum(0, 19).map(i => s"t$i")
    val streamGen = Gen.listOfN(400, tokGen)
    val capGen = Gen.chooseNum(2, 12)
    val splitGen = Gen.listOfN(6, Gen.chooseNum(1, 399))
    check(Prop.forAll(streamGen, capGen, splitGen) { (stream, cap, cuts) =>
      val agg = graft.functions.HeavyHitters(
        BoundReference(0, StringType, nullable = true), cap)
      // split the stream into partitions at the generated cut points,
      // sketch each independently, then merge left-to-right (with a
      // serialization round trip — the shuffle path)
      val bounds = (0 +: cuts.distinct.sorted :+ stream.length).distinct.sorted
      val parts = bounds.zip(bounds.tail).map { case (a, b) => stream.slice(a, b) }
      val merged = parts.map { p =>
        val buf = agg.createAggregationBuffer()
        p.foreach(t => agg.update(buf, InternalRow(UTF8String.fromString(t))))
        agg.deserialize(agg.serialize(buf))
      }.reduceLeft(agg.merge)
      val survivors = merged.keys.map(_.toString).toSet
      val exact = stream.groupBy(identity).view.mapValues(_.size)
      val n = stream.length
      val mustSurvive = exact.collect {
        case (t, c) if c.toLong * (cap + 1) > n => t
      }.toSet
      merged.size <= cap && mustSurvive.subsetOf(survivors)
    }, min = 200)
  }

  test("SCD2 intervals chain, close on delete, and carry exact prices (forAll)") {
    // The fixture rule fully determines each changed key's history:
    //   %10 only     → [0,1) closed, [1,∞) current at price·1.1
    //   %17 only     → [0,2) closed by the delete, no current row
    //   %10 and %17  → [0,1), [1,2), no current row
    // so a driver-side model can predict the EXACT output rows,
    // including the deterministic 2dp rounding of the repriced value.
    def r2(x: Double): Double = math.floor(x * 100.0 + 0.5) / 100.0
    def expected(key: Long, price: Double): Set[(Long, Long, Long, Double, Boolean)] = {
      val rep = key % 10 == 0
      val del = key % 17 == 0
      if (rep && del) Set((key, 0L, 1L, r2(price), false), (key, 1L, 2L, r2(price * 1.1), false))
      else if (rep) Set((key, 0L, 1L, r2(price), false), (key, 1L, -1L, r2(price * 1.1), true))
      else if (del) Set((key, 0L, 2L, r2(price), false))
      else Set.empty
    }
    val rowGen = for {
      key <- Gen.chooseNum(1L, 400L)
      price <- Gen.chooseNum(1.0, 99999.0)
    } yield (key, price, "O")
    check(Prop.forAll(Gen.nonEmptyListOf(rowGen)) { raw =>
      val rows = raw.distinctBy(_._1)
      val dir = stageTables("orders" ->
        rows.toDF("o_orderkey", "o_totalprice", "o_orderstatus"))
      val got = run("cdc_scd2", dir).collect().map { r =>
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getDouble(3), r.getBoolean(5))
      }.toSet
      got == rows.flatMap { case (k, p, _) => expected(k, p) }.toSet
    }, min = 10)
  }

  test("two-phase sequence packing equals the reference prefix-sum fold on random corpora") {
    // random (doc_id, token-count) corpora through the REAL query fn vs
    // a driver-side reference: seq(doc) = floor(exclusive-prefix-sum /
    // 256) in doc_id order — the law the range-partition + broadcast-
    // offset plan must preserve for ANY partition boundary sampling
    val corpusGen = for {
      n <- Gen.chooseNum(1, 120)
      ids <- Gen.pick(n, 0L until 500L)
      toks <- Gen.listOfN(n, Gen.chooseNum(1, 400))
    } yield ids.toSeq.sorted.zip(toks)
    corpusGen.sample.toSeq ++ Gen.listOfN(4, corpusGen).sample.getOrElse(Nil) foreach { corpus =>
      val dir = stageTables("documents" -> corpus.map { case (id, tk) =>
        (id, Seq.fill(tk)("w").mkString(" "), "en", "src", tk.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"))
      val got = run("corpus_pack_sequences", dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val ref = corpus.foldLeft((0L, Map.empty[Long, (Long, Long)])) {
        case ((cum, acc), (_, tk)) =>
          val seq = cum / 256
          val (c, t) = acc.getOrElse(seq, (0L, 0L))
          (cum + tk, acc.updated(seq, (c + 1, t + tk)))
      }._2.toSeq.map { case (seq, (c, t)) => (seq, c, t) }.sortBy(_._1)
      assert(got === ref)
    }
  }

  test("weighted median equals a reference cumulative-weight fold on random groups") {
    // random (flag, price-cents, weight) groups through the REAL query
    // fn vs a driver-side reference: sort by (price, orderkey,
    // linenumber), first price whose running weight W has 2W ≥ T — the
    // law the one-exchange dual-frame plan must preserve
    val groupGen = for {
      n <- Gen.chooseNum(1, 60)
      prices <- Gen.listOfN(n, Gen.chooseNum(100, 99999))
      weights <- Gen.listOfN(n, Gen.chooseNum(1, 50))
    } yield prices.zip(weights)
    Gen.listOfN(5, groupGen).sample.getOrElse(Nil).zipWithIndex.foreach {
      case (rows, gi) =>
        val flag = ('A' + gi).toChar.toString
        val li = rows.zipWithIndex.map { case ((p, w), i) =>
          (flag, p / 100.0, w.toDouble, i.toLong, i) }
          .toDF("l_returnflag", "l_extendedprice", "l_quantity",
            "l_orderkey", "l_linenumber")
        val dir = stageTables("lineitem" -> li)
        val got = run("agg_weighted_median", dir).collect()
          .map(r => (r.getLong(1), r.getDouble(2))).head
        val sorted = rows.zipWithIndex
          .sortBy { case ((p, _), i) => (p, i) }
        val total = sorted.map(_._1._2.toLong).sum
        val (cum, med) = sorted.foldLeft((0L, Option.empty[Int])) {
          case ((c, found), ((p, w), _)) =>
            val c2 = c + w
            (c2, found.orElse(if (2 * c2 >= total) Some(p) else None))
        }
        assert(cum === total)
        assert(got === ((total, med.get / 100.0)))
    }
  }

  test("EWMA equals the exact 8-tap reference fold on random streams") {
    // α = 1/2 makes every term an exact double, so the engine output
    // must BIT-match a driver-side fold of the same taps — and sit
    // inside the hull of its frame
    val streamGen = for {
      n <- Gen.chooseNum(8, 60)
      vs <- Gen.listOfN(n, Gen.chooseNum(0, 56021))
    } yield vs
    Gen.listOfN(5, streamGen).sample.getOrElse(Nil).foreach { vs =>
      val ev = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, i * 1000000000L, 1L, "t", v / 100.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = stageTables("events" -> ev)
      val got = run("window_ewma", dir).collect()
        .map(r => r.getLong(1) -> r.getDouble(2)).toMap
      val expect = (7 until vs.length).map { i =>
        val frame = (0 to 7).map(k => vs(i - k).toDouble)
        val ws = frame.zipWithIndex.map { case (v, k) =>
          v * math.pow(0.5, k) }.sum
        val e = math.floor(ws / (255.0 / 128.0) / 100.0 * 1e6 + 0.5) / 1e6
        val hullLo = frame.min / (100.0) - 1e-6
        val hullHi = frame.max / (100.0) + 1e-6
        assert(e >= hullLo && e <= hullHi)
        i.toLong -> e
      }.toMap
      assert(got === expect)
    }
  }

  test("integer pagerank equals a local reference fold on random bipartite graphs (forAll)") {
    // The determinism claim behind graph_pagerank is that the scaled
    // integer recurrence has exactly ONE answer regardless of engine or
    // summation order — so a plain driver-side fold over the same edges
    // must reproduce Spark's distributed result bit-for-bit.
    val Scale = 10000000000L
    val Teleport = Scale * 15L / 100L
    def ref(pairs: Set[(Long, String)]): Map[String, Long] = {
      val edges = pairs.toSeq.flatMap { case (u, t) =>
        Seq((s"u:$u", s"t:$t"), (s"t:$t", s"u:$u")) }
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      var rank: Map[String, Long] = deg.keys.map(_ -> Scale).toMap
      for (_ <- 1 to 2) {
        rank = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> (Teleport + 85L * es.map { case (src, _) => rank(src) / deg(src) }.sum / 100L)
        }
      }
      rank
    }
    val pairGen = for {
      u <- Gen.chooseNum(1L, 8L)
      t <- Gen.oneOf("a", "b", "c", "d", "e")
    } yield (u, t)
    check(Prop.forAll(Gen.nonEmptyListOf(pairGen)) { raw =>
      val rows = raw.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, i.toLong * 1000000L, u, t) }
      val dir = stageTables("events" ->
        rows.toDF("event_id", "ts", "user_id", "event_type"))
      val got = graft.ops.GraphOps.pagerankRanks(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      got == ref(raw.toSet)
    }, min = 12)
  }

  test("prefixOffsets: broadcast theta-join equals the exclusive prefix-sum scan (forAll)") {
    // the offset table every two-phase global-rank spelling rides on —
    // wrong here and every distributed rank/ntile/packing key shifts
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(0L, 50L))) { ns =>
      val cnts = ns.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("pid", "n")
      val got = graft.ops.Windows.prefixOffsets(cnts, "pid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ns.indices.map(i => i.toLong -> ns.take(i).sum).toMap
      got == want
    }, min = 15)
  }

  test("time split partitions random archives exactly, train before test") {
    // the leakage-safety laws under ANY generated time distribution:
    // the three zones partition the rows (Σn = total), every train
    // timestamp precedes every test timestamp, and the embargo is a
    // strict buffer between them
    val evGen = for {
      n <- Gen.chooseNum(2, 200)
      ts <- Gen.listOfN(n, Gen.chooseNum(0L, 40L * 86400000L))
    } yield ts
    Gen.listOfN(4, evGen).sample.getOrElse(Nil).foreach { ts =>
      val rows = ts.zipWithIndex.map { case (ms, i) =>
        (i.toLong, ms * 1000000L, 1L, "t", 1.0, "{}") }
      val dir = stageTables("events" -> rows
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val zones = run("sample_time_split", dir).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(zones.values.map(_._1).sum === ts.length.toLong)
      for (tr <- zones.get("train"); te <- zones.get("test")) {
        assert(tr._3 < te._2, "every train ms must precede every test ms")
        // the embargo buffer: a full day separates the zones
        assert(te._2 - tr._3 > 86400000L ||
          zones.contains("embargo") === false ||
          zones("embargo")._2 > tr._3)
      }
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("exact dedup reports planted multiplicities and min-id keepers (forAll)") {
    // generated corpora with KNOWN duplicate structure: g distinct
    // texts, text i planted m_i times under increasing doc_ids — the
    // survivor ledger must report exactly (count = m_i, keeper = the
    // smallest planted id) per md5 group
    val gen = for {
      g <- Gen.chooseNum(1, 40)
      ms <- Gen.listOfN(g, Gen.chooseNum(1, 6))
    } yield ms
    Gen.listOfN(4, gen).sample.getOrElse(Nil).foreach { ms =>
      val rows = ms.zipWithIndex.flatMap { case (m, g) =>
        (0 until m).map(j => (g * 100L + j, s"text body g$g", "en", "s0", 12L))
      }
      val dir = stageTables("documents" ->
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      val got = run("dedup_exact", dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = ms.zipWithIndex.map { case (m, g) =>
        md5hex(s"text body g$g") -> ((m.toLong, g * 100L))
      }.toMap
      assert(got === want)
    }
  }

  test("minhash bands: planted duplicate groups collide on all 4 bands, disjoint vocab never pairs") {
    // identical texts share every minhash → every band; groups with
    // DISJOINT vocabularies share no shingle, so no candidate pair may
    // cross groups: the candidate set is EXACTLY the within-group pairs
    val gen = for {
      g <- Gen.chooseNum(2, 10)
      sizes <- Gen.listOfN(g, Gen.chooseNum(1, 6))
      lens <- Gen.listOfN(g, Gen.chooseNum(3, 9))
    } yield sizes.zip(lens)
    Gen.listOfN(3, gen).sample.getOrElse(Nil).foreach { groups =>
      val rows = groups.zipWithIndex.flatMap { case ((m, len), g) =>
        val text = (0 until len).map(j => s"g${g}w$j").mkString(" ")
        (0 until m).map(j => (g * 100L + j, text, "en", "s0", text.length.toLong))
      }
      val dir = stageTables("documents" ->
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      val got = run("dedup_near_minhash", dir).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val want = groups.zipWithIndex.flatMap { case ((m, _), g) =>
        for (a <- 0 until m; b <- (a + 1) until m)
          yield ((g * 100L + a, g * 100L + b), 4L)
      }.toMap
      assert(got === want,
        "candidates must be exactly the planted within-group pairs at 4 bands")
    }
  }

  test("exact cosine top-k equals a brute-force mirror on generated vector corpora") {
    // the ANN family's ground-truth leg: top-20 by the left-to-right
    // double fold, ties broken by vec_id — against an independent
    // driver-side brute force over the same generated floats
    val gen = for {
      n <- Gen.chooseNum(25, 120)
      vs <- Gen.listOfN(n, Gen.listOfN(8, Gen.chooseNum(-8, 8)))
    } yield vs
    Gen.listOfN(3, gen).sample.getOrElse(Nil).foreach { vs =>
      val vecs = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toFloat).toArray, i % 3) }
      val dir = stageTables("embeddings" ->
        vecs.toDF("vec_id", "embedding", "label"))
      val got = run("sim_cosine_topk", dir).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val probe = vecs.head._2
      val want = vecs.map { case (id, v, _) =>
        val dot = v.zip(probe).foldLeft(0.0) { case (s, (x, y)) =>
          s + x.toDouble * y.toDouble }
        (id, dmirror(dot, 6))
      }.sortBy { case (id, sim) => (-sim, id) }.take(20)
      assert(got === want)
    }
  }

  test("tokenize wordcount equals a driver-side fold on generated corpora") {
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      langs <- Gen.listOfN(n, Gen.oneOf("en", "de"))
      texts <- Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "ccc", "dd", "e"))
          .map(_.mkString(" ")))
    } yield langs.zip(texts)
    Gen.listOfN(3, gen).sample.getOrElse(Nil).foreach { docs =>
      val rows = docs.zipWithIndex.map { case ((l, t), i) =>
        (i.toLong, t, l, "s0", t.length.toLong) }
      val dir = stageTables("documents" ->
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      val got = run("text_tokenize_wordcount", dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSeq
      val want = docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
        val counts = ds.flatMap(_._2.split(" ")).groupBy(identity)
          .map { case (tok, xs) => tok -> xs.size.toLong }
        counts.toSeq.sortBy { case (tok, c) => (-c, tok) }.take(20)
          .zipWithIndex.map { case ((tok, c), i) =>
            (lang, (i + 1).toLong, tok, c) }
      }.sortBy(r => (r._1, r._2))
      assert(got === want)
    }
  }

  test("funnel abandonment equals a driver-side sessionizer on generated journeys") {
    val gen = for {
      n <- Gen.chooseNum(2, 120)
      users <- Gen.listOfN(n, Gen.chooseNum(1L, 6L))
      gaps <- Gen.listOfN(n, Gen.chooseNum(0L, 3600000L))
      types <- Gen.listOfN(n, Gen.oneOf("view", "click", "purchase", "error"))
      cents <- Gen.listOfN(n, Gen.chooseNum(0L, 9999L))
    } yield users.lazyZip(gaps).lazyZip(types).lazyZip(cents).toList
    Gen.listOfN(3, gen).sample.getOrElse(Nil).foreach { evs =>
      // per-user cumulative gaps → ms; event_id = arrival index
      val byUser = evs.zipWithIndex.groupBy(_._1._1)
      val rows = byUser.toSeq.flatMap { case (_, us) =>
        us.scanLeft((0L, Option.empty[((Long, Long, String, Long), Int)])) {
          case ((acc, _), e) => (acc + e._1._2, Some(e))
        }.collect { case (ms, Some(((u, _, ty, c), i))) =>
          (i.toLong, ms * 1000000L, u, ty, c / 100.0, "{}")
        }
      }
      val dir = stageTables("events" -> rows
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = run("funnel_abandonment", dir).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // driver-side mirror: 30-min-gap sessions over (ms, event_id)
      case class S(n: Long, span: Long, engaged: Boolean, cents: Long,
          purchased: Boolean)
      val sessions = rows.groupBy(_._3).values.flatMap { ues =>
        val sorted = ues.map(e => (e._2 / 1000000L, e._1, e._4,
          math.floor(e._5 * 100 + 0.5).toLong)).sortBy(e => (e._1, e._2))
        val splits = sorted.foldLeft(List.empty[List[(Long, Long, String, Long)]]) {
          case (acc, e) => acc match {
            case cur :: rest if e._1 - cur.head._1 <= 1800000L =>
              (e :: cur) :: rest
            case _ => List(e) :: acc
          }
        }
        splits.map { sess =>
          val ms = sess.map(_._1)
          S(sess.size.toLong, ms.max - ms.min,
            sess.exists(e => e._3 == "view" || e._3 == "click"),
            sess.filter(_._3 == "purchase").map(_._4).sum,
            sess.exists(_._3 == "purchase"))
        }
      }.filter(_.engaged).toSeq
      val want = sessions.groupBy(s => if (s.purchased) "converted" else "abandoned")
        .map { case (o, ss) =>
          o -> ((ss.size.toLong, ss.map(_.n).sum, ss.map(_.span).sum,
            ss.map(_.cents).sum)) }
      assert(got === want)
    }
  }

  test("ACF lags equal a driver-side Pearson fold on generated hourly series") {
    val H = 3600000L
    val gen = for {
      n <- Gen.chooseNum(4, 80)
      hs <- Gen.listOfN(n, Gen.chooseNum(0L, 59L))
      cents <- Gen.listOfN(n, Gen.chooseNum(-500L, 500L))
      types <- Gen.listOfN(n, Gen.oneOf("a", "b"))
    } yield hs.lazyZip(cents).lazyZip(types).toList
    Gen.listOfN(3, gen).sample.getOrElse(Nil).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((h, c, ty), i) =>
        (i.toLong, (h * H + 1000L * (i % 60)) * 1000000L, 1L, ty, c / 100.0, "{}") }
      val dir = stageTables("events" -> rows
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = run("ts_acf_lags", dir).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
        .toMap
      // mirror: hourly cent sums per type, row-ordered by h, Pearson at
      // each lag over (v[i-k], v[i]) with the same double formula
      val want = evs.groupBy(_._3).flatMap { case (ty, es) =>
        val series = es.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (_, xs) => xs.map(e => BigInt(e._2)).sum }
        Seq(2, 3, 6, 12, 24).flatMap { k =>
          val pairs = series.drop(k).zip(series.dropRight(k))
            .map { case (y, x) => (x, y) }
          if (pairs.isEmpty) None
          else {
            val n = pairs.size.toDouble
            val sx = pairs.map(_._1).sum.toDouble
            val sy = pairs.map(_._2).sum.toDouble
            val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
            val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
            val syy = pairs.map(p => p._2 * p._2).sum.toDouble
            val dx = n * sxx - sx * sx
            val dy = n * syy - sy * sy
            val acf = if (dx > 0 && dy > 0)
              Some(dmirror((n * sxy - sx * sy) / math.sqrt(dx * dy), 6))
            else None
            Some((ty, k.toLong) -> ((pairs.size.toLong, acf)))
          }
        }
      }
      assert(got === want)
    }
  }

  test("Bloom and linear-counting sharded builds OR exactly to the direct build") {
    // the idempotent-merge laws under ANY generated (user, type)
    // distribution — including heavy shard overlap (few users, many
    // types) and singleton shards: zero symmetric difference between
    // the direct and merged bit sets, identical zero-bucket counts,
    // and the union bound Σ|shard bits| ≥ |merged bits|
    val evGen = for {
      n <- Gen.chooseNum(1, 300)
      users <- Gen.listOfN(n, Gen.chooseNum(0L, 5000L))
      types <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield users.zip(types)
    Gen.listOfN(4, evGen).sample.getOrElse(Nil).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ty), i) =>
        (i.toLong, i.toLong * 1000000000L, u, ty, 1.0, "{}") }
      val dir = stageTables("events" -> rows
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val bm = run("agg_bloom_merge", dir).collect()(0)
      assert(bm.getLong(4) === 0L && bm.getLong(5) === 0L,
        "Bloom OR must produce zero symmetric difference")
      assert(bm.getBoolean(6), "merge_exact")
      assert(bm.getLong(2) === bm.getLong(3), "identical bit counts")
      assert(bm.getLong(1) >= bm.getLong(3), "union bound")
      val lc = run("agg_lc_union", dir).collect()(0)
      assert(lc.getLong(2) === lc.getLong(3),
        "merged bitmap must have the direct build's zero count")
      assert(lc.getBoolean(6), "merge_exact")
      assert(lc.getBoolean(7), "union bound")
      if (!lc.isNullAt(4))
        assert(lc.getDouble(4) === lc.getDouble(5),
          "identical bitmaps yield the identical estimate")
    }
  }

  test("KMV difference: the theta partition law holds on random audiences") {
    // for ANY generated click/error audience overlap: below the union
    // sketch's theta, only_a + only_b + common must account for every
    // retained hash (pinned as partition_holds), and below-k
    // populations must degrade to the exact set differences
    val gen = for {
      na <- Gen.chooseNum(0, 60)
      nb <- Gen.chooseNum(0, 60)
      ov <- Gen.chooseNum(0, 40)
    } yield (na, nb, ov)
    Gen.listOfN(4, gen).sample.getOrElse(Nil).foreach { case (na, nb, ov) =>
      // users 0..na-1 click-big; users na-ov .. na-ov+nb-1 error-big
      val clicks = (0 until na).map(u =>
        (u.toLong, 0L, u.toLong, "click", 95.0, "{}"))
      val errors = (0 until nb).map(j =>
        (1000L + j, 0L, (na - ov + j).toLong, "error", 95.0, "{}"))
      val dir = stageTables("events" -> (clicks ++ errors)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val r = run("agg_kmv_diff", dir).collect().head
      val interExact = (0 until na).toSet
        .intersect((0 until nb).map(na - ov + _).toSet).size.toLong
      assert(r.getLong(0) === na.toLong && r.getLong(1) === nb.toLong)
      assert(r.getLong(2) === na - interExact, "exact A-minus-B")
      assert(r.getLong(3) === nb - interExact, "exact B-minus-A")
      // below k = 128 both estimates are the exact branch
      assert(r.getLong(4) === r.getLong(2) && r.getLong(5) === r.getLong(3))
      assert(r.getBoolean(6), "theta partition law")
    }
  }

  // -------------------------------------------------------------------
  // Streaming-twin equivalence laws (VERDICT r11 ask #7): the live
  // replay_*/stream_* keys verified only on the fixed driver archives;
  // these laws feed them GENERATED event streams — random shard mixes,
  // random times, random file splits / throttles (i.e. random
  // micro-batchings with late arrivals across epochs) — and assert the
  // streaming result still equals its batch twin exactly. Sample counts
  // are small (each sample runs real streaming queries) but every
  // sample is a fresh random archive.
  // -------------------------------------------------------------------

  /** A generated events archive: unique event_ids, random users (the
    * shard mix), random minute-granular times across ~3 days, random
    * types, 2-decimal values (the archive contract SURVEY §1.3).
    * Minute 0 (event time == epoch 0) is excluded: a streaming query's
    * INITIAL watermark is also 0 and Spark's stateful late-filter drops
    * rows AT the watermark, so an epoch-0 event silently vanishes from
    * any watermarked operator — the same boundary EdgeCaseSpec probes
    * for the stream joins. (chooseNum biases toward its min, so with 0
    * included nearly every sample planted such rows.) Real archives
    * date from 2024; epoch-0 is unreachable there.
    */
  private val archiveGen: Gen[Seq[(Long, Long, Long, String, Double, String)]] = for {
    n <- Gen.chooseNum(5, 200)
    users <- Gen.listOfN(n, Gen.chooseNum(1L, 9L))
    mins <- Gen.listOfN(n, Gen.chooseNum(1L, 4320L))
    types <- Gen.listOfN(n, Gen.oneOf("click", "view", "purchase"))
    cents <- Gen.listOfN(n, Gen.chooseNum(0L, 99999L))
  } yield users.indices.map { i =>
    (i.toLong, mins(i) * 60000L * 1000000L, users(i), types(i),
      cents(i) / 100.0, s"""{"k":${i % 100}}""")
  }

  private def stageArchive(
      rows: Seq[(Long, Long, Long, String, Double, String)]): String =
    stageTables("events" -> rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))

  test("replay pipeline equals its batch twin on generated archives (forAll)") {
    // the end-to-end A1→A8 law: archive → sharded put-batch sink →
    // watermarked streaming agg must re-state the batch tumbling agg
    // bit-for-bit (counts exact, sums in DECIMAL), for ANY archive
    Gen.listOfN(6, archiveGen).sample.getOrElse(Nil).foreach { rows =>
      val dir = stageArchive(rows)
      val live = run("replay_stream", dir).collect().toSeq
      val batch = run("stream_tumbling", dir).collect().toSeq
      assert(live === batch, s"replay diverged from batch twin (n=${rows.size})")
    }
  }

  test("replay is micro-batching-invariant: any file split + throttle lands the same agg") {
    // random file count × random maxFilesPerTrigger ⇒ random epoch
    // structure with event times arriving out of order ACROSS epochs;
    // the replay stage is stateless and the downstream agg reads a
    // fully-committed sink in one batch, so no batching may change it
    val g = for {
      rows <- archiveGen
      files <- Gen.chooseNum(2, 5)
      mft <- Gen.chooseNum(1, 3)
    } yield (rows, files, mft)
    Gen.listOfN(5, g).sample.getOrElse(Nil).foreach { case (rows, files, mft) =>
      val dir = SparkSpec.stageDir()
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(files).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val throttled = graft.streaming.Replay.aggregateReplayed(spark,
        graft.streaming.Replay.replayArchive(
          spark, s"$dir/events.parquet", maxFilesPerTrigger = mft).sink)
        .collect().toSeq
      val batch = run("stream_tumbling", dir).collect().toSeq
      assert(throttled === batch,
        s"throttled replay (files=$files mft=$mft) diverged from the batch twin")
    }
  }

  test("watermarked dedup recovers exactly the original set on generated at-least-once archives") {
    // the staged archive delivers every event twice (copies in LATER
    // files); under a random throttle the re-deliveries land in later
    // epochs — some behind the advanced watermark (dropped as late,
    // which IS deduplication) — and the surviving set must equal the
    // original events exactly
    val g = Gen.zip(archiveGen, Gen.oneOf(0, 1, 2))
    Gen.listOfN(5, g).sample.getOrElse(Nil).foreach { case (rows, mft) =>
      val dir = stageArchive(rows)
      val got = graft.streaming.Replay.dedupWatermarked(spark, dir, mft)
        .select($"event_id", $"user_id", $"event_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = rows.map(r => (r._1, r._3, r._4)).toSet
      if (got != want) {
        val minsOf = rows.map(r => r._1 -> r._2 / 60000000000L).toMap
        val missing = want.map(_._1) -- got.map(_._1)
        val maxMin = rows.map(_._2).max / 60000000000L
        fail(s"dedup (mft=$mft n=${rows.size}) lost ${missing.size} rows; " +
          s"missing minutes=${missing.toSeq.sorted.take(20).map(minsOf)} " +
          s"maxMin=$maxMin cut=${maxMin - 60}")
      }
    }
  }

  test("rate-limited retry replay equals the batch twin for ANY generated failure set") {
    // VERDICT r12 ask #7: the capped sink's per-record retry path was
    // verified only on the fixed ~1/8 md5 failure set. Generate RANDOM
    // failure predicates (salted hash, modulus down to m=1 — EVERY
    // record failing its first attempt) over generated archives with
    // random shard counts: the two-wave sink must land each record
    // exactly once (the agg equals the batch twin) and the retry
    // ledger must count exactly the failure set — nothing lost,
    // nothing landed twice, nothing retried that didn't fail.
    val g = for {
      rows <- archiveGen
      salt <- Gen.chooseNum(0L, 1000L)
      m <- Gen.oneOf(1, 2, 3, 5)
      shards <- Gen.chooseNum(1, 6)
    } yield (rows, salt, m, shards)
    Gen.listOfN(4, g).sample.getOrElse(Nil).foreach { case (rows, salt, m, shards) =>
      val dir = stageArchive(rows)
      val fail = pmod(xxhash64(col("event_id") + lit(salt)), lit(m)) === 0
      val report = graft.streaming.Replay.replayArchive(
        spark, s"$dir/events.parquet", nShards = shards,
        putRecordsPerShardSec = 50000, failFirstAttempt = fail)
      val live = graft.streaming.Replay.aggregateReplayed(spark, report.sink)
        .collect().toSeq
      val batch = run("stream_tumbling", dir).collect().toSeq
      assert(live === batch,
        s"retried replay (salt=$salt m=$m shards=$shards) diverged from the batch twin")
      val expected = spark.read.parquet(s"$dir/events.parquet")
        .filter(fail).count()
      assert(report.retried === Some(expected),
        s"retry wave must carry exactly the failure set (m=$m)")
    }
  }

  test("retried replay is micro-batch- and shard-mix-invariant on generated failure sets") {
    // epoch structure (random file split × throttle) and shard count
    // are DEPLOYMENT knobs — neither may change a single accounted
    // record, even when a random failure set forces the retry wave in
    // every epoch
    val g = for {
      rows <- archiveGen
      files <- Gen.chooseNum(2, 4)
      mft <- Gen.chooseNum(1, 2)
      salt <- Gen.chooseNum(0L, 1000L)
      s1 <- Gen.chooseNum(1, 3)
      s2 <- Gen.chooseNum(4, 8)
    } yield (rows, files, mft, salt, s1, s2)
    Gen.listOfN(3, g).sample.getOrElse(Nil).foreach {
      case (rows, files, mft, salt, s1, s2) =>
        val dir = SparkSpec.stageDir()
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .repartition(files).write.mode("overwrite")
          .parquet(s"$dir/events.parquet")
        val fail = pmod(xxhash64(col("event_id") + lit(salt)), lit(2)) === 0
        def agg(shards: Int): Seq[org.apache.spark.sql.Row] =
          graft.streaming.Replay.aggregateReplayed(spark,
            graft.streaming.Replay.replayArchive(
              spark, s"$dir/events.parquet", nShards = shards,
              maxFilesPerTrigger = mft, failFirstAttempt = fail).sink)
            .collect().toSeq
        val a = agg(s1)
        assert(a === agg(s2),
          s"shard mix $s1 vs $s2 (files=$files mft=$mft) changed the accounting")
        val batch = run("stream_tumbling", dir).collect().toSeq
        assert(a === batch, "both shard mixes must equal the batch twin")
    }
  }

  test("streaming CDC apply equals the batch MERGE on generated changelogs, any epoch split") {
    // random orders tables (random key spacing ⇒ random update/delete
    // hit sets) through the throttled multi-epoch incremental merge
    // must land on exactly the batch MERGE result
    val ordGen = for {
      n <- Gen.chooseNum(3, 120)
      keys <- Gen.listOfN(n, Gen.chooseNum(0L, 3000L)).map(_.distinct)
      prices <- Gen.listOfN(keys.size, Gen.chooseNum(100L, 999999L))
      status <- Gen.listOfN(keys.size, Gen.oneOf("O", "F", "P"))
    } yield keys.indices.map(i => (keys(i), prices(i) / 100.0, status(i)))
    val g = Gen.zip(ordGen, Gen.oneOf(0, 1, 2))
    Gen.listOfN(5, g).sample.getOrElse(Nil).foreach { case (orders, mft) =>
      val dir = stageTables("orders" -> orders
        .toDF("o_orderkey", "o_totalprice", "o_orderstatus"))
      val live = graft.streaming.CdcApply.applyChangelog(spark, dir, mft)
        .groupBy("status")
        .agg(count(lit(1)).as("cnt"),
          graft.core.Det.moneySum($"price").as("total_price"))
        .orderBy("status").collect().toSeq
      val batch = run("cdc_upsert", dir).collect().toSeq
      assert(live === batch, s"streaming CDC (mft=$mft) diverged from batch MERGE")
    }
  }

  test("markov removal effects are non-negative on random journey tables") {
    // the step-wise mass-dominance law: deleting a channel can never
    // RAISE the chain's conversion probability, for ANY generated
    // journey structure (including purchase-less and single-user ones)
    val evGen = for {
      n <- Gen.chooseNum(2, 150)
      users <- Gen.listOfN(n, Gen.chooseNum(1L, 12L))
      types <- Gen.listOfN(n,
        Gen.oneOf("click", "view", "purchase", "signup"))
    } yield users.zip(types)
    Gen.listOfN(4, evGen).sample.getOrElse(Nil).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ty), i) =>
        (i.toLong, i.toLong * 1000000000L, u, ty, 1.0, "{}") }
      val dir = stageTables("events" -> rows
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = run("seq_attribution_markov_removal", dir).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val full = got("full")
      assert(full >= 0.0 && full <= 1.0)
      got.filterNot(_._1 == "full").foreach { case (ch, p) =>
        assert(p <= full + 1e-12, s"removing $ch raised p_conv: $p > $full")
      }
    }
  }
}
