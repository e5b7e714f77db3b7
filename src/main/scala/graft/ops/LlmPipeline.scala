package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cut, Det, OSql, Q, Tables}

/** LLM-training-data pipeline operators (mandated surface beyond the
  * reference: dedup, text analysis, similarity search, multimodal).
  *
  * Scale notes:
  *  - dedup_exact hashes then groups — the shuffle carries (hash, id),
  *    never the document text;
  *  - tokenize/wordcount is explode → partial agg: the map-side combine
  *    collapses each partition's token counts before the shuffle;
  *  - sim_cosine_topk broadcasts the probe vector(s) and computes the
  *    dot product as a codegen'd higher-order fold over the embedding
  *    array (no explode → 64× row blowup, no shuffle before top-k).
  */
object LlmPipeline {
  import Det._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  private val dedupExact = Q(
    "dedup_exact",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy(md5($"text").as("h"))
        .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keeper"))
        .orderBy("h")
        .limit(200)
    },
    Some("SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keeper " +
      "FROM documents GROUP BY 1 ORDER BY h LIMIT 200"))

  private val tokenizeWordcount = Q(
    "text_tokenize_wordcount",
    (s, d) => {
      import s.implicits._
      val counts = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"token".asc)
      counts.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 20)
        .select($"lang", $"rn".cast("long").as("rn"), $"token", $"cnt")
        .orderBy("lang", "rn")
    },
    Some("WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents), " +
      "c AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2), " +
      "r AS (SELECT lang, token, cnt, row_number() OVER " +
      "(PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rn FROM c) " +
      "SELECT lang, CAST(rn AS BIGINT) AS rn, token, cnt FROM r WHERE rn <= 20 " +
      "ORDER BY lang, rn"))

  private val textStats = Q(
    "text_stats",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          dround(avg($"n_chars".cast("double")), 4).as("avg_chars"),
          dround(avg(size(split($"text", " ")).cast("double")), 4).as("avg_tokens"),
          max($"n_chars").as("max_chars"))
        .orderBy("lang", "source")
    },
    Some("SELECT lang, source, count(*) AS n_docs, " +
      OSql.sround("AVG(CAST(n_chars AS DOUBLE))", 4) + " AS avg_chars, " +
      OSql.sround("AVG(CAST(len(string_split(text, ' ')) AS DOUBLE))", 4) + " AS avg_tokens, " +
      "max(n_chars) AS max_chars FROM documents GROUP BY 1, 2 ORDER BY 1, 2"))

  /** Brute-force cosine top-k against probe vec_id=0. Embeddings are
    * L2-normalized (FIXTURES.md) so the dot product IS cosine. The probe
    * is a 1-row broadcast; the dot product is the native codegen'd
    * `DotProductF` expression (graft.functions) — a fused primitive
    * loop, same left-to-right double fold in both engines, rounded to
    * 6dp before the ORDER BY so the top-k cut is on identical keys.
    * Shared with `sim_ann_recall`, which measures the ANN indexes
    * against this exact scan.
    */
  private[ops] def exactTopK(
      s: SparkSession, d: String, k: Int, probeId: Long = 0L): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val probe = emb.filter($"vec_id" === probeId).select($"embedding".as("probe"))
    emb.crossJoin(broadcast(probe))
      .select($"vec_id",
        dround(graft.functions.VectorExpressions.dotF(s, $"embedding", $"probe"), 6)
          .as("sim"))
      .orderBy($"sim".desc, $"vec_id".asc)
      .limit(k)
  }

  /** Exact top-k for a PROBE SET in one corpus pass: the embeddings scan
    * joins the tiny broadcast probe table once, and each probe's top-k
    * is read off a probe-partitioned window — same (sim desc, vec_id)
    * tie rule as [[exactTopK]], so the per-probe sets are identical to
    * three single-probe runs. The recall gate uses this so the exact
    * side costs one scan regardless of probe-set size — the shape a
    * sampled 100-probe rollout gate needs.
    */
  private[ops] def exactTopKMulti(
      s: SparkSession, d: String, k: Int, probes: Seq[Long]): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val probeTab = emb.filter($"vec_id".isin(probes: _*))
      .select($"vec_id".as("probe"), $"embedding".as("pv"))
    val w = Window.partitionBy($"probe").orderBy($"sim".desc, $"vec_id".asc)
    emb.crossJoin(broadcast(probeTab))
      .select($"probe", $"vec_id",
        Det.dround(graft.functions.VectorExpressions.dotF(s, $"embedding", $"pv"), 6)
          .as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"probe", $"vec_id", $"rn")
  }

  /** DuckDB spelling of [[exactTopK]] (the oracle side of the exact
    * scan), parameterized by k and probe so the recall key can reuse
    * it.
    */
  private[ops] def exactTopkSql(k: Int, probeId: Long = 0L): String =
    s"WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = $probeId), " +
      "ex AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i " +
      "FROM embeddings), " +
      "px AS (SELECT unnest(p) AS y, generate_subscripts(p, 1) AS i FROM probe) " +
      "SELECT vec_id, " + OSql.sround("SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))", 6) +
      " AS sim FROM ex JOIN px USING (i) GROUP BY vec_id " +
      s"ORDER BY sim DESC, vec_id ASC LIMIT $k"

  private val simCosineTopk = Q(
    "sim_cosine_topk",
    (s, d) => exactTopK(s, d, 20),
    Some(exactTopkSql(20)))

  /** Multimodal row: text metadata ⋈ vector modality on the shared id. */
  private val multimodalJoin = Q(
    "multimodal_join",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .join(t(s, d, "embeddings"), $"doc_id" === $"vec_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          dround(avg(try_element_at($"embedding", lit(1)).cast("double")), 6).as("avg_first"))
        .orderBy("lang")
    },
    Some("SELECT lang, count(*) AS n, " +
      OSql.sround("AVG(CAST(embedding[1] AS DOUBLE))", 6) + " AS avg_first " +
      "FROM documents JOIN embeddings ON doc_id = vec_id GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------- near-dup (LSH)

  /** Word-n-gram rows per doc via posexplode + window lead — one
    * (doc_id, gram) row per position. NOT the array-lambda shape: a
    * `transform(sequence(...), i -> element_at(split(text), i))` lambda
    * gets `split(text)` inlined by projection collapse and re-splits the
    * document per element (~8× slower, measured), and higher-order
    * lambdas run interpreted. This shape splits once, shuffles tokens by
    * doc_id, and every expression stays codegen'd; docs shorter than n
    * tokens produce no rows. Both engines tokenize on a single space and
    * join grams with single spaces.
    */
  private[ops] def gramRows(s: SparkSession, d: String, n: Int): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val leads = (1 until n).map(i => lead($"w", i).over(w))
    t(s, d, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .select($"doc_id", concat_ws(" ", ($"w" +: leads): _*).as("x"),
        leads.last.as("guard"))
      .filter($"guard".isNotNull)
      .select($"doc_id", $"x")
  }

  /** One (doc_id, band) row per LSH band: 8 min-hashes in 4 bands of 2.
    * The hash family is TWO md5 digests per shingle (plain and
    * seed-suffixed), each split into four 8-hex-char (32-bit) slices —
    * the standard split-one-wide-hash trick, 4× cheaper than eight
    * independent md5s. The min is taken LEXICOGRAPHICALLY over the hex
    * slices, which both engines order identically.
    */
  private[ops] def bandRows(s: SparkSession, d: String): DataFrame =
    bandRowsFrom(s, gramRows(s, d, 3))

  /** Band table from an existing (doc_id, x) gram DataFrame — callers
    * that also need the raw grams (e.g. exact-Jaccard verification)
    * persist ONE gram pass and feed it here.
    *
    * Explode + aggregate-min instead of array higher-order functions:
    * HOF lambdas run interpreted (outside whole-stage codegen), while
    * this shape is a codegen'd projection (2 md5 per shingle) into a
    * partial+final hash aggregate — and it never materializes per-doc
    * hash arrays, which is also the memory-safe plan for huge docs.
    */
  private[ops] def bandRowsFrom(s: SparkSession, grams: DataFrame): DataFrame = {
    import s.implicits._
    val mins = (1 to 8).map(j => min(substring($"h", 8 * (j - 1) + 1, 8)).as(s"m$j"))
    val sig = grams
      .select($"doc_id", concat(md5($"x"), md5(concat($"x", lit("#x")))).as("h"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
    val bands = (1 to 4).map(k =>
      concat(col(s"m${2 * k - 1}"), col(s"m${2 * k}"), lit(s"#B$k")))
    sig.select($"doc_id", explode(array(bands: _*)).as("band"))
  }

  /** Banded MinHash near-duplicate candidates (SURVEY §2.2 Tier-2).
    * Candidate generation is a self-equi-join on the band key — the plan
    * is a shuffle bucketed by band, NEVER an all-pairs product, so at
    * 100 TB the cost is Σ bucket² over near-dup buckets only. The
    * standard LSH hot-bucket guard is enforced, not just promised: bands
    * shared by more than 100 docs (boilerplate-dominated buckets whose
    * pair explosion is quadratic and whose pairs are near-worthless) are
    * dropped before the self-join, in both engines.
    * n_bands = how many of the 4 bands agree, a collision-strength score.
    * The band table is the corpus-keyed [[graft.core.IndexCache]]
    * artifact the WHOLE near-dup family shares (cluster, components,
    * jaccard, containment, threshold sweep): built once per corpus per
    * JVM, materialized so the self-join never re-runs the shingle +
    * hash pass, and unlike `persist()` nothing leaks into the caller's
    * session cache.
    */
  private val dedupNearMinhash = Q(
    "dedup_near_minhash",
    (s, d) => {
      import s.implicits._
      val guarded = guardBands(
        graft.core.IndexCache(s, s"mh-bands|$d", bandRows(s, d)))
      val a = guarded.select($"doc_id".as("doc_a"), $"band")
      val b = guarded.select($"doc_id".as("doc_b"), $"band")
      a.join(b, a("band") === b("band") && $"doc_a" < $"doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_bands"))
        .orderBy("doc_a", "doc_b")
        .limit(1000)
    },
    Some("WITH " + LlmPipeline.bandCtes + LlmPipeline.guardCtes +
      " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands " +
      "FROM g a JOIN g b ON a.band = b.band AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 1000"))

  /** LSH hot-bucket guard: drop bands shared by >100 docs. The
    * broadcast side is `hot` — the set of pathological bands, provably
    * small (a band can only be hot if ≥100 docs repeat it) — anti-joined
    * against the band table; broadcasting the cool complement would be
    * corpus-sized. NULL bands (short docs) are dropped here too: they
    * can never equi-join and both engines then agree on the guarded set.
    */
  private[ops] def guardBands(bd: DataFrame): DataFrame = {
    val hot = bd.groupBy("band").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > 100).select("band")
    bd.filter(col("band").isNotNull)
      .join(broadcast(hot), Seq("band"), "left_anti")
  }

  /** Oracle-side mirror of [[guardBands]], appended after [[bandCtes]]. */
  private[ops] lazy val guardCtes: String =
    ", hot AS (SELECT band FROM bd GROUP BY band HAVING count(*) > 100), " +
      "g AS (SELECT doc_id, band FROM bd WHERE band IS NOT NULL " +
      "AND band NOT IN (SELECT band FROM hot))"

  /** DuckDB CTE chain producing `sh` (doc_id, shingle list) and `bd`
    * (doc_id, band) — the oracle-side mirror of gramRows/bandRows,
    * shared by every query that builds on the LSH band table.
    */
  // lazy: referenced from Q vals that initialize before this point in
  // the object body (and from LlmPipeline2)
  private[ops] lazy val bandCtes: String = {
    def mh(j: Int) =
      s"list_min(list_transform(h, x -> substring(x, ${8 * (j - 1) + 1}, 8)))"
    val bands = (1 to 4)
      .map(k => s"${mh(2 * k - 1)} || ${mh(2 * k)} || '#B$k' AS b$k").mkString(", ")
    "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN " +
      "list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) " +
      "ELSE [] END AS s FROM tok), " +
      "hs AS (SELECT doc_id, list_transform(s, x -> md5(x) || md5(x || '#x')) AS h FROM sh), " +
      s"sig AS (SELECT doc_id, $bands FROM hs), " +
      "bd AS (SELECT doc_id, unnest([b1,b2,b3,b4]) AS band FROM sig)"
  }

  /** Global bigram counts (SURVEY §2.2 Tier-2): explode word-2-grams →
    * partial + final count agg (map-side combine collapses each
    * partition's bigram counts before the shuffle), top-100 on a total
    * (cnt desc, bigram asc) order.
    */
  private val textNgram = Q(
    "text_ngram",
    (s, d) => {
      import s.implicits._
      gramRows(s, d, 2)
        .select($"x".as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"bigram".asc)
        .limit(100)
    },
    Some("WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents), " +
      "bg AS (SELECT unnest(CASE WHEN len(t) >= 2 THEN " +
      "list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]) " +
      "ELSE [] END) AS bigram FROM tok) " +
      "SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1 " +
      "ORDER BY cnt DESC, bigram ASC LIMIT 100"))

  /** Intra- vs inter-label average pairwise cosine (SURVEY §2.2 Tier-2),
    * the standard embedding-quality metric — computed WITHOUT the N²
    * pair join. Because Σ_{a∈A,b∈B} a·b = S_A·S_B (S = per-label vector
    * sum), one partial+final agg over the exploded (label, pos, x) view
    * yields per-label component sums; the "pairwise" stage then joins
    * only the L×64 sum vectors (L = #labels), so cost at 100 TB is one
    * scan + one tiny join. Intra-label removes the self-pairs via
    * Σ‖v‖²: avg = (S_A·S_A − Σ‖v‖²) / (n_A² − n_A).
    *
    * Residual ULP risk (documented, accepted): the per-label component
    * sums accumulate doubles in engine-chosen order on both sides, so
    * the 6dp floor-round could in principle land on different sides of
    * a 1e-6 boundary. The averaged quantities here sit ~1e-7+ away from
    * rounding boundaries on real data (they are means over hundreds of
    * terms, not adversarial constants), and no threshold filter consumes
    * them, so a flip cannot change row membership — only a single digit
    * — and has never been observed across sf0.001-0.1.
    */
  private val simPairwiseLabel = Q(
    "sim_pairwise_label",
    (s, d) => {
      import s.implicits._
      def exploded = t(s, d, "embeddings")
        .select($"label".cast("long").as("label"), posexplode($"embedding").as(Seq("pos", "x")))
        .select($"label", $"pos", $"x".cast("double").as("x"))
      val per = exploded.groupBy("label", "pos")
        .agg(sum($"x").as("sv"), sum($"x" * $"x").as("qv"))
      val cnt = t(s, d, "embeddings")
        .groupBy($"label".cast("long").as("label")).agg(count(lit(1)).as("n"))
      val selfdot = per.groupBy("label").agg(sum($"qv").as("selfdot"))
      val dots = per.select($"label".as("label_a"), $"pos", $"sv".as("sa"))
        .join(per.select($"label".as("label_b"), $"pos", $"sv".as("sb")), "pos")
        .filter($"label_a" <= $"label_b")
        .groupBy("label_a", "label_b")
        .agg(sum($"sa" * $"sb").as("dot"))
      dots
        .join(cnt.select($"label".as("label_a"), $"n".as("na")), "label_a")
        .join(cnt.select($"label".as("label_b"), $"n".as("nb")), "label_b")
        .join(selfdot.select($"label".as("label_a"), $"selfdot"), "label_a")
        .select($"label_a", $"label_b",
          dround(when($"label_a" === $"label_b",
            when($"na" > 1, ($"dot" - $"selfdot") / ($"na" * ($"na" - lit(1L)))))
            .otherwise($"dot" / ($"na" * $"nb")), 6).as("avg_cos"))
        .orderBy("label_a", "label_b")
    },
    Some("WITH ex AS (SELECT CAST(label AS BIGINT) AS label, " +
      "CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) AS pos " +
      "FROM embeddings), " +
      "per AS (SELECT label, pos, SUM(x) AS sv, SUM(x*x) AS qv FROM ex GROUP BY 1, 2), " +
      "cnt AS (SELECT CAST(label AS BIGINT) AS label, count(*) AS n FROM embeddings GROUP BY 1), " +
      "sd AS (SELECT label, SUM(qv) AS selfdot FROM per GROUP BY 1), " +
      "dots AS (SELECT a.label AS label_a, b.label AS label_b, SUM(a.sv * b.sv) AS dot " +
      "FROM per a JOIN per b ON a.pos = b.pos AND a.label <= b.label GROUP BY 1, 2) " +
      "SELECT label_a, label_b, " +
      OSql.sround("CASE WHEN label_a = label_b THEN " +
        "(dot - sd.selfdot) / nullif(na.n * (na.n - 1), 0) " +
        "ELSE dot / (na.n * nb.n) END", 6) + " AS avg_cos " +
      "FROM dots JOIN cnt na ON na.label = label_a JOIN cnt nb ON nb.label = label_b " +
      "JOIN sd ON sd.label = label_a ORDER BY label_a, label_b"))

  // ---------------------------------------------- near-dup cluster (CC)

  /** [[connectedComponents]]'s (v, lbl) labels, with the observables
    * the adaptive-policy laws pin: `rounds` of min-label propagation,
    * and whether the labels came from star `contracted`ion. A geometric
    * frontier must finish on propagation in a few rounds; a flooding
    * graph must hand over to contraction after exactly the probe window.
    */
  private[graft] final case class Components(
      labels: DataFrame, rounds: Int, contracted: Boolean)

  /** Min-label connected components over a SYMMETRIC edge list (v, u)
    * — the shared CC engine behind `dedup_cluster`. ADAPTIVE between
    * two algorithms, decided by the OBSERVED propagation dynamics of
    * the first rounds rather than a fixed round cap:
    *
    *  1. Pregel-style min-label propagation with path compression
    *     (label-of-label) — each round two co-keyed joins of the
    *     (vertex, label) table. On the common dedup shape —
    *     quasi-clique duplicate clusters around band hubs — the
    *     changed-label frontier collapses geometrically (measured at
    *     sf0.1: 473 → 7 → 1 → 0) and the whole fold is 3–5 cheap
    *     rounds. This is the fast path and it self-identifies: a
    *     frontier that has NOT collapsed below ¼ of round 1 by round 2
    *     never belongs to this regime.
    *  2. [[starContraction]] (large-star/small-star, O(log n) rounds
    *     REGARDLESS of diameter or branching) for everything else.
    *     The compression term does double along clean chains, but
    *     measured on the real banded graph at the 100-copy corpus it
    *     degrades to O(diameter) flooding — 24+ rounds with a
    *     six-figure frontier every round (the label forest stops
    *     mirroring graph distance once stars branch), while direct
    *     contraction closes the same graph in ~6 alternating rounds
    *     at half the total cost. A fixed cap would pay the failed
    *     propagation AND the fallback; the 2-round probe pays at most
    *     two cheap rounds before committing to the guaranteed path.
    *
    * Same labels either way, proven by the PropertySpec law that runs
    * both against a union-find oracle.
    *
    * Every round is a [[Cut]]: the loop needs its lineage cut each
    * round (otherwise round k re-executes all k−1 predecessors inside
    * every join — exponential). On archives up to the cut's gate the
    * tiny label table stays in executor memory; above it each round
    * spills to scratch parquet. `archive` is the corpus the edges
    * derive from.
    */
  private[graft] def connectedComponents(
      s: SparkSession, edgesIn: DataFrame, archive: String): Components = {
    import s.implicits._
    val edges = Cut(edgesIn, "cc-edges", archive)
    var labels = Cut(edges.select($"v").distinct()
      .select($"v", $"v".as("lbl")), "cc-labels", archive)
    var iter = 0
    // Backstop only: a frontier that passed the round-2 probe has
    // collapsed to a thin tail (measured at the 10-copy corpus:
    // 10899 → 1462 by round 2, then a sub-500 tail for 11 cheap
    // rounds), so letting it run is cheaper than switching; hitting
    // the backstop anyway means the dynamics shifted mid-run and
    // contraction still guarantees the answer.
    val maxIter = 16
    // Probe window and collapse bar: stay on propagation only if the
    // round-2 frontier fell below ¼ of round 1. Geometric regimes
    // measure well under 0.1; chains and flooding graphs sit near 1.
    val probeRound = 2
    var changed1 = -1L
    var converged = labels.isEmpty
    var flooding = false
    while (!converged && !flooding && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select($"v".as("u"), $"lbl".as("ulbl")), "u")
        .groupBy("v").agg(min($"ulbl").as("nmin"))
      // path compression: label-of-label (labels self-joined on the
      // label column — labels are always vertex ids, so the lookup
      // always resolves; LEFT + coalesce only defends the invariant)
      val lblOfLbl = labels.select($"v".as("lbl"), $"lbl".as("plbl"))
      // one job per round: the stepped table carries (old, new) label
      // so the convergence probe is a cheap count on checkpointed
      // data, not a second join
      val stepped = Cut(labels.join(nbrMin, Seq("v"), "left")
        .join(lblOfLbl, Seq("lbl"), "left")
        .select($"v", $"lbl",
          least($"lbl", coalesce($"nmin", $"lbl"),
            coalesce($"plbl", $"lbl")).as("nlbl")), "cc-step", archive)
      // full count only inside the probe window (the ratio needs it);
      // after that the convergence check is the short-circuiting
      // isEmpty the tail rounds want
      val delta = stepped.filter($"nlbl" =!= $"lbl")
      if (iter < probeRound) {
        val changed = delta.count()
        converged = changed == 0
        if (iter == 0) changed1 = changed
        else if (iter == probeRound - 1 && !converged)
          flooding = changed * 4L > changed1
      } else converged = delta.isEmpty
      labels = stepped.select($"v", $"nlbl".as("lbl"))
      iter += 1
    }
    val switched = !converged
    System.err.println(s"[graft] cc: min-label rounds=$iter " +
      s"converged=$converged" +
      (if (switched) " -> starContraction" else ""))
    Components(if (switched) starContraction(s, edges, archive) else labels,
      iter, switched)
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the
    * high-diameter-safe path: O(log n) alternating rounds regardless
    * of component diameter, vs min-label propagation's O(diameter).
    *
    *  - large-star: every node v links its LARGER neighbors to
    *    m = min(Γ(v) ∪ {v}) — long tails fold toward local minima;
    *  - small-star: every node v links its smaller neighbors (and
    *    itself) to its minimum smaller neighbor — stars flatten.
    *
    * Each half-round is one groupBy(min) + one co-keyed join over the
    * edge table (the same two shapes as a Lloyd iteration — the plan a
    * 1000-executor cluster wants), with a [[Cut]] per half-round.
    * At convergence every component is a star centered at its minimum
    * id, so the label read-off is one neighborhood-min pass. The
    * convergence probe is count-gated: a changing round almost always
    * changes the canonical edge COUNT (one cheap aggregate over the
    * checkpointed table), so the anti-join set-equality check runs only
    * on the rare count-stable round — and since |next| = |cur|, ONE
    * direction (next ∖ cur = ∅) proves equality, halving the probe.
    * Returns (v, lbl) for every vertex incident to an input edge; input
    * must be symmetric.
    */
  private[graft] def starContraction(
      s: SparkSession, edgesIn: DataFrame, archive: String): DataFrame = {
    import s.implicits._
    def canon(e: DataFrame): DataFrame =
      e.filter($"a" =!= $"b")
        .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
        .distinct()
    def sym(e: DataFrame): DataFrame =
      e.select($"a".as("v"), $"b".as("u"))
        .union(e.select($"b".as("v"), $"a".as("u")))
    val verts = Cut(edgesIn.select($"v").distinct(), "star-verts", archive)
    var cur = Cut(canon(edgesIn.select($"v".as("a"), $"u".as("b"))), "star-edges", archive)
    var curCount = cur.count()
    var iter = 0
    val maxIter = 64 // ≫ log₂ of any representable vertex count
    var done = curCount == 0
    while (!done && iter < maxIter) {
      val e = sym(cur)
      // large-star: u > v joins m = min(Γ(v) ∪ {v})
      val mins = e.groupBy($"v").agg(min($"u").as("mn"))
        .select($"v", least($"v", $"mn").as("m"))
      val afterLs = Cut(canon(
        e.join(mins, "v").filter($"u" > $"v")
          .select($"u".as("a"), $"m".as("b"))), "star-large", archive)
      // small-star: smaller neighbors (and v) join v's min neighbor
      val sm = sym(afterLs).filter($"u" < $"v")
      val mins2 = sm.groupBy($"v").agg(min($"u").as("mn"))
      val next = Cut(canon(
        sm.join(mins2, "v").select($"u".as("a"), $"mn".as("b"))
          .union(mins2.select($"v".as("a"), $"mn".as("b")))), "star-small", archive)
      val nextCount = next.count()
      done = nextCount == curCount && next.except(cur).isEmpty
      cur = next
      curCount = nextCount
      iter += 1
    }
    if (!done) sys.error(
      s"starContraction: not converged in $maxIter rounds (cannot happen " +
        "for graphs with < 2^64 vertices — indicates an edge-set bug)")
    // read labels off the final star forest; a vertex whose component
    // collapsed entirely (never happens for ≥2-node components, but
    // cheap to cover) labels itself
    val nbrMin = sym(cur).groupBy($"v").agg(min($"u").as("mn"))
    verts.join(nbrMin, Seq("v"), "left")
      .select($"v", least($"v", coalesce($"mn", $"v")).as("lbl"))
  }

  /** Connected components over the near-dup candidate graph — the
    * CLUSTER stage that completes the dedup pipeline (propose →
    * dispose → cluster → keep one doc per cluster). Edges are the
    * banded-MinHash candidate pairs (the propose stage above); the
    * operator is edge-set agnostic, so the Jaccard-disposed set plugs in
    * identically in a production pipeline. The fold is
    * [[connectedComponents]]: min-label propagation for the common
    * quasi-clique case, switching to the large-star/small-star
    * contraction for high-diameter graphs past the propagation cap.
    *
    * The oracle walks the same edges with a recursive CTE (transitive
    * closure → min reachable id) — quadratic in cluster size but exact,
    * fine at oracle scale; the Spark side IS the scale path.
    */
  /** Banded-MinHash candidate pairs as a SYMMETRIC edge list (v, u) —
    * the propose stage shared by [[dedupCluster]] (Pregel fold) and
    * `graph_components_star` (direct star contraction): both cluster the
    * SAME graph, so a shared builder keeps the two keys comparable by
    * construction.
    */
  private[ops] def candidateEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The band table is a pure corpus-derived INDEX ARTIFACT (the same
    // economics as the ANN signature tables): build once per corpus per
    // JVM and share across every consumer — dedup_cluster and
    // graph_components_star cluster the same graph, so paying the
    // shingle+hash pass twice would mis-charge the second key for work
    // the first already materialized. First caller pays (visible in its
    // bench timing); bit-identical either way.
    // the PAIR set is itself a derived index artifact one level above
    // the band table: three keys consume this same graph
    // (dedup_cluster, graph_components_star, graph_triangle_count),
    // and the band self-join + distinct is the expensive stage — cache
    // the canonical pairs, derive the symmetric view per caller
    // band table first, OUTSIDE the pair thunk: IndexCache's map
    // rejects re-entrant builds (ConcurrentHashMap recursive update),
    // and the band artifact is shared wider than the pair set anyway
    val guarded = guardBands(
      graft.core.IndexCache(s, s"mh-bands|$d", bandRows(s, d)))
    val cand = graft.core.IndexCache(s, s"mh-cand|$d",
      guarded.select($"doc_id".as("doc_a"), $"band")
        .join(guarded.select($"doc_id".as("doc_b"), $"band"), "band")
        .filter($"doc_a" < $"doc_b")
        .select("doc_a", "doc_b").distinct())
    cand.select($"doc_a".as("v"), $"doc_b".as("u"))
      .union(cand.select($"doc_b".as("v"), $"doc_a".as("u")))
  }

  /** STAR-SPARSIFIED candidate edges — the connectivity-only view of
    * the same banded graph: within each band bucket every member
    * connects to the bucket MINIMUM (its hub) instead of to every
    * other member. Connected components are provably identical to the
    * pairwise graph's (a bucket's clique and its hub-star have the
    * same vertex set and the same connectivity), so the two clustering
    * keys keep [[clusterOracleSql]] — the transitive closure over the
    * PAIRWISE graph — unchanged, while the edge volume drops from
    * Σ m(m−1)/2 to Σ (m−1) per bucket. That asymptotic matters
    * precisely on duplicate-heavy corpora: an m-way duplicate clique
    * sitting just under the hot-bucket guard generates m²/2 pairwise
    * candidates (the measured sf1→sf10 18× blow-up on the synthesized
    * 100-copy corpus — real lakes carry such clusters too), but only
    * m−1 star edges. The pairwise builder ([[candidateEdges]]) remains
    * the contract where PAIR semantics matter (triangle counting,
    * Jaccard disposal); sparsification is sound only for transitive
    * connectivity.
    */
  private[ops] def starEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val guarded = guardBands(
      graft.core.IndexCache(s, s"mh-bands|$d", bandRows(s, d)))
    val star = graft.core.IndexCache(s, s"mh-star|$d", {
      // hubs is bucket-count-sized (could be corpus-scale for mostly-
      // singleton banding) — an equi-join on band, never broadcast
      val hubs = guarded.groupBy("band")
        .agg(min($"doc_id").as("hub"), count(lit(1)).as("m"))
        .filter($"m" > 1).select("band", "hub")
      guarded.join(hubs, "band")
        .filter($"doc_id" =!= $"hub")
        .select($"hub".as("doc_a"), $"doc_id".as("doc_b")).distinct()
    })
    star.select($"doc_a".as("v"), $"doc_b".as("u"))
      .union(star.select($"doc_b".as("v"), $"doc_a".as("u")))
  }

  /** Label every vertex of a symmetric (v, u) edge list with its
    * component minimum and join in component sizes — the shared
    * read-off for both clustering keys.
    */
  private[ops] def labeledClusters(
      s: SparkSession, labels: DataFrame): DataFrame = {
    import s.implicits._
    val sizes = labels.groupBy($"lbl").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "lbl")
      .select($"v".as("doc_id"), $"lbl".as("cluster"), $"n_members")
      .orderBy("doc_id")
  }

  /** Transitive-closure oracle over the candidate graph (recursive CTE
    * → min reachable id) — quadratic in cluster size but exact, fine at
    * oracle scale. Shared verbatim by `dedup_cluster` and
    * `graph_components_star`: the two keys declare DIFFERENT cluster
    * algorithms over the same graph, so their oracles are identical and
    * a divergence between them is an algorithm bug by construction.
    */
  private[ops] lazy val clusterOracleSql: String =
    "WITH RECURSIVE " + bandCtes + guardCtes + ", " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM g a JOIN g b ON a.band = b.band AND a.doc_id < b.doc_id), " +
      "e2 AS (SELECT doc_a AS a, doc_b AS b FROM cand " +
      "UNION ALL SELECT doc_b, doc_a FROM cand), " +
      "walk(a, b) AS (SELECT a, b FROM e2 " +
      "UNION SELECT w.a, e.b FROM walk w JOIN e2 e ON w.b = e.a), " +
      "cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM walk GROUP BY a), " +
      "sz AS (SELECT cluster, count(*) AS n_members FROM cl GROUP BY 1) " +
      "SELECT doc_id, cluster, n_members FROM cl JOIN sz USING (cluster) " +
      "ORDER BY doc_id"

  private val dedupCluster = Q(
    "dedup_cluster",
    (s, d) => {
      // star-sparsified edges: identical components, Σ(m−1) edges per
      // bucket instead of Σm²/2 (see starEdges — the sf10 lesson)
      val edges = starEdges(s, d)
      labeledClusters(s, connectedComponents(s, edges, s"$d/documents.parquet").labels)
    },
    Some(clusterOracleSql))

  /** dedup_rate_by_source — the per-source DUPLICATION AUDIT over the
    * exact-hash groups `dedup_exact` keeps: how much of each source is
    * copied at all, and how much is copied FROM ANOTHER SOURCE (the
    * mirror-site signal that decides whether a source earns its mixture
    * weight or is a rehash of one already ingested). Text hashes once
    * (md5 over coalesce'd text so a NULL document still lands in a
    * group instead of vanishing from its source's ledger); corpus-wide
    * group stats (count, distinct sources) collapse map-side and join
    * back on the HASH — every shuffle carries (hash, source), never
    * document text — then the per-source ledger is one bounded agg.
    */
  private val dedupRateBySource = Q(
    "dedup_rate_by_source",
    (s, d) => {
      import s.implicits._
      val h = t(s, d, "documents")
        .select($"source", md5(coalesce($"text", lit(""))).as("h"))
      val stats = h.groupBy("h").agg(
        count(lit(1)).as("cnt"), countDistinct($"source").as("nsrc"))
      h.join(stats, "h")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(($"cnt" > 1).cast("long")).as("n_dup"),
          sum(($"nsrc" > 1).cast("long")).as("n_cross_source_dup"))
        .orderBy("source")
    },
    Some("WITH h AS (SELECT source, md5(coalesce(text, '')) AS h " +
      "FROM documents), " +
      "st AS (SELECT h, count(*) AS cnt, count(DISTINCT source) AS nsrc " +
      "FROM h GROUP BY 1) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
      "CAST(SUM(CASE WHEN nsrc > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_cross_source_dup " +
      "FROM h JOIN st USING (h) GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // dedup_survivorship_report — the POLICY audit above `dedup_exact`
  // (that key finds the duplicate groups; this answers "who survives
  // the keep-first rule and which sources lose documents to other
  // sources" — the report a curator signs off before a destructive
  // dedup pass ships): winner per md5 group = min(doc_id); per source
  // we report total docs, kept, dropped, and the cross-source losses
  // (dropped docs whose winner lives in ANOTHER source — the case
  // that changes a source's token share and needs human eyes).
  // Scale shape: one hash collapse to the winner table (the shuffle
  // carries (md5, doc_id) only), winners rejoin the doc list on the
  // SAME md5 hash partitioning carrying (md5, winner_id, winner_src),
  // and the report collapses map-side to ≤|sources| rows — text never
  // moves after the first projection.
  // ------------------------------------------------------------------

  private val dedupSurvivorshipReport = Q(
    "dedup_survivorship_report",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source", md5($"text").as("h"))
      val win = docs.groupBy("h")
        .agg(min($"doc_id").as("win_id"))
        .join(docs.select($"doc_id".as("win_id"), $"source".as("win_src")),
          Seq("win_id"))
      docs.join(win, Seq("h"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(($"doc_id" === $"win_id").cast("long")).as("n_kept"),
          sum(($"doc_id" =!= $"win_id").cast("long")).as("n_dropped"),
          sum(($"doc_id" =!= $"win_id" && $"source" =!= $"win_src")
            .cast("long")).as("n_lost_cross_source"))
        .orderBy("source")
    },
    Some("WITH docs AS (SELECT doc_id, source, md5(text) AS h " +
      "FROM documents), " +
      "w AS (SELECT h, MIN(doc_id) AS win_id FROM docs GROUP BY 1), " +
      "ws AS (SELECT w.h, w.win_id, d.source AS win_src FROM w " +
      "JOIN docs d ON d.doc_id = w.win_id) " +
      "SELECT docs.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(CASE WHEN docs.doc_id = ws.win_id THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_kept, " +
      "CAST(SUM(CASE WHEN docs.doc_id <> ws.win_id THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_dropped, " +
      "CAST(SUM(CASE WHEN docs.doc_id <> ws.win_id " +
      "AND docs.source <> ws.win_src THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_lost_cross_source " +
      "FROM docs JOIN ws ON ws.h = docs.h GROUP BY 1 ORDER BY 1"))

  val qs: Seq[Q] = Seq(
    dedupExact, tokenizeWordcount, textStats, simCosineTopk, multimodalJoin,
    dedupNearMinhash, textNgram, simPairwiseLabel, dedupCluster,
    dedupRateBySource, dedupSurvivorshipReport)
}
