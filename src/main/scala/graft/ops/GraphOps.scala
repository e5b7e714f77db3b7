package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cut, OSql, Q, Share, Tables}

/** Iterative graph analytics beyond connected components
  * (`dedup_cluster`): link analysis over a graph DERIVED from the
  * relational archive. The engine's graphs are always derived — there
  * is no edge table in the reference's data model — so the operator
  * demonstrates the full path: relation → edge list → iterative
  * fixpoint, all in DataFrame operations (the same co-partitioned
  * join-per-superstep shape GraphX's Pregel lowers to, without leaving
  * Catalyst/Tungsten or the columnar scan).
  */
object GraphOps {

  /** PageRank over the bipartite user ↔ event-type interaction graph
    * (distinct (user, type) pairs, both edge directions), 2 unrolled
    * power iterations, damping 0.85.
    *
    * Determinism is the interesting design problem: PageRank sums float
    * contributions in engine-chosen order, which can never hash-match
    * across engines. This implementation runs ENTIRELY IN INTEGER
    * ARITHMETIC — ranks are scaled to 1e10, contributions are truncating
    * integer divisions (`div` here, `//` in DuckDB — identical on
    * non-negatives), and damping is (85·s) div 100 — so both engines
    * produce bit-identical BIGINT ranks in any summation order, the
    * same trick the IVF k-means uses for its centroids. Headroom: total
    * rank mass is N·1e10 ≤ 1e16 for N ≤ 10^6 nodes, and the 85× blowup
    * stays under 10^18 < Long.Max.
    *
    * Scale shape: each iteration is ONE equi-join (edges ⋈ ranks on
    * src — both sides hash-partitioned by src, so consecutive
    * iterations reuse the partitioning) and ONE partial+final agg by
    * dst; nothing else. Every node has in-edges (edges are symmetric),
    * so no dangling-mass correction term is needed. At 100 TB the edge
    * list is the big side and ranks the small side; the join stays
    * shuffle-light because ranks arrive already partitioned from the
    * previous iteration's agg. Iteration count is fixed (2) for the
    * verified key — convergence looping belongs to the caller, as in
    * `dedup_cluster`.
    */
  private val Scale = 10000000000L
  private val Teleport = Scale * 15L / 100L

  private[graft] def pagerankRanks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.events(s, d)
      .select(concat(lit("u:"), $"user_id".cast("string")).as("src"),
        concat(lit("t:"), $"event_type").as("dst"))
      .distinct()
    val edges = pairs.unionByName(pairs.select($"dst".as("src"), $"src".as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesD = edges.join(deg, "src")
    // Iteration 1 FOLDED: the initial rank vector is the constant
    // `Scale` on exactly the src node set, so edgesD ⋈ ranks₀ matches
    // every edge with rank = Scale — the join is an identity and the
    // contribution is `Scale div deg` directly (guide §2.4: remove
    // shuffles outright). Row membership is unchanged (every dst with
    // an in-edge), so iteration 2 sees bit-identical input.
    var ranks = edgesD
      .select($"dst", expr(s"$Scale div deg").as("c"))
      .groupBy("dst")
      .agg(sum($"c").as("s"))
      .select($"dst".as("node"),
        (lit(Teleport) + expr("(85 * s) div 100")).as("rank"))
    for (_ <- 2 to 2) {
      ranks = edgesD.join(ranks, edgesD("src") === ranks("node"))
        .select($"dst", expr("rank div deg").as("c"))
        .groupBy("dst")
        .agg(sum($"c").as("s"))
        .select($"dst".as("node"),
          (lit(Teleport) + expr("(85 * s) div 100")).as("rank"))
    }
    ranks
  }

  private val graphPagerank = Q(
    "graph_pagerank",
    (s, d) => {
      import s.implicits._
      pagerankRanks(s, d).orderBy($"rank".desc, $"node").limit(20)
    },
    Some("WITH pairs AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src, " +
      "'t:' || event_type AS dst FROM events), " +
      "edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs), " +
      "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1), " +
      "r0 AS (SELECT src AS node, CAST(10000000000 AS BIGINT) AS rank FROM deg), " +
      "c1 AS (SELECT e.dst, sum(r.rank // d.deg) AS s " +
      "FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.node GROUP BY 1), " +
      "r1 AS (SELECT dst AS node, CAST(1500000000 + (85 * s) // 100 AS BIGINT) AS rank FROM c1), " +
      "c2 AS (SELECT e.dst, sum(r.rank // d.deg) AS s " +
      "FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON e.src = r.node GROUP BY 1), " +
      "r2 AS (SELECT dst AS node, CAST(1500000000 + (85 * s) // 100 AS BIGINT) AS rank FROM c2) " +
      "SELECT node, rank FROM r2 ORDER BY rank DESC, node LIMIT 20"))

  /** graph_ppr_seeded — PERSONALIZED PageRank from a single seed node
    * (the 't:purchase' type vertex of the same user↔type bipartite
    * graph): teleport mass lands ONLY on the seed, so after two power
    * iterations the rank reads "proximity to purchasing" — the
    * recommender primitive global PageRank can't express (its ranks
    * are query-independent). Same integer-arithmetic determinism as
    * [[pagerankRanks]] — ranks scale at 1e10, contributions are
    * truncating divisions on non-negatives, damping is (85·s) div 100,
    * the seed bonus a CASE arm — bit-identical BIGINT ranks in any
    * summation order. Nodes unreachable in two hops simply never enter
    * the rank table (a zero row and an absent row rank identically;
    * the oracle replays the same construction). Same per-iteration
    * plan shape as pagerank: one equi-join + one partial+final agg.
    */
  private[graft] def pprRanks(s: SparkSession, d: String, seed: String)
      : DataFrame = {
    import s.implicits._
    val pairs = Tables.events(s, d)
      .select(concat(lit("u:"), $"user_id".cast("string")).as("src"),
        concat(lit("t:"), $"event_type").as("dst"))
      .distinct()
    val edges = pairs.unionByName(pairs.select($"dst".as("src"), $"src".as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesD = edges.join(deg, "src")
    // Iteration 1 FOLDED (the pagerankRanks discipline): rank₀ is
    // Scale on the seed and 0 elsewhere over exactly the src node
    // set, so the first edges ⋈ ranks join is an identity with a
    // per-row contribution of `Scale div deg` for seed-sourced edges
    // and 0 otherwise. The groupBy row membership (every dst with an
    // in-edge, including zero-sum ones) is preserved — iteration 2
    // and the rank>0 filter see bit-identical input.
    var ranks = edgesD
      .select($"dst",
        when($"src" === seed, expr(s"$Scale div deg")).otherwise(lit(0L)).as("c"))
      .groupBy("dst")
      .agg(sum($"c").as("s"))
      .select($"dst".as("node"),
        (when($"dst" === seed, lit(Teleport)).otherwise(lit(0L))
          + expr("(85 * s) div 100")).as("rank"))
    for (_ <- 2 to 2) {
      ranks = edgesD.join(ranks, edgesD("src") === ranks("node"))
        .select($"dst", expr("rank div deg").as("c"))
        .groupBy("dst")
        .agg(sum($"c").as("s"))
        .select($"dst".as("node"),
          (when($"dst" === seed, lit(Teleport)).otherwise(lit(0L))
            + expr("(85 * s) div 100")).as("rank"))
    }
    ranks
  }

  private val graphPprSeeded = Q(
    "graph_ppr_seeded",
    (s, d) => {
      import s.implicits._
      pprRanks(s, d, "t:purchase")
        .filter($"rank" > 0)
        .orderBy($"rank".desc, $"node").limit(20)
    },
    Some("WITH pairs AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src, " +
      "'t:' || event_type AS dst FROM events), " +
      "edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs), " +
      "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1), " +
      "r0 AS (SELECT src AS node, CAST(CASE WHEN src = 't:purchase' " +
      "THEN 10000000000 ELSE 0 END AS BIGINT) AS rank FROM deg), " +
      "c1 AS (SELECT e.dst, sum(r.rank // d.deg) AS s " +
      "FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.node GROUP BY 1), " +
      "r1 AS (SELECT dst AS node, CAST(CASE WHEN dst = 't:purchase' " +
      "THEN 1500000000 ELSE 0 END + (85 * s) // 100 AS BIGINT) AS rank FROM c1), " +
      "c2 AS (SELECT e.dst, sum(r.rank // d.deg) AS s " +
      "FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON e.src = r.node GROUP BY 1), " +
      "r2 AS (SELECT dst AS node, CAST(CASE WHEN dst = 't:purchase' " +
      "THEN 1500000000 ELSE 0 END + (85 * s) // 100 AS BIGINT) AS rank FROM c2) " +
      "SELECT node, rank FROM r2 WHERE rank > 0 ORDER BY rank DESC, node LIMIT 20"))

  /** Connected components via LARGE-STAR/SMALL-STAR contraction as a
    * DECLARED key — not just `dedup_cluster`'s past-the-diameter-cap
    * fallback. The two keys cluster the SAME banded-MinHash candidate
    * graph ([[LlmPipeline.candidateEdges]]) with different algorithms:
    * min-label propagation is O(diameter) rounds (right for near-dup
    * quasi-cliques, diameter ≈ 2); star contraction is O(log n) rounds
    * regardless of diameter (right for chain-shaped graphs — citation
    * webs, edit histories). Both declare the SAME oracle string, so a
    * divergence between the two algorithms is caught by the hash gate
    * itself, and the PropertySpec law additionally pins both against a
    * union-find oracle on random graphs including chains. Declaring the
    * star path keeps it benchmarked and verified every round instead of
    * dormant until the first pathological corpus triggers it.
    */
  private val graphComponentsStar = Q(
    "graph_components_star",
    (s, d) => {
      // star-sparsified candidate edges (LlmPipeline.starEdges):
      // identical components at Σ(m−1) edges per band bucket
      val edges = LlmPipeline.starEdges(s, d)
      LlmPipeline.labeledClusters(s,
        LlmPipeline.starContraction(s, edges, s"$d/documents.parquet"))
    },
    Some(LlmPipeline.clusterOracleSql))

  /** Triangle counting + global clustering coefficient over the same
    * banded-MinHash candidate graph — the standard graph-quality probe
    * (a near-dup candidate graph with few triangles is noise; dense
    * triangles mean boilerplate families worth clustering).
    *
    * Scale design: the naive wedge join explodes on hub vertices
    * (Σ deg² cost concentrated on the hottest key), so edges are
    * ORIENTED by the (degree, id) total order — every edge points from
    * its lower-degree endpoint — before the wedge self-join. Each
    * triangle then forms exactly one wedge, AT ITS MINIMUM-DEGREE
    * VERTEX: out-degrees under this orientation are bounded by O(√|E|)
    * for any graph, which caps the hot key and is the classic
    * MapReduce triangle-count bound (Suri & Vassilvitskii's
    * partition-friendly scheme). Every join is an equi-join: wedge
    * pairs close via a hash join against the id-ordered edge set. The
    * wedge count for the coefficient is Σ d(d-1)/2 in exact integer
    * arithmetic off the degree table — no float until the final ratio,
    * rounded identically in both engines.
    *
    * The oracle counts triangles by pure id-order (a<b<c triple join)
    * — orientation-independence of the count is exactly what the hash
    * gate then proves.
    */
  private val graphTriangleCount = Q(
    "graph_triangle_count",
    (s, d) => {
      import s.implicits._
      // the edge set is a projection of the cached candidate-pair
      // artifact: five branches (ordered set, degree table, both wedge
      // sides, the closing semi-join) each scan the artifact
      val sym = LlmPipeline.candidateEdges(s, d) // symmetric (v, u)
      val ordered = sym.filter($"v" < $"u")
        .select($"v".as("a"), $"u".as("b"))
      val deg = sym.groupBy($"v".as("x")).agg(count(lit(1)).as("dg"))
      val withDeg = ordered
        .join(deg.select($"x".as("a"), $"dg".as("da")), "a")
        .join(deg.select($"x".as("b"), $"dg".as("db")), "b")
      val oriented = Share(withDeg.select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"),
          struct($"a".as("s"), $"b".as("t")))
          .otherwise(struct($"b".as("s"), $"a".as("t"))).as("e"))
        .select($"e.s".as("s"), $"e.t".as("t")))
      // wedges at the orientation-minimum vertex; (t1 < t2) by id so the
      // closing edge lookup is the id-ordered set itself
      val e1 = oriented.select($"s", $"t".as("t1"))
      val e2 = oriented.select($"s", $"t".as("t2"))
      val wedges = e1.join(e2, Seq("s")).filter($"t1" < $"t2")
        .select($"t1".as("a"), $"t2".as("b"))
      val nTri = wedges.join(ordered, Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      // count CLOSED wedges (= 3·triangles… counted once per closing
      // join row): the semi-join keeps one row per closed wedge, and
      // each triangle contributes exactly one wedge, so count = |tri|.
      val nEdge = ordered.agg(count(lit(1)).as("n_edges"))
      val nVert = deg.agg(count(lit(1)).as("n_vertices"))
      val nWedge = deg.agg(sum(expr("(dg * (dg - 1)) div 2")).cast("long")
        .as("n_wedges"))
      nVert.crossJoin(nEdge).crossJoin(nWedge).crossJoin(nTri)
        .select($"n_vertices", $"n_edges", $"n_wedges", $"n_triangles",
          when($"n_wedges" === 0L, lit(0.0))
            .otherwise(graft.core.Det.dround(
              lit(3.0) * $"n_triangles" / $"n_wedges", 6))
            .as("clustering_coeff"))
    },
    Some("WITH " + LlmPipeline.bandCtes + LlmPipeline.guardCtes + ", " +
      "cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b " +
      "FROM g a JOIN g b ON a.band = b.band AND a.doc_id < b.doc_id), " +
      "deg AS (SELECT x, count(*) AS dg FROM " +
      "(SELECT a AS x FROM cand UNION ALL SELECT b FROM cand) GROUP BY 1), " +
      "tri AS (SELECT count(*) AS n FROM cand e1 " +
      "JOIN cand e2 ON e2.a = e1.b " +
      "JOIN cand e3 ON e3.a = e1.a AND e3.b = e2.b) " +
      "SELECT (SELECT count(*) FROM deg) AS n_vertices, " +
      "(SELECT count(*) FROM cand) AS n_edges, " +
      "(SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges, " +
      "(SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles, " +
      "(SELECT CASE WHEN sum((dg * (dg - 1)) // 2) = 0 THEN 0.0 ELSE " +
      OSql.sround("3.0 * (SELECT n FROM tri) / sum((dg * (dg - 1)) // 2)", 6) +
      " END FROM deg) AS clustering_coeff"))

  /** Synchronous LABEL PROPAGATION over the user ↔ event-type
    * bipartite graph — the community/semi-supervised primitive the
    * family was missing next to ranking (pagerank), reachability
    * (bfs), and clustering (components): users seed with
    * pmod(user_id, 3), then one full synchronized round — every TYPE
    * takes the majority label of its users, every USER the majority
    * label of its types — with the deterministic tie rule (highest
    * count, then smallest label). The ledger reports each final
    * label's population with an exact user-id checksum (the hash
    * verifies the ASSIGNMENT, not just sizes) and how many types
    * carry the label.
    *
    * Scale shape: a superstep is one equi-join + one partial+final
    * majority aggregate (max over (count, −label) structs — no window
    * over raw rows; the per-(vertex, label) count relation is the
    * shuffle, bounded by edges). The type side collapses to a
    * ≤|types|-row broadcast between half-rounds — the same bounded
    * co-partitioned superstep economics as the other iterative graph
    * keys; more rounds repeat the same two shapes.
    */
  private val graphLabelPropagation = Q(
    "graph_label_propagation",
    (s, d) => {
      import s.implicits._
      val p = Share(Tables.events(s, d).select($"user_id", $"event_type").distinct())
      val seed = p.select($"user_id").distinct()
        .withColumn("lu", pmod($"user_id", lit(3L)))
      // half-round 1: types adopt the majority label of their users
      val tl = p.join(seed, "user_id")
        .groupBy($"event_type", $"lu").agg(count(lit(1)).as("c"))
        .groupBy($"event_type")
        .agg(max(struct($"c", (-$"lu").as("nl"))).as("m"))
        .select($"event_type", (-$"m.nl").as("lt"))
      // half-round 2: users adopt the majority label of their types
      val ul = p.join(broadcast(tl), "event_type")
        .groupBy($"user_id", $"lt").agg(count(lit(1)).as("c"))
        .groupBy($"user_id")
        .agg(max(struct($"c", (-$"lt").as("nl"))).as("m"))
        .select($"user_id", (-$"m.nl").as("lab"))
      val tt = tl.groupBy($"lt".as("lab")).agg(count(lit(1)).as("nt"))
      ul.groupBy("lab")
        .agg(count(lit(1)).as("n_users"),
          sum($"user_id").cast("long").as("uid_checksum"))
        .join(broadcast(tt), Seq("lab"), "left_outer")
        .select($"lab".as("label"), $"n_users", $"uid_checksum",
          coalesce($"nt", lit(0L)).as("n_types"))
        .orderBy("label")
    },
    Some("WITH p AS (SELECT DISTINCT user_id, event_type FROM events), " +
      // ((x % 3) + 3) % 3 restates Spark's pmod for negative ids
      "seed AS (SELECT user_id, ((user_id % 3) + 3) % 3 AS lu " +
      "FROM (SELECT DISTINCT user_id FROM p)), " +
      "tc AS (SELECT event_type, lu, count(*) AS c FROM p " +
      "JOIN seed USING (user_id) GROUP BY 1, 2), " +
      "tl AS (SELECT event_type, lu AS lt FROM (SELECT event_type, lu, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY c DESC, lu ASC) AS rn " +
      "FROM tc) WHERE rn = 1), " +
      "uc AS (SELECT user_id, lt, count(*) AS c FROM p " +
      "JOIN tl USING (event_type) GROUP BY 1, 2), " +
      "ul AS (SELECT user_id, lt AS lab FROM (SELECT user_id, lt, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY c DESC, lt ASC) AS rn " +
      "FROM uc) WHERE rn = 1), " +
      "tt AS (SELECT lt AS lab, count(*) AS nt FROM tl GROUP BY 1) " +
      "SELECT ul.lab AS label, count(*) AS n_users, " +
      "CAST(SUM(user_id) AS BIGINT) AS uid_checksum, " +
      "CAST(COALESCE(max(tt.nt), 0) AS BIGINT) AS n_types " +
      "FROM ul LEFT JOIN tt ON tt.lab = ul.lab GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // graph_hits — Kleinberg's HITS (hubs & authorities) on the DIRECTED
  // user→type interaction graph, the mutually-recursive sibling of
  // [[graphPagerank]]'s single score: auth(t) = Σ hub(u) over in-edges
  // and hub(u) = Σ auth(t) over out-edges, 2 unrolled iterations. On
  // this bipartite derivation the split is meaningful — hubs are the
  // broad-activity users, authorities the event types that broad users
  // touch — and the two scores do NOT reduce to degree after the
  // renormalized second pass. Determinism is the pagerank discipline
  // taken one step further: scores are parts-per-1e10 BIGINTs, each
  // half-step renormalizes by the step's maximum via one truncating
  // division (sa·1e10) div max(sa) — numerators in DECIMAL(38,0)/
  // HUGEINT so N up to 10⁹ nodes can't overflow, non-negative so
  // trunc = floor in both engines — and the normalizer arrives as a
  // broadcast 1-row aggregate. Per half-step the plan is ONE equi-join
  // (edges ⋈ scores, both hashed on the join side) + one partial+final
  // agg by the other side — the Pregel superstep shape, no windows,
  // no products beyond the 1-row normalizer.
  // ------------------------------------------------------------------

  private val graphHits = Q(
    "graph_hits",
    (s, d) => {
      import s.implicits._
      // the edge list feeds all four half-step joins — cut once, not
      // shared: as a Share the half-steps made the key 12–41% slower
      val edges = Cut(Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select(concat(lit("u:"), $"user_id".cast("string")).as("u"),
          concat(lit("t:"), $"event_type").as("t"))
        .distinct(), "hits-edges", s"$d/events.parquet")
      var hubs: DataFrame = null
      var auths: DataFrame = null
      for (it <- 1 to 2) {
        // Iteration 1's hub vector is the constant Scale on exactly
        // the distinct-u set, so edges ⋈ hubs is an identity and the
        // auth sum is count(in-edges)·Scale — fold the join away
        // (guide §2.4); the decimal lift happens before the multiply
        // so a 10⁹-node count cannot overflow a long.
        val araw =
          if (it == 1)
            edges.groupBy("t")
              .agg((count(lit(1)).cast(org.apache.spark.sql.types.DecimalType(38, 0))
                * lit(Scale)).as("sa"))
          else
            edges.join(hubs, "u").groupBy("t")
              .agg(sum($"h".cast(org.apache.spark.sql.types.DecimalType(38, 0)))
                .as("sa"))
        auths = araw.crossJoin(broadcast(araw.agg(max($"sa").as("ma"))))
          .select($"t",
            expr(s"((sa * $Scale) div ma)").cast("long").as("a"))
        val hraw = edges.join(auths, "t").groupBy("u")
          .agg(sum($"a".cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("sh"))
        hubs = hraw.crossJoin(broadcast(hraw.agg(max($"sh").as("mh"))))
          .select($"u",
            expr(s"((sh * $Scale) div mh)").cast("long").as("h"))
      }
      auths.orderBy($"a".desc, $"t".asc).limit(10)
        .select(lit("auth").as("side"), $"t".as("node"), $"a".as("score"))
        .unionByName(hubs.orderBy($"h".desc, $"u".asc).limit(10)
          .select(lit("hub").as("side"), $"u".as("node"), $"h".as("score")))
        .orderBy($"side".asc, $"score".desc, $"node".asc)
    },
    Some("WITH ed AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS u, " +
      "'t:' || event_type AS t FROM events WHERE user_id IS NOT NULL), " +
      "h0 AS (SELECT DISTINCT u, CAST(10000000000 AS BIGINT) AS h FROM ed), " +
      "a1r AS (SELECT t, SUM(CAST(h0.h AS HUGEINT)) AS sa " +
      "FROM ed JOIN h0 USING (u) GROUP BY 1), " +
      "a1 AS (SELECT t, CAST((sa * 10000000000) // " +
      "(SELECT MAX(sa) FROM a1r) AS BIGINT) AS a FROM a1r), " +
      "h1r AS (SELECT u, SUM(CAST(a1.a AS HUGEINT)) AS sh " +
      "FROM ed JOIN a1 USING (t) GROUP BY 1), " +
      "h1 AS (SELECT u, CAST((sh * 10000000000) // " +
      "(SELECT MAX(sh) FROM h1r) AS BIGINT) AS h FROM h1r), " +
      "a2r AS (SELECT t, SUM(CAST(h1.h AS HUGEINT)) AS sa " +
      "FROM ed JOIN h1 USING (u) GROUP BY 1), " +
      "a2 AS (SELECT t, CAST((sa * 10000000000) // " +
      "(SELECT MAX(sa) FROM a2r) AS BIGINT) AS a FROM a2r), " +
      "h2r AS (SELECT u, SUM(CAST(a2.a AS HUGEINT)) AS sh " +
      "FROM ed JOIN a2 USING (t) GROUP BY 1), " +
      "h2 AS (SELECT u, CAST((sh * 10000000000) // " +
      "(SELECT MAX(sh) FROM h2r) AS BIGINT) AS h FROM h2r) " +
      "SELECT * FROM (" +
      "(SELECT 'auth' AS side, t AS node, a AS score FROM a2 " +
      "ORDER BY a DESC, t ASC LIMIT 10) " +
      "UNION ALL " +
      "(SELECT 'hub' AS side, u AS node, h AS score FROM h2 " +
      "ORDER BY h DESC, u ASC LIMIT 10)) " +
      "ORDER BY side ASC, score DESC, node ASC"))

  // ------------------------------------------------------------------
  // graph_katz_centrality — Katz centrality over the same bipartite
  // user↔type graph, truncated at path length 3 with α = 0.1: the
  // centrality that counts ALL walks (not just the stationary visit
  // frequency PageRank converges to — Katz credits a node for being
  // reachable by MANY short paths even off the random-walk core, which
  // is why directed-influence analyses prefer it). The α-geometric
  // series is spelled EXACTLY: with α = 1/10, 10³·Σ αᵏ·walksₖ(v) =
  // 100·w₁ + 10·w₂ + w₃ where wₖ(v) = #walks of length k ENDING at v
  // — pure BIGINT walk counting, bit-identical in any engine/order
  // (the PageRank integer-rank trick without even a truncating
  // division). Each hop is the superstep shape: ONE edges⋈counts
  // equi-join + ONE partial+final agg by dst, partitioning reused
  // across hops; top-20 cut via TakeOrderedAndProject. Headroom: wₖ ≤
  // (max deg)ᵏ ≈ 10¹⁸ only beyond 10⁶-degree hubs at k = 3 — the
  // production variant lifts to DECIMAL(38,0) before that regime.
  // ------------------------------------------------------------------

  private val graphKatzCentrality = Q(
    "graph_katz_centrality",
    (s, d) => {
      import s.implicits._
      val pairs = Tables.events(s, d)
        .select(concat(lit("u:"), $"user_id".cast("string")).as("src"),
          concat(lit("t:"), $"event_type").as("dst"))
        .distinct()
      val edges = pairs
        .unionByName(pairs.select($"dst".as("src"), $"src".as("dst")))
      def hop(counts: DataFrame): DataFrame =
        edges.join(counts, edges("src") === counts("node"))
          .groupBy($"dst").agg(sum($"w").as("w"))
          .select($"dst".as("node"), $"w")
      // w₁ folded: hop over the all-ones vector on the full src set is
      // the in-degree — exactly the oracle's w1 CTE spelling; the
      // edges ⋈ ones join is an identity (guide §2.4)
      val w1 = edges.groupBy($"dst").agg(count(lit(1)).cast("long").as("w"))
        .select($"dst".as("node"), $"w")
      val w2 = hop(w1)
      val w3 = hop(w2)
      w1.select($"node", $"w".as("w1"))
        .join(w2.select($"node", $"w".as("w2")), "node")
        .join(w3.select($"node", $"w".as("w3")), "node")
        .select($"node", $"w1", $"w2", $"w3",
          ($"w1" * 100 + $"w2" * 10 + $"w3").as("katz_m"))
        .orderBy($"katz_m".desc, $"node".asc).limit(20)
    },
    Some("WITH pairs AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) " +
      "AS src, 't:' || event_type AS dst FROM events), " +
      "edges AS (SELECT src, dst FROM pairs " +
      "UNION ALL SELECT dst, src FROM pairs), " +
      "w1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS w " +
      "FROM edges GROUP BY 1), " +
      "w2 AS (SELECT e.dst AS node, CAST(SUM(w1.w) AS BIGINT) AS w " +
      "FROM edges e JOIN w1 ON w1.node = e.src GROUP BY 1), " +
      "w3 AS (SELECT e.dst AS node, CAST(SUM(w2.w) AS BIGINT) AS w " +
      "FROM edges e JOIN w2 ON w2.node = e.src GROUP BY 1) " +
      "SELECT w1.node, w1.w AS w1, w2.w AS w2, w3.w AS w3, " +
      "w1.w * 100 + w2.w * 10 + w3.w AS katz_m " +
      "FROM w1 JOIN w2 ON w2.node = w1.node JOIN w3 ON w3.node = w1.node " +
      "ORDER BY katz_m DESC, w1.node ASC LIMIT 20"))

  val qs: Seq[Q] = Seq(graphPagerank, graphComponentsStar, graphTriangleCount,
    graphLabelPropagation, graphPprSeeded, graphHits, graphKatzCentrality)
}
