package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cut, Det, OSql, Q, Share, Tables}

/** Corpus-curation wave: the selection/sharding operators that sit
  * between cleaning and training in a large-scale data pipeline —
  * semantic (cluster-then-pairwise) dedup over the trained coarse
  * quantizer, greedy token-budget selection, deterministic ntile
  * sharding computed distributively, per-row importance-weighted
  * sampling, and exact-sum second-moment feature statistics
  * (correlation / covariance / OLS slope).
  *
  * Shared design rules (see LlmPipeline.scala): shuffles carry keys and
  * counters, never document text; every float that crosses an
  * order-dependent accumulation is either replaced by an exact decimal/
  * integer sum or floor-rounded identically in Spark and the DuckDB
  * oracle; window work is partitioned (or two-phase) — the engine never
  * funnels a fact-sized relation through one task.
  */
object CurateOps {
  import Det._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023's shape): cluster
    * the embedding corpus with the SAME deterministic Lloyd k-means the
    * IVF index trains ([[LlmPipeline2.ivfIndex]]), then compare pairs
    * ONLY within a cluster: exact cosine via the codegen'd DotProductF
    * fold, a pair is semantic-duplicate at cos ≥ 0.4, and the keeper
    * rule drops the higher vec_id. Output is the per-cluster dedup
    * ledger (members / dup pairs / dropped).
    *
    * Scale: the learned coarse quantizer is the blocking structure, and
    * the cell count GROWS WITH THE CORPUS — K = max(8, ⌈N/B̄⌉) with
    * target mean cell B̄=64 ([[LlmPipeline2.ivfDerivedK]], one
    * distributed `count()` decides it), so candidate volume is
    * Σ|cell|²/2 ≈ N·B̄/2: LINEAR in N, the SemDeDup parameterization
    * (~100k clusters at web scale), never a fixed-K N²/K blowup. The
    * within-cell self-join is a cell-keyed equi-join shuffling on K
    * keys, so the growing K is also what keeps the shuffle unskewed:
    * cells ≫ shuffle partitions at scale. At the sf where N/B̄ ≤ 8 the
    * clamp keeps K=8 — the exact index `sim_ann_ivf` declares, so the
    * two keys share ONE trained artifact at fixture scale.
    * Complementary to `dedup_embedding_cosine` (random-hyperplane
    * banding): the learned quantizer groups by global geometry and
    * surfaces pairs band collision can miss.
    *
    * The oracle replays the identical training through the shared
    * unrolled Lloyd CTEs — [[LlmPipeline2.ivfCtesDerivedK]] restates
    * the K rule as integer arithmetic over a window count, so both
    * engines derive the same K from the data alone and the
    * assignments stay bit-identical.
    */
  private val dedupSemantic = Q(
    "dedup_semantic",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val k = LlmPipeline2.ivfDerivedK(LlmPipeline2.corpusStats(s, d)._1)
      val (_, a2, _) = LlmPipeline2.ivfIndex(s, d, k)
      val m = emb.join(a2, "vec_id").select($"cell", $"vec_id", $"embedding")
      val pairs = m.select($"cell", $"vec_id".as("va"), $"embedding".as("ea"))
        .join(m.select($"cell", $"vec_id".as("vb"), $"embedding".as("eb")), Seq("cell"))
        .filter($"va" < $"vb")
        .select($"cell", $"va", $"vb",
          dround(graft.functions.VectorExpressions.dotF(s, $"ea", $"eb"), 6).as("cos"))
        .filter($"cos" >= 0.4)
      val members = m.groupBy("cell").agg(count(lit(1)).as("n_members"))
      val dups = pairs.groupBy("cell").agg(
        count(lit(1)).as("p"), countDistinct($"vb").as("dr"))
      members.join(dups, Seq("cell"), "left_outer")
        .select($"cell", $"n_members",
          coalesce($"p", lit(0L)).as("n_dup_pairs"),
          coalesce($"dr", lit(0L)).as("n_dropped"))
        .orderBy("cell")
    },
    Some("WITH " + LlmPipeline2.ivfCtesDerivedK + ", " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "FROM embeddings), " +
      "m AS (SELECT a2.cell, e.vec_id, e.v FROM e JOIN a2 USING (vec_id)), " +
      "p AS (SELECT a.cell, a.vec_id AS va, b.vec_id AS vb, " +
      OSql.sround("list_dot_product(a.v, b.v)", 6) + " AS cos " +
      "FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id), " +
      "dp AS (SELECT cell, count(*) AS p, count(DISTINCT vb) AS dr " +
      "FROM p WHERE cos >= 0.4 GROUP BY 1), " +
      "mem AS (SELECT cell, count(*) AS n_members FROM m GROUP BY 1) " +
      "SELECT mem.cell, mem.n_members, COALESCE(dp.p, 0) AS n_dup_pairs, " +
      "COALESCE(dp.dr, 0) AS n_dropped " +
      "FROM mem LEFT JOIN dp USING (cell) ORDER BY cell"))

  /** sim_silhouette — simplified (centroid-based) SILHOUETTE score per
    * IVF cell: THE clustering-quality number read over any trained
    * partition (a(i) = distance to own centroid, b(i) = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]; negative s
    * flags a vector sitting closer to a foreign centroid — the
    * misassignment indicator) — the audit that closes the ANN family:
    * recall/ndcg/mrr gate RETRIEVAL quality, this gates the PARTITION
    * the retrieval runs over, off the SAME shared derived-K training
    * (IndexCache — no retrain). "Simplified" (centroid, not all-pairs)
    * is the standard web-scale form: exact silhouette is O(N²); and
    * since round 13 the centroid scan is TWO-LEVEL like every E-step
    * ([[LlmPipeline2.ivfRouting]]): each vector's candidate centroids
    * are its OWN cell plus the ~√K member cells of its routed coarse
    * group — O(N·√K) flops against broadcast ledgers, never the
    * one-vs-all-K N·K = N²/64 sweep the linear-K rule would otherwise
    * cost (the round-12 pinned scale killer). b(i) is therefore the
    * nearest-other-centroid WITHIN the routed group — the same
    * neighborhood the IVF index itself retrieves from, and the right
    * misassignment denominator for a partition audit (a vector whose
    * nearest foreign centroid sits outside its routed group is exactly
    * the vector the router would mis-serve — it still surfaces, as the
    * routed group's best foreign cell stays closer than a=own iff the
    * assignment is wrong within the group).
    *
    * SEMANTIC VERSIONING of b(i) — this key's statistic changed
    * meaning across rounds and the definition is pinned here: rounds
    * ≤12 scored b(i) against ALL other centroids; round 13 routed it
    * (above) everywhere, which at tiny K is measurably noisy (the
    * sf0.1 K=32 fixture's recall probe dipped 0.87 → 0.77 — routing
    * over √32 ≈ 6 groups leaves real nearest-others outside the
    * candidate set at a rate that matters only when K is small); since
    * round 14, K ≤ 64 falls back to the EXACT one-vs-all-K candidate
    * set — N·K ≤ 64·N distance evals, a bounded multiplier precisely
    * because the branch condition bounds K — and the routed form is
    * what runs at every scale where it exists to help (K grows as
    * N/64, so any 100 TB corpus is deep in the routed branch). The
    * oracle replays the SAME branch arithmetic: both candidate sets
    * are spelled in SQL, each guarded by the replayed K condition, so
    * the hash gate covers whichever branch the corpus selects.
    * Exactness: squared
    * distance lifts to the common denominator n² so the per-component
    * sum is the exact HUGEINT/DECIMAL(38,0) Σ(q·n − sq)² — never a
    * float sum in engine order — and each s(i) floor-quantizes at 10⁶
    * BEFORE the per-cell mean, making the reduction an
    * order-independent integer sum. Degenerate vectors (a = b = 0, or
    * an empty candidate set beyond the own cell) score the
    * conventional 0.
    */
  private val simSilhouette = Q(
    "sim_silhouette",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val k = LlmPipeline2.ivfDerivedK(LlmPipeline2.corpusStats(s, d)._1)
      val (_, a2, c2) = LlmPipeline2.ivfIndex(s, d, k)
      val qa = LlmPipeline2.ivfQrows(t(s, d, "embeddings"))
      val ca = LlmPipeline2.ivfCentArr(c2)
        .withColumn("bc",
          expr("aggregate(sqa, cast(0 as decimal(38,0)), " +
            "(acc, x) -> acc + cast(x as decimal(38,0)) * x)"))
      val cand =
        if (k <= 64)
          // exact one-vs-all-K (see the versioning note above): N·K
          // with K ≤ 64 by the branch condition — a bounded-multiplier
          // product, never an SF² blow-up (K crosses 64 long before
          // any corpus where the product would hurt)
          qa.select($"vec_id").crossJoin(ca.select($"cell"))
        else {
          // the routing tables are index artifacts of the trained
          // (corpus, K) pair — the cell grouping and the corpus's
          // router assignments — shared like a2/c2 (IndexCache) so the
          // audit pays only its own distance scan
          val csup = graft.core.IndexCache(s, s"ivf-csup|K=$k|$d",
            LlmPipeline2.ivfCsup(c2, k))
          val vr = graft.core.IndexCache(s, s"ivf-vr|K=$k|$d",
            LlmPipeline2.ivfRoute(qa, c2, csup))
          a2.select($"vec_id", $"cell")
            .union(vr.join(broadcast(csup), "sup").select($"vec_id", $"cell"))
            .distinct()
        }
      // squared distance decomposed over the common denominator n²:
      // Σ(q·n − sq)² = n²·Σq² − 2n·Σ(q·sq) + Σsq² — Σq² is one
      // per-vector fold, Σsq² one per-cell fold (per-term DECIMAL:
      // sq² reaches 10¹²·n²), and the per-pair work collapses to ONE
      // BIGINT dot + a 3-term DECIMAL combine; every term is the same
      // exact integer the oracle's direct Σ(q·n − sq)² HUGEINT sum
      // carries, so the division sees identical inputs.
      val qa2 = qa.withColumn("av",
        expr("aggregate(qa, cast(0 as bigint), (acc, x) -> acc + x * x)"))
      val dists = qa2.join(cand, "vec_id").join(broadcast(ca), "cell")
        .select($"vec_id", $"cell",
          ((($"n" * $"n").cast(Dec380) * $"av"
            - lit(2L) * $"n".cast(Dec380)
              * expr("aggregate(zip_with(qa, sqa, (x, y) -> x * y), " +
                "cast(0 as decimal(38,0)), (acc, v) -> acc + v)")
            + $"bc").cast("double") /
            ($"n".cast("double") * $"n")).as("dist"))
      val ab = dists
        .join(a2.select($"vec_id", $"cell".as("oc")), "vec_id")
        .groupBy($"vec_id", $"oc").agg(
          max(when($"cell" === $"oc", $"dist")).as("a"),
          min(when($"cell" =!= $"oc", $"dist")).as("b"))
      val si = ab.select($"oc".as("cell"),
        when($"b".isNull || greatest($"a", $"b") <= 0, lit(0L))
          .otherwise(floor(($"b" - $"a") / greatest($"a", $"b") * 1e6 + 0.5)
            .cast("long")).as("siq"))
      si.groupBy("cell").agg(
          count(lit(1)).as("n_members"),
          dround(sum($"siq").cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_sil"),
          sum(($"siq" < 0).cast("long")).as("n_neg"))
        .orderBy("cell")
    },
    Some("WITH " + LlmPipeline2.ivfCtesDerivedK + ", " +
      LlmPipeline2.twoLevelCtes("s4", "iq", "c2") + ", " +
      // the same K-versioned b(i) branch as the engine: exact
      // one-vs-all-K at kk <= 64, routed-neighborhood above
      "cand AS (SELECT vec_id, cell FROM a2 " +
      "WHERE (SELECT kk FROM prm) > 64 " +
      "UNION SELECT vr.vec_id, cg.cell FROM s4vr vr " +
      "JOIN s4cg cg ON cg.sup = vr.sup " +
      "WHERE (SELECT kk FROM prm) > 64 " +
      "UNION SELECT e.vec_id, c.cell FROM " +
      "(SELECT DISTINCT vec_id FROM iq) e, " +
      "(SELECT DISTINCT cell FROM c2) c " +
      "WHERE (SELECT kk FROM prm) <= 64), " +
      "dn AS (SELECT cd.vec_id, cd.cell, c2.n, " +
      "CAST(iq.q * c2.n - c2.sq AS HUGEINT) AS t " +
      "FROM cand cd JOIN iq ON iq.vec_id = cd.vec_id " +
      "JOIN c2 ON c2.cell = cd.cell AND c2.pos = iq.pos), " +
      "d2 AS (SELECT vec_id, cell, CAST(SUM(t * t) AS DOUBLE) / " +
      "(CAST(MAX(n) AS DOUBLE) * MAX(n)) AS dist FROM dn GROUP BY 1, 2), " +
      "ab AS (SELECT d2.vec_id, a2.cell AS oc, " +
      "MAX(CASE WHEN d2.cell = a2.cell THEN dist END) AS a, " +
      "MIN(CASE WHEN d2.cell <> a2.cell THEN dist END) AS b " +
      "FROM d2 JOIN a2 USING (vec_id) GROUP BY 1, 2), " +
      "si AS (SELECT oc AS cell, " +
      "CASE WHEN b IS NULL OR greatest(a, b) <= 0 THEN 0 " +
      "ELSE CAST(floor((b - a) / greatest(a, b) * 1e6 + 0.5) AS BIGINT) " +
      "END AS siq FROM ab) " +
      "SELECT cell, CAST(count(*) AS BIGINT) AS n_members, " +
      OSql.sround("CAST(SUM(siq) AS DOUBLE) / count(*) / 1e6", 6) +
      " AS mean_sil, " +
      "CAST(SUM(CASE WHEN siq < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg " +
      "FROM si GROUP BY 1 ORDER BY 1"))

  /** Greedy token-budget selection — data mixing's core primitive:
    * each language gets a 5 000-token budget, filled by quality order
    * (longest documents first; doc_id tiebreak makes the order total),
    * admitting documents while the budget is unspent — the running sum
    * BEFORE a document decides, so the first document always enters and
    * the budget may overshoot by at most one document (the standard
    * greedy-knapsack admission rule).
    *
    * Scale: ONE lang-partitioned window over (lang, tok) pairs — the
    * shuffle carries two longs per document, never text (token counts
    * are a codegen'd projection before the exchange). Languages are the
    * partition key, so a 100 TB corpus runs one independent running
    * sum per language; a single giant language would range-partition on
    * the quality key and merge per-partition token totals by the same
    * offset trick `window_rank_distributed` pins.
    */
  private val corpusTokenBudget = Q(
    "corpus_token_budget",
    (s, d) => {
      import s.implicits._
      // Two-level bisection (the agg_weighted_median discipline), not
      // a lang-keyed running sum over raw documents: the greedy budget
      // is a PREFIX in (n_chars desc, doc_id) order, so per-(lang,
      // n_chars) cells with their token sums locate the one cell the
      // 5000-token boundary crosses; cells wholly inside the budget
      // contribute straight off the ledger and the only raw-row window
      // ranks the crossing cell's documents — never N/|langs| rows
      // through one task.
      val docs = t(s, d, "documents")
        .select($"lang", $"doc_id", $"n_chars",
          size(split($"text", " ")).cast("long").as("tok"))
      val wc = Window.partitionBy($"lang").orderBy($"n_chars".desc)
      val cum = Share(docs.groupBy($"lang", $"n_chars")
        .agg(count(lit(1)).as("c"), sum($"tok").as("tk"))
        .withColumn("hiTok", sum($"tk").over(wc)))
      val full = cum.filter($"hiTok" <= 5000L)
        .groupBy("lang").agg(sum($"c").as("nf"), sum($"tk").as("tkf"))
      val crossing = cum.filter($"hiTok" > 5000L && $"hiTok" - $"tk" < 5000L)
        .select($"lang", $"n_chars".as("nc_key"), ($"hiTok" - $"tk").as("loTok"))
      val wCell = Window.partitionBy($"lang", $"nc_key").orderBy($"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val crossKeep = docs
        .join(broadcast(crossing),
          docs("lang") <=> crossing("lang") && docs("n_chars") <=> crossing("nc_key"))
        .select(docs("lang"), $"doc_id", $"tok", $"loTok", $"nc_key")
        .withColumn("cumIn", sum($"tok").over(wCell))
        .filter($"loTok" + $"cumIn" - $"tok" < 5000L)
        .groupBy("lang").agg(count(lit(1)).as("ncnt"), sum($"tok").as("tkc"))
      full.join(crossKeep, Seq("lang"), "full_outer")
        .select($"lang",
          (coalesce($"nf", lit(0L)) + coalesce($"ncnt", lit(0L))).as("n_docs"),
          (coalesce($"tkf", lit(0L)) + coalesce($"tkc", lit(0L)))
            .cast("long").as("tok_total"))
        .orderBy("lang")
    },
    Some("WITH tk AS (SELECT lang, doc_id, n_chars, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents), " +
      "r AS (SELECT lang, tok, sum(tok) OVER (PARTITION BY lang " +
      "ORDER BY n_chars DESC, doc_id ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM tk) " +
      "SELECT lang, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_total " +
      "FROM r WHERE cum - tok < 5000 GROUP BY 1 ORDER BY 1"))

  /** Deterministic 16-way corpus sharding — exact SQL NTILE computed
    * DISTRIBUTIVELY. Documents are ordered by (md5(doc_id), doc_id) — a
    * stable hash order, so shards are content-balanced and reproducible
    * — and NTILE's bucket rule (first n mod k buckets take ⌈n/k⌉ rows,
    * the rest ⌊n/k⌋) is evaluated as pure integer arithmetic on the
    * GLOBAL RANK, which is itself computed by the two-phase plan
    * `window_rank_distributed` pins: one range shuffle +
    * monotonically_increasing_id for local rank, a P-row cumulative
    * offset broadcast back, rank = local + offset. No single-partition
    * window anywhere — the plan a 1000-executor shard assignment needs.
    * The oracle runs DuckDB's native ntile(16) over the same order: the
    * hash match proves the arithmetic spelling IS ntile.
    */
  private val windowNtileShard = Q(
    "window_ntile_shard",
    (s, d) => {
      import s.implicits._
      val k = 16
      val ids = Cut(Windows.rankIds(
        t(s, d, "documents")
          .select($"doc_id", $"n_chars", md5($"doc_id".cast("string")).as("h")),
        $"h".asc, $"doc_id".asc), "ntile-ids", s"$d/documents.parquet")
      val offs = Windows.prefixOffsets(
        ids.groupBy("pid").agg(count(lit(1)).as("n")), "pid")
      val tot = ids.agg(count(lit(1)).as("nn"))
      ids.join(broadcast(offs), "pid").crossJoin(broadcast(tot))
        .withColumn("rnk", $"lrn" + $"off")
        .withColumn("bq", expr(s"nn div $k"))
        .withColumn("bm", $"nn" % k)
        // ⌈r/c⌉ as (r + c - 1) div c; the else-branch divisor bq is 0
        // only when n < k, where the when-branch covers every rank
        .withColumn("shard",
          when($"rnk" <= $"bm" * ($"bq" + 1),
            expr("(rnk + bq) div (bq + 1)"))
            .otherwise(expr("bm + ((rnk - bm * (bq + 1)) + bq - 1) div bq"))
            .cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_total"))
        .orderBy("shard")
    },
    Some("SELECT shard, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS chars_total FROM " +
      "(SELECT n_chars, CAST(ntile(16) OVER (ORDER BY " +
      "md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT) AS shard " +
      "FROM documents) GROUP BY 1 ORDER BY 1"))

  /** Per-domain quota — the anti-dominance cap every web-scale corpus
    * applies: no source (domain) may contribute more than M=30
    * documents, the keepers chosen in quality order (longest first,
    * doc_id tiebreak). Per-source ledger: total seen, kept under the
    * cap, kept tokens. Without this gate one crawler-friendly domain
    * floods the mixture; with it the corpus composition is bounded
    * per origin.
    *
    * Scale: ONE source-partitioned window (row_number in quality
    * order) + ONE partial+final aggregate — the shuffle carries
    * (source, two longs) per document, never text (the token count
    * projects before the exchange). Sources are high-cardinality at
    * web scale, so the window distributes; a single mega-domain would
    * range-partition on the quality key and take the first M by the
    * same broadcast-offset trick `window_rank_distributed` pins.
    */
  private val corpusDomainCap = Q(
    "corpus_domain_cap",
    (s, d) => {
      import s.implicits._
      // Same two-level bisection as corpus_token_budget, with a ROW
      // budget (top-30 per source) instead of a token budget: the
      // (source, n_chars) count ledger locates the cell rank 30
      // crosses; full cells contribute off the ledger, the crossing
      // cell ranks only its own documents.
      val docs = t(s, d, "documents")
        .select($"source", $"doc_id", $"n_chars",
          size(split($"text", " ")).cast("long").as("tok"))
      val wc = Window.partitionBy($"source").orderBy($"n_chars".desc)
      val cum = Share(docs.groupBy($"source", $"n_chars")
        .agg(count(lit(1)).as("c"), sum($"tok").as("tk"))
        .withColumn("hi", sum($"c").over(wc)))
      val total = cum.groupBy("source").agg(sum($"c").as("n_total"))
      val full = cum.filter($"hi" <= 30L)
        .groupBy("source").agg(sum($"c").as("nf"), sum($"tk").as("tkf"))
      val crossing = cum.filter($"hi" > 30L && $"hi" - $"c" < 30L)
        .select($"source", $"n_chars".as("nc_key"), (lit(30L) - ($"hi" - $"c")).as("take"))
      val wCell = Window.partitionBy($"source", $"nc_key").orderBy($"doc_id".asc)
      val crossKeep = docs
        .join(broadcast(crossing),
          docs("source") <=> crossing("source") && docs("n_chars") <=> crossing("nc_key"))
        .select(docs("source"), $"doc_id", $"tok", $"take", $"nc_key")
        .withColumn("rn", row_number().over(wCell))
        .filter($"rn" <= $"take")
        .groupBy("source").agg(count(lit(1)).as("ncnt"), sum($"tok").as("tkc"))
      total
        .join(full, Seq("source"), "left_outer")
        .join(crossKeep, Seq("source"), "left_outer")
        .select($"source", $"n_total",
          (coalesce($"nf", lit(0L)) + coalesce($"ncnt", lit(0L))).as("n_kept"),
          (coalesce($"tkf", lit(0L)) + coalesce($"tkc", lit(0L)))
            .cast("long").as("tok_kept"))
        .orderBy("source")
    },
    Some("WITH r AS (SELECT source, n_chars, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS tok, " +
      "row_number() OVER (PARTITION BY source " +
      "ORDER BY n_chars DESC, doc_id ASC) AS rn FROM documents) " +
      "SELECT source, count(*) AS n_total, " +
      "CAST(SUM(CASE WHEN rn <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "CAST(SUM(CASE WHEN rn <= 30 THEN tok ELSE 0 END) AS BIGINT) AS tok_kept " +
      "FROM r GROUP BY 1 ORDER BY 1"))

  /** Importance-weighted sampling — per-ROW acceptance probability
    * (here p = min(1, n_chars/2000): longer documents are
    * proportionally more likely kept), decided by a deterministic
    * per-document uniform u = (doc_id·2654435761) mod 10⁶ / 10⁶
    * (Knuth's multiplicative hash — engine-portable integer
    * arithmetic, no float RNG to disagree over). `u < p` reduces to
    * the pure-integer comparison u_ppm < n_chars·500, so acceptance is
    * exact in both engines; the min(1,·) clamp is absorbed because
    * n_chars ≥ 2000 makes the right side ≥ 10⁶. Complements
    * `sample_stratified` (fixed rate per stratum): importance sampling
    * weights each row, the shape quality-weighted corpus downsampling
    * actually uses. Embarrassingly parallel — a codegen'd predicate in
    * the scan, one partial+final aggregate, no shuffle of text.
    */
  private val sampleImportance = Q(
    "sample_importance",
    (s, d) => {
      import s.implicits._
      val keep = ($"doc_id" * lit(2654435761L)) % 1000000L < $"n_chars" * 500L
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(keep, $"n_chars").otherwise(0L)).as("chars_kept"))
        .select($"lang", $"n_total", $"n_kept", $"chars_kept",
          dround($"n_kept".cast("double") / $"n_total", 4).as("rate"))
        .orderBy("lang")
    },
    Some("WITH m AS (SELECT lang, count(*) AS n_total, " +
      "CAST(SUM(CASE WHEN (doc_id * 2654435761) % 1000000 < n_chars * 500 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "CAST(SUM(CASE WHEN (doc_id * 2654435761) % 1000000 < n_chars * 500 " +
      "THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept " +
      "FROM documents GROUP BY 1) " +
      "SELECT lang, n_total, n_kept, chars_kept, " +
      OSql.sround("CAST(n_kept AS DOUBLE) / n_total", 4) + " AS rate " +
      "FROM m ORDER BY lang"))

  /** Deterministic train/val/test split — the three-way hash
    * partition every training run starts from: a per-document uniform
    * u = (doc_id·2654435761) mod 100 (the same Knuth multiplicative
    * hash `sample_importance` uses — engine-portable integer
    * arithmetic, retry-reproducible, no RNG) routes 80/10/10, and the
    * ledger reports docs + tokens per split. Membership is a pure
    * function of the row, so the split is stable under re-runs,
    * repartitioning, and incremental ingest — the property that keeps
    * eval sets honest. Embarrassingly parallel: a codegen'd
    * projection + one partial+final aggregate.
    */
  private val sampleHashSplit = Q(
    "sample_hash_split",
    (s, d) => {
      import s.implicits._
      val u = ($"doc_id" * lit(2654435761L)) % 100L
      t(s, d, "documents")
        .select(
          when(u < 80, "train").when(u < 90, "val").otherwise("test").as("split"),
          size(split($"text", " ")).cast("long").as("tok"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("tok_total"))
        .orderBy("split")
    },
    Some("WITH r AS (SELECT CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train' " +
      "WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val' ELSE 'test' END AS split, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents) " +
      "SELECT split, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_total " +
      "FROM r GROUP BY 1 ORDER BY 1"))

  /** Second-moment feature statistics — Pearson correlation, sample
    * covariance and the OLS slope of price on quantity, per return
    * flag. The built-in corr/covar_samp aggregates accumulate doubles
    * in partition order (non-deterministic across runs/engines), so
    * this computes the five SUFFICIENT STATISTICS (Σx, Σy, Σxy, Σx²,
    * Σy²) as exact DECIMAL sums — order-independent by construction,
    * the same trick moneySum uses — then evaluates each statistic as
    * ONE double expression over identical exact inputs, which both
    * engines round identically. Scale: a partial+final aggregate of
    * five decimal counters per group — the map-side-combine shape; the
    * 2-pass "subtract the mean" formulation would cost a second scan
    * for no determinism gain.
    */
  private val aggCorr = Q(
    "agg_corr",
    (s, d) => {
      import s.implicits._
      val sums = t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(Dec)).as("sx"),
          sum($"l_extendedprice".cast(Dec)).as("sy"),
          sum(($"l_quantity" * $"l_extendedprice").cast(Dec)).as("sxy"),
          sum(($"l_quantity" * $"l_quantity").cast(Dec)).as("sxx"),
          sum(($"l_extendedprice" * $"l_extendedprice").cast(Dec)).as("syy"))
      val (nd, sxd, syd, sxyd, sxxd, syyd) =
        ($"n".cast("double"), $"sx".cast("double"), $"sy".cast("double"),
          $"sxy".cast("double"), $"sxx".cast("double"), $"syy".cast("double"))
      sums.select($"l_returnflag", $"n",
        dround((nd * sxyd - sxd * syd) /
          sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
          .as("corr_qty_price"),
        dround((sxyd - sxd * syd / nd) / (nd - 1), 6).as("covar_qty_price"),
        dround((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
          .as("slope_qty_price"))
        .orderBy("l_returnflag")
    },
    Some("WITH s AS (SELECT l_returnflag, count(*) AS n, " +
      "SUM(CAST(l_quantity AS DECIMAL(20,6))) AS sx, " +
      "SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS sy, " +
      "SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(20,6))) AS sxy, " +
      "SUM(CAST(l_quantity * l_quantity AS DECIMAL(20,6))) AS sxx, " +
      "SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(20,6))) AS syy " +
      "FROM lineitem GROUP BY 1), " +
      "dd AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd, " +
      "CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, " +
      "CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd, " +
      "CAST(syy AS DOUBLE) AS syyd FROM s) " +
      "SELECT l_returnflag, CAST(n AS BIGINT) AS n, " +
      OSql.sround("(nd * sxyd - sxd * syd) / " +
        "sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))", 6) +
      " AS corr_qty_price, " +
      OSql.sround("(sxyd - sxd * syd / nd) / (nd - 1)", 6) +
      " AS covar_qty_price, " +
      OSql.sround("(nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)", 6) +
      " AS slope_qty_price FROM dd ORDER BY 1"))

  // ------------------------------------------------------------------
  // embedding_centroid_drift — per-source embedding-distribution drift
  // against the corpus: cosine(centroid_source, centroid_global), the
  // monitoring statistic that catches a source whose embedding
  // distribution silently shifted (new scraper, model change, domain
  // rot). Cosine is scale-invariant, so centroids stay as RAW
  // per-position Σq sums (no mean division): over the shared 10⁶-
  // quantized component table, the (source, pos) sums collapse
  // MAP-SIDE to a |sources|·64 ledger after the one id-join shuffle —
  // the global centroid, dot products, and norms are all plain
  // arithmetic on that bounded ledger (global = Σ of the per-source
  // ledger, never a second corpus pass). Every sum is an exact
  // DECIMAL(38,0); the only floats are two correctly-rounded sqrts
  // and one division at the very end, spelled identically in both
  // engines.
  // ------------------------------------------------------------------

  private val embeddingCentroidDrift = Q(
    "embedding_centroid_drift",
    (s, d) => {
      import s.implicits._
      val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val iq = LlmPipeline2.quantizedComponents(s, d)
      val src = t(s, d, "documents").select($"doc_id".as("vec_id"), $"source")
      // the ONLY corpus pass: everything downstream (global centroid,
      // norms, dot products, vector counts) reads this shared
      // |sources|·64 ledger, never the components again
      val cs = Share(iq.join(src, "vec_id")
        .groupBy($"source", $"pos")
        .agg(sum($"q".cast(Dec38)).as("sq"), count(lit(1)).as("cnt")))
      val cg = cs.groupBy($"pos").agg(sum($"sq").as("gq"))
      val nn = cs.groupBy($"source").agg(max($"cnt").as("n_vecs"))
      val g2 = cg.agg(sum($"gq" * $"gq").as("ng2"))
      cs.join(broadcast(cg), "pos")
        .groupBy($"source")
        .agg(sum($"sq" * $"gq").as("dot"), sum($"sq" * $"sq").as("ns2"))
        .join(broadcast(nn), "source")
        .crossJoin(broadcast(g2))
        .select($"source", $"n_vecs",
          dround($"dot".cast("double") /
            (sqrt($"ns2".cast("double")) * sqrt($"ng2".cast("double"))), 6)
            .as("drift_cos"))
        .orderBy("source")
    },
    Some("WITH iq AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos, " +
      "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q " +
      "FROM embeddings), " +
      "m AS (SELECT doc.source, iq.pos, iq.q FROM iq " +
      "JOIN documents doc ON doc.doc_id = iq.vec_id), " +
      "cs AS (SELECT source, pos, CAST(SUM(q) AS HUGEINT) AS sq, " +
      "count(*) AS cnt FROM m GROUP BY 1, 2), " +
      "cg AS (SELECT pos, CAST(SUM(sq) AS HUGEINT) AS gq FROM cs GROUP BY 1), " +
      "nn AS (SELECT source, CAST(MAX(cnt) AS BIGINT) AS n_vecs " +
      "FROM cs GROUP BY 1), " +
      "dt AS (SELECT cs.source, SUM(cs.sq * cg.gq) AS dot, " +
      "SUM(cs.sq * cs.sq) AS ns2 FROM cs JOIN cg USING (pos) GROUP BY 1), " +
      "g2 AS (SELECT SUM(gq * gq) AS ng2 FROM cg) " +
      "SELECT dt.source, nn.n_vecs, " +
      OSql.sround("CAST(dot AS DOUBLE) / " +
        "(sqrt(CAST(ns2 AS DOUBLE)) * sqrt(CAST(ng2 AS DOUBLE)))", 6) +
      " AS drift_cos FROM dt JOIN nn USING (source), g2 ORDER BY source"))

  // ------------------------------------------------------------------
  // sample_kcenter_coreset — greedy k-center (farthest-point) coreset
  // selection over the embedding corpus: the DIVERSITY-maximizing
  // subset selector next to the distribution-preserving samplers
  // (stratified/importance/temperature keep proportions; k-center
  // picks the 4 points that best SPREAD over embedding space — the
  // classic 2-approximation to the k-center cover, the shape facility-
  // location / Gonzalez coreset pipelines use). Seed = smallest
  // vec_id; each of the 3 unrolled rounds broadcasts the ≤k·64-row
  // center components, computes every point's min squared L2 distance
  // to the center set IN EXACT INTEGERS over the shared 10⁶-quantized
  // component table (|Δq| ≤ ~4·10⁶ ⇒ Σ over 64 dims ≤ ~10¹⁵, exact in
  // BIGINT — no float folds anywhere), and picks argmax with ties to
  // the smallest vec_id via one max(struct(d2, −vec_id)) aggregate —
  // per round: ONE broadcast join + two partial+final aggs, corpus
  // never shuffled on anything but map-side collapse. Centers
  // accumulate through Cut so round r+1's plan reads 4 cut rows,
  // not round r's whole lineage. Already-selected centers (d² = 0)
  // are anti-joined out of candidacy; round 3's d² IS the covering
  // radius of the first three centers.
  // ------------------------------------------------------------------

  private val sampleKcenterCoreset = Q(
    "sample_kcenter_coreset",
    (s, d) => {
      import s.implicits._
      val iq = LlmPipeline2.quantizedComponents(s, d)
      // the ≤4-row center table is lineage-cut per round ([[Cut]]);
      // each round's plan then reads cut rows, never round r−1's whole
      // lineage
      val emb = s"$d/embeddings.parquet"
      var centers = Cut(iq.agg(min($"vec_id").as("cid"))
        .select($"cid", lit(0L).as("sel_round"), lit(null).cast("long").as("d2")),
        "kcenter-r0", emb)
      for (r <- 1 to 3) {
        val cc = iq.join(broadcast(centers.select($"cid")),
            $"vec_id" === $"cid")
          .select($"cid", $"pos", $"q".as("cq"))
        val dmin = iq.join(broadcast(cc), Seq("pos"))
          .withColumn("dd", ($"q" - $"cq") * ($"q" - $"cq"))
          .groupBy($"vec_id", $"cid").agg(sum($"dd").as("dc"))
          .groupBy($"vec_id").agg(min($"dc").as("dmin"))
          .join(broadcast(centers.select($"cid".as("vec_id"))),
            Seq("vec_id"), "left_anti")
        val nxt = dmin
          .agg(max(struct($"dmin".as("a"), (-$"vec_id").as("b"))).as("m"))
          .select((-$"m.b").as("cid"), lit(r.toLong).as("sel_round"),
            $"m.a".as("d2"))
        centers = Cut(centers.unionByName(nxt), s"kcenter-r$r", emb)
      }
      // a corpus with fewer than r+1 distinct points yields NULL
      // argmax rows — drop them so an empty/tiny corpus reports only
      // the centers that actually exist (mirrored in the oracle)
      centers.filter($"cid".isNotNull)
        .select($"sel_round", $"cid".as("vec_id"), $"d2")
        .orderBy("sel_round")
    },
    Some("WITH iq AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos, " +
      "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q " +
      "FROM embeddings), " +
      "c0 AS (SELECT MIN(vec_id) AS cid FROM iq), " +
      // round 1: distance to the seed only
      "dm1 AS (SELECT iq.vec_id, CAST(SUM((iq.q - c.q)*(iq.q - c.q)) AS BIGINT) " +
      "AS dmin FROM iq JOIN iq c ON c.pos = iq.pos " +
      "AND c.vec_id = (SELECT cid FROM c0) " +
      "WHERE iq.vec_id <> (SELECT cid FROM c0) GROUP BY 1), " +
      "n1 AS (SELECT vec_id AS cid, dmin AS d2 FROM dm1 " +
      "ORDER BY dmin DESC, vec_id ASC LIMIT 1), " +
      "cs1 AS (SELECT cid FROM c0 UNION ALL SELECT cid FROM n1), " +
      // round 2: min distance to {seed, n1}
      "dm2 AS (SELECT iq.vec_id, CAST(MIN(dc) AS BIGINT) AS dmin FROM (" +
      "SELECT iq.vec_id, c.vec_id AS cid, SUM((iq.q - c.q)*(iq.q - c.q)) AS dc " +
      "FROM iq JOIN iq c ON c.pos = iq.pos AND c.vec_id IN (SELECT cid FROM cs1) " +
      "GROUP BY 1, 2) iq GROUP BY 1), " +
      "dm2f AS (SELECT * FROM dm2 WHERE vec_id NOT IN (SELECT cid FROM cs1)), " +
      "n2 AS (SELECT vec_id AS cid, dmin AS d2 FROM dm2f " +
      "ORDER BY dmin DESC, vec_id ASC LIMIT 1), " +
      "cs2 AS (SELECT cid FROM cs1 UNION ALL SELECT cid FROM n2), " +
      // round 3: min distance to the three selected centers
      "dm3 AS (SELECT iq.vec_id, CAST(MIN(dc) AS BIGINT) AS dmin FROM (" +
      "SELECT iq.vec_id, c.vec_id AS cid, SUM((iq.q - c.q)*(iq.q - c.q)) AS dc " +
      "FROM iq JOIN iq c ON c.pos = iq.pos AND c.vec_id IN (SELECT cid FROM cs2) " +
      "GROUP BY 1, 2) iq GROUP BY 1), " +
      "dm3f AS (SELECT * FROM dm3 WHERE vec_id NOT IN (SELECT cid FROM cs2)), " +
      "n3 AS (SELECT vec_id AS cid, dmin AS d2 FROM dm3f " +
      "ORDER BY dmin DESC, vec_id ASC LIMIT 1) " +
      "SELECT * FROM (" +
      "SELECT 0 AS sel_round, cid AS vec_id, CAST(NULL AS BIGINT) AS d2 FROM c0 " +
      "UNION ALL SELECT 1, cid, d2 FROM n1 " +
      "UNION ALL SELECT 2, cid, d2 FROM n2 " +
      "UNION ALL SELECT 3, cid, d2 FROM n3) " +
      "WHERE vec_id IS NOT NULL ORDER BY sel_round"))

  // ------------------------------------------------------------------
  // sample_systematic — every-k-th systematic sampling (k = 7) by
  // global event_id order: the classic frame-based design the sampler
  // family lacked (stratified/importance/temperature re-weight;
  // hash_split is pseudo-random per row; SYSTEMATIC guarantees exact
  // 1/k coverage of every contiguous archive segment — the property
  // auditors ask for). The global rank is the two-phase
  // (pid, lrn) + broadcast prefix-offsets idiom shared with
  // `window_rank_distributed` — NO single-partition WindowExec at any
  // size — and the report collapses map-side to one row whose exact
  // selected-value checksum makes the rank assignment itself
  // hash-visible (an off-by-one in the rank function moves the
  // checksum).
  // ------------------------------------------------------------------

  private val sampleSystematic = Q(
    "sample_systematic",
    (s, d) => {
      import s.implicits._
      val Dec38s = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = Tables.events(s, d)
        .select($"event_id", round($"value" * 100).cast("long").as("c"))
      val ids = Cut(Windows.rankIds(e, $"event_id".asc), "systematic-ids",
        s"$d/events.parquet")
      val offs = Windows.prefixOffsets(
        ids.groupBy("pid").agg(count(lit(1)).as("n")), "pid")
      val ranked = ids.join(broadcast(offs), "pid")
        .select($"event_id", $"c", ($"lrn" + $"off").as("rn"))
      ranked.agg(
          count(lit(1)).as("n_total"),
          sum(($"rn" % 7 === 1).cast("long")).as("n_selected"),
          sum(when($"rn" % 7 === 1, $"c".cast(Dec38s)).otherwise(lit(0)))
            .cast("long").as("sel_cents"),
          max(when($"rn" % 7 === 1, $"rn")).as("last_sel_rn"))
    },
    Some("WITH e AS (SELECT event_id, CAST(round(value*100) AS BIGINT) AS c " +
      "FROM events), " +
      "r AS (SELECT event_id, c, row_number() OVER (ORDER BY event_id ASC) " +
      "AS rn FROM e) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_total, " +
      "CAST(SUM(CASE WHEN rn % 7 = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_selected, " +
      "CAST(SUM(CASE WHEN rn % 7 = 1 THEN CAST(c AS HUGEINT) ELSE 0 END) " +
      "AS BIGINT) AS sel_cents, " +
      "CAST(MAX(CASE WHEN rn % 7 = 1 THEN rn END) AS BIGINT) AS last_sel_rn " +
      "FROM r"))

  // ------------------------------------------------------------------
  // audit_embedding_norms — per-source embedding-norm profile, the
  // magnitude sibling of `audit_embedding_coverage` (coverage checks
  // ids and shapes; this checks SCALE — a source whose vectors aren't
  // unit-norm silently dominates every dot-product ranking, the
  // classic mixed-model-version bug): per-vector ‖v‖² as an exact
  // integer Σq² over the shared 10⁶-quantized component table (units
  // of 10⁻¹²), per-source min/max and exact floor-quantized mean, and
  // the count of vectors OFF the unit contract (‖v‖² outside
  // [0.98, 1.02]·10¹²) — the column that turns the audit into a gate.
  // One component pass collapses map-side to per-vector norms, one
  // id-join to sources, one ≤|sources|-row report.
  // ------------------------------------------------------------------

  private val auditEmbeddingNorms = Q(
    "audit_embedding_norms",
    (s, d) => {
      import s.implicits._
      val Dec38n = org.apache.spark.sql.types.DecimalType(38, 0)
      val nq = LlmPipeline2.quantizedComponents(s, d)
        .groupBy("vec_id").agg(sum($"q" * $"q").as("n2"))
      val src = t(s, d, "documents").select($"doc_id".as("vec_id"), $"source")
      nq.join(src, "vec_id")
        .groupBy("source").agg(
          count(lit(1)).as("n_vecs"),
          min($"n2").as("min_n2"),
          max($"n2").as("max_n2"),
          sum($"n2".cast(Dec38n)).as("s2"),
          sum(($"n2" < 980000000000L || $"n2" > 1020000000000L)
            .cast("long")).as("n_off_unit"))
        .select($"source", $"n_vecs", $"min_n2", $"max_n2",
          expr("cast(s2 as decimal(38,0)) div n_vecs").cast("long")
            .as("mean_n2"),
          $"n_off_unit")
        .orderBy("source")
    },
    Some("WITH iq AS (SELECT vec_id, " +
      "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) " +
      "AS q FROM embeddings), " +
      "nq AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 " +
      "FROM iq GROUP BY 1), " +
      "j AS (SELECT d.source, nq.n2 FROM nq " +
      "JOIN documents d ON d.doc_id = nq.vec_id) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n_vecs, " +
      "CAST(MIN(n2) AS BIGINT) AS min_n2, CAST(MAX(n2) AS BIGINT) AS max_n2, " +
      "CAST(SUM(CAST(n2 AS HUGEINT)) // count(*) AS BIGINT) AS mean_n2, " +
      "CAST(SUM(CASE WHEN n2 < 980000000000 OR n2 > 1020000000000 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_off_unit " +
      "FROM j GROUP BY 1 ORDER BY 1"))

  /** sample_time_split — the LEAKAGE-SAFE temporal train/test split
    * with an embargo gap, the time-series sibling of
    * `sample_hash_split` (hash splits assume exchangeable rows; an
    * event archive is autocorrelated, so a random split leaks
    * tomorrow into the training set — every backtesting protocol
    * splits by TIME and discards an embargo buffer after the cutoff
    * so horizon-h features/labels can't straddle it). The cutoff is
    * the exact integer 80% point of the time span (mn + 8·(mx−mn)
    * div 10 — data-derived, no calendar constant), the embargo is one
    * day after it, and the report ledgers each zone's count, time
    * range, and exact floor-quantized share — the accounting a
    * training run records before touching a row. One map-side
    * conditional aggregate over one scan; the 2-scalar span broadcast.
    */
  private val sampleTimeSplit = Q(
    "sample_time_split",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"ms")
      val span = ev.agg(min($"ms").as("mn"), max($"ms").as("mx"))
        .select($"mn", ($"mn" + expr("(8 * (mx - mn)) div 10")).as("cut"))
        .select($"cut", ($"cut" + 86400000L).as("emb"))
      val zoned = ev.crossJoin(broadcast(span))
        .select(when($"ms" <= $"cut", "train")
          .when($"ms" <= $"emb", "embargo")
          .otherwise("test").as("split"), $"ms")
      val tot = ev.agg(count(lit(1)).as("n_total"))
      zoned.groupBy("split")
        .agg(count(lit(1)).as("n"), min($"ms").as("min_ms"),
          max($"ms").as("max_ms"))
        .crossJoin(broadcast(tot))
        .select($"split", $"n", $"min_ms", $"max_ms",
          (expr("(1000000 * n) div n_total").cast("double") / 1e6)
            .as("share"))
        .orderBy("split")
    },
    Some("WITH ev AS (SELECT epoch_ms(ts) AS ms FROM events), " +
      "sp AS (SELECT mn + (8 * (mx - mn)) // 10 AS cut FROM " +
      "(SELECT MIN(ms) AS mn, MAX(ms) AS mx FROM ev)), " +
      "z AS (SELECT CASE WHEN ms <= cut THEN 'train' " +
      "WHEN ms <= cut + 86400000 THEN 'embargo' ELSE 'test' END AS split, " +
      "ms FROM ev, sp), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ev) " +
      "SELECT split, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(MIN(ms) AS BIGINT) AS min_ms, CAST(MAX(ms) AS BIGINT) AS max_ms, " +
      "CAST((1000000 * count(*)) // tot.n_total AS DOUBLE) / 1e6 AS share " +
      "FROM z, tot GROUP BY split, tot.n_total ORDER BY split"))

  val qs: Seq[Q] = Seq(
    dedupSemantic, corpusTokenBudget, windowNtileShard, sampleImportance,
    aggCorr, corpusDomainCap, sampleHashSplit, embeddingCentroidDrift,
    sampleKcenterCoreset, sampleSystematic, auditEmbeddingNorms,
    simSilhouette, sampleTimeSplit)
}
