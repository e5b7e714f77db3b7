package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Det, OSql, Q, Share, Tables}

/** Corpus relevance ranking: TF-IDF term extraction and BM25 document
  * retrieval — the search/retrieval half of a training-data pipeline
  * (RAG indexing, boilerplate-term discovery, query-based corpus
  * slicing). Both keys are hash-verified against DuckDB running the
  * identical arithmetic.
  *
  * Scale shape (the 100 TB stance): both keys are explode → two
  * partial+final hash aggregates (term frequencies combine MAP-SIDE, so
  * the shuffle carries per-doc vocabularies, never the token stream) →
  * one shuffle join keyed by TERM. The document-frequency table is
  * vocab-sized — unbounded at corpus scale, so `text_tfidf` honestly
  * shuffle-joins it (same stance as `text_unigram_logprob`); BM25's df
  * table is |query|-sized and broadcast. Scalars (N, avgdl) ride a
  * broadcast crossJoin. The per-doc rank in `text_tfidf` is a
  * partitionBy(doc_id) window — key-partitioned, never global.
  *
  * Cross-engine float determinism: scores pass through ln()/division,
  * so ranking compares the dround-ROUNDED score (ties broken by
  * term/doc_id — exact strings/ints). Residual ULP risk is the same
  * documented-accepted class as `text_unigram_logprob.avg_logp`: a
  * 1-ulp libm divergence sits ~10 orders of magnitude under the
  * rounding grid and could flip one printed digit only if a score lands
  * exactly on a grid edge — never observed across sf0.001-0.1.
  */
object TextRank {
  import Det._

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  // ------------------------------------------------------------------
  // text_tfidf — top-3 TF-IDF terms per document (smoothed idf:
  // ln((N+1)/(df+1))), the standard keyword-extraction / boilerplate-
  // term-discovery pass.
  // ------------------------------------------------------------------

  private val textTfidf = Q(
    "text_tfidf",
    (s, d) => {
      import s.implicits._
      // Share tf: three branches consume it (dl, df, the scoring join),
      // and the corpus is scanned and token-exploded once per query
      val tf = Share(docs(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt")))
      val dl = tf.groupBy("doc_id").agg(sum($"cnt").cast("long").as("n_tok"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dl, "doc_id").join(df, "w")
        .crossJoin(broadcast(n))
        .select($"doc_id", $"w".as("term"),
          dround(($"cnt".cast("double") / $"n_tok") *
            log(($"n_docs" + lit(1.0)) / ($"df" + lit(1.0))), 6).as("score"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"score".desc, $"term".asc)
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 3)
        .orderBy("doc_id", "rnk")
    },
    Some("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
      "FROM documents), " +
      "tf AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok FROM tf GROUP BY 1), " +
      "df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(*) AS n_docs FROM documents), " +
      "sc AS (SELECT t.doc_id, t.w AS term, " +
      OSql.sround("(CAST(t.cnt AS DOUBLE) / dl.n_tok) * " +
        "ln((n.n_docs + 1.0) / (df.df + 1.0))", 6) + " AS score " +
      "FROM tf t JOIN dl USING (doc_id) JOIN df ON t.w = df.w, n), " +
      "r AS (SELECT doc_id, term, score, CAST(row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rnk " +
      "FROM sc) " +
      "SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3 " +
      "ORDER BY doc_id, rnk"))

  // ------------------------------------------------------------------
  // text_bm25 — Okapi BM25 (k1=1.2, b=0.75) ranking of the corpus
  // against a fixed conjunctive keyword query, top-20 with
  // (rounded score desc, doc_id asc) total order.
  // ------------------------------------------------------------------

  private val QueryTerms = Seq("join", "hash", "scan")
  private val K1 = 1.2
  private val B = 0.75

  /** Single-pass shape: one explode → ONE partial+final agg keyed by
    * doc_id computing dl and the per-term tfs as conditional counts →
    * one single-row global agg (n_docs, avgdl, dfs) broadcast back →
    * pure projection → TakeOrdered top-20. No vocab-sized join at all
    * (contrast `text_tfidf`, whose open-vocabulary df table must
    * shuffle-join). The per-doc score sums its ≤3 term contributions in
    * FIXED textual order (t1 + t2 + t3, same association in both
    * engines), so the float sum is bitwise order-independent — only
    * ln()'s documented 1-ulp libm risk remains under the 4dp grid.
    */
  private[ops] def bm25Top(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val tfCols = QueryTerms.zipWithIndex.map { case (t, i) =>
        sum(when($"w" === t, 1L).otherwise(0L)).as(s"tf$i")
      }
      val dlAndTfs = count(lit(1)).as("dl") +: tfCols
      val perDoc = docs(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .groupBy("doc_id")
        .agg(dlAndTfs.head, dlAndTfs.tail: _*)
      val dfCols = QueryTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val statCols = Seq(count(lit(1)).as("n_docs"),
        (sum($"dl").cast("double") / count(lit(1))).as("avgdl")) ++ dfCols
      val stats = perDoc.agg(statCols.head, statCols.tail: _*)
      def termScore(i: Int) = {
        val tf = col(s"tf$i")
        val df = col(s"df$i")
        when(tf === 0L, lit(0.0)).otherwise(
          log(lit(1.0) + ($"n_docs" - df + lit(0.5)) / (df + lit(0.5))) *
            (tf * (lit(K1) + lit(1.0))) /
            (tf + lit(K1) * (lit(1.0 - B) + lit(B) * $"dl" / $"avgdl")))
      }
      // the rerank window runs AFTER limit(20) — a bounded 20-row
      // relation (the documented tiny-relation exception; a theta-join
      // spelling would need a materialization that severs the
      // one-corpus-scan plan PlanSpec pins)
      perDoc.crossJoin(broadcast(stats))
        .filter(QueryTerms.indices.map(i => col(s"tf$i") > 0L).reduce(_ || _))
        .select($"doc_id",
          dround(termScore(0) + termScore(1) + termScore(2), 4).as("score"))
        .orderBy($"score".desc, $"doc_id".asc)
        .limit(20)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"score".desc, $"doc_id".asc))
            .cast("long"))
  }

  /** The full BM25 leaderboard query as oracle SQL — shared verbatim
    * by `text_bm25` and (as a nested subquery) `sim_rank_fusion`.
    */
  private[ops] val bm25OracleSql: String = {
      val tfs = QueryTerms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN w = '$t' THEN 1 ELSE 0 END) AS tf$i"
      }.mkString(", ")
      val dfs = QueryTerms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      // (1.2 + 1.0), not the literal 2.2: the Spark side computes
      // K1 + 1.0 in double arithmetic, and the decimal parse of "2.2"
      // is not guaranteed the same last bit as the sum
      def ts(i: Int) =
        s"CASE WHEN tf$i = 0 THEN 0.0 ELSE " +
          s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * " +
          s"(tf$i * (1.2 + 1.0)) / " +
          s"(tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl)) END"
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        s"pd AS (SELECT doc_id, count(*) AS dl, $tfs FROM tok GROUP BY 1), " +
        "st AS (SELECT count(*) AS n_docs, " +
        s"CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, $dfs FROM pd), " +
        "sc AS (SELECT doc_id, " +
        OSql.sround(s"${ts(0)} + ${ts(1)} + ${ts(2)}", 4) + " AS score " +
        "FROM pd, st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0), " +
        "top AS (SELECT doc_id, score FROM sc " +
        "ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER " +
        "(ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk FROM top " +
        "ORDER BY rnk"
  }

  private val textBm25 = Q("text_bm25", (s, d) => bm25Top(s, d),
    Some(bm25OracleSql))

  // ------------------------------------------------------------------
  // sim_rank_fusion — HYBRID retrieval by Reciprocal Rank Fusion
  // (Cormack et al. 2009, the public fusion rule production hybrid
  // search defaults to): the lexical BM25 leaderboard and the dense
  // exact-cosine top-20 (probe vec 0; doc_id ≡ vec_id, the
  // multimodal_join contract) merge by score Σ 1/(60 + rank) — spelled
  // as the EXACT integer 10⁹ div (60 + rank) so the fused ordering is
  // bit-identical in both engines. Docs found by only one modality
  // keep their single term; the report flags which lists hit. One
  // full-outer join of two ≤20-row lists — the fusion itself is free;
  // each side keeps its own scale shape (BM25's one-scan agg, the
  // cosine broadcast probe).
  // ------------------------------------------------------------------

  private val simRankFusion = Q(
    "sim_rank_fusion",
    (s, d) => {
      import s.implicits._
      val lex = bm25Top(s, d).select($"doc_id", $"rnk".as("rl"))
      val den = LlmPipeline.exactTopKMulti(s, d, 20, Seq(0L))
        .select($"vec_id".as("doc_id"), $"rn".cast("long").as("rd"))
      lex.join(den, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          $"rl".isNotNull.cast("long").as("in_lexical"),
          $"rd".isNotNull.cast("long").as("in_dense"),
          (coalesce(expr("1000000000 div (60 + rl)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + rd)"), lit(0L))).as("rrf_q"))
        .orderBy($"rrf_q".desc, $"doc_id".asc)
        .limit(10)
    },
    Some("WITH lex AS (SELECT doc_id, rl FROM (SELECT doc_id, rnk AS rl " +
      s"FROM ($bm25OracleSql))), " +
      "den AS (SELECT vec_id AS doc_id, CAST(row_number() OVER " +
      "(ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rd " +
      s"FROM (${LlmPipeline.exactTopkSql(20)})) " +
      "SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id, " +
      "CAST(lex.doc_id IS NOT NULL AS BIGINT) AS in_lexical, " +
      "CAST(den.doc_id IS NOT NULL AS BIGINT) AS in_dense, " +
      "COALESCE(1000000000 // (60 + rl), 0) + " +
      "COALESCE(1000000000 // (60 + rd), 0) AS rrf_q " +
      "FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id " +
      "ORDER BY rrf_q DESC, doc_id ASC LIMIT 10"))

  val qs: Seq[Q] = Seq(textTfidf, textBm25, simRankFusion)
}
