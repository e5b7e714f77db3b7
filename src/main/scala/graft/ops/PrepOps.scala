package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Cut, Det, OSql, Q, Tables}

/** Training-corpus preparation operators, wave 2: span-level exact
  * dedup, stride chunking, the distributed Gram matrix, and the fused
  * end-to-end prep pipeline. All four are hash-verified against DuckDB
  * running the identical arithmetic.
  *
  * Scale notes (the 100 TB stance, per operator):
  *  - dedup_span_exact shuffles only (hash, doc_id) pairs — never text;
  *    the ≥2-distinct-docs test is min(doc)≠max(doc), so no
  *    count-distinct state, and partial aggregation collapses each
  *    partition's span counts map-side before either shuffle;
  *  - corpus_doc_chunk is generate → project with zero shuffles: chunk
  *    rows are emitted straight off the scan and the final sort is the
  *    only exchange (drop the orderBy when feeding a writer);
  *  - embedding_gram's shuffle is d²-rows-per-partition REGARDLESS of
  *    corpus size: hash-agg partial sums accumulate the outer product
  *    map-side, so 100 TB of vectors still reduces to one tiny
  *    d²-row exchange (this is distributed PCA's data pass);
  *  - corpus_prep_e2e chains keeper-dedup → gates → agg in ONE plan:
  *    a single scan, one hash-partition shuffle for the dedup window,
  *    then partial+final agg — proving the pipeline stages compose
  *    without materialization barriers between them.
  */
object PrepOps {
  import Det._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  // ------------------------------------------------------------------
  // dedup_span_exact — cross-document duplicated-span detection at word
  // 8-gram granularity (the substring-level dedup of Lee et al.'s
  // "Deduplicating Training Data", distinct from doc-pair Jaccard: a
  // span is "duplicated" iff its 8-gram occurs in ≥2 DISTINCT docs).
  // ------------------------------------------------------------------

  /** Oracle-side word-8-gram rows (doc_id, h): mirror of
    * `LlmPipeline.gramRows(_, _, 8)` + md5.
    */
  private def gram8Ctes: String = {
    val cat = (0 to 7).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "g AS (SELECT doc_id, md5(x) AS h FROM (SELECT doc_id, " +
      "unnest(CASE WHEN len(t) >= 8 THEN " +
      s"list_transform(generate_series(1, len(t)-7), i -> $cat) " +
      "ELSE [] END) AS x FROM tok))"
  }

  private val dedupSpanExact = Q(
    "dedup_span_exact",
    (s, d) => {
      import s.implicits._
      val g = LlmPipeline.gramRows(s, d, 8).select($"doc_id", md5($"x").as("h"))
      // ≥2 distinct docs ⇔ min≠max: no count-distinct state per hash.
      val dup = g.groupBy("h")
        .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
        .filter($"lo" =!= $"hi")
        .select("h")
      val spans = g.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      val dups = g.join(dup, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
      spans.join(dups, Seq("doc_id"), "left")
        .select($"doc_id", $"n_spans",
          coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"))
        .orderBy("doc_id")
    },
    Some(s"WITH $gram8Ctes, " +
      "dup AS (SELECT h FROM g GROUP BY h HAVING min(doc_id) <> max(doc_id)), " +
      "s AS (SELECT doc_id, count(*) AS n_spans FROM g GROUP BY 1), " +
      "dd AS (SELECT doc_id, count(*) AS n_dup_spans FROM g " +
      "WHERE h IN (SELECT h FROM dup) GROUP BY 1) " +
      "SELECT s.doc_id, s.n_spans, " +
      "coalesce(dd.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans " +
      "FROM s LEFT JOIN dd USING (doc_id) ORDER BY doc_id"))

  // ------------------------------------------------------------------
  // corpus_doc_chunk — fixed-window stride chunking (window 64 tokens,
  // stride 48): the standard training/RAG chunk prep. Chunk identity is
  // (doc_id, chunk_idx) plus a content hash for downstream exact-dedup
  // of chunks.
  // ------------------------------------------------------------------

  private val chunkW = 64
  private val chunkS = 48

  private val corpusDocChunk = Q(
    "corpus_doc_chunk",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", $"t",
          explode(sequence(lit(0), size($"t") - 1, lit(chunkS))).as("start"))
        .select($"doc_id",
          ($"start" / chunkS).cast("long").as("chunk_idx"),
          slice($"t", $"start" + 1, lit(chunkW)).as("c"))
        .select($"doc_id", $"chunk_idx",
          size($"c").cast("long").as("n_tok"),
          md5(concat_ws(" ", $"c")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      s"st AS (SELECT doc_id, t, unnest(generate_series(0, len(t)-1, $chunkS)) AS s FROM tok), " +
      s"c AS (SELECT doc_id, CAST(s // $chunkS AS BIGINT) AS chunk_idx, " +
      s"list_slice(t, s+1, s+$chunkW) AS c FROM st) " +
      "SELECT doc_id, chunk_idx, CAST(len(c) AS BIGINT) AS n_tok, " +
      "md5(array_to_string(c, ' ')) AS chunk_hash " +
      "FROM c ORDER BY doc_id, chunk_idx"))

  // ------------------------------------------------------------------
  // embedding_gram — the distributed Gram matrix Σ q·qᵀ (upper
  // triangle) over 1e-6-quantized integer embeddings: the single data
  // pass behind distributed PCA / whitening. Components quantize to
  // ≤1e6 (|x| ≤ 1), so products fit a long and the DECIMAL(38,0) sums
  // are exact and order-independent in both engines.
  // ------------------------------------------------------------------

  private val embeddingGram = Q(
    "embedding_gram",
    (s, d) => {
      import s.implicits._
      val q = t(s, d, "embeddings")
        .select(transform($"embedding",
          x => floor(x * lit(1e6)).cast("long")).as("q"))
      // ONE-PASS native aggregate (gram_sum): each vector is a tight
      // d²/2 multiply-add loop into a flat per-task buffer, so the
      // d²/2-rows-PER-VECTOR posexplode blow-up (4096× at d = 64) and
      // its hash aggregate disappear; one buffer per task crosses the
      // exchange. Per-cell arithmetic is the exact-integer mirror of
      // SUM((qi*qj)::DECIMAL(38,0)) — see GramAggregate's scaladoc —
      // and the digit-string rendering is identical.
      q.agg(graft.functions.GramAggregate.gramSum(s, $"q").as("cells"))
        .select(explode($"cells").as("c"))
        .select(($"c.i" + 1).cast("long").as("i"),
          ($"c.j" + 1).cast("long").as("j"), $"c.g".as("g"))
        .orderBy("i", "j")
    },
    Some("WITH e AS (SELECT list_transform(embedding, " +
      "x -> CAST(floor(x * 1e6) AS BIGINT)) AS q FROM embeddings), " +
      // DuckDB's generate_series table function cannot take lateral
      // column params, so the oracle pins the fixture's dim (64); the
      // Spark side adapts to any dim via posexplode.
      "a AS (SELECT q, i, q[i] AS qi FROM e, generate_series(1, 64) AS g1(i)), " +
      "b AS (SELECT i, j, qi, q[j] AS qj FROM a, generate_series(1, 64) AS g2(j) " +
      "WHERE j >= i) " +
      "SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, " +
      "CAST(SUM(CAST(qi * qj AS DECIMAL(38,0))) AS VARCHAR) AS g " +
      "FROM b GROUP BY 1, 2 ORDER BY i, j"))

  // ------------------------------------------------------------------
  // corpus_prep_e2e — the fused prep pipeline: exact-dedup keeper →
  // length gate → punctuation gate → per-(lang, source) accounting, as
  // ONE declarative plan (single scan; Catalyst fuses the gates into
  // the post-window projection).
  // ------------------------------------------------------------------

  private val corpusPrepE2e = Q(
    "corpus_prep_e2e",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy(md5($"text")).orderBy($"doc_id".asc)
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .withColumn("n_tok", size(split($"text", " ")).cast("long"))
        .filter($"n_tok" >= 20)
        .withColumn("punct_ratio",
          (length($"text") -
            length(regexp_replace($"text", "[.,!?;:]", ""))).cast("double") /
            length($"text"))
        .filter($"punct_ratio" < 0.2)
        .withColumn("quality",
          least($"n_tok".cast("double") / 50.0, lit(1.0)) * lit(0.5) +
            (lit(1.0) - $"punct_ratio") * lit(0.5))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("total_tokens"),
          dround(sum($"quality".cast(Dec)).cast("double") / count(lit(1)), 4)
            .as("avg_quality"))
        .orderBy("lang", "source")
    },
    Some("WITH k AS (SELECT *, row_number() OVER " +
      "(PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn FROM documents), " +
      "b AS (SELECT lang, source, text, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok " +
      "FROM k WHERE rn = 1), " +
      "f AS (SELECT lang, source, n_tok, " +
      "CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) " +
      "/ length(text) AS punct_ratio FROM b WHERE n_tok >= 20), " +
      "q AS (SELECT lang, source, n_tok, " +
      "least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) * 0.5 + " +
      "(1.0 - punct_ratio) * 0.5 AS quality " +
      "FROM f WHERE punct_ratio < 0.2) " +
      "SELECT lang, source, count(*) AS n_docs, " +
      "CAST(SUM(n_tok) AS BIGINT) AS total_tokens, " +
      OSql.sround("CAST(SUM(CAST(quality AS DECIMAL(20,6))) AS DOUBLE) / count(*)", 4) +
      " AS avg_quality FROM q GROUP BY 1, 2 ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // corpus_chunk_stitch — the chunk → stitch ROUND-TRIP PROOF: docs
  // are split into NON-overlapping 64-token chunks (the stride=window
  // sibling of corpus_doc_chunk), re-assembled by sorting each doc's
  // (chunk_idx, text) structs and joining with spaces, and compared
  // byte-for-byte against the original — the losslessness guarantee a
  // chunk-process-stitch pipeline (RAG ingestion, windowed scoring)
  // rests on. collect_list is order-nondeterministic, so the stitch
  // sorts the struct array BEFORE joining (the only correct spelling
  // under parallel collection). The oracle pins the property from the
  // ORIGINAL table (n_identical = n_docs — the sim_ann_recall
  // own-construction gating pattern): a hash match proves the round
  // trip dropped and duplicated nothing.
  // ------------------------------------------------------------------

  private val corpusChunkStitch = Q(
    "corpus_chunk_stitch",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val chunks = docs
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id",
          explode(sequence(lit(0), size($"t") - 1, lit(chunkW))).as("start"),
          $"t")
        .select($"doc_id", ($"start" / chunkW).cast("long").as("idx"),
          concat_ws(" ", slice($"t", $"start" + 1, lit(chunkW))).as("c"))
      val stitched = chunks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          concat_ws(" ", transform(
            sort_array(collect_list(struct($"idx", $"c"))), s => s("c")))
            .as("stitched"))
      docs.join(stitched, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(($"stitched" === $"text").cast("long")).cast("long")
            .as("n_identical"),
          sum($"n_chunks").cast("long").as("n_chunks"))
    },
    Some("SELECT count(*) AS n_docs, count(*) AS n_identical, " +
      s"CAST(sum((len(string_split(text, ' ')) + ${chunkW - 1}) // $chunkW) " +
      "AS BIGINT) AS n_chunks FROM documents"))

  // ------------------------------------------------------------------
  // embedding_pca_top1 — the top principal direction of the embedding
  // corpus by POWER ITERATION on the Gram matrix, entirely in exact
  // integer arithmetic (the distributed-PCA primitive behind whitening
  // / anisotropy removal — "all-but-the-top" post-processing). One
  // data pass builds the full d×d integer Gram (the `embedding_gram`
  // quantization; d² rows exchanged per partition regardless of corpus
  // size), then three unrolled iterations run ON THE TINY MATRIX:
  // w = G·v (DECIMAL(38,0) products and sums — exact), renormalize
  // v' = (w·10⁶) div max|w| (truncating integer division, identical in
  // both engines), sign-fixed so the first component is non-negative.
  // Output: the first 8 components of the normalized direction (exact
  // integers) plus max|w| of the last round as a digit string (the
  // un-normalized eigenvalue carrier — too wide for a double).
  // ------------------------------------------------------------------

  private val embeddingPcaTop1 = Q(
    "embedding_pca_top1",
    (s, d) => {
      import s.implicits._
      val Dec380 = DecimalType(38, 0)
      val q = t(s, d, "embeddings")
        .select(transform($"embedding",
          x => floor(x * lit(1e6)).cast("long")).as("q"))
      // one-pass gram_sum (see embedding_gram) — the corpus pass runs
      // ONCE and the ≤d(d+1)/2-row upper triangle is cut (bounded by
      // the dimension, never the corpus): each power round runs as its
      // own job, and all three and the dim probe read the tiny cut
      // table instead of re-deriving the Gram.
      val emb = s"$d/embeddings.parquet"
      val up = Cut(q.agg(graft.functions.GramAggregate.gramSum(s, $"q").as("cells"))
        .select(explode($"cells").as("c"))
        .select($"c.i".as("i0"), $"c.j".as("j0"),
          $"c.g".cast(Dec380).as("g")), "pca-gram", emb)
      // full matrix from the upper triangle (g is symmetric): upper ∪
      // mirrored strict-upper — exactly the row set the unrestricted
      // pair explode produced.
      val gram = up.select(($"i0" + 1).cast("long").as("i"),
          ($"j0" + 1).cast("long").as("j"), $"g")
        .unionByName(up.filter($"i0" =!= $"j0")
          .select(($"j0" + 1).cast("long").as("i"),
            ($"i0" + 1).cast("long").as("j"), $"g"))
      val dim = gram.agg(max($"i").as("d"))
      var v = dim.select(explode(sequence(lit(1L), $"d")).as("i"),
        lit(1000000L).cast(Dec380).as("v"))
      var lastM: DataFrame = null
      for (_ <- 1 to 3) {
        // cut each round's ≤d-row w vector: v, lastM, and the
        // next round's join all branch from it, so left lazy the
        // logical tree re-nests the whole prior iteration per branch
        // (the 4177-line plan this cut removes — r16, guide §7.2)
        val w = Cut(gram.join(v.select($"i".as("j"), $"v"), Seq("j"))
          .groupBy("i").agg(sum($"g" * $"v").as("w")), "pca-round", emb)
        lastM = w.agg(max(abs($"w")).as("m"))
        v = w.crossJoin(broadcast(lastM))
          .select($"i",
            expr("(w * 1000000) div (CASE WHEN m = 0 THEN NULL ELSE m END)")
              .cast(Dec380).as("v"))
      }
      val sign = v.filter($"i" === 1)
        .select(when($"v" < 0, lit(-1L)).otherwise(lit(1L)).as("sg"))
      v.filter($"i" <= 8)
        .crossJoin(broadcast(sign))
        .crossJoin(broadcast(lastM))
        .select($"i", ($"v" * $"sg").cast("long").as("comp"),
          $"m".cast(Dec380).cast("string").as("lambda_q"))
        .orderBy("i")
    },
    Some("WITH e AS (SELECT list_transform(embedding, " +
      "x -> CAST(floor(x * 1e6) AS BIGINT)) AS q FROM embeddings), " +
      // the oracle pins the fixture's dim (64) — generate_series cannot
      // take lateral params (same note as embedding_gram)
      "a AS (SELECT q, i, q[i] AS qi FROM e, generate_series(1, 64) AS g1(i)), " +
      "b AS (SELECT i, j, qi, q[j] AS qj FROM a, generate_series(1, 64) AS g2(j)), " +
      "gr AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, " +
      "SUM(CAST(qi * qj AS HUGEINT)) AS g FROM b GROUP BY 1, 2), " +
      "v0 AS (SELECT CAST(i AS BIGINT) AS i, CAST(1000000 AS HUGEINT) AS v " +
      "FROM generate_series(1, 64) AS gs(i)), " +
      "w1 AS (SELECT gr.i, SUM(gr.g * v0.v) AS w FROM gr " +
      "JOIN v0 ON v0.i = gr.j GROUP BY 1), " +
      "m1 AS (SELECT max(abs(w)) AS m FROM w1), " +
      "v1 AS (SELECT i, (w * 1000000) // " +
      "(CASE WHEN m = 0 THEN NULL ELSE m END) AS v FROM w1, m1), " +
      "w2 AS (SELECT gr.i, SUM(gr.g * v1.v) AS w FROM gr " +
      "JOIN v1 ON v1.i = gr.j GROUP BY 1), " +
      "m2 AS (SELECT max(abs(w)) AS m FROM w2), " +
      "v2 AS (SELECT i, (w * 1000000) // " +
      "(CASE WHEN m = 0 THEN NULL ELSE m END) AS v FROM w2, m2), " +
      "w3 AS (SELECT gr.i, SUM(gr.g * v2.v) AS w FROM gr " +
      "JOIN v2 ON v2.i = gr.j GROUP BY 1), " +
      "m3 AS (SELECT max(abs(w)) AS m FROM w3), " +
      "v3 AS (SELECT i, (w * 1000000) // " +
      "(CASE WHEN m = 0 THEN NULL ELSE m END) AS v FROM w3, m3), " +
      "sg AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg " +
      "FROM v3 WHERE i = 1) " +
      "SELECT i, CAST(v * sg AS BIGINT) AS comp, " +
      "CAST(CAST(m AS DECIMAL(38,0)) AS VARCHAR) AS lambda_q " +
      "FROM v3, sg, m3 WHERE i <= 8 ORDER BY i"))

  val qs: Seq[Q] = Seq(dedupSpanExact, corpusDocChunk, embeddingGram,
    corpusPrepE2e, corpusChunkStitch, embeddingPcaTop1)
}
