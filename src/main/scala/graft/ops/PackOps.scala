package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cut, Det, OSql, Q, Tables}

/** Training-run staging operators: the passes that turn a cleaned,
  * deduplicated corpus into what a trainer actually consumes —
  * fixed-budget packed sequences, a held-out uniform sample, int8
  * embedding quantization, and multimodal resize plumbing. Every key is
  * deterministic (hash-verified against DuckDB) and carries its 100 TB
  * plan shape in the scaladoc.
  */
object PackOps {
  import Det._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Tokens-per-sequence budget for [[corpusPackSequences]] — a stand-in
    * for the trainer's context length (256 here so the sf0.01 corpus
    * packs into ~100 sequences; a real run sets 2k-128k, same plan).
    */
  private val PackBudget = 256L

  /** Phase 1 of [[corpusPackSequences]] before its lineage cut — the
    * range-partitioned, locally-sorted token table with
    * `monotonically_increasing_id` encoding (partition, offset). Split
    * out so PlanSpec can pin the range exchange (the [[Cut]] severs
    * the executed plan downstream).
    */
  private[graft] def packIdsPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Windows.rankIds(
      t(s, d, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("tok")),
      $"doc_id".asc)
  }

  /** SEQUENCE PACKING — the LLM-pretraining transform that concatenates
    * the token stream in a canonical order (doc_id) and splits it at
    * fixed budget boundaries; a doc belongs to the sequence its FIRST
    * token lands in (so per-sequence token totals may straddle the
    * budget — the declared greedy-by-start-offset semantics, exactly
    * what a concatenate-then-chunk tokenizer run produces). The packing
    * decision needs the GLOBAL exclusive running token total, which
    * `Window.orderBy` without partitionBy would compute through ONE
    * partition; this plan never does. Same two-phase spelling as
    * `window_rank_distributed`: range-repartition by doc_id + local
    * sort, per-partition exclusive cumsum under a partitionBy(pid)
    * window, then P partition subtotals roll into broadcast offsets —
    * ONE range shuffle of the token table plus a P-row aggregate, the
    * shape a 1000-executor packing run needs. The id table is
    * cut once ([[Cut]]) because range boundaries are
    * sampled; the result is boundary-invariant because doc_id is unique
    * and the cumsum depends only on global order. The oracle is the
    * plain global-window spelling — the hash match proves the two-phase
    * plan is a pure plan change.
    */
  private val corpusPackSequences = Q(
    "corpus_pack_sequences",
    (s, d) => {
      import s.implicits._
      val ids = Cut(packIdsPlan(s, d), "pack-ids", s"$d/documents.parquet")
      val local = ids.withColumn("lcum",
        sum($"tok").over(Window.partitionBy($"pid").orderBy($"doc_id")) - $"tok")
      // cumulative token offsets over the P partition subtotals — the
      // broadcast prefix-sum theta-join (no WindowExec on the ledger)
      val offs = Windows.prefixOffsets(
        ids.groupBy("pid").agg(sum($"tok").as("n")), "pid")
      local.join(broadcast(offs), "pid")
        .withColumn("seq", expr(s"(lcum + off) div $PackBudget"))
        .groupBy("seq")
        .agg(count(lit(1)).as("n_docs"),
          sum($"tok").cast("long").as("n_tokens"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy("seq")
    },
    Some("WITH t AS (SELECT doc_id, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents), " +
      "c AS (SELECT doc_id, tok, " +
      s"CAST(sum(tok) OVER (ORDER BY doc_id) - tok AS BIGINT) // $PackBudget AS seq FROM t) " +
      "SELECT seq, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens, " +
      "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
      "FROM c GROUP BY 1 ORDER BY 1"))

  /** Deterministic global uniform k-sample — the held-out/eval split
    * every training pipeline carves before a run: rank docs by
    * md5(doc_id) (a uniform permutation of the corpus) and keep the
    * first 100. `rand()` is neither retry-reproducible nor portable
    * across engines; the hash rank is both. The plan is the O(k)
    * distributed sample: orderBy+limit lowers to TakeOrderedAndProject
    * (pinned in PlanSpec) — a size-k heap per partition merged on the
    * driver, never a global sort. At 100 TB the same plan samples k
    * docs in one scan with k·P driver memory.
    */
  private val sampleReservoir = Q(
    "sample_reservoir",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", $"lang", $"source", $"n_chars",
          md5($"doc_id".cast("string")).as("h"))
        .orderBy($"h".asc, $"doc_id".asc)
        .limit(100)
    },
    Some("SELECT doc_id, lang, source, n_chars, " +
      "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents " +
      "ORDER BY h, doc_id LIMIT 100"))

  /** INT8 symmetric embedding quantization — the storage transform an
    * ANN serving tier runs before indexing (4× smaller vectors, SIMD
    * int8 dot products): per-vector scale = max|v|/127, q_i =
    * floor(v_i/scale + 0.5). Zero vectors quantize to zeros under a
    * guard scale of 1. One codegen'd projection over the scan — no
    * shuffle, no UDF; the array lambdas (transform/zip_with/aggregate)
    * run interpreted per element but the element count is the embedding
    * dim (64), a constant — the upgrade path at extreme QPS is a native
    * Expression like `DotProductF`. Emitted per vector: the exact
    * integer checksums (qsum/qmin/qmax — any quantizer bug flips one),
    * the scale, and the L1 reconstruction error. Float determinism:
    * both engines fold the 64-element error sum left-to-right over
    * identical IEEE doubles; the 4dp rounding grid sits ~12 orders
    * above any ULP wobble (same accepted class as
    * `text_token_count.avg_ratio`).
    */
  private val embeddingQuantize = Q(
    "embedding_quantize",
    (s, d) => {
      import s.implicits._
      t(s, d, "embeddings")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("amax", array_max(expr("transform(v, x -> abs(x))")))
        .withColumn("s0", when($"amax" === 0d, lit(1d)).otherwise($"amax" / lit(127d)))
        .withColumn("q", expr("transform(v, x -> CAST(floor(x / s0 + 0.5D) AS BIGINT))"))
        .select($"vec_id",
          expr("aggregate(q, 0L, (acc, x) -> acc + x)").as("qsum"),
          array_min($"q").as("qmin"), array_max($"q").as("qmax"),
          dround($"s0", 6).as("scale"),
          dround(expr(
            "aggregate(zip_with(v, q, (a, b) -> abs(a - b * s0)), 0D, (acc, x) -> acc + x)"), 4)
            .as("l1_err"))
        .orderBy("vec_id")
        .limit(1000)
    },
    Some("WITH e AS (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e), " +
      "s AS (SELECT vec_id, v, CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS s0 FROM a), " +
      "q AS (SELECT vec_id, v, s0, " +
      "list_transform(v, x -> CAST(floor(x / s0 + 0.5) AS BIGINT)) AS q FROM s) " +
      "SELECT vec_id, CAST(list_sum(q) AS BIGINT) AS qsum, " +
      "list_min(q) AS qmin, list_max(q) AS qmax, " +
      OSql.sround("s0", 6) + " AS scale, " +
      OSql.sround(
        "list_sum(list_transform(generate_series(1, len(v)), i -> abs(v[i] - q[i] * s0)))", 4) +
      " AS l1_err FROM q ORDER BY vec_id LIMIT 1000"))

  /** Multimodal RESIZE plumbing — aspect-preserving fit of each asset
    * into a 64×64 training canvas, the transform a vision-data pipeline
    * runs between decode and feature extraction. Dims come from the
    * shared fake decode ([[LlmPipeline2.fakeDecoded]] — this container
    * ships no codecs; a real deployment swaps that one stage for a
    * decoder UDF with this exact schema), and the scale arithmetic is
    * what production uses: out = max(1, dim·64 div max(w,h)) in pure
    * integers, so both engines agree bit-for-bit with no float rounding
    * in the pipeline. The resized-payload digest stands in for the
    * re-encoded bytes (plumbing for a binary output column). One
    * codegen'd projection over the scan — no shuffle; at 100 TB the
    * cost is the decoder, not this plan.
    */
  private val multimodalResize = Q(
    "multimodal_resize",
    (s, d) => {
      import s.implicits._
      LlmPipeline2.fakeDecoded(s, d)
        .withColumn("side", greatest($"width", $"height"))
        .select($"doc_id", $"width", $"height",
          greatest(lit(1L), expr("(width * 64) div side")).as("out_w"),
          greatest(lit(1L), expr("(height * 64) div side")).as("out_h"))
        .withColumn("rdigest", md5(concat_ws("x",
          $"doc_id".cast("string"), $"out_w".cast("string"), $"out_h".cast("string"))))
        .orderBy("doc_id")
        .limit(1000)
    },
    Some(s"WITH ${LlmPipeline2.decodeCtes}, " +
      "r AS (SELECT doc_id, width, height, " +
      "greatest(1, (width * 64) // greatest(width, height)) AS out_w, " +
      "greatest(1, (height * 64) // greatest(width, height)) AS out_h FROM dec) " +
      "SELECT doc_id, width, height, out_w, out_h, " +
      "md5(CAST(doc_id AS VARCHAR) || 'x' || CAST(out_w AS VARCHAR) || " +
      "'x' || CAST(out_h AS VARCHAR)) AS rdigest " +
      "FROM r ORDER BY doc_id LIMIT 1000"))

  val qs: Seq[Q] = Seq(
    corpusPackSequences, sampleReservoir, embeddingQuantize, multimodalResize)
}
