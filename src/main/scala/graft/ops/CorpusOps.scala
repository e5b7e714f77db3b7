package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Det, OSql, Q, Share, Tables}

/** Corpus-preparation operators beyond cleaning/dedup: PII redaction and
  * weighted source mixing — the two passes that sit between a cleaned
  * corpus and a training run. Both are single-scan, shuffle-light, and
  * hash-verified against DuckDB running the identical arithmetic.
  */
object CorpusOps {
  import Det._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** PII patterns shared verbatim by both engines: the character classes
    * and bounded repetition used here mean Java regex (Spark) and RE2
    * (DuckDB) agree on every match extent — no backreferences, no
    * lookaround, no engine-divergent constructs.
    */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — mask email addresses and phone numbers, keeping a
    * per-doc redaction count for the audit trail. The corpus text is
    * synthetic word-salad with no PII, so each doc deterministically
    * gets a doc_id-derived email + phone APPENDED first (both engines
    * build the identical string); the mask must then match
    * variable-length live tokens, not a fixture constant. At scale this
    * is one codegen'd projection over the scan — no shuffle, no UDF:
    * `regexp_replace`/`regexp_count` are native expressions in Spark
    * and the counts aggregate into the compliance report for free.
    */
  private val textPiiMask = Q(
    "text_pii_mask",
    (s, d) => {
      import s.implicits._
      val raw = concat($"text", lit(" contact user"), $"doc_id".cast("string"),
        lit("@mail.example.com or call +1-555-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
      t(s, d, "documents")
        .select($"doc_id", raw.as("raw"))
        .select($"doc_id",
          regexp_count($"raw", lit(emailPat)).cast("long").as("n_emails"),
          regexp_count($"raw", lit(phonePat)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace($"raw", lit(emailPat), lit("<EMAIL>")),
            lit(phonePat), lit("<PHONE>")).as("masked"))
        .orderBy("doc_id")
    },
    Some("WITH r AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw " +
      "FROM documents) " +
      s"SELECT doc_id, CAST(len(regexp_extract_all(raw, '$emailPat')) AS BIGINT) AS n_emails, " +
      s"CAST(len(regexp_extract_all(raw, '$phonePat')) AS BIGINT) AS n_phones, " +
      s"regexp_replace(regexp_replace(raw, '$emailPat', '<EMAIL>', 'g'), '$phonePat', '<PHONE>', 'g') AS masked " +
      "FROM r ORDER BY doc_id"))

  /** Deterministic per-doc uniform in [0,1): the first 6 md5 hex digits
    * of the doc id, converted to an integer by positional arithmetic.
    * `instr`/`substr`/`md5` spell and behave identically in Spark SQL
    * and DuckDB, so the SAME snippet (modulo the string-cast type name)
    * is used by both engines — the sampling decision is reproducible
    * across engines, retries, and partitionings, which `rand()` is not.
    */
  private def hexUnit(castExpr: String): String = {
    val digits = (1 to 6).map { i =>
      s"(instr('0123456789abcdef', substr(md5($castExpr), $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}"
    }.mkString(" + ")
    s"(($digits) / 16777216.0)"
  }

  /** Weighted corpus mixing with epoch upsampling — the standard
    * training-mix transform: give every source an equal share of a
    * 1.5×-the-corpus character budget, so each doc gets a repeat factor
    * r = budget_share / source_chars; emit floor(r) copies plus one
    * more when the doc's deterministic hash-uniform falls below
    * frac(r). The rate table is #sources rows (broadcast); the emit is
    * an explode of a ≤⌈r⌉-element sequence — no shuffle touches the
    * corpus until the final partial+final agg. Every arithmetic input
    * (char sums, counts) is an exact integer, so the IEEE division both
    * engines perform is bit-identical and the stochastic-rounding
    * comparison cannot diverge. The realized share column verifies the
    * mix actually landed on target.
    */
  private val corpusMixEpochs = Q(
    "corpus_mix_epochs",
    (s, d) => {
      import s.implicits._
      val full = Window.partitionBy(lit(1))
      val rates = t(s, d, "documents")
        .groupBy("source").agg(sum($"n_chars").as("src_chars"))
        .withColumn("total", sum($"src_chars").over(full))
        .withColumn("n_src", count(lit(1)).over(full))
        .select($"source",
          (lit(1.5) * $"total" / ($"n_src" * $"src_chars")).as("rate"))
      t(s, d, "documents")
        .join(broadcast(rates), "source")
        .withColumn("u", expr(hexUnit("CAST(doc_id AS STRING)")))
        .withColumn("copies",
          (floor($"rate") + when($"u" < $"rate" - floor($"rate"), 1L).otherwise(0L)).cast("long"))
        // copies ≥ 1 holds whenever r ≥ 1 (upsampling); the filter keeps
        // the downsampling case (r < 1, copies may be 0) well-defined —
        // sequence(1, 0) would COUNT DOWN, not emit nothing
        .filter($"copies" >= 1)
        .select($"source", $"n_chars",
          explode(sequence(lit(1L), $"copies")).as("epoch"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_emitted"),
          sum($"n_chars").cast("long").as("chars_emitted"))
        .withColumn("share",
          dround($"chars_emitted".cast("double") /
            sum($"chars_emitted").over(full), 4))
        .orderBy("source")
    },
    Some("WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_chars " +
      "FROM documents GROUP BY 1), " +
      "t AS (SELECT source, src_chars, sum(src_chars) OVER () AS total, " +
      "count(*) OVER () AS n_src FROM s), " +
      "r AS (SELECT d.doc_id, d.source, d.n_chars, " +
      "1.5 * t.total / (t.n_src * t.src_chars) AS rate, " +
      s"${hexUnit("CAST(doc_id AS VARCHAR)")} AS u " +
      "FROM documents d JOIN t ON d.source = t.source), " +
      "c AS (SELECT source, n_chars, CAST(floor(rate) AS BIGINT) + " +
      "CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS copies FROM r), " +
      "e AS (SELECT source, n_chars, unnest(generate_series(1, copies)) AS epoch " +
      "FROM c WHERE copies >= 1), " +
      "g AS (SELECT source, count(*) AS n_emitted, " +
      "CAST(sum(n_chars) AS BIGINT) AS chars_emitted FROM e GROUP BY 1) " +
      "SELECT source, n_emitted, chars_emitted, " +
      OSql.sround("CAST(chars_emitted AS DOUBLE) / sum(chars_emitted) OVER ()", 4) +
      " AS share FROM g ORDER BY source"))

  /** Benchmark DECONTAMINATION — the train/test-overlap gate every
    * training-data pipeline runs before a model ever sees the corpus:
    * flag any training doc sharing a word-8-gram with the held-out
    * evaluation set (the standard n-gram contamination rule). The
    * "benchmark" here is the deterministic ~1% slice doc_id % 97 = 0 —
    * a stand-in for the real eval suites, which at scale are exactly
    * this shape: a small fixed gram set. The plan is the scale plan:
    * one gram pass over the corpus (the same explode + lead shape as
    * the dedup shingles, [[LlmPipeline.gramRows]]), the benchmark gram
    * set DISTINCT'd and BROADCAST (eval suites are tiny and fixed — the
    * build side never grows with the corpus), a map-side left-semi
    * probe, and a per-language partial+final rollup. No corpus-sized
    * shuffle anywhere: the only wide exchange carries the ~1% benchmark
    * grams. Docs shorter than 8 tokens have no grams and cannot be
    * contaminated, in both engines.
    */
  private val corpusDecontaminate = Q(
    "corpus_decontaminate",
    (s, d) => {
      import s.implicits._
      val g8 = LlmPipeline.gramRows(s, d, 8)
        .select($"doc_id", md5($"x").as("g"))
      // the doc_id filters split g8 between the benchmark and probe
      // branches, so each document's grams are derived once
      val benchGrams = g8.filter($"doc_id" % 97 === 0).select("g").distinct()
      val contaminated = g8.filter($"doc_id" % 97 =!= 0)
        .join(broadcast(benchGrams), Seq("g"), "left_semi")
        .select("doc_id").distinct()
      t(s, d, "documents")
        .filter($"doc_id" % 97 =!= 0)
        .select($"doc_id", $"lang")
        .join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce($"hit", lit(0L))).cast("long").as("n_contaminated"))
        .withColumn("rate",
          dround($"n_contaminated".cast("double") / $"n_docs", 4))
        .orderBy("lang")
    },
    Some {
      val g8 = (0 to 7).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        s"g AS (SELECT doc_id, md5($g8) AS g FROM " +
        "(SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i " +
        "FROM tok WHERE len(t) >= 8)), " +
        "bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0), " +
        "cont AS (SELECT DISTINCT doc_id FROM g WHERE doc_id % 97 <> 0 " +
        "AND g IN (SELECT g FROM bg)) " +
        "SELECT d.lang, count(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_contaminated, " +
        OSql.sround("CAST(SUM(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) " +
          "AS DOUBLE) / count(*)", 4) + " AS rate " +
        "FROM documents d LEFT JOIN cont ON d.doc_id = cont.doc_id " +
        "WHERE d.doc_id % 97 <> 0 GROUP BY 1 ORDER BY 1 NULLS FIRST"
    })

  /** Unigram log-probability scoring — the perplexity-proxy quality
    * filter (the CCNet-style pass that ranks docs by how "language-like"
    * they are under a cheap LM; here the LM is the corpus's own unigram
    * distribution). avg_logp(doc) = mean over tokens of ln(cnt(w)/N).
    * Plan at scale: one explode pass builds the token relation, the
    * unigram table is a partial+final count agg, and the scoring join
    * shuffles by TOKEN (the unigram table is vocab-sized — unbounded at
    * corpus scale, so a broadcast would be wrong; the shuffle join is
    * the honest plan), then one partial+final per-doc agg.
    *
    * Residual ULP risk (documented, accepted — same class as
    * `text_token_count.avg_ratio`): ln() may differ by 1 ulp between
    * libm implementations and the per-doc sum accumulates in
    * engine-chosen order; both sit ~11 orders of magnitude under the
    * 4dp rounding grid, and no threshold consumes the value, so a flip
    * could change one printed digit, never row membership. Never
    * observed across sf0.001-0.1.
    */
  /** Per-document unigram-LM statistics (doc_id, n_tok, avg_logp) —
    * the 4dp-rounded log-probability BOTH `text_unigram_logprob` and
    * `corpus_perplexity_filter` consume, defined once per engine: the
    * perplexity bands bucket ON the rounded value, so the two
    * operators must share one definition or the "band membership can
    * only flip where the base key's hash gate already diverges"
    * argument silently breaks.
    */
  private def perDocLogprob(s: SparkSession, d: String) = {
    import s.implicits._
    val tok = t(s, d, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum($"cnt").cast("double").as("n"))
    tok.join(freq, "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        dround(sum(log($"cnt".cast("double") / $"n")) / count(lit(1)), 4)
          .as("avg_logp"))
  }

  private val perDocLogprobCtes: String =
    "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
      "FROM documents), " +
      "f AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1), " +
      "tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM f), " +
      "pd AS (SELECT doc_id, count(*) AS n_tok, " +
      OSql.sround("SUM(ln(CAST(cnt AS DOUBLE) / n)) / count(*)", 4) +
      " AS avg_logp FROM tok JOIN f USING (w), tt GROUP BY doc_id)"

  private val textUnigramLogprob = Q(
    "text_unigram_logprob",
    (s, d) => perDocLogprob(s, d).orderBy("doc_id").limit(1000),
    Some("WITH " + perDocLogprobCtes + " " +
      "SELECT doc_id, n_tok, avg_logp FROM pd " +
      "ORDER BY doc_id LIMIT 1000"))

  /** Repetition-based quality gate (the Gopher/C4 family of rules):
    * per document, the top-unigram mass ratio max_cnt/n_tokens and the
    * type-token ratio n_distinct/n_tokens — a document dominated by one
    * token or with collapsed vocabulary is boilerplate/spam, not prose,
    * and repetition is the single highest-yield web-corpus filter after
    * dedup. One explode then two partial+final aggregations: the
    * (doc_id, token) groupBy collapses duplicate tokens MAP-SIDE, so
    * the shuffle carries per-doc vocabularies, not the token stream;
    * the per-doc rollup then shuffles one row per (doc, distinct
    * token). The repetitive flag uses exact integer arithmetic
    * (max_cnt·25 > n_tokens·3 ⇔ ratio > 0.12 — sized to the corpus,
    * whose ratios span 0.05–0.30) so the boolean can never flip on a
    * float rounding edge between engines.
    */
  private val textRepetition = Q(
    "text_repetition",
    (s, d) => {
      import s.implicits._
      val perTok = t(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("cnt"))
      perTok.groupBy("doc_id")
        .agg(sum($"cnt").cast("long").as("n_tokens"),
          count(lit(1)).as("n_distinct"), max($"cnt").as("max_cnt"))
        .select($"doc_id", $"n_tokens", $"n_distinct", $"max_cnt",
          dround($"max_cnt".cast("double") / $"n_tokens", 6).as("max_ratio"),
          dround($"n_distinct".cast("double") / $"n_tokens", 6).as("ttr"),
          ($"max_cnt" * lit(25L) > $"n_tokens" * lit(3L)).as("repetitive"))
        .orderBy("doc_id")
    },
    Some("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token " +
      "FROM documents), " +
      "c AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2), " +
      "a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens, " +
      "count(*) AS n_distinct, max(cnt) AS max_cnt FROM c GROUP BY 1) " +
      "SELECT doc_id, n_tokens, n_distinct, max_cnt, " +
      OSql.sround("CAST(max_cnt AS DOUBLE) / n_tokens", 6) + " AS max_ratio, " +
      OSql.sround("CAST(n_distinct AS DOUBLE) / n_tokens", 6) + " AS ttr, " +
      "(max_cnt * 25 > n_tokens * 3) AS repetitive " +
      "FROM a ORDER BY doc_id"))

  /** Pre-training data-quality gate: the single-pass corpus profile a
    * pipeline asserts on before spending compute — row count, null and
    * empty text, language arity, length bounds, and the
    * metadata-consistency check (n_chars vs actual length). ONE
    * partial+final aggregate; every counter is map-side combinable,
    * so the profile costs one scan at any corpus size and the result
    * is a single bounded row regardless of input.
    */
  private val qualityProfile = Q(
    "quality_profile",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents").agg(
        count(lit(1)).as("n_rows"),
        sum(when($"text".isNull, 1L).otherwise(0L)).as("null_text"),
        sum(when(length($"text") === 0, 1L).otherwise(0L)).as("empty_text"),
        sum(when($"lang".isNull, 1L).otherwise(0L)).as("null_lang"),
        countDistinct($"lang").as("langs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        sum(when(length($"text") =!= $"n_chars", 1L).otherwise(0L))
          .as("len_mismatch"))
    },
    Some("SELECT count(*) AS n_rows, " +
      "CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text, " +
      "CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_text, " +
      "CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang, " +
      "count(DISTINCT lang) AS langs, " +
      "min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
      "CAST(SUM(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS len_mismatch FROM documents"))

  /** Incremental-ingest dedup — the production shape of exact dedup
    * once a corpus is LIVE: an incoming batch (odd doc_ids here) is
    * checked against the existing corpus's content-hash set (even
    * doc_ids) and only novel documents admitted; the per-language
    * ledger (incoming / novel / dup) is what an ingest run reports.
    * Complements `dedup_exact` (within-corpus): this is the
    * new-vs-known boundary. Scale: the join carries (md5, lang) only
    * — never text — and the existing side is a distinct hash set; at
    * 100 TB both sides bucket by hash and the probe is co-located,
    * the same economics as the span-dedup family.
    */
  private val dedupIncremental = Q(
    "dedup_incremental",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", $"lang", md5($"text").as("h"))
      val existing = docs.filter($"doc_id" % 2 === 0)
        .select($"h").distinct().withColumn("seen", lit(1L))
      docs.filter($"doc_id" % 2 === 1)
        .join(existing, Seq("h"), "left_outer")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when($"seen".isNull, 1L).otherwise(0L)).as("n_novel"),
          sum(when($"seen".isNotNull, 1L).otherwise(0L)).as("n_dup"))
        .orderBy("lang")
    },
    Some("WITH ex AS (SELECT DISTINCT md5(text) AS h FROM documents " +
      "WHERE doc_id % 2 = 0), " +
      "inc AS (SELECT lang, md5(text) AS h FROM documents WHERE doc_id % 2 = 1) " +
      "SELECT lang, count(*) AS n_incoming, " +
      "CAST(SUM(CASE WHEN ex.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
      "CAST(SUM(CASE WHEN ex.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup " +
      "FROM inc LEFT JOIN ex ON inc.h = ex.h GROUP BY 1 ORDER BY 1 NULLS FIRST"))

  /** text_lexical_diversity — per-doc type-token ratio and top-token
    * dominance, the two division-only diversity signals a curation
    * pipeline thresholds on (low TTR or a dominant token ⇒ boilerplate
    * / spam). Chosen over word-entropy deliberately: entropy sums
    * per-term float logs in data-dependent order (cross-engine
    * summation-order hazard), while TTR and top-share are each ONE
    * double division of two exact longs — bit-deterministic anywhere.
    * Scale: explode → partial+final (doc_id, token) agg (token counts
    * collapse map-side) → per-doc rollup on the SAME doc_id keying, so
    * the second agg reuses the first's partitioning; no joins, and the
    * shuffle carries per-doc vocabularies, never the token stream.
    */
  private val textLexicalDiversity = Q(
    "text_lexical_diversity",
    (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      tf.groupBy("doc_id")
        .agg(sum($"cnt").cast("long").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max($"cnt").as("max_cnt"))
        .select($"doc_id", $"n_tokens", $"n_distinct",
          dround($"n_distinct".cast("double") / $"n_tokens", 6).as("ttr"),
          dround($"max_cnt".cast("double") / $"n_tokens", 6).as("top_share"))
        .orderBy("doc_id")
    },
    Some("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
      "FROM documents), " +
      "tf AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY 1, 2) " +
      "SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, " +
      "count(*) AS n_distinct, " +
      OSql.sround("CAST(count(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT)", 6) +
      " AS ttr, " +
      OSql.sround("CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT)", 6) +
      " AS top_share " +
      "FROM tf GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // tokenizer_bpe_pairs — the first iteration of BPE tokenizer
  // training at corpus scale: the merge candidate is the most frequent
  // ADJACENT CHARACTER PAIR inside tokens. Each token expands to its
  // length−1 overlapping bigrams (a generate + project, zero extra
  // shuffle beyond the pair count), counts collapse map-side, and the
  // top-20 merge candidates come off a TakeOrdered with (cnt desc,
  // pair asc) tiebreak — the exact work of one `merges.txt` line,
  // distributed.
  // ------------------------------------------------------------------

  private val tokenizerBpePairs = Q(
    "tokenizer_bpe_pairs",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"pair".asc)
        .limit(20)
    },
    Some("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok " +
      "FROM documents), " +
      "ix AS (SELECT tok, unnest(range(1, length(tok))) AS i " +
      "FROM tok WHERE length(tok) >= 2), " +
      "p AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair FROM ix) " +
      "SELECT pair, count(*) AS cnt FROM p GROUP BY 1 " +
      "ORDER BY cnt DESC, pair ASC LIMIT 20"))

  // ------------------------------------------------------------------
  // tokenizer_bpe_apply — ENCODE with the mined merges: the pass every
  // training-data pipeline actually runs once merges.txt exists. The
  // top-8 adjacent-pair merges (the `tokenizer_bpe_pairs` mining,
  // rank = (cnt desc, pair asc)) apply to every token in priority
  // order — one left-to-right replace-all per merge, each merged pair
  // collapsing to a single private-use symbol (chr(1)..chr(8);
  // placeholders are control chars so later merges, mined from
  // visible text, can never match across them). Reported per lang:
  // token count, symbol totals pre/post, and the compression ratio —
  // the number a tokenizer rollout is judged on.
  //
  // Scale shape: the merge list is BOUNDED (8 rows off a TakeOrdered),
  // so encode is 8 chained 1-row broadcast joins + codegen'd string
  // replaces over one corpus scan — no shuffle carries text, and the
  // per-lang rollup collapses map-side. Merge ranks come from an 8×8
  // broadcast theta-join (no window). A missing rank (tiny corpus with
  // <8 distinct pairs) coalesces to a 2-control-char sentinel no mined
  // pair can equal, making that step a no-op in both engines.
  // ------------------------------------------------------------------

  private val tokenizerBpeApply = Q(
    "tokenizer_bpe_apply",
    (s, d) => {
      import s.implicits._
      val toks = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("tok"))
      val top = Share(
        toks.filter(length($"tok") >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"pair".asc)
          .limit(8))
      val ranked = top.as("a").join(broadcast(top.as("b")),
          $"b.cnt" > $"a.cnt" ||
            ($"b.cnt" === $"a.cnt" && $"b.pair" < $"a.pair"), "left_outer")
        .groupBy($"a.pair".as("pair"))
        .agg((count($"b.pair") + 1).as("rn"))
      var cur = toks.withColumn("t", $"tok")
      for (i <- 1 to 8) {
        val mi = broadcast(ranked.filter($"rn" === i).select($"pair".as(s"p$i")))
        cur = cur.join(mi, lit(true), "left_outer")
          .withColumn("t",
            expr(s"replace(t, coalesce(p$i, chr(14) || chr(14)), chr($i))"))
          .drop(s"p$i")
      }
      cur.groupBy("lang").agg(
          count(lit(1)).as("n_tokens"),
          sum(length($"tok")).cast("long").as("symbols_pre"),
          sum(length($"t")).cast("long").as("symbols_post"),
          dround(sum(length($"tok")).cast("double") / sum(length($"t")), 6)
            .as("compression"))
        .orderBy("lang")
    },
    Some {
      val steps = (1 to 8).map(i =>
        s"t$i AS (SELECT lang, tok, replace(t, coalesce(" +
          s"(SELECT pair FROM m WHERE rn = $i), chr(14) || chr(14)), " +
          s"chr($i)) AS t FROM t${i - 1})").mkString(", ")
      "WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "ix AS (SELECT tok, unnest(range(1, length(tok))) AS i " +
        "FROM tok WHERE length(tok) >= 2), " +
        "pc AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair, " +
        "count(*) AS cnt FROM ix GROUP BY 1), " +
        "m AS (SELECT pair, rn FROM (SELECT pair, row_number() OVER " +
        "(ORDER BY cnt DESC, pair ASC) AS rn FROM pc) WHERE rn <= 8), " +
        "t0 AS (SELECT lang, tok, tok AS t FROM tok), " +
        steps + " " +
        "SELECT lang, count(*) AS n_tokens, " +
        "CAST(sum(length(tok)) AS BIGINT) AS symbols_pre, " +
        "CAST(sum(length(t)) AS BIGINT) AS symbols_post, " +
        OSql.sround("CAST(sum(length(tok)) AS DOUBLE) / sum(length(t))", 6) +
        " AS compression FROM t8 GROUP BY 1 ORDER BY 1 NULLS FIRST"
    })

  // ------------------------------------------------------------------
  // corpus_perplexity_filter — CCNet-style perplexity-band filtering:
  // per-doc unigram-LM average log-probability (the text_unigram_logprob
  // statistic, 4dp-rounded — the rounding both engines already
  // hash-agree on) banded into 0.5-nat buckets, reporting doc/token
  // mass per band and the keep flag (band ≥ −8.0 nats here — the
  // "head+middle" cut). Banding happens ON THE ROUNDED value, so band
  // membership can only flip where the rounded statistics themselves
  // diverge — which the base key's hash gate proves they don't.
  // ------------------------------------------------------------------

  private val corpusPerplexityFilter = Q(
    "corpus_perplexity_filter",
    (s, d) => {
      import s.implicits._
      perDocLogprob(s, d)
        .withColumn("band", floor($"avg_logp" * 2).cast("long"))
        .withColumn("keep", ($"avg_logp" >= -8.0).cast("int"))
        .groupBy("band", "keep")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").cast("long").as("n_tokens"))
        .orderBy("band")
    },
    Some("WITH " + perDocLogprobCtes + " " +
      "SELECT CAST(floor(avg_logp * 2) AS BIGINT) AS band, " +
      "CAST(avg_logp >= -8.0 AS INT) AS keep, count(*) AS n_docs, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_tokens " +
      "FROM pd GROUP BY 1, 2 ORDER BY 1"))

  // ------------------------------------------------------------------
  // tokenizer_vocab_coverage — vocabulary coverage analysis (the
  // tokenizer-fit report every multilingual corpus decision consults):
  // the top-100 corpus tokens by frequency (ties broken by token —
  // fully deterministic at the cut) become the vocabulary, and each
  // document's in-vocab TOKEN fraction (duplicates counted — this is
  // token coverage, not type coverage) rolls up to a per-language
  // mean. The per-doc ratio quantizes to exact ppm integers
  // ((hits·10⁶) div n_tok, non-negative) before the language average,
  // so the reduction is order-independent. Scale: the vocab is a
  // bounded top-k (TakeOrdered, then broadcast); the corpus is
  // scanned once for counting and once for probing.
  // ------------------------------------------------------------------

  private val tokenizerVocabCoverage = Q(
    "tokenizer_vocab_coverage",
    (s, d) => {
      import s.implicits._
      val tok = t(s, d, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"w".asc).limit(100)
        .select($"w")
      val probed = tok.join(broadcast(vocab.withColumn("hit", lit(1L))),
          Seq("w"), "left")
        .groupBy("doc_id", "lang").agg(
          count(lit(1)).as("n_tok"),
          sum(coalesce($"hit", lit(0L))).as("n_in"))
        .withColumn("ppm", expr("(n_in * 1000000) div n_tok"))
      probed.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          dround(sum($"ppm").cast("double") / count(lit(1)) / 1e6, 6)
            .as("avg_coverage"))
        .orderBy("lang")
    },
    Some("WITH tok AS (SELECT doc_id, lang, " +
      "unnest(string_split(text, ' ')) AS w FROM documents), " +
      "vocab AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tok " +
      "GROUP BY 1 ORDER BY cnt DESC, w LIMIT 100)), " +
      "probed AS (SELECT doc_id, lang, count(*) AS n_tok, " +
      "CAST(SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_in FROM tok LEFT JOIN vocab v ON v.w = tok.w GROUP BY 1,2), " +
      "p AS (SELECT lang, (n_in * 1000000) // n_tok AS ppm FROM probed) " +
      "SELECT lang, count(*) AS n_docs, " +
      OSql.sround("CAST(SUM(ppm) AS DOUBLE) / count(*) / 1e6", 6) +
      " AS avg_coverage FROM p GROUP BY 1 ORDER BY 1 NULLS FIRST"))

  // ------------------------------------------------------------------
  // text_bigram_logprob — add-one-smoothed bigram LM scoring, the
  // next-order sibling of `text_unigram_logprob`: per-doc mean of
  // ln((c(w₁w₂)+1)/(c(w₁)+V)) over adjacent token pairs, with corpus
  // bigram/unigram counts and vocabulary size V from the same scan.
  // Bigrams come from a doc-keyed lead() window (one shuffle on
  // doc_id, per-doc state bounded); the count tables are open-vocab
  // and correctly SHUFFLE-join (never broadcast — same stance as the
  // unigram key and TF-IDF's df). Same 4dp-rounding float-log policy
  // as the unigram key (documented ulp risk, empirically hash-stable).
  // ------------------------------------------------------------------

  private val textBigramLogprob = Q(
    "text_bigram_logprob",
    (s, d) => {
      import s.implicits._
      val tok = t(s, d, "documents")
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      val wNext = Window.partitionBy($"doc_id").orderBy($"pos".asc)
      // the bigram rows feed the scoring join and their own count
      // ledger; the unigram ledger feeds the join and the V scalar —
      // both shared, so no branch re-runs a tokenize pass
      val big = Share(tok
        .withColumn("w2", lead($"w", 1).over(wNext))
        .filter($"w2".isNotNull)
        .select($"doc_id", $"w".as("w1"), $"w2"))
      val cBig = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val cUni = Share(tok.groupBy("w").agg(count(lit(1)).as("c1")))
      val vocab = cUni.agg(count(lit(1)).cast("double").as("vv"))
      big.join(cBig, Seq("w1", "w2"))
        .join(cUni.select($"w".as("w1"), $"c1"), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_big"),
          dround(sum(log(($"c12" + 1).cast("double") / ($"c1" + $"vv")))
            / count(lit(1)), 4).as("avg_logp"))
        .orderBy("doc_id")
        .limit(1000)
    },
    Some("WITH tok AS (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS w, " +
      "generate_subscripts(string_split(text, ' '), 1) AS pos " +
      "FROM documents), " +
      "big AS (SELECT doc_id, w AS w1, " +
      "lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tok), " +
      "b2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL), " +
      "cb AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY 1,2), " +
      "cu AS (SELECT w, count(*) AS c1 FROM tok GROUP BY 1), " +
      "vv AS (SELECT CAST(count(*) AS DOUBLE) AS vv FROM cu) " +
      "SELECT doc_id, count(*) AS n_big, " +
      OSql.sround("SUM(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + vv))) / count(*)", 4) +
      " AS avg_logp FROM b2 JOIN cb USING (w1, w2) " +
      "JOIN cu ON cu.w = b2.w1, vv " +
      "GROUP BY doc_id ORDER BY doc_id LIMIT 1000"))

  // ------------------------------------------------------------------
  // text_char_entropy — character-level Shannon entropy per document,
  // the gibberish/encoding-junk detector word-level filters miss (a
  // base64 blob has healthy word stats but abnormally HIGH char
  // entropy; aaaa-padding scores abnormally LOW): per-doc char counts
  // via explode, the same integer-quantized c·log₂c identity as
  // `agg_entropy`, banded into 0.5-bit buckets for the bounded corpus
  // report. Natural prose sits ~3.5–4.5 bits; the bands are the gate.
  // ------------------------------------------------------------------

  private val textCharEntropy = Q(
    "text_char_entropy",
    (s, d) => {
      import s.implicits._
      val chars = t(s, d, "documents")
        .select($"doc_id", explode(split($"text", "")).as("ch"))
        .filter($"ch" =!= "")
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        .withColumn("term",
          floor($"c" * log2($"c") * lit(1e6) + lit(0.5)).cast("long"))
      val perDoc = chars.groupBy("doc_id").agg(
          sum($"c").as("n"),
          dround(log2(sum($"c")) - (sum($"term") / lit(1e6)) / sum($"c"), 4)
            .as("h"))
      perDoc
        .withColumn("band", floor($"h" * 2).cast("long"))
        .groupBy("band").agg(
          count(lit(1)).as("n_docs"),
          sum($"n").cast("long").as("n_chars"))
        .orderBy("band")
    },
    Some("WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch " +
      "FROM documents), " +
      "cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch WHERE ch <> '' " +
      "GROUP BY 1,2), " +
      "t AS (SELECT doc_id, c, " +
      "CAST(floor(c * log2(c) * 1e6 + 0.5) AS BIGINT) AS term FROM cnt), " +
      "pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, " +
      OSql.sround("log2(SUM(c)) - (SUM(term) / 1e6) / SUM(c)", 4) +
      " AS h FROM t GROUP BY 1) " +
      "SELECT CAST(floor(h * 2) AS BIGINT) AS band, count(*) AS n_docs, " +
      "CAST(SUM(n) AS BIGINT) AS n_chars FROM pd GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // text_readability — sentence-level readability statistics (the
  // Flesch-family core without syllable counting, which no SQL engine
  // spells identically): sentences split on [.!?]+ runs, per-doc
  // words-per-sentence as an exact integer ratio (ppm-quantized
  // before any averaging), rolled into a per-language report. Long
  // sentences are the classic complexity proxy; a corpus whose mean
  // drifts up is getting harder to read.
  // ------------------------------------------------------------------

  private val textReadability = Q(
    "text_readability",
    (s, d) => {
      import s.implicits._
      val perDoc = t(s, d, "documents")
        .select($"doc_id", $"lang",
          size(split($"text", " ")).cast("long").as("n_words"),
          size(filter(split($"text", "[.!?]+"),
            x => length(trim(x)) > 0)).cast("long").as("n_sent"))
        .filter($"n_sent" > 0)
        .withColumn("wps_ppm", expr("(n_words * 1000000) div n_sent"))
      perDoc.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum($"n_sent").as("n_sentences"),
          dround(sum($"wps_ppm").cast("double") / count(lit(1)) / 1e6, 4)
            .as("avg_words_per_sentence"))
        .orderBy("lang")
    },
    Some("WITH pd AS (SELECT doc_id, lang, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, " +
      "CAST(len(list_filter(string_split_regex(text, '[.!?]+'), " +
      "x -> len(trim(x)) > 0)) AS BIGINT) AS n_sent FROM documents), " +
      "p2 AS (SELECT lang, n_sent, " +
      "(n_words * 1000000) // n_sent AS wps_ppm FROM pd WHERE n_sent > 0) " +
      "SELECT lang, count(*) AS n_docs, " +
      "CAST(SUM(n_sent) AS BIGINT) AS n_sentences, " +
      OSql.sround("CAST(SUM(wps_ppm) AS DOUBLE) / count(*) / 1e6", 4) +
      " AS avg_words_per_sentence FROM p2 GROUP BY 1 ORDER BY 1 NULLS FIRST"))

  // ------------------------------------------------------------------
  // text_tokenize_cjk — the unspaced-script tokenization path: every
  // other text key splits on ' ', which is degenerate for CJK (an
  // unspaced zh document is ONE giant token, distorting wordcount,
  // ngrams, and diversity for that slice). Here `zh` documents strip
  // spaces and tokenize as OVERLAPPING CHARACTER BIGRAMS (the standard
  // IR segmentation for unsegmented scripts — each of the length−1
  // adjacent codepoint pairs is a token; shorter docs yield their
  // single remnant); all other langs keep whitespace tokens. The
  // per-lang ledger (docs, token types, token count, mean token
  // length) makes the branch auditable next to the split-based keys.
  //
  // Scale shape: one corpus scan, explode → per-(lang, token) counts
  // that collapse map-side (the type table is bounded by vocab /
  // bigram domain, not N), then a |langs|-row rollup; the doc counts
  // join is |langs| rows. No shuffle carries document text.
  // ------------------------------------------------------------------

  private val textTokenizeCjk = Q(
    "text_tokenize_cjk",
    (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .select($"lang", $"text", expr("replace(text, ' ', '')").as("sq"))
      val toks = base.select($"lang",
        explode(when($"lang" === "zh", expr(
            "transform(sequence(1, greatest(length(sq) - 1, 1)), " +
              "i -> substring(sq, i, 2))"))
          .otherwise(split($"text", " "))).as("tok"))
      val pl = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
      val st = pl.groupBy("lang").agg(
        count(lit(1)).as("n_types"),
        sum($"c").cast("long").as("n_tokens"),
        dround(sum(length($"tok") * $"c").cast("double") / sum($"c"), 6)
          .as("avg_tok_len"))
      t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .join(st, "lang")
        .select($"lang", $"n_docs", $"n_types", $"n_tokens", $"avg_tok_len")
        .orderBy("lang")
    },
    Some("WITH d AS (SELECT lang, text, replace(text, ' ', '') AS sq " +
      "FROM documents), " +
      "ztok AS (SELECT lang, substring(sq, CAST(i AS INT), 2) AS tok FROM " +
      "(SELECT lang, sq, unnest(range(1, greatest(length(sq) - 1, 1) + 1)) " +
      "AS i FROM d WHERE lang = 'zh')), " +
      "wtok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok " +
      "FROM d WHERE lang <> 'zh'), " +
      "tok AS (SELECT * FROM ztok UNION ALL SELECT * FROM wtok), " +
      "pl AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2), " +
      "st AS (SELECT lang, count(*) AS n_types, " +
      "CAST(sum(c) AS BIGINT) AS n_tokens, " +
      OSql.sround("CAST(sum(length(tok) * c) AS DOUBLE) / sum(c)", 6) +
      " AS avg_tok_len FROM pl GROUP BY 1), " +
      "nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1) " +
      "SELECT lang, n_docs, n_types, n_tokens, avg_tok_len " +
      "FROM nd JOIN st USING (lang) ORDER BY lang NULLS FIRST"))

  // ------------------------------------------------------------------
  // quality_gopher_rules — the Gopher-style rule-based document
  // filter (Rae et al. 2021, the public rule set behind most web-scale
  // corpus cleaning): word count within [50, 100 000], mean word
  // length within [3, 10], and ≥80% of words containing an alphabetic
  // character. Complements the continuous scores (`text_quality_score`
  // ratios, `corpus_perplexity_filter` LM bands) with the hard
  // cut-offs a production pipeline applies FIRST. Per-lang ledger of
  // per-rule failures + the all-rules keep count, so a threshold
  // change is auditable per rule rather than only in aggregate.
  //
  // Scale shape: every rule is a per-row projection (size/filter HOFs
  // over the token array — no explode, no shuffle carrying text), and
  // the ledger collapses map-side to |langs| rows.
  // ------------------------------------------------------------------

  private val qualityGopherRules = Q(
    "quality_gopher_rules",
    (s, d) => {
      import s.implicits._
      val doc = t(s, d, "documents").select($"lang", $"text")
        .withColumn("nw", size(split($"text", " ")))
        .withColumn("nalpha", expr(
          "size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]'))"))
        .withColumn("mwl",
          length(expr("replace(text, ' ', '')")).cast("double") / $"nw")
        // a NULL text fails every rule explicitly — without the isNull
        // arms Spark's NULL flags vanish from the sums while the
        // oracle's CASE ... ELSE 0 would count the doc as a keep
        .withColumn("fw",
          ($"nw".isNull || $"nw" < 50 || $"nw" > 100000).cast("long"))
        .withColumn("fl",
          ($"mwl".isNull || $"mwl" < 3.0 || $"mwl" > 10.0).cast("long"))
        .withColumn("fa",
          ($"nalpha".isNull || $"nalpha".cast("double") < $"nw" * 0.8)
            .cast("long"))
      doc.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum($"fw").as("n_fail_words"),
          sum($"fl").as("n_fail_wlen"),
          sum($"fa").as("n_fail_alpha"),
          sum((($"fw" + $"fl" + $"fa") === 0).cast("long")).as("n_keep"))
        .orderBy("lang")
    },
    Some("WITH dd AS (SELECT lang, " +
      "len(string_split(text, ' ')) AS nw, " +
      "len(list_filter(string_split(text, ' '), " +
      "w -> regexp_matches(w, '[a-zA-Z]'))) AS nalpha, " +
      "CAST(length(replace(text, ' ', '')) AS DOUBLE) / " +
      "len(string_split(text, ' ')) AS mwl FROM documents), " +
      "f AS (SELECT lang, " +
      "CASE WHEN nw IS NULL OR nw < 50 OR nw > 100000 THEN 1 ELSE 0 END AS fw, " +
      "CASE WHEN mwl IS NULL OR mwl < 3.0 OR mwl > 10.0 THEN 1 ELSE 0 END AS fl, " +
      "CASE WHEN nalpha IS NULL OR CAST(nalpha AS DOUBLE) < nw * 0.8 " +
      "THEN 1 ELSE 0 END AS fa " +
      "FROM dd) " +
      "SELECT lang, count(*) AS n_docs, " +
      "CAST(SUM(fw) AS BIGINT) AS n_fail_words, " +
      "CAST(SUM(fl) AS BIGINT) AS n_fail_wlen, " +
      "CAST(SUM(fa) AS BIGINT) AS n_fail_alpha, " +
      "CAST(SUM(CASE WHEN fw + fl + fa = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_keep FROM f GROUP BY 1 ORDER BY 1 NULLS FIRST"))

  // ------------------------------------------------------------------
  // text_zipf_fit — Zipf's-law fit over the corpus unigram distribution:
  // the log-log OLS slope of count vs frequency rank for the top-100
  // tokens. Natural text sits near slope −1; a corpus whose slope
  // drifts (template spam flattens it, aggressive dedup steepens it)
  // fails distribution QA — the corpus-level health check next to the
  // per-document quality scores. Global token counts collapse map-side
  // (partial+final agg); the top-100 cut is a TakeOrdered on the total
  // (cnt desc, token) order, so the regression's only window runs over
  // a ≤100-row LEDGER, never the token stream. Regression inputs
  // ln(rank), ln(cnt) are integer-quantized at 10⁶ per row before the
  // exact sums (ln on identical integer inputs is correctly-rounded
  // libm in both engines — the `graph_adamic_adar` precedent); the
  // slope/intercept are then single double formulas with identical
  // text. A degenerate ledger (n < 2 or zero x-variance) yields NULL
  // fits, not a division error.
  // ------------------------------------------------------------------

  private val textZipfFit = Q(
    "text_zipf_fit",
    (s, d) => {
      import s.implicits._
      val top = t(s, d, "documents")
        .select(explode(split($"text", " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"token".asc).limit(100)
      val w = Window.orderBy($"cnt".desc, $"token".asc)
      val q = top
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(
          floor(log($"rank".cast("double")) * 1e6 + 0.5).cast("long").as("xq"),
          floor(log($"cnt".cast("double")) * 1e6 + 0.5).cast("long").as("yq"))
      val m = q.agg(
        count(lit(1)).as("n"),
        sum($"xq").cast("double").as("sx"),
        sum($"yq").cast("double").as("sy"),
        sum($"xq" * $"yq").cast("double").as("sxy"),
        sum($"xq" * $"xq").cast("double").as("sxx"))
      m.withColumn("den", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("sl",
          when($"n" > 1 && $"den" > 0,
            ($"n" * $"sxy" - $"sx" * $"sy") / $"den"))
        .select($"n",
          dround($"sl", 6).as("zipf_slope"),
          dround(($"sy" / 1e6 - $"sl" * ($"sx" / 1e6)) / $"n", 6)
            .as("zipf_intercept"))
    },
    Some("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token " +
      "FROM documents), " +
      "c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok " +
      "GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT 100), " +
      "r AS (SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) " +
      "AS BIGINT) AS rank, cnt FROM c), " +
      "q AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) " +
      "AS BIGINT) AS xq, " +
      "CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS yq " +
      "FROM r), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(xq) AS DOUBLE) AS sx, CAST(SUM(yq) AS DOUBLE) AS sy, " +
      "CAST(SUM(xq*yq) AS DOUBLE) AS sxy, " +
      "CAST(SUM(xq*xq) AS DOUBLE) AS sxx FROM q), " +
      "c2 AS (SELECT n, sx, sy, sxy, n*sxx - sx*sx AS den FROM m), " +
      "c3 AS (SELECT n, sx, sy, CASE WHEN n > 1 AND den > 0 THEN " +
      "(n*sxy - sx*sy) / den END AS sl FROM c2) " +
      "SELECT n, " + OSql.sround("sl", 6) + " AS zipf_slope, " +
      OSql.sround("(sy/1e6 - sl*(sx/1e6)) / n", 6) + " AS zipf_intercept " +
      "FROM c3"))

  // ------------------------------------------------------------------
  // text_collocations_pmi — pointwise mutual information over adjacent
  // word pairs: the collocation miner (which bigrams co-occur far more
  // than their unigram frequencies predict — "new york", not "of the")
  // that feeds tokenizer merge candidates and phrase-aware dedup
  // shingles. Bigrams are the `text_bigram_logprob` per-doc lead
  // window (keyed by doc_id, never global); unigram/bigram counts
  // collapse map-side; candidates need count ≥ 5 so every ln argument
  // is a positive exact integer (correctly-rounded libm on identical
  // inputs — the adamic-adar/zipf precedent), and PMI = (ln c_ab +
  // 2·ln N₁) − (ln N₂ + ln c_a + ln c_b) is one fixed-text double
  // expression (ln of exact ints summed, never ln of a ratio — no
  // overflowing integer products at scale). Top-20 ordered by the
  // 10⁶-quantized PMI with (w1, w2) tiebreak — fully deterministic.
  // ------------------------------------------------------------------

  private val textCollocationsPmi = Q(
    "text_collocations_pmi",
    (s, d) => {
      import s.implicits._
      val tok = t(s, d, "documents")
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      val wNext = Window.partitionBy($"doc_id").orderBy($"pos".asc)
      val big = tok
        .withColumn("w2", lead($"w", 1).over(wNext))
        .filter($"w2".isNotNull)
        .select($"w".as("w1"), $"w2")
      val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val cu = tok.groupBy($"w").agg(count(lit(1)).as("c1"))
      val tot = cu.agg(sum($"c1").as("n1")).crossJoin(
        cb.agg(sum($"c12").as("n2")))
      val scored = cb.filter($"c12" >= 5)
        .join(cu.select($"w".as("w1"), $"c1".as("ca")), "w1")
        .join(cu.select($"w".as("w2"), $"c1".as("cb")), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("pmi",
          log($"c12".cast("double")) + log($"n1".cast("double"))
            + log($"n1".cast("double"))
            - (log($"n2".cast("double")) + log($"ca".cast("double"))
              + log($"cb".cast("double"))))
        .withColumn("pq", floor($"pmi" * 1e6 + 0.5).cast("long"))
      scored.orderBy($"pq".desc, $"w1".asc, $"w2".asc).limit(20)
        .select($"w1", $"w2", $"c12".as("n_pair"),
          ($"pq".cast("double") / 1e6).as("pmi"))
    },
    Some("WITH tok AS (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS w, " +
      "generate_subscripts(string_split(text, ' '), 1) AS pos " +
      "FROM documents), " +
      "big AS (SELECT w AS w1, " +
      "lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tok), " +
      "b2 AS (SELECT w1, w2 FROM big WHERE w2 IS NOT NULL), " +
      "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 " +
      "FROM b2 GROUP BY 1, 2), " +
      "cu AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1), " +
      "tot AS (SELECT (SELECT CAST(SUM(c1) AS BIGINT) FROM cu) AS n1, " +
      "(SELECT CAST(SUM(c12) AS BIGINT) FROM cb) AS n2), " +
      "sc AS (SELECT w1, w2, c12, " +
      "ln(CAST(c12 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) " +
      "+ ln(CAST(n1 AS DOUBLE)) - (ln(CAST(n2 AS DOUBLE)) " +
      "+ ln(CAST(ca.c1 AS DOUBLE)) + ln(CAST(cbb.c1 AS DOUBLE))) AS pmi " +
      "FROM cb JOIN cu ca ON ca.w = cb.w1 JOIN cu cbb ON cbb.w = cb.w2 " +
      "CROSS JOIN tot WHERE c12 >= 5), " +
      "sq AS (SELECT w1, w2, c12, " +
      "CAST(floor(pmi * 1e6 + 0.5) AS BIGINT) AS pq FROM sc) " +
      "SELECT w1, w2, c12 AS n_pair, CAST(pq AS DOUBLE) / 1e6 AS pmi " +
      "FROM sq ORDER BY pq DESC, w1, w2 LIMIT 20"))

  // ------------------------------------------------------------------
  // corpus_js_divergence — Jensen–Shannon divergence of each source's
  // language mix from the corpus-wide mix: the bounded, symmetric
  // drift score (PSI diverges on zero cells; JSD ≤ ln 2) a mixture
  // curator reads to spot the source that skews the blend before
  // `corpus_mix_epochs` locks weights. The cell domain is the CROSS
  // JOIN of the source and lang ledgers (a source's MISSING lang still
  // contributes its q·ln 2 / 2 mass — dropping zero cells understates
  // drift, the same zero-cell bug `stat_chi2_independence` pins);
  // p, q, m and both ln terms evaluate in double from exact longs with
  // identical formula text, each term integer-quantized at 10⁶ before
  // the ≤|langs|-row per-source sum (order-independent; the
  // ln-determinism precedent of `text_zipf_fit`). Counts collapse
  // map-side; the spine is |sources|×|langs| — bounded by the dims,
  // never the corpus.
  // ------------------------------------------------------------------

  private val corpusJsDivergence = Q(
    "corpus_js_divergence",
    (s, d) => {
      import s.implicits._
      val dc = t(s, d, "documents").select($"source", $"lang")
      val sl = dc.groupBy("source", "lang").agg(count(lit(1)).as("c_sl"))
      val sTot = dc.groupBy("source").agg(count(lit(1)).as("n_s"))
      val lTot = dc.groupBy("lang").agg(count(lit(1)).as("c_l"))
      val nTot = dc.agg(count(lit(1)).as("n_t"))
      val cells = sTot.crossJoin(broadcast(lTot))
        .crossJoin(broadcast(nTot))
        .join(sl, Seq("source", "lang"), "left_outer")
        .withColumn("c", coalesce($"c_sl", lit(0L)))
        .withColumn("p", $"c".cast("double") / $"n_s")
        .withColumn("q", $"c_l".cast("double") / $"n_t")
        .withColumn("m", ($"p" + $"q") / 2)
        .withColumn("t1", when($"c" > 0,
          floor($"p" * log($"p" / $"m") * 1e6 + 0.5).cast("long"))
          .otherwise(lit(0L)))
        .withColumn("t2",
          floor($"q" * log($"q" / $"m") * 1e6 + 0.5).cast("long"))
      cells.groupBy("source").agg(
          max($"n_s").as("n_docs"),
          dround((sum($"t1") + sum($"t2")).cast("double") / 2e6, 6)
            .as("jsd_nats"))
        .orderBy("source")
    },
    Some("WITH sl AS (SELECT source, lang, count(*) AS c_sl " +
      "FROM documents GROUP BY 1, 2), " +
      "st AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1), " +
      "lt AS (SELECT lang, count(*) AS c_l FROM documents GROUP BY 1), " +
      "nt AS (SELECT count(*) AS n_t FROM documents), " +
      "cells AS (SELECT st.source, st.n_s, lt.c_l, nt.n_t, " +
      "COALESCE(sl.c_sl, 0) AS c " +
      "FROM st CROSS JOIN lt CROSS JOIN nt " +
      "LEFT JOIN sl ON sl.source = st.source AND sl.lang = lt.lang), " +
      "terms AS (SELECT source, n_s, " +
      "CAST(c AS DOUBLE) / n_s AS p, CAST(c_l AS DOUBLE) / n_t AS q, " +
      "(CAST(c AS DOUBLE) / n_s + CAST(c_l AS DOUBLE) / n_t) / 2 AS m, c " +
      "FROM cells), " +
      "tq AS (SELECT source, n_s, " +
      "CASE WHEN c > 0 THEN CAST(floor(p * ln(p / m) * 1e6 + 0.5) AS BIGINT) " +
      "ELSE 0 END AS t1, " +
      "CAST(floor(q * ln(q / m) * 1e6 + 0.5) AS BIGINT) AS t2 FROM terms) " +
      "SELECT source, max(n_s) AS n_docs, " +
      OSql.sround("CAST(SUM(t1) + SUM(t2) AS DOUBLE) / 2e6", 6) +
      " AS jsd_nats FROM tq GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // corpus_ngram_novelty — held-out trigram novelty: split the corpus
  // into train (¾) and test (¼) by the deterministic doc_id % 4 rule
  // (the `hash_split` shape) and measure what fraction of each lang's
  // TEST trigram occurrences never appear in train — the
  // generalization check that separates "the held-out set is new
  // text" from "the split leaked near-copies" (high novelty ⇒ honest
  // split; near-zero ⇒ the dedup pass missed templates). Grams hash to
  // md5 BEFORE any shuffle (the `corpus_decontaminate` discipline);
  // the train side collapses to a DISTINCT gram set and the test side
  // anti-joins it on the HASH — at 100 TB that set outgrows a
  // broadcast, and the hash-partitioned anti-join stays linear with
  // no skew (md5 keys are uniform by construction).
  // ------------------------------------------------------------------

  private val corpusNgramNovelty = Q(
    "corpus_ngram_novelty",
    (s, d) => {
      import s.implicits._
      val g3 = LlmPipeline.gramRows(s, d, 3)
        .select($"doc_id", md5($"x").as("g"))
      val trainGrams = g3.filter($"doc_id" % 4 =!= 0).select("g").distinct()
      val test = g3.filter($"doc_id" % 4 === 0)
      val novel = test.join(trainGrams, Seq("g"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("nov"))
      val perDoc = test.groupBy("doc_id").agg(count(lit(1)).as("tot"))
        .join(novel, Seq("doc_id"), "left_outer")
        .withColumn("nov", coalesce($"nov", lit(0L)))
      t(s, d, "documents").filter($"doc_id" % 4 === 0)
        .select($"doc_id", $"lang")
        .join(perDoc, Seq("doc_id"), "left_outer")
        .groupBy("lang").agg(
          count(lit(1)).as("n_test_docs"),
          coalesce(sum($"tot"), lit(0L)).as("n_test_grams"),
          coalesce(sum($"nov"), lit(0L)).as("n_novel"),
          when(sum($"tot") > 0,
            dround(sum($"nov").cast("double") / sum($"tot"), 6))
            .as("novelty_rate"))
        .orderBy("lang")
    },
    Some {
      val g3 = "t[i] || ' ' || t[i+1] || ' ' || t[i+2]"
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        s"g AS (SELECT doc_id, md5($g3) AS g FROM " +
        "(SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i " +
        "FROM tok WHERE len(t) >= 3)), " +
        "tg AS (SELECT DISTINCT g FROM g WHERE doc_id % 4 <> 0), " +
        "te AS (SELECT doc_id, g FROM g WHERE doc_id % 4 = 0), " +
        "pd AS (SELECT doc_id, count(*) AS tot, " +
        "SUM(CASE WHEN tg.g IS NULL THEN 1 ELSE 0 END) AS nov " +
        "FROM te LEFT JOIN tg ON tg.g = te.g GROUP BY 1) " +
        "SELECT d.lang, count(*) AS n_test_docs, " +
        "COALESCE(CAST(SUM(pd.tot) AS BIGINT), 0) AS n_test_grams, " +
        "COALESCE(CAST(SUM(pd.nov) AS BIGINT), 0) AS n_novel, " +
        "CASE WHEN SUM(pd.tot) > 0 THEN " +
        OSql.sround("CAST(SUM(pd.nov) AS DOUBLE) / SUM(pd.tot)", 6) +
        " END AS novelty_rate " +
        "FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id " +
        "WHERE d.doc_id % 4 = 0 GROUP BY 1 ORDER BY 1 NULLS FIRST"
    })

  // ------------------------------------------------------------------
  // text_bigram_kneser_ney — interpolated Kneser-Ney bigram
  // probabilities, the SMOOTHING STEP above `text_bigram_logprob`'s
  // raw counts (add-k flattens everything; KN backs off to CONTINUATION
  // counts — "how many contexts does w2 follow?" — the public
  // state-of-the-art for count-based LMs): P(w2|w1) = max(c12−D, 0)/c1
  // + D·N1+(w1,·)/c1 · N1+(·,w2)/B with the textbook D = 0.75. With
  // D = 3/4 the whole formula is ONE exact rational —
  // (max(4c12−3,0)·B + 3·N1f·N1c) / (4·c1·B) — whose numerator
  // evaluates in DECIMAL(38,0)/HUGEINT and whose single division is
  // the only double. Bigrams ride the per-doc lead window (keyed by
  // doc_id — never a global token order), all count ledgers collapse
  // map-side, and the per-lang top-10 ranks by EXACT (c12, w1, w2) —
  // no float in any ordering key.
  // ------------------------------------------------------------------

  private val textBigramKneserNey = Q(
    "text_bigram_kneser_ney",
    (s, d) => {
      import s.implicits._
      // the bigram count ledger feeds FOUR branches (ctx, cont, bt,
      // and the scored join) — shared, so the tokenize + lead window +
      // count collapse over the corpus runs ONCE per query
      val wNext = Window.partitionBy($"doc_id").orderBy($"pos".asc)
      val cb = Share(t(s, d, "documents")
        .select($"lang", $"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
        .withColumn("w2", lead($"w", 1).over(wNext))
        .filter($"w2".isNotNull)
        .select($"lang", $"w".as("w1"), $"w2")
        .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12")))
      val ctx = cb.groupBy("lang", "w1")
        .agg(sum($"c12").as("c1"), count(lit(1)).as("nf"))
      val cont = cb.groupBy("lang", "w2").agg(count(lit(1)).as("nc"))
      val bt = cb.groupBy("lang").agg(count(lit(1)).as("bt"))
      val scored = cb
        .join(ctx, Seq("lang", "w1"))
        .join(cont, Seq("lang", "w2"))
        .join(broadcast(bt), Seq("lang"))
        .withColumn("num",
          expr("cast(greatest(4 * c12 - 3, 0) as decimal(38,0)) * bt" +
            " + cast(3 as decimal(38,0)) * nf * nc"))
        .withColumn("p_kn",
          dround($"num".cast("double") / (lit(4.0) * $"c1" * $"bt"), 6))
      val wTop = Window.partitionBy($"lang")
        .orderBy($"c12".desc, $"w1".asc, $"w2".asc)
      scored.withColumn("rn", row_number().over(wTop))
        .filter($"rn" <= 10)
        .select($"lang", $"rn".cast("long").as("rn"),
          $"w1", $"w2", $"c12", $"p_kn")
        .orderBy("lang", "rn")
    },
    Some("WITH tok AS (SELECT lang, doc_id, " +
      "unnest(string_split(text, ' ')) AS w, " +
      "generate_subscripts(string_split(text, ' '), 1) AS pos " +
      "FROM documents), " +
      "big AS (SELECT lang, w AS w1, " +
      "lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tok), " +
      "cb AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12 " +
      "FROM big WHERE w2 IS NOT NULL GROUP BY 1, 2, 3), " +
      "ctx AS (SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS nf FROM cb GROUP BY 1, 2), " +
      "cont AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS nc " +
      "FROM cb GROUP BY 1, 2), " +
      "bt AS (SELECT lang, CAST(count(*) AS BIGINT) AS bt FROM cb GROUP BY 1), " +
      "sc AS (SELECT cb.lang, cb.w1, cb.w2, cb.c12, " +
      "CAST(greatest(4 * cb.c12 - 3, 0) AS HUGEINT) * bt.bt " +
      "+ CAST(3 AS HUGEINT) * ctx.nf * cont.nc AS num, " +
      "ctx.c1, bt.bt FROM cb " +
      "JOIN ctx ON ctx.lang = cb.lang AND ctx.w1 = cb.w1 " +
      "JOIN cont ON cont.lang = cb.lang AND cont.w2 = cb.w2 " +
      "JOIN bt ON bt.lang = cb.lang), " +
      "p AS (SELECT lang, w1, w2, c12, " +
      OSql.sround("CAST(num AS DOUBLE) / (4.0 * c1 * bt)", 6) + " AS p_kn, " +
      "row_number() OVER (PARTITION BY lang " +
      "ORDER BY c12 DESC, w1, w2) AS rn FROM sc) " +
      "SELECT lang, CAST(rn AS BIGINT) AS rn, w1, w2, c12, p_kn FROM p " +
      "WHERE rn <= 10 ORDER BY lang NULLS FIRST, rn"))

  // ------------------------------------------------------------------
  // text_hapax_ratio — hapax legomena share of each language's
  // vocabulary: the corpus-level Zipf-TAIL health check next to
  // `text_zipf_fit`'s head slope (natural text keeps roughly 40-60%
  // of its vocabulary as one-occurrence words; boilerplate/template
  // corpora crater the ratio, OCR junk and bad tokenization inflate
  // it — and over-aggressive dedup shows up here before it shows up
  // in the slope). One explode pass collapses MAP-SIDE to the
  // (lang, token) count ledger — the only shuffle, keyed by the open
  // vocabulary, carrying counts never text bodies — then a second
  // map-side collapse to the ≤|langs| row report: vocabulary size,
  // token mass, hapax (c = 1) and dis legomena (c = 2) counts, one
  // final division for the ratio.
  // ------------------------------------------------------------------

  private val textHapaxRatio = Q(
    "text_hapax_ratio",
    (s, d) => {
      import s.implicits._
      val tok = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
      val cnt = tok.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      cnt.groupBy("lang").agg(
          count(lit(1)).as("vocab"),
          sum($"c").as("n_tokens"),
          sum(($"c" === 1).cast("long")).as("n_hapax"),
          sum(($"c" === 2).cast("long")).as("n_dis"))
        .select($"lang", $"vocab", $"n_tokens", $"n_hapax", $"n_dis",
          dround($"n_hapax".cast("double") / $"vocab", 6).as("hapax_ratio"))
        .orderBy("lang")
    },
    Some("WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w " +
      "FROM documents), " +
      "tk AS (SELECT lang, w FROM tok WHERE len(w) > 0), " +
      "cnt AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c " +
      "FROM tk GROUP BY 1, 2) " +
      "SELECT lang, CAST(count(*) AS BIGINT) AS vocab, " +
      "CAST(SUM(c) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, " +
      "CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis, " +
      OSql.sround("CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ count(*)", 6) + " AS hapax_ratio " +
      "FROM cnt GROUP BY lang ORDER BY lang"))

  // ------------------------------------------------------------------
  // corpus_vocab_overlap — pairwise vocabulary Jaccard between
  // sources: the corpus-comparison matrix a mixture curator reads
  // next to `corpus_js_divergence` (JSD compares LANGUAGE mixes; this
  // compares the actual token inventories — two scrapes of the same
  // site show near-1 overlap before any document-level dedup fires).
  // Scale shape: the (source, token) vocabulary ledger collapses
  // map-side (one open-vocab shuffle carrying tokens + source ids,
  // never text bodies); intersections come from the per-token
  // source-set SELF-JOIN — fan-out per token is bounded by
  // |sources|²/2 pairs, NOT corpus size — and union sizes are
  // |A|+|B|−|A∩B| with the ≤|sources|-row size ledger broadcast to
  // both sides. Jaccard is floor-quantized at 10⁶ (exact integer,
  // non-negative) so the report is integer-deterministic; pairs with
  // empty intersection drop (the join can't see them) — spelled
  // identically in the oracle.
  // ------------------------------------------------------------------

  private val corpusVocabOverlap = Q(
    "corpus_vocab_overlap",
    (s, d) => {
      import s.implicits._
      val voc = t(s, d, "documents")
        .select($"source", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0).distinct()
      val sizes = voc.groupBy("source").agg(count(lit(1)).as("sz"))
      val inter = voc.select($"source".as("sa"), $"w")
        .join(voc.select($"source".as("sb"), $"w"), Seq("w"))
        .filter($"sa" < $"sb")
        .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select($"source".as("sa"), $"sz".as("za"))),
          Seq("sa"))
        .join(broadcast(sizes.select($"source".as("sb"), $"sz".as("zb"))),
          Seq("sb"))
        .withColumn("uni", $"za" + $"zb" - $"inter")
        .select($"sa", $"sb", $"inter", $"uni",
          (expr("(1000000 * inter) div uni").cast("double") / 1e6)
            .as("jaccard"))
        .orderBy("sa", "sb")
    },
    Some("WITH tok AS (SELECT DISTINCT source, w FROM (SELECT source, " +
      "unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0), " +
      "sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz " +
      "FROM tok GROUP BY 1), " +
      "iv AS (SELECT a.source AS sa, b.source AS sb, " +
      "CAST(count(*) AS BIGINT) AS inter FROM tok a " +
      "JOIN tok b ON b.w = a.w AND a.source < b.source GROUP BY 1, 2), " +
      "f AS (SELECT iv.sa, iv.sb, iv.inter, " +
      "za.sz + zb.sz - iv.inter AS uni FROM iv " +
      "JOIN sz za ON za.source = iv.sa JOIN sz zb ON zb.source = iv.sb) " +
      "SELECT sa, sb, inter, CAST(uni AS BIGINT) AS uni, " +
      "CAST((1000000 * inter) // uni AS DOUBLE) / 1e6 AS jaccard " +
      "FROM f ORDER BY sa, sb"))

  // ------------------------------------------------------------------
  // corpus_heaps_law — Heaps'-law vocabulary-growth fit V(N) = K·N^β
  // over the corpus in doc_id ingest order: the third corpus-health
  // distribution law beside the Zipf head slope and the hapax tail
  // (natural text grows vocabulary at β ≈ 0.4–0.6; template spam
  // flattens β toward 0, shuffled-in junk pushes it toward 1). The
  // running totals are NOT a sequential scan: each token's FIRST
  // doc (min doc_id — one open-vocab collapse) turns "cumulative
  // distinct vocabulary" into a per-doc new-word count, and both
  // cumulative series ride the two-phase prefix over the per-doc
  // ledger (64Ki-doc buckets + broadcast offsets — bucket ledger
  // ≤ ~15k rows even at 10⁹ docs). The log-log OLS quantizes
  // ln(cumN)/ln(cumV) at 10⁶ per ledger row (ln-on-identical-
  // integers precedent) so the regression sums are exact integers;
  // slope/intercept are single double formulas.
  // ------------------------------------------------------------------

  private val corpusHeapsLaw = Q(
    "corpus_heaps_law",
    (s, d) => {
      import s.implicits._
      val Dec38c = org.apache.spark.sql.types.DecimalType(38, 0)
      val tok = t(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
      val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("toks"))
      val firstDoc = tok.groupBy("w").agg(min($"doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("newv"))
      val led = perDoc.join(firstDoc, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"toks", coalesce($"newv", lit(0L)).as("newv"))
        .withColumn("b", expr(Det.fdivExpr("doc_id", "65536")))
      val local = Window.partitionBy($"b").orderBy($"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsN = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"toks").as("n")), "b")
      val offsV = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"newv").as("n")), "b")
        .withColumnRenamed("off", "offv")
      val pts = led
        .withColumn("ln_", sum($"toks").over(local))
        .withColumn("lv", sum($"newv").over(local))
        .join(broadcast(offsN), "b").join(broadcast(offsV), "b")
        .select(($"ln_" + $"off").as("cn"), ($"lv" + $"offv").as("cv"))
        .filter($"cn" > 0 && $"cv" > 0)
        .select(
          floor(log($"cn") * lit(1e6) + lit(0.5)).cast(Dec38c).as("x"),
          floor(log($"cv") * lit(1e6) + lit(0.5)).cast(Dec38c).as("y"))
      val m = pts.agg(
        count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      m.withColumn("dn", ($"n".cast(Dec38c) * $"sxx" - $"sx" * $"sx")
          .cast("double"))
        .withColumn("beta",
          when($"n" > 1 && $"dn" > 0,
            ($"n".cast(Dec38c) * $"sxy" - $"sx" * $"sy").cast("double")
              / $"dn"))
        .select($"n".as("n_points"),
          dround($"beta", 6).as("beta"),
          dround(($"sy".cast("double") - $"beta" * $"sx".cast("double"))
            / ($"n".cast("double") * lit(1e6)), 6).as("ln_k"))
    },
    Some("WITH tok AS (SELECT doc_id, w FROM (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0), " +
      "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS toks " +
      "FROM tok GROUP BY 1), " +
      "fd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS newv FROM " +
      "(SELECT w, MIN(doc_id) AS doc_id FROM tok GROUP BY 1) GROUP BY 1), " +
      "led AS (SELECT pd.doc_id, pd.toks, COALESCE(fd.newv, 0) AS newv " +
      "FROM pd LEFT JOIN fd USING (doc_id)), " +
      "r AS (SELECT SUM(toks) OVER win AS cn, SUM(newv) OVER win AS cv " +
      "FROM led WINDOW win AS (ORDER BY doc_id ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "pts AS (SELECT CAST(floor(ln(cn) * 1e6 + 0.5) AS HUGEINT) AS x, " +
      "CAST(floor(ln(cv) * 1e6 + 0.5) AS HUGEINT) AS y FROM r " +
      "WHERE cn > 0 AND cv > 0), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx, " +
      "SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts), " +
      "f AS (SELECT n, sx, sy, " +
      "CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS dn, " +
      "CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS nu FROM m), " +
      "g AS (SELECT n, sx, sy, CASE WHEN n > 1 AND dn > 0 THEN nu / dn END " +
      "AS beta FROM f) " +
      "SELECT n AS n_points, " + OSql.sround("beta", 6) + " AS beta, " +
      OSql.sround("(CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) " +
        "/ (CAST(n AS DOUBLE) * 1e6)", 6) + " AS ln_k FROM g"))

  // ------------------------------------------------------------------
  // corpus_length_histogram — document-length (token-count)
  // distribution per language in powers-of-two bins: the curation
  // staple read before setting min/max-length filters (the Gopher
  // rules assume you know where the mass sits; truncation artifacts
  // show as a cliff at a context-length bin). The log2 bucket is
  // length(bin(n)) — PURE INTEGER, the agg_histogram_log2 spelling
  // that dissolves the float-on-the-bucket-edge hazard; one explode
  // pass collapses map-side to per-doc counts, then to the
  // ≤|langs|·~12-row grid with doc counts and exact token mass.
  // ------------------------------------------------------------------

  private val corpusLengthHistogram = Q(
    "corpus_length_histogram",
    (s, d) => {
      import s.implicits._
      val perDoc = t(s, d, "documents")
        .select($"lang", $"doc_id", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy("lang", "doc_id").agg(count(lit(1)).as("n"))
      perDoc.withColumn("bucket", length(bin($"n")).cast("long"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_tokens"))
        .orderBy("lang", "bucket")
    },
    Some("WITH tok AS (SELECT lang, doc_id, w FROM (SELECT lang, doc_id, " +
      "unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0), " +
      "pd AS (SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS n " +
      "FROM tok GROUP BY 1, 2) " +
      "SELECT lang, CAST(length(bin(n)) AS BIGINT) AS bucket, " +
      "CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(n) AS BIGINT) AS n_tokens " +
      "FROM pd GROUP BY 1, 2 ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // corpus_unigram_drift — Jensen–Shannon divergence between the TWO
  // ERAS' unigram distributions (doc_id parity split): the
  // token-level drift monitor above `corpus_js_divergence`'s
  // language-mix score (a source can keep its language mix while its
  // vocabulary rots — scraper template changes show HERE first). The
  // determinism trick: with p = ca/Na, q = cb/Nb, m = (p+q)/2, the
  // ratio p/m = 2·ca·Nb/(ca·Nb + cb·Na) is a ratio of EXACT INTEGERS,
  // so both ln's take exact-integer arguments (the
  // ln-on-identical-integers precedent) quantized at 10⁶; each
  // token's contribution is then one double formula floor-quantized
  // at 10⁹ before the cross-vocab sum — an order-independent integer
  // reduction over the open vocabulary. Zero cells contribute only
  // their present side (the absent side's p·ln term is 0 by the
  // limit), and JSD/ln2 ≤ 1 ships as the normalized score.
  // ------------------------------------------------------------------

  private val corpusUnigramDrift = Q(
    "corpus_unigram_drift",
    (s, d) => {
      import s.implicits._
      val Dec38u = org.apache.spark.sql.types.DecimalType(38, 0)
      val tok = t(s, d, "documents")
        .select(pmod($"doc_id", lit(2L)).as("era"),
          explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
      val cells = tok.groupBy("w").agg(
        sum(($"era" === 0).cast("long")).as("ca"),
        sum(($"era" === 1).cast("long")).as("cb"))
      val tot = cells.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
      val terms = cells.crossJoin(broadcast(tot))
        .withColumn("xa", $"ca".cast(Dec38u) * $"nb")
        .withColumn("xb", $"cb".cast(Dec38u) * $"na")
        .withColumn("lnpm", when($"ca" > 0,
          floor(log(lit(2.0) * $"xa".cast("double")) * 1e6 + 0.5) -
            floor(log(($"xa" + $"xb").cast("double")) * 1e6 + 0.5)))
        .withColumn("lnqm", when($"cb" > 0,
          floor(log(lit(2.0) * $"xb".cast("double")) * 1e6 + 0.5) -
            floor(log(($"xa" + $"xb").cast("double")) * 1e6 + 0.5)))
        .select(
          coalesce(floor($"ca".cast("double") * $"lnpm"
            / (lit(2e6) * $"na") * lit(1e9) + lit(0.5)), lit(0.0))
            .cast(Dec38u).as("ta"),
          coalesce(floor($"cb".cast("double") * $"lnqm"
            / (lit(2e6) * $"nb") * lit(1e9) + lit(0.5)), lit(0.0))
            .cast(Dec38u).as("tb"))
      terms.agg(sum($"ta" + $"tb").as("jq"))
        .crossJoin(broadcast(cells.agg(count(lit(1)).as("n_vocab"))))
        .crossJoin(broadcast(tot))
        .select($"n_vocab", $"na", $"nb",
          dround($"jq".cast("double") / 1e9, 6).as("jsd"),
          dround($"jq".cast("double") / 1e9 / lit(math.log(2.0)), 6)
            .as("jsd_norm"))
    },
    Some("WITH tok AS (SELECT ((doc_id % 2) + 2) % 2 AS era, w FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
      "WHERE len(w) > 0), " +
      "cells AS (SELECT w, " +
      "CAST(SUM(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(SUM(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb " +
      "FROM tok GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, " +
      "CAST(SUM(cb) AS BIGINT) AS nb FROM cells), " +
      "x AS (SELECT ca, cb, na, nb, " +
      "CAST(ca AS HUGEINT) * nb AS xa, CAST(cb AS HUGEINT) * na AS xb " +
      "FROM cells, tot), " +
      "ln_ AS (SELECT ca, cb, na, nb, " +
      "CASE WHEN ca > 0 THEN floor(ln(2.0 * CAST(xa AS DOUBLE)) * 1e6 + 0.5) " +
      "- floor(ln(CAST(xa + xb AS DOUBLE)) * 1e6 + 0.5) END AS lnpm, " +
      "CASE WHEN cb > 0 THEN floor(ln(2.0 * CAST(xb AS DOUBLE)) * 1e6 + 0.5) " +
      "- floor(ln(CAST(xa + xb AS DOUBLE)) * 1e6 + 0.5) END AS lnqm FROM x), " +
      "t AS (SELECT " +
      "CAST(COALESCE(floor(CAST(ca AS DOUBLE) * lnpm / (2e6 * na) * 1e9 " +
      "+ 0.5), 0) AS HUGEINT) AS ta, " +
      "CAST(COALESCE(floor(CAST(cb AS DOUBLE) * lnqm / (2e6 * nb) * 1e9 " +
      "+ 0.5), 0) AS HUGEINT) AS tb FROM ln_), " +
      "s AS (SELECT CAST(SUM(ta + tb) AS HUGEINT) AS jq FROM t), " +
      "v AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM cells) " +
      "SELECT v.n_vocab, tot.na, tot.nb, " +
      OSql.sround("CAST(jq AS DOUBLE) / 1e9", 6) + " AS jsd, " +
      OSql.sround("CAST(jq AS DOUBLE) / 1e9 / ln(2.0)", 6) + " AS jsd_norm " +
      "FROM s, v, tot"))

  // ------------------------------------------------------------------
  // text_word_length_hist — token-length distribution per language:
  // the tokenizer-health profile beside the doc-length histogram
  // (CJK mis-tokenization shows as a mass spike at length 1; glued
  // words and URLs fatten the long tail; a BPE vocabulary is sized
  // off exactly this curve): one explode pass collapses MAP-SIDE to
  // the (lang, len) grid — bounded by the max token length, not the
  // corpus — with counts and the exact mean length per lang as the
  // floor-quantized (10⁶·Σlen) div n from the same ledger.
  // ------------------------------------------------------------------

  private val textWordLengthHist = Q(
    "text_word_length_hist",
    (s, d) => {
      import s.implicits._
      val tok = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
        .select($"lang", length($"w").cast("long").as("len"))
      val grid = tok.groupBy("lang", "len").agg(count(lit(1)).as("cnt"))
      val mean = grid.groupBy("lang").agg(
          sum($"len" * $"cnt").as("sl"), sum($"cnt").as("n"))
        .select($"lang",
          (expr("(1000000 * sl) div n").cast("double") / 1e6)
            .as("mean_len"))
      grid.join(broadcast(mean), "lang")
        .select($"lang", $"len", $"cnt", $"mean_len")
        .orderBy("lang", "len")
    },
    Some("WITH tok AS (SELECT lang, CAST(len(w) AS BIGINT) AS len FROM " +
      "(SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) " +
      "WHERE len(w) > 0), " +
      "grid AS (SELECT lang, len, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM tok GROUP BY 1, 2), " +
      "m AS (SELECT lang, CAST((1000000 * SUM(len * cnt)) // SUM(cnt) " +
      "AS DOUBLE) / 1e6 AS mean_len FROM grid GROUP BY 1) " +
      "SELECT grid.lang, grid.len, grid.cnt, m.mean_len " +
      "FROM grid JOIN m USING (lang) ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // text_yule_k — Yule's characteristic K per source, the REPETITION
  // constant of a vocabulary (K = 10⁴·(Σm²V(m) − N)/N² over the
  // frequency spectrum V(m)) and the classic single-number "how
  // template-y is this corpus" beside `text_lexical_diversity`'s TTR
  // (TTR falls with corpus size by Heaps' law; K is size-INVARIANT,
  // which is why stylometry uses it — two scrapes of different sizes
  // from the same boilerplate generator score the same K). Since
  // Σm²V(m) over the spectrum equals Σc² over the word-count ledger,
  // the spectrum never materializes: one explode pass collapses
  // map-side to the (source, word) counts, a second map-side collapse
  // yields the exact HUGEINT moments N and Σc², and K is one double
  // formula off exact integers, dround'd at 6.
  // ------------------------------------------------------------------

  private val textYuleK = Q(
    "text_yule_k",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val cnt = t(s, d, "documents")
        .select($"source", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      cnt.groupBy("source").agg(
          count(lit(1)).as("vocab"),
          sum($"c".cast(Dec380)).cast("long").as("n_tokens"),
          sum(($"c".cast(Dec380) * $"c")).cast("long").as("s2"))
        .select($"source", $"vocab", $"n_tokens",
          when($"n_tokens" > 0,
            dround(lit(1e4) * ($"s2" - $"n_tokens").cast("double") /
              ($"n_tokens".cast("double") * $"n_tokens"), 6))
            .as("yule_k"))
        .orderBy("source")
    },
    Some("WITH cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c " +
      "FROM (SELECT source, unnest(string_split(text, ' ')) AS w " +
      "FROM documents) WHERE len(w) > 0 GROUP BY 1, 2), " +
      "m AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab, " +
      "CAST(SUM(CAST(c AS HUGEINT)) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS s2 FROM cnt " +
      "GROUP BY 1) " +
      "SELECT source, vocab, n_tokens, " +
      "CASE WHEN n_tokens > 0 THEN " +
      OSql.sround("1e4 * CAST(s2 - n_tokens AS DOUBLE) / " +
        "(CAST(n_tokens AS DOUBLE) * n_tokens)", 6) +
      " END AS yule_k FROM m ORDER BY source"))

  // ------------------------------------------------------------------
  // text_burstiness — per-word FANO FACTOR and burstiness coefficient
  // over the per-document count distribution, for the 20 heaviest
  // words: the content/function-word separator corpus linguistics
  // reads next to the frequency list (a function word like "the"
  // spreads Poisson-evenly, Fano ≈ 1; a topical word CLUMPS into the
  // few documents about its topic, Fano ≫ 1 — frequency alone cannot
  // tell them apart). Zero-count documents are IN the distribution:
  // mean = tot/D and E[x²] = Σc²/D are over ALL D docs, var their
  // difference, Fano = var/mean, and Kim-Kawahara burstiness
  // B = (σ−μ)/(σ+μ) ∈ (−1, 1) normalizes it scale-free. Shape: the
  // (word, doc) counts collapse map-side to the word moment ledger
  // (the only open-vocab shuffle, counts never text), the top-20 cut
  // is a TakeOrderedAndProject on the (tot desc, word asc) total
  // order, and D broadcasts as a 1-row scalar; every statistic is a
  // double formula off exact integers, dround'd at 6.
  // ------------------------------------------------------------------

  private val textBurstiness = Q(
    "text_burstiness",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val docs = t(s, d, "documents")
      val perDoc = docs
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
      val ledger = perDoc.groupBy("w").agg(
        sum($"c".cast(Dec380)).cast("long").as("tot"),
        sum(($"c".cast(Dec380) * $"c")).cast("long").as("ssq"),
        count(lit(1)).as("n_docs_with"))
      val nd = docs.agg(count(lit(1)).as("d_total"))
      ledger.orderBy($"tot".desc, $"w".asc).limit(20)
        .crossJoin(broadcast(nd))
        .withColumn("mean", $"tot".cast("double") / $"d_total")
        // clamp at 0: a zero-variance word's float cancellation may dip
        // an ulp negative, and sqrt(−ε) is NaN — whose CASE/comparison
        // semantics the two engines do NOT share
        .withColumn("variance",
          greatest($"ssq".cast("double") / $"d_total" - $"mean" * $"mean",
            lit(0.0)))
        .withColumn("sigma", sqrt($"variance"))
        .select($"w", $"d_total", $"n_docs_with", $"tot",
          when($"mean" > 0, dround($"variance" / $"mean", 6)).as("fano"),
          when($"sigma" + $"mean" > 0,
            dround(($"sigma" - $"mean") / ($"sigma" + $"mean"), 6))
            .as("burstiness"))
        .orderBy($"tot".desc, $"w".asc)
    },
    Some("WITH pd AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
      "FROM documents) WHERE len(w) > 0 GROUP BY 1, 2), " +
      "lg AS (SELECT w, CAST(SUM(CAST(c AS HUGEINT)) AS BIGINT) AS tot, " +
      "CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS ssq, " +
      "CAST(count(*) AS BIGINT) AS n_docs_with FROM pd GROUP BY 1), " +
      "nd AS (SELECT CAST(count(*) AS BIGINT) AS d_total FROM documents), " +
      "tk AS (SELECT * FROM lg ORDER BY tot DESC, w ASC LIMIT 20), " +
      "st AS (SELECT w, d_total, n_docs_with, tot, " +
      "CAST(tot AS DOUBLE) / d_total AS mean, " +
      "greatest(CAST(ssq AS DOUBLE) / d_total - " +
      "(CAST(tot AS DOUBLE) / d_total) * (CAST(tot AS DOUBLE) / d_total), " +
      "0.0) AS variance FROM tk, nd) " +
      "SELECT w, d_total, n_docs_with, tot, " +
      "CASE WHEN mean > 0 THEN " + OSql.sround("variance / mean", 6) +
      " END AS fano, " +
      "CASE WHEN sqrt(variance) + mean > 0 THEN " +
      OSql.sround("(sqrt(variance) - mean) / (sqrt(variance) + mean)", 6) +
      " END AS burstiness FROM st ORDER BY tot DESC, w ASC"))

  // ------------------------------------------------------------------
  // quality_blocklist_filter — C4-style TOKEN blocklist filtering with
  // a per-source retention report: the crude-but-universal first gate
  // of every web-corpus recipe (C4 dropped any page containing a
  // blocklisted word; the rule is deliberately token-EXACT, not
  // substring — 'slower' must not trip 'slow', the classic scunthorpe
  // failure of substring blocklists). The list itself is a broadcast
  // constant; the membership test is one codegen'd arrays_overlap over
  // the split — a single projection in the scan, no shuffle — and the
  // report collapses map-side to ≤|sources| rows with the retention
  // share an exact floor-quantized integer division. The audit keeps
  // BOTH counts (kept + blocked): a blocklist whose drop rate silently
  // doubles is a pipeline incident, and this is the row that pages.
  // ------------------------------------------------------------------

  private val blocklist = Seq("slow", "dup")

  private val qualityBlocklistFilter = Q(
    "quality_blocklist_filter",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"source",
          arrays_overlap(split($"text", " "),
            array(blocklist.map(lit): _*)).as("blocked"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum($"blocked".cast("long")).as("n_blocked"))
        .select($"source", $"n_docs", $"n_blocked",
          ($"n_docs" - $"n_blocked").as("n_kept"),
          (expr("(1000000 * (n_docs - n_blocked)) div n_docs")
            .cast("double") / 1e6).as("retention"))
        .orderBy("source")
    },
    Some("WITH f AS (SELECT source, " +
      "list_has_any(string_split(text, ' '), " +
      blocklist.map(w => s"'$w'").mkString("[", ", ", "]") +
      ") AS blocked FROM documents), " +
      "g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_blocked FROM f GROUP BY 1) " +
      "SELECT source, n_docs, n_blocked, n_docs - n_blocked AS n_kept, " +
      "CAST((1000000 * (n_docs - n_blocked)) // n_docs AS DOUBLE) / 1e6 " +
      "AS retention FROM g ORDER BY source"))

  // ------------------------------------------------------------------
  // corpus_contamination_score — the GRADED contamination audit above
  // `corpus_decontaminate`'s binary verdict: per-document fractional
  // 8-gram overlap with the benchmark set (hits/grams), ledgered as a
  // decile histogram. The binary filter answers "is the doc touched";
  // this answers "HOW contaminated is the tail" — the distribution a
  // curator reads before choosing between dropping documents and
  // excising spans (a corpus of 1%-overlap docs and one of 90%-overlap
  // docs have the same binary rate and need opposite treatments).
  // Same machinery as the filter: one gram pass, the tiny benchmark
  // gram set BROADCAST, a map-side probe; per-doc hits/grams
  // collapse keyed by doc, the decile is an exact floor division
  // ((10·hits) div grams, 10 = fully contained), and the histogram is
  // a ≤11-row ledger. Docs with < 8 tokens have no grams and are
  // reported in their own bucket (-1) rather than silently dropped.
  // ------------------------------------------------------------------

  private val corpusContaminationScore = Q(
    "corpus_contamination_score",
    (s, d) => {
      import s.implicits._
      val g8 = LlmPipeline.gramRows(s, d, 8)
        .select($"doc_id", md5($"x").as("g"))
      val benchGrams = g8.filter($"doc_id" % 97 === 0).select("g").distinct()
      val perDoc = g8.filter($"doc_id" % 97 =!= 0)
        .select($"doc_id", $"g").distinct()
        .join(broadcast(benchGrams.withColumn("hit", lit(1L))),
          Seq("g"), "left_outer")
        .groupBy("doc_id").agg(
          count(lit(1)).as("grams"),
          sum(coalesce($"hit", lit(0L))).cast("long").as("hits"))
      t(s, d, "documents")
        .filter($"doc_id" % 97 =!= 0)
        .select($"doc_id")
        .join(perDoc, Seq("doc_id"), "left_outer")
        .select(when($"grams".isNull, lit(-1L))
          .otherwise(expr("(10 * hits) div grams")).as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("n_docs"))
        .orderBy("decile")
    },
    Some {
      val g8 = (0 to 7).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t " +
        "FROM documents), " +
        s"g AS (SELECT doc_id, md5($g8) AS g FROM " +
        "(SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i " +
        "FROM tok WHERE len(t) >= 8)), " +
        "bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0), " +
        "dg AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 97 <> 0), " +
        "pd AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS grams, " +
        "CAST(SUM(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS hits FROM dg LEFT JOIN bg ON bg.g = dg.g GROUP BY 1), " +
        "sc AS (SELECT CASE WHEN pd.grams IS NULL THEN -1 " +
        "ELSE (10 * pd.hits) // pd.grams END AS decile " +
        "FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id " +
        "WHERE d.doc_id % 97 <> 0) " +
        "SELECT decile, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM sc GROUP BY 1 ORDER BY 1"
    })

  val qs: Seq[Q] = Seq(textPiiMask, corpusMixEpochs, corpusDecontaminate,
    textUnigramLogprob, textRepetition, qualityProfile, dedupIncremental,
    textLexicalDiversity, tokenizerBpePairs, corpusPerplexityFilter,
    tokenizerVocabCoverage, textBigramLogprob, textCharEntropy,
    textReadability, tokenizerBpeApply, textTokenizeCjk, qualityGopherRules,
    textZipfFit, textCollocationsPmi, corpusJsDivergence,
    corpusNgramNovelty, textBigramKneserNey, textHapaxRatio,
    corpusVocabOverlap, corpusHeapsLaw, corpusLengthHistogram,
    corpusUnigramDrift, textWordLengthHist, textYuleK, textBurstiness,
    qualityBlocklistFilter, corpusContaminationScore)
}
