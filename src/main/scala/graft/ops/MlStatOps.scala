package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Det, OSql, Q, Share, Tables}

/** Statistical inference and ML feature-engineering operators — the
  * experimentation layer a replay consumer runs over the landed
  * archive: two-sample hypothesis testing (A/B), categorical
  * independence testing, leakage-safe target encoding, and
  * market-basket association mining. All hash-verified against DuckDB.
  *
  * Scale shape (the 100 TB stance, per operator):
  *  - stat_welch_ttest: the fact table collapses MAP-SIDE to
  *    |event_types| rows of exact integer moment sums (conditional
  *    partial+final agg, one pass, no row-level shuffle); the t/df
  *    formulas run on the tiny aggregate only.
  *  - stat_chi2_independence: contingency cells are a bounded
  *    |langs|×|sources| domain — counts collapse map-side, the
  *    zero-cell completion is a broadcast cross join of two dimension
  *    lists, and each χ² term is integer-quantized BEFORE the
  *    per-lang sum so the reduction is order-independent.
  *  - feature_target_encode: category statistics (Σtarget, n per
  *    bucket) collapse map-side to |buckets| rows and BROADCAST back
  *    over the fact scan — the fact table is read once and never
  *    shuffled; the leave-one-out encode is a pure projection.
  *  - assoc_basket_lift: baskets are DISTINCT (user, type) pairs —
  *    one hash shuffle — and the pair join is keyed on user_id with
  *    per-user basket size bounded by |event_types|, so the
  *    co-occurrence explosion is |U|·B² with small constant B, never
  *    a cross join; singleton supports ride a broadcast.
  */
object MlStatOps {
  import Det._

  private val Dec380: DecimalType = DecimalType(38, 0)

  // ------------------------------------------------------------------
  // stat_welch_ttest — Welch's unequal-variance two-sample t-test per
  // event_type, A/B split deterministically by user_id parity (the
  // hash-split experiment assignment `sample_hash_split` models; parity
  // keeps the oracle one expression). events.value is exactly
  // 2-decimal, so v = round(value*100) is an exact integer and the
  // conditional moment sums Σv, Σv² per arm are exact (accumulated in
  // DECIMAL(38,0) / HUGEINT — order-independent in any engine). The
  // t statistic and the Welch–Satterthwaite df are then double
  // arithmetic over the six scalars with IDENTICAL formula text in
  // both engines (left-associative, one correctly-rounded sqrt), so
  // the dround(6) output is bit-stable. Sample variance uses the
  // (Σv² − (Σv)²/n)/(n−1) form — exact integer numerator pieces
  // divided once.
  // ------------------------------------------------------------------

  private val statWelchTtest = Q(
    "stat_welch_ttest",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .select($"event_type",
          ($"user_id" % 2).as("g"),
          round($"value" * 100).cast("long").as("v"))
      val m = v.groupBy("event_type").agg(
        sum(when($"g" === 0, lit(1L)).otherwise(lit(0L))).as("na"),
        sum(when($"g" === 1, lit(1L)).otherwise(lit(0L))).as("nb"),
        sum(when($"g" === 0, $"v").cast(Dec380)).cast("double").as("s1a"),
        sum(when($"g" === 0, $"v" * $"v").cast(Dec380)).cast("double").as("s2a"),
        sum(when($"g" === 1, $"v").cast(Dec380)).cast("double").as("s1b"),
        sum(when($"g" === 1, $"v" * $"v").cast(Dec380)).cast("double").as("s2b"))
      // every intermediate division is conditioned on its denominator
      // being nonzero — ANSI mode (the engine default) turns a 0
      // divisor into a runtime error, and when() short-circuits
      m.withColumn("ma", when($"na" > 0, $"s1a" / $"na"))
        .withColumn("mb", when($"nb" > 0, $"s1b" / $"nb"))
        .withColumn("sa", when($"na" > 1,
          ($"s2a" - $"s1a" * $"s1a" / $"na") / ($"na" - 1) / $"na"))
        .withColumn("sb", when($"nb" > 1,
          ($"s2b" - $"s1b" * $"s1b" / $"nb") / ($"nb" - 1) / $"nb"))
        // an arm of <2 rows has no sample variance, and two
        // zero-variance arms have no defined t — NULL, not the
        // engine-dependent 0/0 or ±inf a naked division would produce
        .withColumn("ok", $"na" > 1 && $"nb" > 1 && ($"sa" + $"sb") > 0)
        .select($"event_type", $"na", $"nb",
          dround($"ma" / 100.0, 6).as("mean_a"),
          dround($"mb" / 100.0, 6).as("mean_b"),
          when($"ok",
            dround(($"ma" - $"mb") / sqrt($"sa" + $"sb"), 6)).as("t_stat"),
          when($"ok",
            dround(($"sa" + $"sb") * ($"sa" + $"sb")
              / ($"sa" * $"sa" / ($"na" - 1) + $"sb" * $"sb" / ($"nb" - 1)), 6))
            .as("df"))
        .orderBy("event_type")
    },
    Some("WITH b AS (SELECT event_type, user_id % 2 AS g, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "m AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN g=0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
      "CAST(SUM(CASE WHEN g=1 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
      "CAST(SUM(CASE WHEN g=0 THEN CAST(v AS HUGEINT) END) AS DOUBLE) AS s1a, " +
      "CAST(SUM(CASE WHEN g=0 THEN CAST(v AS HUGEINT)*v END) AS DOUBLE) AS s2a, " +
      "CAST(SUM(CASE WHEN g=1 THEN CAST(v AS HUGEINT) END) AS DOUBLE) AS s1b, " +
      "CAST(SUM(CASE WHEN g=1 THEN CAST(v AS HUGEINT)*v END) AS DOUBLE) AS s2b " +
      "FROM b GROUP BY 1), " +
      "c AS (SELECT event_type, na, nb, s1a/na AS ma, s1b/nb AS mb, " +
      "(s2a - s1a*s1a/na) / (na-1) / na AS sa, " +
      "(s2b - s1b*s1b/nb) / (nb-1) / nb AS sb FROM m) " +
      "SELECT event_type, na, nb, " +
      OSql.sround("ma / 100.0", 6) + " AS mean_a, " +
      OSql.sround("mb / 100.0", 6) + " AS mean_b, " +
      "CASE WHEN na > 1 AND nb > 1 AND sa + sb > 0 THEN " +
      OSql.sround("(ma - mb) / sqrt(sa + sb)", 6) + " END AS t_stat, " +
      "CASE WHEN na > 1 AND nb > 1 AND sa + sb > 0 THEN " +
      OSql.sround("(sa + sb) * (sa + sb) " +
        "/ (sa*sa/(na-1) + sb*sb/(nb-1))", 6) + " END AS df " +
      "FROM c ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_anova_oneway — one-way ANOVA: does mean event value differ
  // across the k event types? The k-sample generalization of
  // `stat_welch_ttest`'s two arms, reported as the classic F ratio
  // SSB/(k−1) over SSW/(n−k). Same exactness discipline as welch/χ²:
  // the fact table collapses MAP-SIDE to k rows of exact integer
  // moments (n_g, Σv, Σv² in DECIMAL(38,0)/HUGEINT over exact cents),
  // each group's squared-sum term S_g²/n_g — the one unavoidable
  // division — is integer-quantized at 10⁶ BEFORE the cross-group
  // reduction (the χ² per-term trick), so every multi-row sum the
  // engines perform is an order-independent integer sum; the F
  // statistic is then pure scalar double arithmetic with IDENTICAL
  // formula text in both engines. Zero-variance and degenerate
  // (n ≤ k) inputs yield NULL, never an ANSI division error.
  // ------------------------------------------------------------------

  private val statAnovaOneway = Q(
    "stat_anova_oneway",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .select($"event_type", round($"value" * 100).cast("long").as("v"))
      val g = v.groupBy("event_type").agg(
        count(lit(1)).as("ng"),
        sum($"v".cast(Dec380)).as("sg"),
        sum($"v".cast(Dec380) * $"v").as("qg"))
        .withColumn("sgd", $"sg".cast("double"))
        .withColumn("tq",
          floor($"sgd" * $"sgd" / $"ng" * 1e6 + 0.5).cast(Dec380))
      val m = g.agg(
        count(lit(1)).as("k"), sum($"ng").as("n"),
        sum($"sg").cast("double").as("sd"),
        sum($"qg").cast("double").as("qd"),
        (sum($"tq").cast("double") / 1e6).as("td"))
      m.withColumn("ssb", $"td" - $"sd" * $"sd" / $"n")
        .withColumn("ssw", $"qd" - $"td")
        .select($"k", $"n",
          dround($"ssb" / 1e4, 6).as("ss_between"),
          dround($"ssw" / 1e4, 6).as("ss_within"),
          when($"k" > 1 && $"n" > $"k" && $"ssw" > 0,
            dround(($"ssb" / ($"k" - 1)) / ($"ssw" / ($"n" - $"k")), 6))
            .as("f_stat"))
    },
    Some("WITH b AS (SELECT event_type, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng, " +
      "SUM(CAST(v AS HUGEINT)) AS sg, " +
      "SUM(CAST(v AS HUGEINT)*v) AS qg FROM b GROUP BY 1), " +
      "g2 AS (SELECT ng, sg, qg, " +
      "CAST(floor(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng * 1e6 + 0.5) " +
      "AS HUGEINT) AS tq FROM g), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sg) AS DOUBLE) AS sd, " +
      "CAST(SUM(qg) AS DOUBLE) AS qd, " +
      "CAST(SUM(tq) AS DOUBLE) / 1e6 AS td FROM g2), " +
      "c AS (SELECT k, n, td - sd*sd/n AS ssb, qd - td AS ssw FROM m) " +
      "SELECT k, n, " +
      OSql.sround("ssb / 1e4", 6) + " AS ss_between, " +
      OSql.sround("ssw / 1e4", 6) + " AS ss_within, " +
      "CASE WHEN k > 1 AND n > k AND ssw > 0 THEN " +
      OSql.sround("(ssb / (k-1)) / (ssw / (n-k))", 6) +
      " END AS f_stat FROM c"))

  // ------------------------------------------------------------------
  // stat_chi2_independence — Pearson χ² test of lang ⊥ source over the
  // documents contingency table, reported as per-lang contribution rows
  // (their sum is the global statistic; per-lang rows localize WHICH
  // language drives dependence). The zero cells matter: a missing
  // (lang, source) combination still contributes its full expectation
  // e = rowTot·colTot/N, so the cell domain is the CROSS JOIN of the
  // observed lang and source lists, left-joined to counts with
  // coalesce(0). Each cell's (o−e)²/e is quantized to an integer
  // (floor(x·1e6+0.5)) BEFORE the per-lang sum — the sum is then exact
  // BIGINT arithmetic, order-independent in any engine, and the final
  // /1e6 is a single exact division.
  // ------------------------------------------------------------------

  private val statChi2Independence = Q(
    "stat_chi2_independence",
    (s, d) => {
      import s.implicits._
      val doc = Tables.t(s, d, "documents").select($"lang", $"source")
      val cnt = doc.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowT = doc.groupBy("lang").agg(count(lit(1)).as("rt"))
      val colT = doc.groupBy("source").agg(count(lit(1)).as("ct"))
      val n = doc.count().toDouble
      val cells = broadcast(rowT).crossJoin(broadcast(colT))
        .join(cnt, Seq("lang", "source"), "left")
        .select($"lang", $"source", $"rt", $"ct",
          coalesce($"o", lit(0L)).as("o"))
        .withColumn("e", $"rt".cast("double") * $"ct" / lit(n))
        .withColumn("term",
          floor(($"o" - $"e") * ($"o" - $"e") / $"e" * lit(1e6) + lit(0.5))
            .cast("long"))
      cells.groupBy("lang").agg(
          count(lit(1)).cast("long").as("n_cells"),
          (sum($"term") / lit(1e6)).as("chi2_part"))
        .orderBy("lang")
    },
    Some("WITH d AS (SELECT lang, source FROM documents), " +
      "cnt AS (SELECT lang, source, count(*) AS o FROM d GROUP BY 1,2), " +
      "rt AS (SELECT lang, count(*) AS rt FROM d GROUP BY 1), " +
      "ct AS (SELECT source, count(*) AS ct FROM d GROUP BY 1), " +
      "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d), " +
      "cells AS (SELECT rt.lang, ct.source, rt.rt, ct.ct, " +
      "COALESCE(cnt.o, 0) AS o FROM rt CROSS JOIN ct " +
      "LEFT JOIN cnt ON cnt.lang = rt.lang AND cnt.source = ct.source), " +
      "t AS (SELECT lang, CAST(floor((o - e)*(o - e)/e * 1e6 + 0.5) " +
      "AS BIGINT) AS term FROM (SELECT lang, o, " +
      "CAST(rt AS DOUBLE) * ct / (SELECT n FROM n) AS e FROM cells)) " +
      "SELECT lang, CAST(count(*) AS BIGINT) AS n_cells, " +
      "SUM(term) / 1e6 AS chi2_part FROM t GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // eval_regression_metrics — the regression half of the evaluation
  // family (the classifier report covers discrete labels): fit the
  // one-feature OLS cents-on-k model from exact integer sufficient
  // statistics (the agg_ols2 closed form — numerator and denominator
  // stay exact DECIMAL until ONE double division each), then score it
  // with the three numbers every regression rollout is judged on —
  // MAE, RMSE, and R² — per event_type, against the global fit.
  // Determinism: residuals are doubles of identical inputs in both
  // engines, and each quantizes to an exact integer (|r|·10⁴, r²·10²,
  // (y−ȳ)²·10²) BEFORE the sums, so the reductions are
  // order-independent; one final division/sqrt per metric.
  // Scale: one fact scan + a 1-row broadcast of the fitted model.
  // ------------------------------------------------------------------

  private lazy val evalRegressionMetrics = Q(
    "eval_regression_metrics",
    (s, d) => {
      import s.implicits._
      val Dec38 = DecimalType(38, 0)
      val e = Tables.events(s, d)
        .select($"event_type",
          round($"value" * 100).cast("long").as("y"),
          get_json_object($"props", "$.k").cast("long").as("x"))
        .filter($"x".isNotNull)
      val st = e.agg(count(lit(1)).as("n"),
          sum($"x".cast(Dec38)).as("sx"), sum($"y".cast(Dec38)).as("sy"),
          sum(($"x" * $"x").cast(Dec38)).as("sxx"),
          sum(($"x" * $"y").cast(Dec38)).as("sxy"))
        .withColumn("b", ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double"))
        .withColumn("a", ($"sy".cast("double") - $"b" * $"sx".cast("double")) / $"n")
        .withColumn("ybar", $"sy".cast("double") / $"n")
        .select("b", "a", "ybar")
      e.crossJoin(broadcast(st))
        .withColumn("r", $"y".cast("double") - ($"a" + $"b" * $"x"))
        .withColumn("qa", floor(abs($"r") * 1e4 + lit(0.5)).cast("long"))
        .withColumn("q2", floor($"r" * $"r" * 1e2 + lit(0.5)).cast("long"))
        .withColumn("qt", floor(($"y" - $"ybar") * ($"y" - $"ybar") * 1e2
          + lit(0.5)).cast("long"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          dround(sum($"qa").cast("double") / count(lit(1)) / 1e4 / 100.0, 6)
            .as("mae_usd"),
          dround(sqrt(sum($"q2").cast("double") / count(lit(1)) / 1e2) / 100.0, 6)
            .as("rmse_usd"),
          dround(lit(1.0) - sum($"q2").cast("double") / sum($"qt"), 6)
            .as("r2"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, " +
      "CAST(round(value * 100) AS BIGINT) AS y, " +
      "CAST(props->>'$.k' AS BIGINT) AS x FROM events " +
      "WHERE props->>'$.k' IS NOT NULL), " +
      "st AS (SELECT count(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx, " +
      "SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(x*x AS HUGEINT)) AS sxx, " +
      "SUM(CAST(x*y AS HUGEINT)) AS sxy FROM e), " +
      "ab AS (SELECT CAST(n*sxy - sx*sy AS DOUBLE) / " +
      "CAST(n*sxx - sx*sx AS DOUBLE) AS b, n, sx, sy FROM st), " +
      "m AS (SELECT b, (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n " +
      "AS a, CAST(sy AS DOUBLE) / n AS ybar FROM ab), " +
      "q AS (SELECT event_type, " +
      "CAST(floor(abs(CAST(y AS DOUBLE) - (a + b * x)) * 1e4 + 0.5) " +
      "AS BIGINT) AS qa, " +
      "CAST(floor((CAST(y AS DOUBLE) - (a + b * x)) * " +
      "(CAST(y AS DOUBLE) - (a + b * x)) * 1e2 + 0.5) AS BIGINT) AS q2, " +
      "CAST(floor((y - ybar) * (y - ybar) * 1e2 + 0.5) AS BIGINT) AS qt " +
      "FROM e, m) " +
      "SELECT event_type, count(*) AS n, " +
      OSql.sround("CAST(SUM(qa) AS DOUBLE) / count(*) / 1e4 / 100.0", 6) +
      " AS mae_usd, " +
      OSql.sround("sqrt(CAST(SUM(q2) AS DOUBLE) / count(*) / 1e2) / 100.0", 6) +
      " AS rmse_usd, " +
      OSql.sround("1.0 - CAST(SUM(q2) AS DOUBLE) / SUM(qt)", 6) + " AS r2 " +
      "FROM q GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_cramers_v — the EFFECT SIZE next to stat_chi2_independence's
  // test statistic: χ² grows with n, so "is the association big"
  // needs V = sqrt(χ² / (n · (min(r, c) − 1))) ∈ [0, 1] — the number
  // an experiment review quotes. Contingency = event_type × user-id
  // parity; cell terms quantize to exact 10⁶ integers (the chi2 key's
  // rule) before the global sum; r, c, n come off the same tiny
  // marginal tables, so the whole key is three |domain|-row aggregates
  // and pure arithmetic.
  // ------------------------------------------------------------------

  private lazy val statCramersV = Q(
    "stat_cramers_v",
    (s, d) => {
      import s.implicits._
      val dd = Tables.events(s, d)
        .select($"event_type".as("r"), ($"user_id" % 2).as("c"))
      val cnt = dd.groupBy("r", "c").agg(count(lit(1)).as("o"))
      val rt = dd.groupBy("r").agg(count(lit(1)).as("rt"))
      val ct = dd.groupBy("c").agg(count(lit(1)).as("ct"))
      val tots = rt.agg(count(lit(1)).as("nr"), sum($"rt").as("n"))
        .crossJoin(ct.agg(count(lit(1)).as("nc")))
      val cells = broadcast(rt).crossJoin(broadcast(ct))
        .join(cnt, Seq("r", "c"), "left")
        .crossJoin(broadcast(tots))
        .withColumn("e", $"rt".cast("double") * $"ct" / $"n")
        .withColumn("term", floor((coalesce($"o", lit(0L)) - $"e")
          * (coalesce($"o", lit(0L)) - $"e") / $"e" * lit(1e6) + lit(0.5))
          .cast("long"))
      cells.groupBy("n", "nr", "nc")
        .agg((sum($"term") / lit(1e6)).as("chi2"))
        .select($"n", $"nr".cast("long").as("n_rows"),
          $"nc".cast("long").as("n_cols"),
          dround($"chi2", 4).as("chi2"),
          dround(sqrt($"chi2" / ($"n" * (least($"nr", $"nc") - lit(1)))), 6)
            .as("cramers_v"))
    },
    Some("WITH dd AS (SELECT event_type AS r, user_id % 2 AS c FROM events), " +
      "cnt AS (SELECT r, c, count(*) AS o FROM dd GROUP BY 1, 2), " +
      "rt AS (SELECT r, count(*) AS rt FROM dd GROUP BY 1), " +
      "ct AS (SELECT c, count(*) AS ct FROM dd GROUP BY 1), " +
      "tots AS (SELECT (SELECT count(*) FROM rt) AS nr, " +
      "(SELECT CAST(sum(rt) AS BIGINT) FROM rt) AS n, " +
      "(SELECT count(*) FROM ct) AS nc), " +
      "cells AS (SELECT COALESCE(cnt.o, 0) AS o, " +
      "CAST(rt.rt AS DOUBLE) * ct.ct / tots.n AS e, tots.n, tots.nr, tots.nc " +
      "FROM rt CROSS JOIN ct CROSS JOIN tots " +
      "LEFT JOIN cnt ON cnt.r = rt.r AND cnt.c = ct.c), " +
      "x AS (SELECT n, nr, nc, SUM(CAST(floor((o - e) * (o - e) / e * 1e6 " +
      "+ 0.5) AS BIGINT)) / 1e6 AS chi2 FROM cells GROUP BY 1, 2, 3) " +
      "SELECT n, CAST(nr AS BIGINT) AS n_rows, CAST(nc AS BIGINT) AS n_cols, " +
      OSql.sround("chi2", 4) + " AS chi2, " +
      OSql.sround("sqrt(chi2 / (n * (least(nr, nc) - 1)))", 6) +
      " AS cramers_v FROM x"))

  // ------------------------------------------------------------------
  // feature_target_encode — LEAKAGE-SAFE (leave-one-out) mean target
  // encoding: each event's category bucket kb = props.k mod 10 is
  // replaced by the mean target (value, in cents) of the OTHER rows in
  // its bucket — the standard high-cardinality categorical encoder,
  // spelled so a row never sees its own label. The per-bucket (Σv, n)
  // table is tiny and BROADCAST back over the fact scan; the LOO value
  // ((S−v)·1e6) div (n−1) is exact integer arithmetic (S−v ≥ 0, both
  // engines' div/// truncate toward zero on non-negatives), so the
  // per-event_type averages of the encodings are sums of exact longs —
  // order-independent. A singleton bucket has no leave-one-out mean
  // and encodes NULL.
  // ------------------------------------------------------------------

  private val featureTargetEncode = Q(
    "feature_target_encode",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_type",
          (get_json_object($"props", "$.k").cast("long") % 10).as("kb"),
          round($"value" * 100).cast("long").as("v"))
      val bucket = ev.groupBy("kb").agg(
        sum($"v".cast(Dec380)).cast("long").as("sv"),
        count(lit(1)).as("nk"))
      ev.join(broadcast(bucket), "kb")
        .withColumn("loo",
          when($"nk" > 1, expr("((sv - v) * 1000000) div (nk - 1)")))
        .groupBy("event_type").agg(
          count($"loo").as("n_encoded"),
          dround(sum($"loo").cast("double") / count($"loo") / lit(1e6) / 100.0, 6)
            .as("avg_loo_mean"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, " +
      "CAST(props->>'$.k' AS BIGINT) % 10 AS kb, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "b AS (SELECT kb, CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS sv, " +
      "count(*) AS nk FROM e GROUP BY 1), " +
      "l AS (SELECT event_type, CASE WHEN nk > 1 THEN " +
      "((sv - v) * 1000000) // (nk - 1) END AS loo " +
      "FROM e JOIN b USING (kb)) " +
      "SELECT event_type, count(loo) AS n_encoded, " +
      OSql.sround("CAST(SUM(loo) AS DOUBLE) / count(loo) / 1e6 / 100.0", 6) +
      " AS avg_loo_mean FROM l GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // assoc_basket_lift — market-basket association mining over per-user
  // event-type baskets: for every unordered type pair {a,b},
  // support(a,b) = users with both / |U|, confidence(a→b) =
  // P(b|a), lift = support(a,b) / (support(a)·support(b)) — lift > 1
  // means the types co-occur more than independence predicts. Baskets
  // are DISTINCT (user, type) pairs; the pair enumeration is a
  // user-keyed self-join with a < b (per-user basket ≤ |types|, so the
  // blow-up is |U|·B²/2 with B bounded — never a relation-level cross
  // join); singleton supports and |U| are broadcast scalars. All
  // counts are exact longs; the three ratios are single double
  // divisions with identical text in both engines, dround(6).
  // ------------------------------------------------------------------

  private val assocBasketLift = Q(
    "assoc_basket_lift",
    (s, d) => {
      import s.implicits._
      val basket = Tables.events(s, d)
        .select($"user_id", $"event_type").distinct()
      val u = basket.select($"user_id").distinct().count().toDouble
      val single = basket.groupBy("event_type").agg(count(lit(1)).as("c"))
      val a = basket.select($"user_id", $"event_type".as("ta"))
      val b = basket.select($"user_id", $"event_type".as("tb"))
      a.join(b, "user_id").filter($"ta" < $"tb")
        .groupBy("ta", "tb").agg(count(lit(1)).as("cab"))
        .join(broadcast(single.select($"event_type".as("ta"), $"c".as("ca"))), "ta")
        .join(broadcast(single.select($"event_type".as("tb"), $"c".as("cb"))), "tb")
        .select($"ta", $"tb", $"cab",
          dround($"cab".cast("double") / lit(u), 6).as("support"),
          dround($"cab".cast("double") / $"ca", 6).as("confidence"),
          dround($"cab".cast("double") * lit(u) / ($"ca".cast("double") * $"cb"), 6)
            .as("lift"))
        .orderBy("ta", "tb")
    },
    Some("WITH basket AS (SELECT DISTINCT user_id, event_type FROM events), " +
      "u AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS u FROM basket), " +
      "s AS (SELECT event_type, count(*) AS c FROM basket GROUP BY 1), " +
      "p AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS cab " +
      "FROM basket a JOIN basket b ON a.user_id = b.user_id " +
      "AND a.event_type < b.event_type GROUP BY 1,2) " +
      "SELECT ta, tb, cab, " +
      OSql.sround("CAST(cab AS DOUBLE) / (SELECT u FROM u)", 6) + " AS support, " +
      OSql.sround("CAST(cab AS DOUBLE) / sa.c", 6) + " AS confidence, " +
      OSql.sround("CAST(cab AS DOUBLE) * (SELECT u FROM u) " +
        "/ (CAST(sa.c AS DOUBLE) * sb.c)", 6) + " AS lift " +
      "FROM p JOIN s sa ON sa.event_type = ta " +
      "JOIN s sb ON sb.event_type = tb ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // stat_ks_test — two-sample Kolmogorov–Smirnov statistic per
  // event_type between the parity arms: D = max over values v of
  // |F̂a(v) − F̂b(v)|. The whole computation is EXACT integer
  // arithmetic until one final division: per-value arm counts collapse
  // map-side, running counts RA/RB ride one type-keyed window in value
  // order, and the sup is max|RA·TB − RB·TA| (cross-multiplied — no
  // per-step float CDFs), divided once by TA·TB at the end. Products
  // fit a long out to ~3·10⁹ rows per (type, arm); past that the
  // cross-multiply lifts to DECIMAL the way the moment keys do.
  // ------------------------------------------------------------------

  private val statKsTest = Q(
    "stat_ks_test",
    (s, d) => {
      import s.implicits._
      val cnt = Tables.events(s, d)
        .select($"event_type", ($"user_id" % 2).as("g"),
          round($"value" * 100).cast("long").as("c"))
        .groupBy("event_type", "c").agg(
          sum(when($"g" === 0, lit(1L)).otherwise(lit(0L))).as("ca"),
          sum(when($"g" === 1, lit(1L)).otherwise(lit(0L))).as("cb"))
      val run = Window.partitionBy($"event_type").orderBy($"c".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"event_type")
      cnt.select($"event_type",
          sum($"ca").over(run).as("ra"), sum($"cb").over(run).as("rb"),
          sum($"ca").over(tot).as("ta"), sum($"cb").over(tot).as("tb"))
        .groupBy("event_type").agg(
          max($"ta").as("n_a"), max($"tb").as("n_b"),
          max(abs($"ra" * $"tb" - $"rb" * $"ta")).as("dnum"))
        .select($"event_type", $"n_a", $"n_b",
          when($"n_a" > 0 && $"n_b" > 0,
            dround($"dnum".cast("double") / ($"n_a".cast("double") * $"n_b"), 6))
            .as("d_stat"))
        .orderBy("event_type")
    },
    Some("WITH b AS (SELECT event_type, user_id % 2 AS g, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events), " +
      "cnt AS (SELECT event_type, c, " +
      "CAST(SUM(CASE WHEN g=0 THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(SUM(CASE WHEN g=1 THEN 1 ELSE 0 END) AS BIGINT) AS cb " +
      "FROM b GROUP BY 1,2), " +
      "r AS (SELECT event_type, " +
      "SUM(ca) OVER (PARTITION BY event_type ORDER BY c " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ra, " +
      "SUM(cb) OVER (PARTITION BY event_type ORDER BY c " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rb, " +
      "SUM(ca) OVER (PARTITION BY event_type) AS ta, " +
      "SUM(cb) OVER (PARTITION BY event_type) AS tb FROM cnt) " +
      "SELECT event_type, CAST(max(ta) AS BIGINT) AS n_a, " +
      "CAST(max(tb) AS BIGINT) AS n_b, " +
      "CASE WHEN max(ta) > 0 AND max(tb) > 0 THEN " +
      OSql.sround("CAST(max(abs(ra*tb - rb*ta)) AS DOUBLE) " +
        "/ (CAST(max(ta) AS DOUBLE) * max(tb))", 6) +
      " END AS d_stat FROM r GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_mann_whitney — Mann-Whitney U (rank-sum) per event_type
  // between the parity arms, EXACT under ties: with the combined
  // sample grouped by value, the tie-averaged rank of value v is
  // (2·Cprev + m + 1)/2 where Cprev is the count strictly below and m
  // the tie-group size — so TWICE the rank is an integer and the whole
  // statistic stays in BIGINTs: U2 = Σ ca·(2Cprev+m+1) − na(na+1)
  // (= 2U). The effect size AUC = U/(na·nb) — P(a-draw > b-draw) with
  // ties split — is one final division, dround(6).
  // ------------------------------------------------------------------

  private val statMannWhitney = Q(
    "stat_mann_whitney",
    (s, d) => {
      import s.implicits._
      val cnt = Tables.events(s, d)
        .select($"event_type", ($"user_id" % 2).as("g"),
          round($"value" * 100).cast("long").as("c"))
        .groupBy("event_type", "c").agg(
          sum(when($"g" === 0, lit(1L)).otherwise(lit(0L))).as("ca"),
          sum(when($"g" === 1, lit(1L)).otherwise(lit(0L))).as("cb"))
        .withColumn("m", $"ca" + $"cb")
      val prev = Window.partitionBy($"event_type").orderBy($"c".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      cnt.select($"event_type", $"ca", $"cb", $"m",
          coalesce(sum($"m").over(prev), lit(0L)).as("cprev"))
        .groupBy("event_type").agg(
          sum($"ca").as("na"), sum($"cb").as("nb"),
          sum($"ca" * (lit(2) * $"cprev" + $"m" + 1)).as("r2a"))
        .select($"event_type", $"na", $"nb",
          ($"r2a" - $"na" * ($"na" + 1)).as("u2"),
          when($"na" > 0 && $"nb" > 0,
            dround(($"r2a" - $"na" * ($"na" + 1)).cast("double")
              / (lit(2.0) * $"na" * $"nb"), 6)).as("auc"))
        .orderBy("event_type")
    },
    Some("WITH b AS (SELECT event_type, user_id % 2 AS g, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events), " +
      "cnt AS (SELECT event_type, c, " +
      "CAST(SUM(CASE WHEN g=0 THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(SUM(CASE WHEN g=1 THEN 1 ELSE 0 END) AS BIGINT) AS cb, " +
      "CAST(count(*) AS BIGINT) AS m FROM b GROUP BY 1,2), " +
      "r AS (SELECT event_type, ca, cb, m, " +
      "COALESCE(SUM(m) OVER (PARTITION BY event_type ORDER BY c " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev " +
      "FROM cnt), " +
      "a AS (SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na, " +
      "CAST(SUM(cb) AS BIGINT) AS nb, " +
      "CAST(SUM(ca * (2*cprev + m + 1)) AS BIGINT) AS r2a FROM r GROUP BY 1) " +
      "SELECT event_type, na, nb, r2a - na*(na+1) AS u2, " +
      "CASE WHEN na > 0 AND nb > 0 THEN " +
      OSql.sround("CAST(r2a - na*(na+1) AS DOUBLE) / (2.0 * na * nb)", 6) +
      " END AS auc FROM a ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_bootstrap_ci — multiplier-bootstrap confidence interval for
  // the per-type mean, the CLUSTER-SCALE resampling pattern: instead
  // of drawing B resamples (impossible distributed), every row gets a
  // deterministic integer weight per replicate — two md5 bits, so
  // w ∈ {0,1,2} with mean 1 (binomial(2,½), the Poisson-bootstrap
  // approximation) — and each replicate's weighted mean reduces
  // map-side in ONE pass over the exploded (row × 16 replicates)
  // stream. Replicate means are exact integer ppm ((Σwv·10⁶) div Σw);
  // the 87.5% interval takes the 2nd and 15th of the 16 ordered means
  // (row_number, tie-broken by replicate id — fully deterministic, no
  // RNG state anywhere). Point estimate is the plain mean, same
  // integer spelling.
  // ------------------------------------------------------------------

  private val statBootstrapCi = Q(
    "stat_bootstrap_ci",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"event_type", $"event_id",
          round($"value" * 100).cast("long").as("v"))
      val point = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        expr("(sum(v) * 1000000) div count(v)").as("point_ppm"))
      val reps = e.withColumn("b", explode(sequence(lit(0), lit(15))))
        .withColumn("hv",
          expr("instr('0123456789abcdef', substring(md5(concat(" +
            "cast(event_id as string), ':', cast(b as string))), 1, 1)) - 1"))
        .withColumn("w", expr("(hv % 2) + ((hv div 2) % 2)"))
        .groupBy("event_type", "b").agg(
          sum($"w").as("sw"), sum($"w" * $"v").as("swv"))
        .filter($"sw" > 0)
        .withColumn("mean_ppm", expr("(swv * 1000000) div sw"))
      val rn = Window.partitionBy($"event_type")
        .orderBy($"mean_ppm".asc, $"b".asc)
      val ci = reps.withColumn("rn", row_number().over(rn))
        .groupBy("event_type").agg(
          max(when($"rn" === 2, $"mean_ppm")).as("lo_ppm"),
          max(when($"rn" === 15, $"mean_ppm")).as("hi_ppm"))
      point.join(ci, Seq("event_type"))
        .select($"event_type", $"n",
          dround($"point_ppm".cast("double") / 1e6 / 100.0, 6).as("mean_usd"),
          dround($"lo_ppm".cast("double") / 1e6 / 100.0, 6).as("ci_lo"),
          dround($"hi_ppm".cast("double") / 1e6 / 100.0, 6).as("ci_hi"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, event_id, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "pt AS (SELECT event_type, count(*) AS n, " +
      "(SUM(v) * 1000000) // count(v) AS point_ppm FROM e GROUP BY 1), " +
      "reps AS (SELECT event_type, b, " +
      "CAST(SUM(w) AS BIGINT) AS sw, CAST(SUM(w * v) AS BIGINT) AS swv " +
      "FROM (SELECT event_type, v, b, " +
      "(hv % 2) + ((hv // 2) % 2) AS w FROM (" +
      "SELECT event_type, v, b, strpos('0123456789abcdef', " +
      "substring(md5(CAST(event_id AS VARCHAR) || ':' || " +
      "CAST(b AS VARCHAR)), 1, 1)) - 1 AS hv " +
      "FROM e, (SELECT unnest(generate_series(0, 15)) AS b))) " +
      "GROUP BY 1, 2 HAVING SUM(w) > 0), " +
      "m AS (SELECT event_type, b, (swv * 1000000) // sw AS mean_ppm, " +
      "row_number() OVER (PARTITION BY event_type " +
      "ORDER BY (swv * 1000000) // sw, b) AS rn FROM reps), " +
      "ci AS (SELECT event_type, " +
      "max(CASE WHEN rn = 2 THEN mean_ppm END) AS lo_ppm, " +
      "max(CASE WHEN rn = 15 THEN mean_ppm END) AS hi_ppm " +
      "FROM m GROUP BY 1) " +
      "SELECT event_type, n, " +
      OSql.sround("CAST(point_ppm AS DOUBLE) / 1e6 / 100.0", 6) + " AS mean_usd, " +
      OSql.sround("CAST(lo_ppm AS DOUBLE) / 1e6 / 100.0", 6) + " AS ci_lo, " +
      OSql.sround("CAST(hi_ppm AS DOUBLE) / 1e6 / 100.0", 6) + " AS ci_hi " +
      "FROM pt JOIN ci USING (event_type) ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_permutation_test — permutation test of the arm difference per
  // event_type (the assumption-free sibling of the Welch t-test): the
  // observed |Δmean| between the parity arms is compared against 16
  // DETERMINISTIC label permutations — permutation b reassigns each
  // event to an arm by an md5(event_id:b) bit, so the null resamples
  // are reproducible on any cluster with no RNG state. Means are exact
  // integer ppm ((S·10⁶) div n); the add-one p-value
  // (1 + #{b : |Δb| ≥ |Δobs|}) / 17 is one exact division. Everything
  // reduces map-side over the exploded (row × 16) stream — the same
  // replicate-explosion shape as stat_bootstrap_ci.
  // ------------------------------------------------------------------

  private val statPermutationTest = Q(
    "stat_permutation_test",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"event_type", $"event_id",
          ($"user_id" % 2).as("g"),
          round($"value" * 100).cast("long").as("v"))
      val obs = e.groupBy("event_type").agg(
          sum(when($"g" === 0, $"v")).as("sa"),
          sum(when($"g" === 0, lit(1L)).otherwise(lit(0L))).as("na"),
          sum(when($"g" === 1, $"v")).as("sb"),
          sum(when($"g" === 1, lit(1L)).otherwise(lit(0L))).as("nb"))
        .select($"event_type", $"na", $"nb",
          abs(expr("(sa * 1000000) div na") - expr("(sb * 1000000) div nb"))
            .as("obs_d"))
      val perm = e.withColumn("b", explode(sequence(lit(1), lit(16))))
        .withColumn("pg",
          expr("instr('0123456789abcdef', substring(md5(concat(" +
            "cast(event_id as string), ':', cast(b as string))), 1, 1)) % 2"))
        .groupBy("event_type", "b").agg(
          sum(when($"pg" === 0, $"v")).as("sa"),
          sum(when($"pg" === 0, lit(1L)).otherwise(lit(0L))).as("na"),
          sum(when($"pg" === 1, $"v")).as("sb"),
          sum(when($"pg" === 1, lit(1L)).otherwise(lit(0L))).as("nb"))
        .filter($"na" > 0 && $"nb" > 0)
        .select($"event_type",
          abs(expr("(sa * 1000000) div na") - expr("(sb * 1000000) div nb"))
            .as("perm_d"))
      obs.join(perm, Seq("event_type"))
        .groupBy("event_type").agg(
          max($"na").as("n_a"), max($"nb").as("n_b"),
          max($"obs_d").as("od"),
          sum(($"perm_d" >= $"obs_d").cast("long")).as("n_ge"))
        .select($"event_type", $"n_a", $"n_b",
          dround($"od".cast("double") / 1e6 / 100.0, 6).as("obs_delta_usd"),
          $"n_ge",
          dround(($"n_ge" + lit(1)).cast("double") / lit(17.0), 6).as("p_value"))
        .orderBy("event_type")
    },
    Some(permOracleSql))

  private def permOracleSql: String =
    "WITH e AS (SELECT event_type, event_id, user_id % 2 AS g, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "obs AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN g=0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
      "CAST(SUM(CASE WHEN g=1 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
      "abs((SUM(CASE WHEN g=0 THEN v END) * 1000000) // " +
      "SUM(CASE WHEN g=0 THEN 1 ELSE 0 END) - " +
      "(SUM(CASE WHEN g=1 THEN v END) * 1000000) // " +
      "SUM(CASE WHEN g=1 THEN 1 ELSE 0 END)) AS obs_d " +
      "FROM e GROUP BY 1), " +
      "perm AS (SELECT event_type, b, " +
      "SUM(CASE WHEN pg=0 THEN v END) AS sa, " +
      "SUM(CASE WHEN pg=0 THEN 1 ELSE 0 END) AS na, " +
      "SUM(CASE WHEN pg=1 THEN v END) AS sb, " +
      "SUM(CASE WHEN pg=1 THEN 1 ELSE 0 END) AS nb " +
      "FROM (SELECT event_type, v, b, " +
      "strpos('0123456789abcdef', substring(md5(" +
      "CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 1)) % 2 AS pg " +
      "FROM e, (SELECT unnest(generate_series(1, 16)) AS b)) " +
      "GROUP BY 1, 2 HAVING SUM(CASE WHEN pg=0 THEN 1 ELSE 0 END) > 0 " +
      "AND SUM(CASE WHEN pg=1 THEN 1 ELSE 0 END) > 0), " +
      "pd AS (SELECT event_type, " +
      "abs((sa * 1000000) // na - (sb * 1000000) // nb) AS perm_d FROM perm) " +
      "SELECT o.event_type, max(o.na) AS n_a, max(o.nb) AS n_b, " +
      OSql.sround("CAST(max(o.obs_d) AS DOUBLE) / 1e6 / 100.0", 6) +
      " AS obs_delta_usd, " +
      "CAST(SUM(CASE WHEN pd.perm_d >= o.obs_d THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_ge, " +
      OSql.sround("CAST(SUM(CASE WHEN pd.perm_d >= o.obs_d THEN 1 ELSE 0 END) " +
        "+ 1 AS DOUBLE) / 17.0", 6) + " AS p_value " +
      "FROM obs o JOIN pd ON pd.event_type = o.event_type " +
      "GROUP BY 1 ORDER BY 1"


  // ------------------------------------------------------------------
  // eval_binary_classifier — the model-evaluation report for a binary
  // rule: label = (event_type = 'purchase'), score = the event value,
  // decision threshold $50. Confusion counts collapse map-side;
  // precision/recall/F1 are single divisions of exact longs (F1 in the
  // 2tp/(2tp+fp+fn) one-division form). AUC — P(score of a random
  // positive > random negative, ties split) — reuses the
  // `stat_mann_whitney` integer rank machinery: the fact table first
  // collapses to the BOUNDED cent-value domain (≤|distinct cents|
  // rows, corpus-size-independent), so the one unkeyed prefix window
  // runs over a dimension table, not the fact stream — the same
  // bounded-domain trade the exact-quantile keys document.
  // ------------------------------------------------------------------

  private val evalBinaryClassifier = Q(
    "eval_binary_classifier",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
        .withColumn("p", ($"v" >= 5000).cast("long"))
      val conf = e.agg(
        sum($"y").as("n_pos"),
        sum(lit(1) - $"y").as("n_neg"),
        sum($"y" * $"p").as("tp"),
        sum((lit(1) - $"y") * $"p").as("fp"),
        sum($"y" * (lit(1) - $"p")).as("fn"),
        sum((lit(1) - $"y") * (lit(1) - $"p")).as("tn"))
      val byV = e.groupBy("v").agg(
        sum($"y").as("c1"), sum(lit(1) - $"y").as("c0"))
        .withColumn("m", $"c1" + $"c0")
      val prev = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val auc = byV
        .select($"c1", $"m", coalesce(sum($"m").over(prev), lit(0L)).as("cprev"))
        .agg(sum($"c1" * (lit(2) * $"cprev" + $"m" + 1)).as("r2a"),
          sum($"c1").as("n1"))
      conf.crossJoin(auc)
        .select($"n_pos", $"n_neg", $"tp", $"fp", $"fn", $"tn",
          when($"tp" + $"fp" > 0,
            dround($"tp".cast("double") / ($"tp" + $"fp"), 6)).as("precision"),
          when($"n_pos" > 0,
            dround($"tp".cast("double") / ($"tp" + $"fn"), 6)).as("recall"),
          when(lit(2) * $"tp" + $"fp" + $"fn" > 0,
            dround(lit(2.0) * $"tp" / (lit(2) * $"tp" + $"fp" + $"fn"), 6))
            .as("f1"),
          when($"n_pos" > 0 && $"n_neg" > 0,
            dround(($"r2a" - $"n1" * ($"n1" + 1)).cast("double")
              / (lit(2.0) * $"n_pos" * $"n_neg"), 6)).as("auc"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "ep AS (SELECT y, v, CAST(v >= 5000 AS BIGINT) AS p FROM e), " +
      "conf AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos, " +
      "CAST(SUM(1 - y) AS BIGINT) AS n_neg, " +
      "CAST(SUM(y * p) AS BIGINT) AS tp, " +
      "CAST(SUM((1 - y) * p) AS BIGINT) AS fp, " +
      "CAST(SUM(y * (1 - p)) AS BIGINT) AS fn, " +
      "CAST(SUM((1 - y) * (1 - p)) AS BIGINT) AS tn FROM ep), " +
      "byv AS (SELECT v, CAST(SUM(y) AS BIGINT) AS c1, " +
      "CAST(SUM(1 - y) AS BIGINT) AS c0, CAST(count(*) AS BIGINT) AS m " +
      "FROM ep GROUP BY 1), " +
      "r AS (SELECT c1, m, COALESCE(SUM(m) OVER (ORDER BY v " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev FROM byv), " +
      "auc AS (SELECT CAST(SUM(c1 * (2*cprev + m + 1)) AS BIGINT) AS r2a, " +
      "CAST(SUM(c1) AS BIGINT) AS n1 FROM r) " +
      "SELECT n_pos, n_neg, tp, fp, fn, tn, " +
      "CASE WHEN tp + fp > 0 THEN " +
      OSql.sround("CAST(tp AS DOUBLE) / (tp + fp)", 6) + " END AS precision, " +
      "CASE WHEN n_pos > 0 THEN " +
      OSql.sround("CAST(tp AS DOUBLE) / (tp + fn)", 6) + " END AS recall, " +
      "CASE WHEN 2*tp + fp + fn > 0 THEN " +
      OSql.sround("2.0 * tp / (2*tp + fp + fn)", 6) + " END AS f1, " +
      "CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
      OSql.sround("CAST(r2a - n1*(n1+1) AS DOUBLE) / (2.0 * n_pos * n_neg)", 6) +
      " END AS auc FROM conf, auc"))

  // ------------------------------------------------------------------
  // sample_class_balance — class-balancing downsample for training:
  // every event_type is cut to the MINORITY class size, keepers picked
  // by md5(event_id) order — deterministic under re-runs and
  // repartitioning, no RNG. The minority size is a broadcast scalar
  // (|types|-row aggregate); the ledger carries an exact id checksum
  // so the selection itself is hash-verified, not just its size.
  //
  // Two-level bisection (the agg_weighted_median discipline), not a
  // type-keyed row_number over the fact: rows bucket by their md5's
  // first 4 hex chars (65 536 cells — the numeric prefix orders
  // exactly like the hex string, so cell order + in-cell (h, id)
  // order IS the global keeper order), the per-(type, cell) count
  // ledger locates each type's threshold cell, cells wholly below the
  // cut contribute sums straight off the ledger, and the only
  // raw-row window ranks the ONE crossing cell's rows — ~N/65 536 of
  // a type, vs the old N/|types| single-task funnel.
  // ------------------------------------------------------------------

  private val sampleClassBalance = Q(
    "sample_class_balance",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).select($"event_type", $"event_id")
        .withColumn("h", md5($"event_id".cast("string")))
        .withColumn("cell", expr("cast(conv(substring(h, 1, 4), 16, 10) as long)"))
      val minN = e.groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .agg(min($"cnt").as("min_n"))
      val wc = Window.partitionBy($"event_type").orderBy($"cell".asc)
      // (type, cell) ledger with cumulative counts — shared: the full
      // and crossing branches both read it
      val cum = Share(e.groupBy($"event_type", $"cell")
          .agg(count(lit(1)).as("c"), sum($"event_id").as("ids"))
          .withColumn("hi", sum($"c").over(wc)))
        .crossJoin(broadcast(minN))
      val full = cum.filter($"hi" <= $"min_n")
        .groupBy("event_type").agg(sum($"c").as("nf"), sum($"ids").as("idsf"))
      val crossing = cum.filter($"hi" - $"c" < $"min_n" && $"min_n" < $"hi")
        .select($"event_type", $"cell", ($"min_n" - ($"hi" - $"c")).as("take"))
      val wCell = Window.partitionBy($"event_type", $"cell")
        .orderBy($"h".asc, $"event_id".asc)
      val crossKeep = e.join(broadcast(crossing), Seq("event_type", "cell"))
        .withColumn("rn", row_number().over(wCell))
        .filter($"rn" <= $"take")
        .groupBy("event_type").agg(count(lit(1)).as("nc"), sum($"event_id").as("idsc"))
      full.join(crossKeep, Seq("event_type"), "full_outer")
        .select($"event_type",
          (coalesce($"nf", lit(0L)) + coalesce($"nc", lit(0L))).as("n_kept"),
          (coalesce($"idsf", lit(0L)) + coalesce($"idsc", lit(0L)))
            .cast("long").as("id_checksum"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, event_id FROM events), " +
      "mn AS (SELECT min(cnt) AS min_n FROM " +
      "(SELECT event_type, count(*) AS cnt FROM e GROUP BY 1)), " +
      "r AS (SELECT event_type, event_id, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY md5(CAST(event_id AS VARCHAR)), " +
      "event_id) AS rn FROM e) " +
      "SELECT event_type, count(*) AS n_kept, " +
      "CAST(SUM(event_id) AS BIGINT) AS id_checksum " +
      "FROM r, mn WHERE rn <= min_n GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // agg_winsorized_mean — the robust mean after clipping at the exact
  // discrete 5th/95th percentiles (the ⌈p·n⌉ rule the percentile-disc
  // key pins): outliers saturate instead of dominating.
  //
  // Scale shape: every quantity here depends only on a row's VALUE, so
  // the fact collapses map-side to the per-(type, v) count ledger —
  // bounded by the 2-decimal value domain, not N. A value v covers
  // ranks (cum−c, cum], so "v holds rank ⌈p·n⌉" is the pure-integer
  // test cum·k ≥ p·n·k ∧ (cum−c)·k < p·n·k on the ledger, and the
  // clipped sum Σ c·clamp(v) is an aggregate over the same ledger. No
  // WindowExec ever sees a raw fact row (the old spelling ranked
  // N/|types| rows through one task per type).
  // ------------------------------------------------------------------

  private val aggWinsorizedMean = Q(
    "agg_winsorized_mean",
    (s, d) => {
      import s.implicits._
      val cnt = Tables.events(s, d)
        .select($"event_type", round($"value" * 100).cast("long").as("v"))
        .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
      val run = Window.partitionBy($"event_type").orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"event_type")
      val r = cnt.select($"event_type", $"v", $"c",
        sum($"c").over(run).as("cum"), sum($"c").over(tot).as("n"))
      val edges = r.groupBy("event_type").agg(
        max(when($"cum" * 20 >= $"n" && ($"cum" - $"c") * 20 < $"n", $"v"))
          .as("p5"),
        max(when($"cum" * 20 >= $"n" * 19 && ($"cum" - $"c") * 20 < $"n" * 19,
          $"v")).as("p95"))
      cnt.join(broadcast(edges), "event_type")
        .withColumn("w", greatest(least($"v", $"p95"), $"p5"))
        .groupBy("event_type").agg(
          sum($"c").as("n"),
          dround(max($"p5").cast("double") / 100.0, 2).as("p5_usd"),
          dround(max($"p95").cast("double") / 100.0, 2).as("p95_usd"),
          dround(sum($"w" * $"c").cast("double") / sum($"c") / 100.0, 6)
            .as("winsor_mean"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, event_id, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "r AS (SELECT event_type, v, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY v, event_id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS n FROM e), " +
      "edges AS (SELECT event_type, " +
      "max(CASE WHEN rn * 20 >= n AND (rn - 1) * 20 < n THEN v END) AS p5, " +
      "max(CASE WHEN rn * 20 >= n * 19 AND (rn - 1) * 20 < n * 19 THEN v END) " +
      "AS p95 FROM r GROUP BY 1) " +
      "SELECT e.event_type, count(*) AS n, " +
      OSql.sround("CAST(max(p5) AS DOUBLE) / 100.0", 2) + " AS p5_usd, " +
      OSql.sround("CAST(max(p95) AS DOUBLE) / 100.0", 2) + " AS p95_usd, " +
      OSql.sround("CAST(SUM(greatest(least(v, p95), p5)) AS DOUBLE) " +
        "/ count(*) / 100.0", 6) + " AS winsor_mean " +
      "FROM e JOIN edges ON edges.event_type = e.event_type " +
      "GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // eval_confusion_multiclass — the k-class generalization of
  // `eval_binary_classifier`'s report: true class = user_id mod 3 (the
  // deterministic hash-assignment `sample_hash_split` models), predicted
  // class = the value tercile rule (v < $25 → 0, < $50 → 1, else 2).
  // One map-side collapse to the 3×3 confusion grid; the per-class
  // margins (n_true, n_pred, tp) and precision/recall/F1 are single
  // divisions of exact longs off that grid. Classes with zero support
  // still get a row (fixed 3-row class spine, left joins) with NULL
  // rates — absent classes are a report row, not a missing row. The
  // macro-F1 column is the mean of per-class F1s, each F1 integer-
  // quantized at 10⁶ BEFORE the cross-class sum (the χ²/ANOVA
  // order-independence trick); rows with NULL value or user_id are
  // excluded up front in both engines (a NULL CASE arm would silently
  // land in class 2 — filtered, not misfiled).
  // ------------------------------------------------------------------

  private val evalConfusionMulticlass = Q(
    "eval_confusion_multiclass",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"user_id".isNotNull)
        .select(($"user_id" % 3).as("y"),
          round($"value" * 100).cast("long").as("v"))
        .select($"y",
          when($"v" < 2500, 0L).when($"v" < 5000, 1L).otherwise(2L).as("p"))
      val a = e.groupBy($"y", $"p").agg(count(lit(1)).as("c"))
      val classes = Seq(0L, 1L, 2L).toDF("class")
      val nt = a.groupBy($"y".as("class")).agg(sum($"c").as("n_true"))
      val np = a.groupBy($"p".as("class")).agg(sum($"c").as("n_pred"))
      val tp = a.filter($"y" === $"p").select($"y".as("class"), $"c".as("tp"))
      val j = classes
        .join(nt, Seq("class"), "left_outer")
        .join(np, Seq("class"), "left_outer")
        .join(tp, Seq("class"), "left_outer")
        .select($"class",
          coalesce($"n_true", lit(0L)).as("n_true"),
          coalesce($"n_pred", lit(0L)).as("n_pred"),
          coalesce($"tp", lit(0L)).as("tp"))
        .withColumn("f1q",
          when($"n_true" + $"n_pred" > 0,
            floor(lit(2e6) * $"tp" / ($"n_true" + $"n_pred") + 0.5)
              .cast("long"))
            .otherwise(lit(0L)))
      val macroRow = j.agg((sum($"f1q").cast("double") / 3 / 1e6).as("mf"))
      j.crossJoin(macroRow)
        .select($"class", $"n_true", $"n_pred", $"tp",
          when($"n_pred" > 0,
            dround($"tp".cast("double") / $"n_pred", 6)).as("prec"),
          when($"n_true" > 0,
            dround($"tp".cast("double") / $"n_true", 6)).as("recall"),
          when($"n_true" + $"n_pred" > 0,
            dround(lit(2.0) * $"tp" / ($"n_true" + $"n_pred"), 6)).as("f1"),
          dround($"mf", 6).as("macro_f1"))
        .orderBy("class")
    },
    Some("WITH e AS (SELECT user_id % 3 AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events " +
      "WHERE value IS NOT NULL AND user_id IS NOT NULL), " +
      "e2 AS (SELECT y, CAST(CASE WHEN v < 2500 THEN 0 " +
      "WHEN v < 5000 THEN 1 ELSE 2 END AS BIGINT) AS p FROM e), " +
      "a AS (SELECT y, p, CAST(count(*) AS BIGINT) AS c FROM e2 GROUP BY 1, 2), " +
      "cls AS (SELECT CAST(x AS BIGINT) AS class " +
      "FROM (VALUES (0), (1), (2)) t(x)), " +
      "nt AS (SELECT y AS class, CAST(SUM(c) AS BIGINT) AS n_true " +
      "FROM a GROUP BY 1), " +
      "np AS (SELECT p AS class, CAST(SUM(c) AS BIGINT) AS n_pred " +
      "FROM a GROUP BY 1), " +
      "tp AS (SELECT y AS class, c AS tp FROM a WHERE y = p), " +
      "j AS (SELECT class, coalesce(n_true, 0) AS n_true, " +
      "coalesce(n_pred, 0) AS n_pred, coalesce(tp, 0) AS tp " +
      "FROM cls LEFT JOIN nt USING (class) LEFT JOIN np USING (class) " +
      "LEFT JOIN tp USING (class)), " +
      "j2 AS (SELECT j.*, CASE WHEN n_true + n_pred > 0 THEN " +
      "CAST(floor(2e6 * tp / (n_true + n_pred) + 0.5) AS BIGINT) " +
      "ELSE 0 END AS f1q FROM j), " +
      "m AS (SELECT CAST(SUM(f1q) AS DOUBLE) / 3 / 1e6 AS mf FROM j2) " +
      "SELECT class, n_true, n_pred, tp, " +
      "CASE WHEN n_pred > 0 THEN " +
      OSql.sround("CAST(tp AS DOUBLE) / n_pred", 6) + " END AS prec, " +
      "CASE WHEN n_true > 0 THEN " +
      OSql.sround("CAST(tp AS DOUBLE) / n_true", 6) + " END AS recall, " +
      "CASE WHEN n_true + n_pred > 0 THEN " +
      OSql.sround("2.0 * tp / (n_true + n_pred)", 6) + " END AS f1, " +
      OSql.sround("mf", 6) + " AS macro_f1 " +
      "FROM j2 CROSS JOIN m ORDER BY class"))

  // ------------------------------------------------------------------
  // stat_levene — Levene's test of variance homogeneity across the k
  // event types: the PRECONDITION check for `stat_anova_oneway` (ANOVA
  // assumes equal within-group variance; Levene is ANOVA applied to
  // the absolute deviations z_ij = |v_ij − mean_j|). Exactness: the
  // per-row deviation is kept as the exact integer u_ij =
  // |v_ij·n_j − S_j| (numerator of z·n_j — DECIMAL/HUGEINT products,
  // never a per-row division), so the only divisions are per-GROUP:
  // Σz = Σu/n, Σz² = Σu²/n², n·z̄² = (Σu)²/n³ — each quantized at 10⁶
  // BEFORE the cross-group reduction (the χ²/ANOVA per-term trick),
  // making every multi-row sum an order-independent integer sum. W and
  // its dfs are then single double formulas with identical text in
  // both engines; degenerate inputs (k ≤ 1, n ≤ k, zero denominator)
  // emit NULL, never a division error.
  //
  // 100 TB shape: two fact scans (moments, then deviations against the
  // BROADCAST ≤k-row moment table), both collapsing map-side — no
  // row-level shuffle, no window.
  // ------------------------------------------------------------------

  private val statLevene = Q(
    "stat_levene",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .select($"event_type", round($"value" * 100).cast("long").as("v"))
      val mom = v.groupBy("event_type").agg(
        count(lit(1)).as("ng"), sum($"v".cast(Dec380)).as("sg"))
      val u = v.join(broadcast(mom), "event_type")
        .select($"event_type", $"ng",
          abs($"v".cast(Dec380) * $"ng" - $"sg").as("u"))
      val g = u.groupBy($"event_type", $"ng").agg(
        sum($"u").as("a"), sum($"u" * $"u").as("b"))
        .select($"ng",
          floor($"a".cast("double") / $"ng" * 1e6 + 0.5).cast(Dec380)
            .as("zsq"),
          floor($"b".cast("double") / $"ng" / $"ng" * 1e6 + 0.5).cast(Dec380)
            .as("q2q"),
          floor($"a".cast("double") * $"a" / $"ng" / $"ng" / $"ng" * 1e6
            + 0.5).cast(Dec380).as("tq"))
      val m = g.agg(
        count(lit(1)).as("k"), sum($"ng").as("n"),
        (sum($"zsq").cast("double") / 1e6).as("zs"),
        (sum($"q2q").cast("double") / 1e6).as("q2"),
        (sum($"tq").cast("double") / 1e6).as("t"))
      m.withColumn("ssb", $"t" - $"zs" * $"zs" / $"n")
        .withColumn("ssw", $"q2" - $"t")
        .select($"k", $"n",
          when($"k" > 1 && $"n" > $"k" && $"ssw" > 0,
            dround(($"ssb" / ($"k" - 1)) / ($"ssw" / ($"n" - $"k")), 6))
            .as("w_stat"),
          ($"k" - 1).as("df1"), ($"n" - $"k").as("df2"))
    },
    Some("WITH v AS (SELECT event_type, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng, " +
      "SUM(CAST(v AS HUGEINT)) AS sg FROM v GROUP BY 1), " +
      "u AS (SELECT v.event_type, ng, " +
      "abs(CAST(v.v AS HUGEINT) * ng - sg) AS u " +
      "FROM v JOIN mom USING (event_type)), " +
      "g AS (SELECT event_type, ng, SUM(u) AS a, SUM(u*u) AS b " +
      "FROM u GROUP BY 1, 2), " +
      "g2 AS (SELECT ng, " +
      "CAST(floor(CAST(a AS DOUBLE) / ng * 1e6 + 0.5) AS HUGEINT) AS zsq, " +
      "CAST(floor(CAST(b AS DOUBLE) / ng / ng * 1e6 + 0.5) AS HUGEINT) AS q2q, " +
      "CAST(floor(CAST(a AS DOUBLE) * CAST(a AS DOUBLE) / ng / ng / ng * 1e6 " +
      "+ 0.5) AS HUGEINT) AS tq FROM g), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "CAST(SUM(ng) AS BIGINT) AS n, " +
      "CAST(SUM(zsq) AS DOUBLE) / 1e6 AS zs, " +
      "CAST(SUM(q2q) AS DOUBLE) / 1e6 AS q2, " +
      "CAST(SUM(tq) AS DOUBLE) / 1e6 AS t FROM g2), " +
      "c AS (SELECT k, n, t - zs*zs/n AS ssb, q2 - t AS ssw FROM m) " +
      "SELECT k, n, " +
      "CASE WHEN k > 1 AND n > k AND ssw > 0 THEN " +
      OSql.sround("(ssb / (k-1)) / (ssw / (n-k))", 6) +
      " END AS w_stat, k - 1 AS df1, n - k AS df2 FROM c"))

  // ------------------------------------------------------------------
  // stat_bartlett — Bartlett's χ² test of variance homogeneity across
  // the k event types, Levene's PARAMETRIC sibling (Levene tests
  // deviations and is robust; Bartlett tests the log-variances
  // directly and is the sharper instrument when the groups are
  // near-normal — a reviewer reads the pair together exactly like
  // t-test/Mann-Whitney). Exactness discipline: per-group sums stay
  // DECIMAL/HUGEINT, the variance numerator numᵢ = nᵢ·Σv² − (Σv)² is
  // an exact integer (never a per-row deviation), and the only floats
  // are per-GROUP scalars — s²ᵢ = num/(n(n−1)), its ln, and 1/(nᵢ−1) —
  // each quantized (1e6 / 1e12) BEFORE the cross-group reduction so
  // every multi-group sum is an order-independent integer sum. The
  // statistic T = [(N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(s²ᵢ)]/C with
  // C = 1 + (Σ1/(nᵢ−1) − 1/(N−k))/(3(k−1)) is then one double formula
  // with identical text in both engines; it is scale-invariant in the
  // cents lift (the ln-offset cancels between the pooled and summed
  // terms). Degenerate inputs (k ≤ 1, any nᵢ < 2, a zero-variance
  // group) emit NULL, never a domain error.
  //
  // 100 TB shape: ONE fact scan collapsing map-side to the ≤k-row
  // moment table; everything after is arithmetic on k rows.
  // ------------------------------------------------------------------

  private val statBartlett = Q(
    "stat_bartlett",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .filter($"value".isNotNull)
        .select($"event_type", round($"value" * 100).cast("long").as("v"))
      val mom = v.groupBy("event_type").agg(
        count(lit(1)).as("ng"),
        sum($"v".cast(Dec380)).as("sg"),
        sum(($"v".cast(Dec380) * $"v")).as("sq"))
      val g = mom
        .withColumn("num", $"sq" * $"ng" - $"sg" * $"sg")
        .withColumn("s2",
          $"num".cast("double") / ($"ng" * ($"ng" - lit(1L))).cast("double"))
        .select($"ng", $"num",
          floor($"num".cast("double") / $"ng" * 1e6 + 0.5).cast(Dec380)
            .as("wq"),
          when($"ng" > 1 && $"num" > 0,
            floor(($"ng" - 1).cast("double") * log($"s2") * 1e6 + 0.5))
            .cast(Dec380).as("termq"),
          when($"ng" > 1, floor(lit(1e12) / ($"ng" - 1) + 0.5))
            .cast(Dec380).as("invq"))
      val m = g.agg(
        count(lit(1)).as("k"), sum($"ng").as("n"),
        min($"ng").as("mn_ng"), min($"num").as("mn_num"),
        (sum($"wq").cast("double") / 1e6).as("ssw"),
        (sum($"termq").cast("double") / 1e6).as("sterm"),
        (sum($"invq").cast("double") / 1e12).as("sinv"))
      m.select($"k", $"n",
          when($"k" > 1 && $"n" > $"k" && $"mn_ng" > 1 && $"mn_num" > 0,
            dround(
              (($"n" - $"k") * log($"ssw" / ($"n" - $"k")) - $"sterm") /
                (lit(1.0) + ($"sinv" - lit(1.0) / ($"n" - $"k")) /
                  (lit(3.0) * ($"k" - 1))), 6)).as("bartlett_t"),
          ($"k" - 1).as("df"))
    },
    Some("WITH v AS (SELECT event_type, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events " +
      "WHERE value IS NOT NULL), " +
      "mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng, " +
      "SUM(CAST(v AS HUGEINT)) AS sg, " +
      "SUM(CAST(v AS HUGEINT) * v) AS sq FROM v GROUP BY 1), " +
      "g AS (SELECT ng, sq * ng - sg * sg AS num, " +
      "CAST(sq * ng - sg * sg AS DOUBLE) / " +
      "CAST(ng * (ng - 1) AS DOUBLE) AS s2 FROM mom), " +
      "g2 AS (SELECT ng, num, " +
      "CAST(floor(CAST(num AS DOUBLE) / ng * 1e6 + 0.5) AS HUGEINT) AS wq, " +
      "CASE WHEN ng > 1 AND num > 0 THEN " +
      "CAST(floor(CAST(ng - 1 AS DOUBLE) * ln(s2) * 1e6 + 0.5) AS HUGEINT) " +
      "END AS termq, " +
      "CASE WHEN ng > 1 THEN " +
      "CAST(floor(1e12 / (ng - 1) + 0.5) AS HUGEINT) END AS invq FROM g), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "CAST(SUM(ng) AS BIGINT) AS n, " +
      "MIN(ng) AS mn_ng, MIN(num) AS mn_num, " +
      "CAST(SUM(wq) AS DOUBLE) / 1e6 AS ssw, " +
      "CAST(SUM(termq) AS DOUBLE) / 1e6 AS sterm, " +
      "CAST(SUM(invq) AS DOUBLE) / 1e12 AS sinv FROM g2) " +
      "SELECT k, n, " +
      "CASE WHEN k > 1 AND n > k AND mn_ng > 1 AND mn_num > 0 THEN " +
      OSql.sround("((n - k) * ln(ssw / (n - k)) - sterm) / " +
        "(1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1)))", 6) +
      " END AS bartlett_t, k - 1 AS df FROM m"))

  // ------------------------------------------------------------------
  // stat_friedman — Friedman's rank test across the k event types with
  // USERS AS BLOCKS (the repeated-measures member of the family:
  // Kruskal-Wallis compares independent groups; Friedman ranks WITHIN
  // each subject, so between-user spend level — the variance the
  // independent tests drown in — cancels out entirely). Blocks are
  // complete-case: only users observed under all k treatments rank
  // (the classical design; incomplete blocks belong to Skillings-Mack).
  // Exactness: the per-cell measurement is the mean value kept as the
  // exact (Σv, n) pair — within-block comparisons cross-multiply
  // (sb·na vs sa·nb, DECIMAL/HUGEINT) so no float ever orders the
  // ranks — and the tie-averaged rank is carried DOUBLED
  // (r2 = 2·less + tied + 1, an exact integer since ties average at
  // halves). With R2_j = Σ r2 the uncorrected statistic
  // Q = 3·ΣR2_j²/(n·k·(k+1)) − 3n(k+1) is one double formula off
  // exact integers. Degenerate designs (k ≤ 1, no complete blocks)
  // emit NULL.
  //
  // 100 TB shape: cells collapse map-side to the (user, type) moment
  // ledger; the rank self-join is WITHIN-block (≤k² = 25 pairs per
  // user, distributed by user key); everything after is a ≤k-row agg.
  // ------------------------------------------------------------------

  private val statFriedman = Q(
    "stat_friedman",
    (s, d) => {
      import s.implicits._
      val cells = Tables.events(s, d)
        .filter($"value".isNotNull && $"user_id".isNotNull)
        .select($"user_id", $"event_type",
          round($"value" * 100).cast("long").as("v"))
        .groupBy("user_id", "event_type")
        .agg(sum($"v".cast(Dec380)).as("sg"), count(lit(1)).as("n"))
      val kAll = cells.select($"event_type").distinct()
        .agg(count(lit(1)).as("k"))
      val complete = cells.groupBy("user_id")
        .agg(count(lit(1)).as("kt"))
        .join(broadcast(kAll), $"kt" === $"k")
        .select($"user_id")
      val blk = cells.join(complete, "user_id")
      val r2 = blk.as("a").join(blk.as("b"), Seq("user_id"))
        .groupBy($"user_id", $"a.event_type")
        .agg((sum(($"b.sg" * $"a.n" < $"a.sg" * $"b.n").cast("long")) * 2 +
          sum(($"b.sg" * $"a.n" === $"a.sg" * $"b.n").cast("long")) + 1)
          .as("r2"))
      val perType = r2.groupBy($"event_type")
        .agg(sum($"r2".cast(Dec380)).as("rj"), count(lit(1)).as("nb"))
      perType.agg(
          count(lit(1)).as("k"), max($"nb").as("n_blocks"),
          sum(($"rj" * $"rj")).cast("double").as("sr2"))
        .select($"k", $"n_blocks",
          when($"k" > 1 && $"n_blocks" > 0,
            dround(lit(3.0) * $"sr2" /
              ($"n_blocks" * $"k" * ($"k" + 1)).cast("double") -
              lit(3.0) * $"n_blocks" * ($"k" + 1), 6)).as("friedman_q"),
          ($"k" - 1).as("df"))
    },
    Some("WITH cells AS (SELECT user_id, event_type, " +
      "SUM(CAST(CAST(round(value*100) AS BIGINT) AS HUGEINT)) AS sg, " +
      "CAST(count(*) AS BIGINT) AS n FROM events " +
      "WHERE value IS NOT NULL AND user_id IS NOT NULL GROUP BY 1, 2), " +
      "ka AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k " +
      "FROM cells), " +
      "cb AS (SELECT user_id FROM cells GROUP BY 1 " +
      "HAVING count(*) = (SELECT k FROM ka)), " +
      "blk AS (SELECT cells.* FROM cells JOIN cb USING (user_id)), " +
      "r2 AS (SELECT a.user_id, a.event_type, " +
      "CAST(SUM(CASE WHEN b.sg * a.n < a.sg * b.n THEN 1 ELSE 0 END) * 2 + " +
      "SUM(CASE WHEN b.sg * a.n = a.sg * b.n THEN 1 ELSE 0 END) + 1 " +
      "AS BIGINT) AS r2 " +
      "FROM blk a JOIN blk b USING (user_id) GROUP BY 1, 2), " +
      "pt AS (SELECT event_type, SUM(CAST(r2 AS HUGEINT)) AS rj, " +
      "CAST(count(*) AS BIGINT) AS nb FROM r2 GROUP BY 1), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, MAX(nb) AS n_blocks, " +
      "CAST(SUM(rj * rj) AS DOUBLE) AS sr2 FROM pt) " +
      "SELECT k, n_blocks, " +
      "CASE WHEN k > 1 AND n_blocks > 0 THEN " +
      OSql.sround("3.0 * sr2 / CAST(n_blocks * k * (k + 1) AS DOUBLE) - " +
        "3.0 * n_blocks * (k + 1)", 6) +
      " END AS friedman_q, k - 1 AS df FROM m"))

  // ------------------------------------------------------------------
  // eval_equalized_odds — per-cohort TPR/FPR of the value-threshold
  // rule, the ERROR-RATE fairness criterion beside
  // `eval_demographic_parity`'s selection-rate one (parity asks "does
  // each cohort get flagged equally often" — satisfiable by a useless
  // classifier; equalized odds asks "are the ERROR rates equal given
  // the truth", the Hardt et al. criterion audits actually enforce):
  // the per-(cohort, truth) confusion ledger collapses map-side to
  // ≤2·|cohorts| rows, TPR/FPR are exact floor-quantized integer
  // divisions, and the two gaps (max−min across cohorts, each leg over
  // its non-degenerate cohorts only) broadcast back. A cohort with no
  // positives (or no negatives) reports NULL for that rate and stays
  // out of that gap — never a division error.
  // ------------------------------------------------------------------

  private val evalEqualizedOdds = Q(
    "eval_equalized_odds",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select(pmod($"user_id", lit(5L)).as("cohort"),
          ($"event_type" === "purchase").cast("long").as("y"),
          (round($"value" * 100).cast("long") >= 5000L).cast("long")
            .as("pred"))
      val led = e.groupBy("cohort").agg(
          sum($"y").as("npos"), sum(lit(1L) - $"y").as("nneg"),
          sum($"y" * $"pred").as("tp"),
          sum((lit(1L) - $"y") * $"pred").as("fp"))
        .withColumn("tprq",
          when($"npos" > 0, expr("(1000000 * tp) div npos")))
        .withColumn("fprq",
          when($"nneg" > 0, expr("(1000000 * fp) div nneg")))
      val gaps = led.agg(
        ((max($"tprq") - min($"tprq")).cast("double") / 1e6).as("tg"),
        ((max($"fprq") - min($"fprq")).cast("double") / 1e6).as("fg"))
      led.crossJoin(broadcast(gaps))
        .select($"cohort", $"npos", $"nneg",
          dround($"tprq".cast("double") / 1e6, 6).as("tpr"),
          dround($"fprq".cast("double") / 1e6, 6).as("fpr"),
          dround($"tg", 6).as("tpr_gap"), dround($"fg", 6).as("fpr_gap"))
        .orderBy("cohort")
    },
    Some("WITH e AS (SELECT user_id % 5 AS cohort, " +
      "CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(CAST(round(value*100) AS BIGINT) >= 5000 AS BIGINT) AS pred " +
      "FROM events WHERE user_id IS NOT NULL), " +
      "led AS (SELECT cohort, CAST(SUM(y) AS BIGINT) AS npos, " +
      "CAST(SUM(1 - y) AS BIGINT) AS nneg, " +
      "CAST(SUM(y * pred) AS BIGINT) AS tp, " +
      "CAST(SUM((1 - y) * pred) AS BIGINT) AS fp FROM e GROUP BY 1), " +
      "lq AS (SELECT *, CASE WHEN npos > 0 THEN (1000000 * tp) // npos END " +
      "AS tprq, CASE WHEN nneg > 0 THEN (1000000 * fp) // nneg END AS fprq " +
      "FROM led), " +
      "g AS (SELECT CAST(MAX(tprq) - MIN(tprq) AS DOUBLE) / 1e6 AS tg, " +
      "CAST(MAX(fprq) - MIN(fprq) AS DOUBLE) / 1e6 AS fg FROM lq) " +
      "SELECT cohort, npos, nneg, " +
      OSql.sround("CAST(tprq AS DOUBLE) / 1e6", 6) + " AS tpr, " +
      OSql.sround("CAST(fprq AS DOUBLE) / 1e6", 6) + " AS fpr, " +
      OSql.sround("tg", 6) + " AS tpr_gap, " +
      OSql.sround("fg", 6) + " AS fpr_gap FROM lq, g ORDER BY cohort"))

  // ------------------------------------------------------------------
  // stat_cochran_armitage — the Cochran-Armitage TREND test of the
  // purchase proportion across the ORDERED user cohorts (scores w =
  // cohort id 0..4): the ordered sibling of `stat_chi2_independence`
  // (χ² spends its power over any deviation pattern; CA concentrates
  // it on a monotone dose-response, the question "does the rate rise
  // with the cohort" that a plain χ² answers diffusely). T =
  // Σwᵢ(rᵢ·N − nᵢ·R) and N³·Var = R(N−R)[N·Σwᵢ²nᵢ − (Σwᵢnᵢ)²] are
  // EXACT DECIMAL/HUGEINT integers off the map-side cohort ledger
  // (the N-lift clears every fraction); z = T·√N / √(R(N−R)·[…])
  // is one guarded double formula spelled identically in both
  // engines. Degenerate margins (R = 0 or R = N, or a single cohort)
  // emit NULL.
  // ------------------------------------------------------------------

  private val statCochranArmitage = Q(
    "stat_cochran_armitage",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select(pmod($"user_id", lit(5L)).as("w"),
          ($"event_type" === "purchase").cast("long").as("y"))
      val led = e.groupBy("w").agg(
        count(lit(1)).as("n"), sum($"y").as("r"))
      val m = led.agg(
        count(lit(1)).as("k"),
        sum($"n").cast(Dec380).as("nn"), sum($"r").cast(Dec380).as("rr"),
        sum($"w".cast(Dec380) * $"n").as("swn"),
        sum($"w".cast(Dec380) * $"w" * $"n").as("sw2n"),
        sum($"w".cast(Dec380) * $"r").as("swr"))
      m.select($"k", $"nn".cast("long").as("n"), $"rr".cast("long").as("r"),
          when($"k" > 1 && $"rr" > 0 && $"rr" < $"nn",
            dround(
              (($"swr" * $"nn" - $"swn" * $"rr").cast("double") *
                sqrt($"nn".cast("double"))) /
                sqrt(($"rr" * ($"nn" - $"rr")).cast("double") *
                  ($"nn" * $"sw2n" - $"swn" * $"swn").cast("double")), 6))
            .as("ca_z"))
    },
    Some("WITH e AS (SELECT user_id % 5 AS w, " +
      "CAST(event_type = 'purchase' AS BIGINT) AS y FROM events " +
      "WHERE user_id IS NOT NULL), " +
      "led AS (SELECT w, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(y) AS BIGINT) AS r FROM e GROUP BY 1), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "SUM(CAST(n AS HUGEINT)) AS nn, SUM(CAST(r AS HUGEINT)) AS rr, " +
      "SUM(CAST(w AS HUGEINT) * n) AS swn, " +
      "SUM(CAST(w AS HUGEINT) * w * n) AS sw2n, " +
      "SUM(CAST(w AS HUGEINT) * r) AS swr FROM led) " +
      "SELECT k, CAST(nn AS BIGINT) AS n, CAST(rr AS BIGINT) AS r, " +
      "CASE WHEN k > 1 AND rr > 0 AND rr < nn THEN " +
      OSql.sround("(CAST(swr * nn - swn * rr AS DOUBLE) * " +
        "sqrt(CAST(nn AS DOUBLE))) / " +
        "sqrt(CAST(rr * (nn - rr) AS DOUBLE) * " +
        "CAST(nn * sw2n - swn * swn AS DOUBLE))", 6) +
      " END AS ca_z FROM m"))

  // ------------------------------------------------------------------
  // eval_calibration_isotonic — ISOTONIC (PAV) calibration of the
  // purchase rate over the $10 score buckets, the non-parametric fit
  // above `eval_calibration`'s raw reliability table (binning shows
  // the miscalibration; isotonic regression is what a deployment
  // actually applies to fix it — the monotone step function closest
  // to the observed rates in L²). Pool-Adjacent-Violators is a
  // SEQUENTIAL algorithm, which would be a driver loop — instead the
  // fit uses the exact MINIMAX identity ŷᵢ = max_{j≤i} min_{k≥i}
  // mean(y[j..k]): every interval mean is ONE integer floor division
  // off prefix sums ((10⁹·Σpos) div Σn), and the max-of-min evaluates
  // as two ledger aggs over the (j, i, k) triangle — O(B³) rows with
  // B bounded by the PRICE DOMAIN (≤ ~dozens), never by the corpus.
  // The single-partition window is over that same bounded ledger.
  // Output pins both the raw and fitted curves; the fit is monotone
  // by construction and exact-integer deterministic.
  // ------------------------------------------------------------------

  private val evalCalibrationIsotonic = Q(
    "eval_calibration_isotonic",
    (s, d) => {
      import s.implicits._
      val led = Tables.events(s, d)
        .select(expr(Det.fdivExpr("cast(round(value * 100) as bigint)",
          "1000")).as("b"),
          ($"event_type" === "purchase").cast("long").as("y"))
        .groupBy("b").agg(count(lit(1)).as("n"), sum($"y").as("pos"))
      val w = Window.orderBy($"b".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = led
        .withColumn("cn", sum($"n").over(w))
        .withColumn("cp", sum($"pos").over(w))
      val pairs = pre.as("j").join(pre.as("k"), $"j.b" <= $"k.b")
        .select($"j.b".as("jb"), $"k.b".as("kb"),
          expr("(1000000000 * (k.cp - (j.cp - j.pos))) div " +
            "(k.cn - (j.cn - j.n))").as("meanq"))
      val tri = pairs.join(led.select($"b".as("ib")),
        $"jb" <= $"ib" && $"kb" >= $"ib")
      val iso = tri.groupBy("ib", "jb").agg(min($"meanq").as("mn"))
        .groupBy("ib").agg(max($"mn").as("isoq"))
      led.join(iso, $"b" === $"ib")
        .select($"b".as("bucket"), $"n", $"pos",
          (expr("(1000000000 * pos) div n").cast("double") / 1e9)
            .as("raw_rate"),
          ($"isoq".cast("double") / 1e9).as("iso_rate"))
        .orderBy("bucket")
    },
    Some("WITH e AS (SELECT CAST(round(value*100) AS BIGINT) // 1000 AS b, " +
      "CAST(event_type = 'purchase' AS BIGINT) AS y FROM events), " +
      "led AS (SELECT b, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(y) AS BIGINT) AS pos FROM e GROUP BY 1), " +
      "pre AS (SELECT b, n, pos, " +
      "CAST(SUM(n) OVER w AS BIGINT) AS cn, " +
      "CAST(SUM(pos) OVER w AS BIGINT) AS cp FROM led WINDOW w AS " +
      "(ORDER BY b ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "pairs AS (SELECT j.b AS jb, k.b AS kb, " +
      "(1000000000 * (k.cp - (j.cp - j.pos))) // " +
      "(k.cn - (j.cn - j.n)) AS meanq " +
      "FROM pre j JOIN pre k ON j.b <= k.b), " +
      "tri AS (SELECT led.b AS ib, pairs.jb, pairs.meanq FROM pairs " +
      "JOIN led ON pairs.jb <= led.b AND pairs.kb >= led.b), " +
      "inn AS (SELECT ib, jb, MIN(meanq) AS mn FROM tri GROUP BY 1, 2), " +
      "iso AS (SELECT ib, CAST(MAX(mn) AS BIGINT) AS isoq " +
      "FROM inn GROUP BY 1) " +
      "SELECT led.b AS bucket, led.n, led.pos, " +
      "CAST((1000000000 * led.pos) // led.n AS DOUBLE) / 1e9 AS raw_rate, " +
      "CAST(iso.isoq AS DOUBLE) / 1e9 AS iso_rate " +
      "FROM led JOIN iso ON iso.ib = led.b ORDER BY bucket"))

  // ------------------------------------------------------------------
  // stat_mood_median — MOOD'S MEDIAN TEST across the k event types:
  // the coarsest member of the k-sample location ladder (ANOVA assumes
  // normality, Kruskal-Wallis uses full ranks, Mood's keeps ONLY
  // above/below the grand median — maximally robust to outliers and
  // the one that still works when values are censored at a detection
  // limit). The grand median is the exact lower median off the
  // domain-bounded cents ledger (cum ≥ (N+1) div 2 — the
  // percentile_disc pick, never a fact-row sort); the 2×k contingency
  // then collapses map-side, and χ² = Σ(O·N − R·C)²/(N·R·C) is spelled
  // with each cell's term an exact-integer numerator quantized at 10⁶
  // BEFORE the cross-cell sum (the chi2_independence discipline).
  // Degenerate margins (a zero row/column) emit NULL.
  // ------------------------------------------------------------------

  private val statMoodMedian = Q(
    "stat_mood_median",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .filter($"value".isNotNull)
        .select($"event_type", round($"value" * 100).cast("long").as("c"))
      val led = v.groupBy("c").agg(count(lit(1)).as("m"))
      val w = Window.orderBy($"c".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = led.withColumn("hi", sum($"m").over(w))
        .crossJoin(broadcast(v.agg(count(lit(1)).as("n"))))
        .filter($"hi" - $"m" < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= $"hi")
        .agg(max($"c").as("med"))
      val cells = v.crossJoin(broadcast(med))
        .groupBy("event_type").agg(
          sum(($"c" > $"med").cast("long")).as("a"),
          sum(($"c" <= $"med").cast("long")).as("b"))
      val tot = cells.agg(
        sum($"a").cast(Dec380).as("ta"), sum($"b").cast(Dec380).as("tb"),
        count(lit(1)).as("k"))
      val terms = cells.crossJoin(broadcast(tot))
        .select($"event_type", $"a", $"b", $"k", $"ta", $"tb",
          (($"ta" + $"tb")).as("n"),
          (($"a" + $"b").cast(Dec380)).as("rg"))
        .select($"k", $"n", $"ta", $"tb",
          when($"rg" > 0 && $"ta" > 0 && $"tb" > 0,
            floor((($"a" * $"n" - $"rg" * $"ta") *
              ($"a" * $"n" - $"rg" * $"ta")).cast("double") /
              ($"n" * $"rg" * $"ta").cast("double") * 1e6 + 0.5) +
              floor((($"b" * $"n" - $"rg" * $"tb") *
                ($"b" * $"n" - $"rg" * $"tb")).cast("double") /
                ($"n" * $"rg" * $"tb").cast("double") * 1e6 + 0.5))
            .as("tq"))
      terms.agg(
          max($"k").as("k"), max($"n".cast("long")).as("n"),
          count(lit(1)).as("ng"), count($"tq").as("nt"),
          sum($"tq").as("sq"))
        .crossJoin(broadcast(med))
        .select($"k", $"n", $"med".as("median_cents"),
          when($"k" > 1 && $"ng" === $"nt",
            dround($"sq".cast("double") / 1e6, 6)).as("chi2"),
          ($"k" - 1).as("df"))
    },
    Some("WITH v AS (SELECT event_type, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events " +
      "WHERE value IS NOT NULL), " +
      "led AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM v GROUP BY 1), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v), " +
      "cum AS (SELECT c, m, CAST(SUM(m) OVER (ORDER BY c ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
      "AS hi FROM led), " +
      "med AS (SELECT CAST(MAX(c) AS BIGINT) AS med FROM cum, nn " +
      "WHERE hi - m < (n + 1) // 2 AND (n + 1) // 2 <= hi), " +
      "cells AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN v.c > med.med THEN 1 ELSE 0 END) AS BIGINT) AS a, " +
      "CAST(SUM(CASE WHEN v.c <= med.med THEN 1 ELSE 0 END) AS BIGINT) AS b " +
      "FROM v, med GROUP BY 1), " +
      "tot AS (SELECT SUM(CAST(a AS HUGEINT)) AS ta, " +
      "SUM(CAST(b AS HUGEINT)) AS tb, CAST(count(*) AS BIGINT) AS k " +
      "FROM cells), " +
      "terms AS (SELECT tot.k, tot.ta + tot.tb AS n, tot.ta, tot.tb, " +
      "CASE WHEN (a + b) > 0 AND tot.ta > 0 AND tot.tb > 0 THEN " +
      "CAST(floor(CAST((a * (tot.ta + tot.tb) - (a + b) * tot.ta) * " +
      "(a * (tot.ta + tot.tb) - (a + b) * tot.ta) AS DOUBLE) / " +
      "CAST((tot.ta + tot.tb) * (a + b) * tot.ta AS DOUBLE) * 1e6 + 0.5) " +
      "+ floor(CAST((b * (tot.ta + tot.tb) - (a + b) * tot.tb) * " +
      "(b * (tot.ta + tot.tb) - (a + b) * tot.tb) AS DOUBLE) / " +
      "CAST((tot.ta + tot.tb) * (a + b) * tot.tb AS DOUBLE) * 1e6 + 0.5) " +
      "AS HUGEINT) END AS tq FROM cells, tot) " +
      "SELECT MAX(k) AS k, CAST(MAX(n) AS BIGINT) AS n, " +
      "(SELECT med FROM med) AS median_cents, " +
      "CASE WHEN MAX(k) > 1 AND count(*) = count(tq) THEN " +
      OSql.sround("CAST(SUM(tq) AS DOUBLE) / 1e6", 6) +
      " END AS chi2, MAX(k) - 1 AS df FROM terms"))

  // ------------------------------------------------------------------
  // eval_cohen_kappa — chance-corrected agreement between the true
  // class (user_id mod 3) and the tercile-rule prediction — the SAME
  // 3×3 grid as `eval_confusion_multiclass`, collapsed to the one
  // number a labeling-QA pipeline alerts on (raw accuracy flatters a
  // skewed class mix; κ subtracts the agreement two independent
  // marginals would produce by chance). Everything up to the final
  // formula is exact longs off the map-side-collapsed grid: observed
  // agreement pₒ = Σtp/n, expected pₑ = Σ(n_trueᵢ·n_predᵢ)/n²; κ =
  // (pₒ − pₑ)/(1 − pₑ) is one double expression with identical text in
  // both engines, NULL when pₑ = 1 (a single-class degenerate grid).
  // ------------------------------------------------------------------

  private val evalCohenKappa = Q(
    "eval_cohen_kappa",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"user_id".isNotNull)
        .select(($"user_id" % 3).as("y"),
          round($"value" * 100).cast("long").as("v"))
        .select($"y",
          when($"v" < 2500, 0L).when($"v" < 5000, 1L).otherwise(2L).as("p"))
      val a = e.groupBy($"y", $"p").agg(count(lit(1)).as("c"))
      val nt = a.groupBy($"y".as("cl")).agg(sum($"c").as("n_true"))
      val np = a.groupBy($"p".as("cl")).agg(sum($"c").as("n_pred"))
      val m = nt.join(np, "cl")
        .agg(sum($"n_true").as("n"),
          sum($"n_true" * $"n_pred").as("pe_num"))
      val ag = a.filter($"y" === $"p").agg(sum($"c").as("agree"))
      m.crossJoin(ag)
        .select($"n", coalesce($"agree", lit(0L)).as("agree"), $"pe_num")
        .select($"n", $"agree",
          ($"agree".cast("double") / $"n").as("po"),
          ($"pe_num".cast("double") / $"n" / $"n").as("pe"))
        .select($"n", $"agree", dround($"po", 6).as("po"),
          dround($"pe", 6).as("pe"),
          when($"pe" < 1.0,
            dround(($"po" - $"pe") / (lit(1.0) - $"pe"), 6)).as("kappa"))
    },
    Some("WITH e AS (SELECT user_id % 3 AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events " +
      "WHERE value IS NOT NULL AND user_id IS NOT NULL), " +
      "e2 AS (SELECT y, CAST(CASE WHEN v < 2500 THEN 0 " +
      "WHEN v < 5000 THEN 1 ELSE 2 END AS BIGINT) AS p FROM e), " +
      "a AS (SELECT y, p, CAST(count(*) AS BIGINT) AS c FROM e2 GROUP BY 1, 2), " +
      "nt AS (SELECT y AS cl, CAST(SUM(c) AS BIGINT) AS n_true FROM a GROUP BY 1), " +
      "np AS (SELECT p AS cl, CAST(SUM(c) AS BIGINT) AS n_pred FROM a GROUP BY 1), " +
      "m AS (SELECT CAST(SUM(n_true) AS BIGINT) AS n, " +
      "CAST(SUM(n_true * n_pred) AS BIGINT) AS pe_num " +
      "FROM nt JOIN np USING (cl)), " +
      "ag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS agree " +
      "FROM a WHERE y = p), " +
      "r AS (SELECT n, agree, CAST(agree AS DOUBLE) / n AS po, " +
      "CAST(pe_num AS DOUBLE) / n / n AS pe FROM m CROSS JOIN ag) " +
      "SELECT n, agree, " + OSql.sround("po", 6) + " AS po, " +
      OSql.sround("pe", 6) + " AS pe, " +
      "CASE WHEN pe < 1.0 THEN " +
      OSql.sround("(po - pe) / (1.0 - pe)", 6) + " END AS kappa FROM r"))

  // ------------------------------------------------------------------
  // stat_cohens_d — the EFFECT-SIZE companion to `stat_welch_ttest`'s
  // significance: how many pooled standard deviations separate the two
  // parity arms per event type (a tiny p-value on a huge archive can
  // mask a negligible effect; d is what a ship/no-ship call reads).
  // Same conditional exact-moment collapse as welch (one map-side pass
  // to |types| rows of DECIMAL/HUGEINT sums); d = (x̄_a − x̄_b)/s_pooled
  // with s²_pooled = ((n_a−1)s²_a + (n_b−1)s²_b)/(n_a+n_b−2) — all
  // single double formulas with identical text; arms of <2 rows or a
  // zero pooled SD emit NULL, never ±inf.
  // ------------------------------------------------------------------

  private val statCohensD = Q(
    "stat_cohens_d",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .select($"event_type",
          ($"user_id" % 2).as("g"),
          round($"value" * 100).cast("long").as("v"))
      val m = v.groupBy("event_type").agg(
        sum(when($"g" === 0, lit(1L)).otherwise(lit(0L))).as("na"),
        sum(when($"g" === 1, lit(1L)).otherwise(lit(0L))).as("nb"),
        sum(when($"g" === 0, $"v").cast(Dec380)).cast("double").as("s1a"),
        sum(when($"g" === 0, $"v" * $"v").cast(Dec380)).cast("double").as("s2a"),
        sum(when($"g" === 1, $"v").cast(Dec380)).cast("double").as("s1b"),
        sum(when($"g" === 1, $"v" * $"v").cast(Dec380)).cast("double").as("s2b"))
      m.withColumn("va", when($"na" > 1,
          ($"s2a" - $"s1a" * $"s1a" / $"na") / ($"na" - 1)))
        .withColumn("vb", when($"nb" > 1,
          ($"s2b" - $"s1b" * $"s1b" / $"nb") / ($"nb" - 1)))
        .withColumn("sp", when($"na" > 1 && $"nb" > 1,
          sqrt((($"na" - 1) * $"va" + ($"nb" - 1) * $"vb")
            / ($"na" + $"nb" - 2))))
        .select($"event_type", $"na", $"nb",
          dround($"sp" / 100.0, 6).as("pooled_sd"),
          when($"sp" > 0,
            dround(($"s1a" / $"na" - $"s1b" / $"nb") / $"sp", 6))
            .as("cohens_d"))
        .orderBy("event_type")
    },
    Some("WITH v AS (SELECT event_type, user_id % 2 AS g, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "m AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
      "CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
      "CAST(SUM(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) END) AS DOUBLE) AS s1a, " +
      "CAST(SUM(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) * v END) AS DOUBLE) AS s2a, " +
      "CAST(SUM(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) END) AS DOUBLE) AS s1b, " +
      "CAST(SUM(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) * v END) AS DOUBLE) AS s2b " +
      "FROM v GROUP BY 1), " +
      "c AS (SELECT event_type, na, nb, " +
      "CASE WHEN na > 1 THEN (s2a - s1a*s1a/na) / (na - 1) END AS va, " +
      "CASE WHEN nb > 1 THEN (s2b - s1b*s1b/nb) / (nb - 1) END AS vb, " +
      "s1a, s1b FROM m), " +
      "c2 AS (SELECT event_type, na, nb, s1a, s1b, " +
      "CASE WHEN na > 1 AND nb > 1 THEN " +
      "sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)) END AS sp " +
      "FROM c) " +
      "SELECT event_type, na, nb, " +
      OSql.sround("sp / 100.0", 6) + " AS pooled_sd, " +
      "CASE WHEN sp > 0 THEN " +
      OSql.sround("(s1a / na - s1b / nb) / sp", 6) +
      " END AS cohens_d FROM c2 ORDER BY 1"))

  // ------------------------------------------------------------------
  // eval_mcc — Matthews correlation coefficient over the
  // `eval_binary_classifier` grid: the single-number binary metric
  // that stays honest under class imbalance (accuracy and even F1
  // reward the majority class; MCC is the Pearson correlation of the
  // 2×2 table and needs all four cells to be good). Counts collapse
  // map-side to one exact-long row; MCC = (tp·tn − fp·fn)/
  // √((tp+fp)(tp+fn)(tn+fp)(tn+fn)) with every factor cast to double
  // BEFORE multiplying (the product of four marginals overflows i64 at
  // archive scale); a zero marginal emits NULL, never 0/0.
  // ------------------------------------------------------------------

  private val evalMcc = Q(
    "eval_mcc",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
        .withColumn("p", ($"v" >= 5000).cast("long"))
      val conf = e.agg(
        sum($"y" * $"p").as("tp"),
        sum((lit(1) - $"y") * $"p").as("fp"),
        sum($"y" * (lit(1) - $"p")).as("fn"),
        sum((lit(1) - $"y") * (lit(1) - $"p")).as("tn"))
      conf
        .select($"tp", $"fp", $"fn", $"tn",
          when(($"tp" + $"fp") > 0 && ($"tp" + $"fn") > 0
            && ($"tn" + $"fp") > 0 && ($"tn" + $"fn") > 0,
            dround(($"tp".cast("double") * $"tn"
              - $"fp".cast("double") * $"fn")
              / sqrt(($"tp".cast("double") + $"fp")
                * ($"tp".cast("double") + $"fn")
                * ($"tn".cast("double") + $"fp")
                * ($"tn".cast("double") + $"fn")), 6)).as("mcc"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(CAST(round(value*100) AS BIGINT) >= 5000 AS BIGINT) AS p " +
      "FROM events WHERE value IS NOT NULL), " +
      "c AS (SELECT CAST(SUM(y * p) AS BIGINT) AS tp, " +
      "CAST(SUM((1 - y) * p) AS BIGINT) AS fp, " +
      "CAST(SUM(y * (1 - p)) AS BIGINT) AS fn, " +
      "CAST(SUM((1 - y) * (1 - p)) AS BIGINT) AS tn FROM e) " +
      "SELECT tp, fp, fn, tn, " +
      "CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0 " +
      "AND (tn + fp) > 0 AND (tn + fn) > 0 THEN " +
      OSql.sround("(CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) " +
        "/ sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn) " +
        "* (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn))", 6) +
      " END AS mcc FROM c"))

  // ------------------------------------------------------------------
  // sample_neyman_alloc — Neyman optimal allocation of a fixed sample
  // budget across strata: the survey-sampling rule (n_h ∝ N_h·S_h) that
  // beats proportional allocation whenever stratum variances differ —
  // the planner a stratified QA-labeling pass runs BEFORE drawing the
  // `sample_stratified` sample. Per-stratum exact moments collapse
  // map-side; each stratum's weight N_h·S_h (the one sqrt) is quantized
  // at 10⁶ BEFORE the cross-stratum total (order-independent integer
  // sum); allocations are floor(budget·w_h/Σw + 0.5) of exact longs.
  // Zero-variance strata get weight 0 (one certain row suffices — the
  // textbook degenerate case), surfaced as n_alloc = 0, not dropped.
  // ------------------------------------------------------------------

  private val sampleNeymanAlloc = Q(
    "sample_neyman_alloc",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .filter($"value".isNotNull)
        .select($"event_type", round($"value" * 100).cast("long").as("v"))
      val g = v.groupBy("event_type").agg(
        count(lit(1)).as("nh"),
        sum($"v".cast(Dec380)).cast("double").as("s1"),
        sum(($"v".cast(Dec380) * $"v")).cast("double").as("s2"))
      val w = g.withColumn("sh",
          when($"nh" > 1, sqrt(($"s2" - $"s1" * $"s1" / $"nh") / ($"nh" - 1))))
        .withColumn("wq",
          when($"sh".isNotNull,
            floor($"nh" * $"sh" * 1e6 + 0.5).cast(Dec380))
            .otherwise(lit(0L).cast(Dec380)))
      val tot = w.agg(sum($"wq").as("wt"))
      w.crossJoin(broadcast(tot))
        .select($"event_type", $"nh",
          dround($"sh" / 100.0, 6).as("stratum_sd"),
          when($"wt" > 0,
            floor(lit(1000.0) * $"wq".cast("double") / $"wt".cast("double")
              + 0.5).cast("long")).otherwise(lit(0L)).as("n_alloc"))
        .orderBy("event_type")
    },
    Some("WITH v AS (SELECT event_type, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events " +
      "WHERE value IS NOT NULL), " +
      "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nh, " +
      "CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) AS s1, " +
      "CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS s2 " +
      "FROM v GROUP BY 1), " +
      "w AS (SELECT event_type, nh, " +
      "CASE WHEN nh > 1 THEN sqrt((s2 - s1*s1/nh) / (nh - 1)) END AS sh " +
      "FROM g), " +
      "w2 AS (SELECT event_type, nh, sh, " +
      "CASE WHEN sh IS NOT NULL THEN " +
      "CAST(floor(nh * sh * 1e6 + 0.5) AS HUGEINT) " +
      "ELSE CAST(0 AS HUGEINT) END AS wq FROM w), " +
      "t AS (SELECT SUM(wq) AS wt FROM w2) " +
      "SELECT event_type, nh, " +
      OSql.sround("sh / 100.0", 6) + " AS stratum_sd, " +
      "CASE WHEN wt > 0 THEN " +
      "CAST(floor(1000.0 * CAST(wq AS DOUBLE) / CAST(wt AS DOUBLE) + 0.5) " +
      "AS BIGINT) ELSE 0 END AS n_alloc " +
      "FROM w2 CROSS JOIN t ORDER BY event_type"))

  // ------------------------------------------------------------------
  // eval_brier_score — mean squared error of a probabilistic binary
  // forecast (the PROPER scoring rule next to `eval_mcc`'s thresholded
  // verdict: Brier punishes miscalibrated confidence, not just wrong
  // calls). Score p = value cents / 10⁴ capped at 1, label y =
  // (event_type = 'purchase'); per-row residual stays the exact
  // integer (p_b − y·10⁴) in basis-10⁴, its square ≤ 10⁸ sums in
  // BIGINT (10⁸·N overflows only past ~9·10¹⁰ rows — and the sum can
  // ride DECIMAL if a corpus ever gets there), so the reduction is an
  // order-independent integer sum; the single final division is the
  // only double. One map-side collapse to ONE row.
  // ------------------------------------------------------------------

  private val evalBrierScore = Q(
    "eval_brier_score",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"event_type".isNotNull)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          least(round($"value" * 100).cast("long"), lit(10000L)).as("pb"))
        .select($"y", ($"pb" - $"y" * 10000L).as("r"))
      e.agg(count(lit(1)).as("n"), sum($"y").as("n_pos"),
          sum(($"r" * $"r").cast(Dec380)).as("sq"))
        .select($"n", $"n_pos",
          when($"n" > 0,
            dround($"sq".cast("double") / $"n" / 1e8, 6)).as("brier"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "least(CAST(round(value*100) AS BIGINT), 10000) AS pb " +
      "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
      "r AS (SELECT y, pb - y * 10000 AS r FROM e) " +
      "SELECT count(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos, " +
      "CASE WHEN count(*) > 0 THEN " +
      OSql.sround("CAST(SUM(CAST(r AS HUGEINT) * r) AS DOUBLE) " +
        "/ count(*) / 1e8", 6) +
      " END AS brier FROM r"))

  // ------------------------------------------------------------------
  // eval_log_loss — binary cross-entropy of the same forecast (the
  // metric training actually optimizes; Brier is bounded, log loss
  // diverges on confident misses, so the pair separates "wrong" from
  // "confidently wrong"). p clamps to [0.01, 0.99] in basis-10⁴
  // BEFORE the logs (the standard eps-clamp — ln(0) must be
  // unreachable); each row's −(y·ln p + (1−y)·ln(1−p)) evaluates in
  // double from the exact integer pc with IDENTICAL formula text in
  // both engines and is integer-quantized at 10⁶ per row, so the
  // cross-row reduction is an exact BIGINT sum (order-independent on
  // any cluster; the ln-on-identical-inputs determinism precedent of
  // `graph_adamic_adar`/`text_zipf_fit`). One map-side collapse.
  // ------------------------------------------------------------------

  private val evalLogLoss = Q(
    "eval_log_loss",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"event_type".isNotNull)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          greatest(least(round($"value" * 100).cast("long"), lit(9900L)),
            lit(100L)).as("pc"))
        .select($"y",
          floor((-($"y" * log($"pc" / 1e4) +
            (lit(1L) - $"y") * log(lit(1.0) - $"pc" / 1e4))) * 1e6 + 0.5)
            .cast("long").as("tq"))
      e.agg(count(lit(1)).as("n"), sum($"y").as("n_pos"),
          sum($"tq".cast(Dec380)).as("st"))
        .select($"n", $"n_pos",
          when($"n" > 0,
            dround($"st".cast("double") / 1e6 / $"n", 6)).as("log_loss"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "greatest(least(CAST(round(value*100) AS BIGINT), 9900), 100) AS pc " +
      "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
      "t AS (SELECT y, CAST(floor((-(y * ln(pc / 1e4) + " +
      "(1 - y) * ln(1.0 - pc / 1e4))) * 1e6 + 0.5) AS BIGINT) AS tq FROM e) " +
      "SELECT count(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos, " +
      "CASE WHEN count(*) > 0 THEN " +
      OSql.sround("CAST(SUM(CAST(tq AS HUGEINT)) AS DOUBLE) / 1e6 / count(*)", 6) +
      " END AS log_loss FROM t"))

  // ------------------------------------------------------------------
  // eval_auc — exact tie-aware ROC AUC of the purchase forecast: the
  // threshold-free ranking metric `eval_pr_sweep` samples pointwise
  // (AUC = P(score⁺ > score⁻) + ½P(tie) — the Mann-Whitney identity).
  // NEVER ranks fact rows: scores land on the bounded cent-value
  // LEDGER (≤10⁴ distinct values — the two-phase discipline of
  // `agg_percentile_disc`), the one cumulative window runs over that
  // ledger, and each value's contribution n⁺·(2·cumn⁻ + n⁻) stays an
  // exact integer in basis ×2 (DECIMAL/HUGEINT sum, order-independent)
  // — ONE final double division. A single-class input emits NULL.
  // ------------------------------------------------------------------

  private val evalAuc = Q(
    "eval_auc",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"event_type".isNotNull)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("pc"))
      val led = e.groupBy("pc").agg(
        sum($"y").as("np"), sum(lit(1L) - $"y").as("nn"))
      val w = Window.orderBy($"pc".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = led
        .withColumn("cumnn", coalesce(sum($"nn").over(w), lit(0L)))
        .select($"np", $"nn",
          ($"np" * (lit(2L) * $"cumnn" + $"nn")).cast(Dec380).as("c2"))
      c.agg(sum($"np").as("n_pos"), sum($"nn").as("n_neg"),
          sum($"c2").as("s2"))
        .select($"n_pos", $"n_neg",
          when($"n_pos" > 0 && $"n_neg" > 0,
            dround($"s2".cast("double") / 2.0 / $"n_pos" / $"n_neg", 6))
            .as("auc"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS pc FROM events " +
      "WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
      "l AS (SELECT pc, CAST(SUM(y) AS BIGINT) AS np, " +
      "CAST(SUM(1 - y) AS BIGINT) AS nn FROM e GROUP BY 1), " +
      "c AS (SELECT np, nn, COALESCE(CAST(SUM(nn) OVER " +
      "(ORDER BY pc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
      "AS BIGINT), 0) AS cumnn FROM l), " +
      "t AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos, " +
      "CAST(SUM(nn) AS BIGINT) AS n_neg, " +
      "SUM(CAST(np AS HUGEINT) * (2 * cumnn + nn)) AS s2 FROM c) " +
      "SELECT n_pos, n_neg, " +
      "CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
      OSql.sround("CAST(s2 AS DOUBLE) / 2.0 / n_pos / n_neg", 6) +
      " END AS auc FROM t"))

  // ------------------------------------------------------------------
  // stat_spearman_rho — Spearman rank correlation between each type's
  // daily event count and daily total value ("do busy days carry
  // proportionally more money?"): the monotone-association number
  // that ignores the value scale `agg_corr`'s Pearson is chained to.
  // Tie-aware AVERAGE ranks in exact ×2 basis — r₂ = 2·rank + peers − 1
  // (rank() + a peer count, both off the same bounded window) — then
  // Pearson over the integer rank pairs: five exact BIGINT moments,
  // ρ one double formula with factors cast to double BEFORE the
  // products. Windows partition by TYPE over the calendar-bounded
  // daily rollup, never fact rows; <2-day types or zero rank variance
  // emit NULL.
  // ------------------------------------------------------------------

  private val statSpearmanRho = Q(
    "stat_spearman_rho",
    (s, d) => {
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy($"event_type",
          expr(Det.fdivExpr("ms", "86400000")).as("day"))
        // coalesce: an all-NULL-value day must rank as 0, not ride a
        // NULL through the rank windows (Spark sorts NULLS FIRST,
        // DuckDB windows sort NULLS LAST — the one divergent default)
        .agg(count(lit(1)).as("cnt"),
          coalesce(sum(round($"value" * 100).cast("long")), lit(0L))
            .as("vsum"))
      def r2(v: String) = {
        val wr = Window.partitionBy($"event_type").orderBy(col(v).asc)
        val wp = Window.partitionBy($"event_type", col(v))
        lit(2L) * rank().over(wr) + count(lit(1)).over(wp) - lit(1L)
      }
      val ranked = daily
        .withColumn("rx", r2("cnt"))
        .withColumn("ry", r2("vsum"))
      val m = ranked.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum($"rx").as("sx"), sum($"ry").as("sy"),
        sum($"rx" * $"rx").as("sxx"), sum($"ry" * $"ry").as("syy"),
        sum($"rx" * $"ry").as("sxy"))
      m.select($"event_type", $"n",
          when($"n" > 1 &&
            ($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx") *
              ($"n".cast("double") * $"syy" - $"sy".cast("double") * $"sy")
              > 0.0,
            dround(($"n".cast("double") * $"sxy"
              - $"sx".cast("double") * $"sy")
              / sqrt(($"n".cast("double") * $"sxx"
                - $"sx".cast("double") * $"sx")
                * ($"n".cast("double") * $"syy"
                  - $"sy".cast("double") * $"sy")), 6)).as("rho"))
        .orderBy("event_type")
    },
    Some("WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "CAST(count(*) AS BIGINT) AS cnt, " +
      "COALESCE(CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT), 0) " +
      "AS vsum FROM events GROUP BY 1, 2), " +
      "r AS (SELECT event_type, " +
      "2 * rank() OVER (PARTITION BY event_type ORDER BY cnt) " +
      "+ count(*) OVER (PARTITION BY event_type, cnt) - 1 AS rx, " +
      "2 * rank() OVER (PARTITION BY event_type ORDER BY vsum) " +
      "+ count(*) OVER (PARTITION BY event_type, vsum) - 1 AS ry " +
      "FROM daily), " +
      "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy, " +
      "CAST(SUM(rx * rx) AS BIGINT) AS sxx, " +
      "CAST(SUM(ry * ry) AS BIGINT) AS syy, " +
      "CAST(SUM(rx * ry) AS BIGINT) AS sxy FROM r GROUP BY 1) " +
      "SELECT event_type, n, " +
      "CASE WHEN n > 1 AND " +
      "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
      "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0 THEN " +
      OSql.sround("(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
        "sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
        "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))", 6) +
      " END AS rho FROM m ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_power_twoprop — two-proportion sample-size calculator: the
  // experiment PLANNER next to the verdicts (`stat_welch_ttest` tells
  // you whether the archive's lift is significant; this tells you how
  // many users per arm the NEXT experiment needs to detect the same
  // lift at α = .05 two-sided / 80% power). Conversion = cents ≥ 5000
  // (the `eval_mcc` rule), arms by user parity; n/arm =
  // (z_{.975}·√(2p̄q̄) + z_{.80}·√(p₁q₁+p₂q₂))² / (p₁−p₂)² with the two
  // z constants as fixed literals and every input an exact long — one
  // double formula with identical text; a zero observed lift emits
  // NULL (no finite n detects it), reported as a 4dp double rather
  // than a ceil'd integer so no engine ever rounds across a boundary.
  // ------------------------------------------------------------------

  private val statPowerTwoprop = Q(
    "stat_power_twoprop",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"user_id".isNotNull)
        .select($"event_type", pmod($"user_id", lit(2L)).as("g"),
          (round($"value" * 100).cast("long") >= 5000L).cast("long").as("y"))
      val m = e.groupBy("event_type").agg(
        sum(when($"g" === 0, 1L).otherwise(0L)).as("na"),
        sum(when($"g" === 1, 1L).otherwise(0L)).as("nb"),
        sum(when($"g" === 0, $"y").otherwise(0L)).as("ca"),
        sum(when($"g" === 1, $"y").otherwise(0L)).as("cb"))
      m.withColumn("p1", $"ca".cast("double") / $"na")
        .withColumn("p2", $"cb".cast("double") / $"nb")
        .withColumn("pbar",
          ($"ca" + $"cb").cast("double") / ($"na" + $"nb"))
        .select($"event_type", $"na", $"nb",
          dround($"p1", 6).as("p1"), dround($"p2", 6).as("p2"),
          when($"na" > 0 && $"nb" > 0 && $"p1" =!= $"p2",
            dround(pow(lit(1.959964) * sqrt(lit(2.0) * $"pbar" * (lit(1.0) - $"pbar"))
              + lit(0.841621) * sqrt($"p1" * (lit(1.0) - $"p1")
                + $"p2" * (lit(1.0) - $"p2")), 2.0)
              / (($"p1" - $"p2") * ($"p1" - $"p2")), 4))
            .as("n_per_arm"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, abs(user_id % 2) AS g, " +
      "CAST(CAST(round(value*100) AS BIGINT) >= 5000 AS BIGINT) AS y " +
      "FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL), " +
      "m AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
      "CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
      "CAST(SUM(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(SUM(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS cb " +
      "FROM e GROUP BY 1), " +
      "r AS (SELECT event_type, na, nb, " +
      "CAST(ca AS DOUBLE) / na AS p1, CAST(cb AS DOUBLE) / nb AS p2, " +
      "CAST(ca + cb AS DOUBLE) / (na + nb) AS pbar FROM m) " +
      "SELECT event_type, na, nb, " +
      OSql.sround("p1", 6) + " AS p1, " + OSql.sround("p2", 6) + " AS p2, " +
      "CASE WHEN na > 0 AND nb > 0 AND p1 <> p2 THEN " +
      OSql.sround("pow(1.959964 * sqrt(2.0 * pbar * (1.0 - pbar)) " +
        "+ 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2.0) " +
        "/ ((p1 - p2) * (p1 - p2))", 4) +
      " END AS n_per_arm FROM r ORDER BY 1"))

  // ------------------------------------------------------------------
  // eval_lift_deciles — the decile lift table of the purchase
  // forecast: rank the population by score, cut it into tenths, and
  // report each tenth's response rate against the base rate — the
  // targeting report a campaign owner reads (AUC says the ranking is
  // good; the lift table says WHERE to cut it). Same bounded
  // cent-value LEDGER as `eval_auc` (never a fact-row rank): the
  // cumulative-count window assigns every ledger value its decile by
  // position ((cum_before·10) div N — ties stay in one decile,
  // deterministic in both engines), the per-decile rollup is exact
  // longs, and lift = rate/base computes as one integer-ratio double
  // n⁺·N / (n·N⁺). Zero positives overall emit NULL lifts.
  // ------------------------------------------------------------------

  private val evalLiftDeciles = Q(
    "eval_lift_deciles",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"event_type".isNotNull)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("pc"))
      val led = e.groupBy("pc").agg(
        count(lit(1)).as("n"), sum($"y").as("np"))
      val w = Window.orderBy($"pc".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = led.agg(sum($"n").as("nt"), sum($"np").as("npt"))
      led
        .withColumn("cumb", coalesce(sum($"n").over(w), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("(cumb * 10) div nt").cast("long") + 1L)
        .groupBy("decile").agg(
          sum($"n").as("n"), sum($"np").as("n_pos"),
          max($"nt").as("nt"), max($"npt").as("npt"))
        .select($"decile", $"n", $"n_pos",
          dround($"n_pos".cast("double") / $"n", 6).as("rate"),
          when($"npt" > 0,
            dround($"n_pos".cast("double") * $"nt" / ($"n" * $"npt"), 6))
            .as("lift"))
        .orderBy("decile")
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS pc FROM events " +
      "WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
      "l AS (SELECT pc, count(*) AS n, CAST(SUM(y) AS BIGINT) AS np " +
      "FROM e GROUP BY 1), " +
      "t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, " +
      "CAST(SUM(np) AS BIGINT) AS npt FROM l), " +
      "c AS (SELECT pc, n, np, COALESCE(CAST(SUM(n) OVER " +
      "(ORDER BY pc DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
      "AS BIGINT), 0) AS cumb FROM l), " +
      "dec AS (SELECT (cumb * 10) // nt + 1 AS decile, n, np, nt, npt " +
      "FROM c CROSS JOIN t) " +
      "SELECT CAST(decile AS BIGINT) AS decile, " +
      "CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(np) AS BIGINT) AS n_pos, " +
      OSql.sround("CAST(SUM(np) AS DOUBLE) / SUM(n)", 6) + " AS rate, " +
      "CASE WHEN MAX(npt) > 0 THEN " +
      OSql.sround("CAST(SUM(np) AS DOUBLE) * MAX(nt) / (SUM(n) * MAX(npt))", 6) +
      " END AS lift FROM dec GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_tost_equivalence — two one-sided tests (TOST): the mirror
  // image of `stat_welch_ttest`'s question. Welch asks "is there a
  // difference?"; TOST asks "can we PROVE there is practically NONE?"
  // — the A/B methodology for no-regression launches (failing to
  // reject a difference is not evidence of equivalence). Margin δ =
  // 10% of the pooled mean; both one-sided statistics t⁻ = (d+δ)/se
  // and t⁺ = (δ−d)/se use the same Welch standard error off the same
  // conditional exact-moment collapse; equivalent ⇔ min(t⁻, t⁺) >
  // 1.644854 (the large-df z approximation, stated as such).
  // Degenerate arms emit NULLs and a NULL verdict, never ±inf.
  // ------------------------------------------------------------------

  private val statTostEquivalence = Q(
    "stat_tost_equivalence",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .filter($"value".isNotNull && $"user_id".isNotNull)
        .select($"event_type", pmod($"user_id", lit(2L)).as("g"),
          round($"value" * 100).cast("long").as("v"))
      val m = v.groupBy("event_type").agg(
        sum(when($"g" === 0, 1L).otherwise(0L)).as("na"),
        sum(when($"g" === 1, 1L).otherwise(0L)).as("nb"),
        sum(when($"g" === 0, $"v").cast(Dec380)).cast("double").as("s1a"),
        sum(when($"g" === 0, $"v" * $"v").cast(Dec380)).cast("double").as("s2a"),
        sum(when($"g" === 1, $"v").cast(Dec380)).cast("double").as("s1b"),
        sum(when($"g" === 1, $"v" * $"v").cast(Dec380)).cast("double").as("s2b"))
      m.withColumn("va", when($"na" > 1,
          ($"s2a" - $"s1a" * $"s1a" / $"na") / ($"na" - 1)))
        .withColumn("vb", when($"nb" > 1,
          ($"s2b" - $"s1b" * $"s1b" / $"nb") / ($"nb" - 1)))
        .withColumn("se", when($"va".isNotNull && $"vb".isNotNull,
          sqrt($"va" / $"na" + $"vb" / $"nb")))
        .withColumn("dm", $"s1a" / $"na" - $"s1b" / $"nb")
        .withColumn("delta",
          ($"s1a" + $"s1b") / ($"na" + $"nb") * 0.1)
        .select($"event_type", $"na", $"nb",
          dround($"dm" / 100.0, 6).as("diff"),
          dround($"delta" / 100.0, 6).as("margin"),
          when($"se" > 0, dround(($"dm" + $"delta") / $"se", 6)).as("t_lower"),
          when($"se" > 0, dround(($"delta" - $"dm") / $"se", 6)).as("t_upper"),
          when($"se" > 0,
            ($"dm" + $"delta") / $"se" > 1.644854 &&
              ($"delta" - $"dm") / $"se" > 1.644854).as("equivalent"))
        .orderBy("event_type")
    },
    Some("WITH v AS (SELECT event_type, abs(user_id % 2) AS g, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events " +
      "WHERE value IS NOT NULL AND user_id IS NOT NULL), " +
      "m AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
      "CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
      "CAST(SUM(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) END) AS DOUBLE) AS s1a, " +
      "CAST(SUM(CASE WHEN g = 0 THEN CAST(v AS HUGEINT) * v END) AS DOUBLE) AS s2a, " +
      "CAST(SUM(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) END) AS DOUBLE) AS s1b, " +
      "CAST(SUM(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) * v END) AS DOUBLE) AS s2b " +
      "FROM v GROUP BY 1), " +
      "c AS (SELECT event_type, na, nb, s1a, s1b, " +
      "CASE WHEN na > 1 THEN (s2a - s1a*s1a/na) / (na - 1) END AS va, " +
      "CASE WHEN nb > 1 THEN (s2b - s1b*s1b/nb) / (nb - 1) END AS vb FROM m), " +
      "c2 AS (SELECT event_type, na, nb, " +
      "s1a / na - s1b / nb AS dm, " +
      "(s1a + s1b) / (na + nb) * 0.1 AS delta, " +
      "CASE WHEN va IS NOT NULL AND vb IS NOT NULL THEN " +
      "sqrt(va / na + vb / nb) END AS se FROM c) " +
      "SELECT event_type, na, nb, " +
      OSql.sround("dm / 100.0", 6) + " AS diff, " +
      OSql.sround("delta / 100.0", 6) + " AS margin, " +
      "CASE WHEN se > 0 THEN " + OSql.sround("(dm + delta) / se", 6) +
      " END AS t_lower, " +
      "CASE WHEN se > 0 THEN " + OSql.sround("(delta - dm) / se", 6) +
      " END AS t_upper, " +
      "CASE WHEN se > 0 THEN " +
      "(dm + delta) / se > 1.644854 AND (delta - dm) / se > 1.644854 " +
      "END AS equivalent FROM c2 ORDER BY 1"))

  // ------------------------------------------------------------------
  // eval_youden_threshold — the OPERATING POINT the sweep keys stop
  // short of: the cut maximizing Youden's J = TPR − FPR (`eval_auc`
  // grades the whole ranking; a deployed filter needs ONE threshold).
  // Over the same bounded cent-value ledger: cumulative tp/fp counts
  // at each candidate cut "predict positive ⇔ pc ≥ t", J's argmax
  // taken on the EXACT integer cross-product tp·N⁻ − fp·N⁺ (clearing
  // both denominators — no float in the ordering), ties → the higher
  // (stricter) threshold via max(struct(jq, pc)). One ledger window +
  // one argmax agg; single-class inputs emit a NULL row of rates.
  // ------------------------------------------------------------------

  private val evalYoudenThreshold = Q(
    "eval_youden_threshold",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"event_type".isNotNull)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("pc"))
      val led = e.groupBy("pc").agg(
        sum($"y").as("np"), sum(lit(1L) - $"y").as("nn"))
      // tp(t) = positives with pc ≥ t: a cumulative sum DOWN the ledger
      val w = Window.orderBy($"pc".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = led.agg(sum($"np").as("tpos"), sum($"nn").as("tneg"))
      val cand = led
        .withColumn("tp", sum($"np").over(w))
        .withColumn("fp", sum($"nn").over(w))
        .crossJoin(broadcast(tot))
        .withColumn("jq", $"tp" * $"tneg" - $"fp" * $"tpos")
      cand.agg(max(struct($"jq", $"pc")).as("m"),
          max($"tpos").as("tpos"), max($"tneg").as("tneg"))
        .join(cand.select($"pc", $"tp", $"fp", $"jq"), $"pc" === $"m.pc")
        .select(
          when($"tpos" > 0 && $"tneg" > 0, $"pc").as("threshold_cents"),
          $"tpos", $"tneg",
          when($"tpos" > 0, dround($"tp".cast("double") / $"tpos", 6))
            .as("tpr"),
          when($"tneg" > 0, dround($"fp".cast("double") / $"tneg", 6))
            .as("fpr"),
          when($"tpos" > 0 && $"tneg" > 0,
            dround($"jq".cast("double") / ($"tpos".cast("double") * $"tneg"), 6))
            .as("youden_j"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS pc FROM events " +
      "WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
      "l AS (SELECT pc, CAST(SUM(y) AS BIGINT) AS np, " +
      "CAST(SUM(1 - y) AS BIGINT) AS nn FROM e GROUP BY 1), " +
      "t AS (SELECT CAST(SUM(np) AS BIGINT) AS tpos, " +
      "CAST(SUM(nn) AS BIGINT) AS tneg FROM l), " +
      "c AS (SELECT pc, " +
      "CAST(SUM(np) OVER (ORDER BY pc DESC ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND CURRENT ROW) AS BIGINT) AS tp, " +
      "CAST(SUM(nn) OVER (ORDER BY pc DESC ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND CURRENT ROW) AS BIGINT) AS fp, tpos, tneg " +
      "FROM l CROSS JOIN t), " +
      "j AS (SELECT pc, tp, fp, tpos, tneg, " +
      "tp * tneg - fp * tpos AS jq FROM c), " +
      "best AS (SELECT first(pc ORDER BY jq DESC, pc DESC) AS bpc FROM j) " +
      "SELECT CASE WHEN tpos > 0 AND tneg > 0 THEN pc END AS threshold_cents, " +
      "tpos, tneg, " +
      "CASE WHEN tpos > 0 THEN " + OSql.sround("CAST(tp AS DOUBLE) / tpos", 6) +
      " END AS tpr, " +
      "CASE WHEN tneg > 0 THEN " + OSql.sround("CAST(fp AS DOUBLE) / tneg", 6) +
      " END AS fpr, " +
      "CASE WHEN tpos > 0 AND tneg > 0 THEN " +
      OSql.sround("CAST(jq AS DOUBLE) / (CAST(tpos AS DOUBLE) * tneg)", 6) +
      " END AS youden_j " +
      "FROM j JOIN best ON best.bpc = j.pc"))

  // ------------------------------------------------------------------
  // stat_kendall_tau — Kendall's τ-b between order quantity and
  // discount per returnflag, the CONCORDANCE sibling of
  // `stat_spearman_rho` (Spearman correlates ranks; τ counts pair
  // agreements, and τ-b's tie correction is what makes it honest on
  // heavily-tied business domains like a 50×11 quantity×discount
  // grid). NEVER a row-pair join: the fact collapses map-side to the
  // DOMAIN-BOUNDED (flag, quantity, discount) cell grid (≤550 cells
  // per flag), C−D is the broadcast cell-pair join Σ c₁·c₂·sign(Δy)
  // over x-strict pairs, and the tie terms Σt(t−1) come off the two
  // marginals — every sum lifted to DECIMAL(38,0)/HUGEINT (c₁·c₂ and
  // t² pass 2⁶³ at archive row counts), τ-b = 2·(C−D)/√(A·B) with
  // A = n(n−1)−Σtₓ(tₓ−1), B likewise for y, each factor cast to
  // double BEFORE the product (the eval_mcc overflow discipline).
  // ------------------------------------------------------------------

  private val statKendallTau = Q(
    "stat_kendall_tau",
    (s, d) => {
      import s.implicits._
      val cells = Tables.t(s, d, "lineitem")
        .groupBy($"l_returnflag".as("g"),
          round($"l_quantity" * 100).cast("long").as("x"),
          round($"l_discount" * 100).cast("long").as("y"))
        .agg(count(lit(1)).as("c"))
      val cmd = cells.as("a").join(broadcast(cells.as("b")),
          $"a.g" === $"b.g" && $"a.x" < $"b.x")
        .groupBy($"a.g".as("g"))
        .agg(sum($"a.c".cast(Dec380) * $"b.c" *
          when($"b.y" > $"a.y", 1L).when($"b.y" < $"a.y", -1L)
            .otherwise(0L)).as("cmd"))
      val xm = cells.groupBy($"g", $"x").agg(sum($"c").as("t"))
        .groupBy("g").agg(sum($"t".cast(Dec380) * ($"t" - 1L)).as("tx"),
          sum($"t").cast("long").as("n"))
      val ym = cells.groupBy($"g", $"y").agg(sum($"c").as("t"))
        .groupBy("g").agg(sum($"t".cast(Dec380) * ($"t" - 1L)).as("ty"))
      xm.join(ym, "g").join(cmd, Seq("g"), "left")
        .withColumn("a2", $"n".cast(Dec380) * ($"n" - 1L) - $"tx")
        .withColumn("b2", $"n".cast(Dec380) * ($"n" - 1L) - $"ty")
        .select($"g".as("l_returnflag"), $"n",
          when($"a2" > 0 && $"b2" > 0,
            dround(lit(2.0) * coalesce($"cmd", lit(0L)).cast("double")
              / sqrt($"a2".cast("double") * $"b2".cast("double")), 6))
            .as("tau_b"))
        .orderBy("l_returnflag")
    },
    Some("WITH li AS (SELECT l_returnflag AS g, " +
      "CAST(round(l_quantity*100) AS BIGINT) AS x, " +
      "CAST(round(l_discount*100) AS BIGINT) AS y FROM lineitem), " +
      "cells AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS c " +
      "FROM li GROUP BY 1, 2, 3), " +
      "cd AS (SELECT a.g, SUM(CAST(a.c AS HUGEINT) * b.c * " +
      "(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)) " +
      "AS cmd FROM cells a JOIN cells b ON a.g = b.g AND a.x < b.x " +
      "GROUP BY 1), " +
      "xm AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS tx, " +
      "CAST(SUM(t) AS BIGINT) AS n FROM " +
      "(SELECT g, x, SUM(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1), " +
      "ym AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS ty FROM " +
      "(SELECT g, y, SUM(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1), " +
      "f AS (SELECT xm.g, xm.n, cd.cmd, " +
      "CAST(xm.n AS HUGEINT) * (xm.n - 1) - xm.tx AS a2, " +
      "CAST(xm.n AS HUGEINT) * (xm.n - 1) - ym.ty AS b2 " +
      "FROM xm JOIN ym ON xm.g = ym.g LEFT JOIN cd ON cd.g = xm.g) " +
      "SELECT g AS l_returnflag, n, " +
      "CASE WHEN a2 > 0 AND b2 > 0 THEN " +
      OSql.sround("2.0 * CAST(COALESCE(cmd, 0) AS DOUBLE) " +
        "/ sqrt(CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE))", 6) +
      " END AS tau_b FROM f ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_proportions_ztest — the two-proportion z VERDICT the planner
  // `stat_power_twoprop` sizes for, on the SAME arms and conversion
  // rule (user-parity split, convert ⇔ cents ≥ 5000): pooled
  // z = (p₁−p₂)/√(p̄q̄(1/n₁+1/n₂)), two-sided at α=.05 (|z| > 1.959964).
  // Counts collapse map-side to one exact-long row per type; the
  // z and the verdict are one fixed-text double formula. Degenerate
  // pools (p̄ ∈ {0, 1}) and empty arms emit NULL, never a 0/0.
  // ------------------------------------------------------------------

  private val statProportionsZtest = Q(
    "stat_proportions_ztest",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"value".isNotNull && $"user_id".isNotNull)
        .select($"event_type", pmod($"user_id", lit(2L)).as("g"),
          (round($"value" * 100).cast("long") >= 5000L).cast("long").as("y"))
      val m = e.groupBy("event_type").agg(
        sum(when($"g" === 0, 1L).otherwise(0L)).as("na"),
        sum(when($"g" === 1, 1L).otherwise(0L)).as("nb"),
        sum(when($"g" === 0, $"y").otherwise(0L)).as("ca"),
        sum(when($"g" === 1, $"y").otherwise(0L)).as("cb"))
      m.withColumn("p1", $"ca".cast("double") / $"na")
        .withColumn("p2", $"cb".cast("double") / $"nb")
        .withColumn("pbar", ($"ca" + $"cb").cast("double") / ($"na" + $"nb"))
        .withColumn("z",
          when($"na" > 0 && $"nb" > 0 && $"pbar" > 0.0 && $"pbar" < 1.0,
            ($"p1" - $"p2") / sqrt($"pbar" * (lit(1.0) - $"pbar")
              * (lit(1.0) / $"na" + lit(1.0) / $"nb"))))
        .select($"event_type", $"na", $"nb", $"ca", $"cb",
          dround($"z", 6).as("z"),
          when($"z".isNotNull, abs($"z") > 1.959964).as("significant"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, abs(user_id % 2) AS g, " +
      "CAST(CAST(round(value*100) AS BIGINT) >= 5000 AS BIGINT) AS y " +
      "FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL), " +
      "m AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
      "CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
      "CAST(SUM(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(SUM(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS cb " +
      "FROM e GROUP BY 1), " +
      "r AS (SELECT event_type, na, nb, ca, cb, " +
      "CAST(ca AS DOUBLE) / na AS p1, CAST(cb AS DOUBLE) / nb AS p2, " +
      "CAST(ca + cb AS DOUBLE) / (na + nb) AS pbar FROM m), " +
      "zz AS (SELECT event_type, na, nb, ca, cb, " +
      "CASE WHEN na > 0 AND nb > 0 AND pbar > 0.0 AND pbar < 1.0 THEN " +
      "(p1 - p2) / sqrt(pbar * (1.0 - pbar) * (1.0 / na + 1.0 / nb)) " +
      "END AS z FROM r) " +
      "SELECT event_type, na, nb, ca, cb, " +
      OSql.sround("z", 6) + " AS z, " +
      "CASE WHEN z IS NOT NULL THEN abs(z) > 1.959964 END AS significant " +
      "FROM zz ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_wilcoxon_signed_rank — the PAIRED nonparametric test next to
  // `stat_mann_whitney`'s unpaired one: arms pair NATURALLY by day
  // (arm-A daily cents vs arm-B daily cents per type — same parity
  // split as the z-test family), the day-blocked design that cancels
  // day-level seasonality a two-sample test would absorb as noise.
  // Zero diffs drop (the standard Wilcoxon discard), |d| ranks in the
  // exact ×2 average-rank basis (r₂ = 2·rank + peers − 1, the
  // spearman trick), W₂ = Σ r₂ over positive diffs, and the
  // normal approximation carries the FULL tie correction:
  // z = (W₂ − n(n+1)/2) / √((2n(n+1)(2n+1) − Σ(t³−t)) / 12).
  // Every statistic is an exact BIGINT off the calendar-bounded daily
  // ledger; the rank windows partition by type, never fact rows.
  // ------------------------------------------------------------------

  private val statWilcoxonSignedRank = Q(
    "stat_wilcoxon_signed_rank",
    (s, d) => {
      import s.implicits._
      val daily = Tables.events(s, d)
        .filter($"value".isNotNull && $"user_id".isNotNull)
        .groupBy($"event_type",
          expr(Det.fdivExpr("ms", "86400000")).as("day"))
        .agg(
          sum(when(pmod($"user_id", lit(2L)) === 0,
            round($"value" * 100).cast("long")).otherwise(0L)).as("sa"),
          sum(when(pmod($"user_id", lit(2L)) === 1,
            round($"value" * 100).cast("long")).otherwise(0L)).as("sb"),
          sum(when(pmod($"user_id", lit(2L)) === 0, 1L).otherwise(0L))
            .as("ka"),
          sum(when(pmod($"user_id", lit(2L)) === 1, 1L).otherwise(0L))
            .as("kb"))
        .filter($"ka" > 0 && $"kb" > 0)
      val diffs = daily.select($"event_type", ($"sa" - $"sb").as("dd"))
        .filter($"dd" =!= 0L)
        .withColumn("ad", abs($"dd"))
      val wr = Window.partitionBy($"event_type").orderBy($"ad".asc)
      val wp = Window.partitionBy($"event_type", $"ad")
      val m = diffs
        .withColumn("r2",
          lit(2L) * rank().over(wr) + count(lit(1)).over(wp) - lit(1L))
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(when($"dd" > 0, $"r2").otherwise(0L)).as("w2"))
      val ties = diffs.groupBy($"event_type", $"ad")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum($"t" * $"t" * $"t" - $"t").cast("long").as("tt"))
      m.join(ties, "event_type")
        .withColumn("nd", $"n".cast("double"))
        .withColumn("var12",
          lit(2.0) * $"nd" * ($"nd" + 1.0) * (lit(2.0) * $"nd" + 1.0)
            - $"tt".cast("double"))
        .select($"event_type", $"n".as("n_pairs"), $"w2".as("w_plus_x2"),
          when($"var12" > 0.0,
            dround(($"w2".cast("double") - $"nd" * ($"nd" + 1.0) / 2.0)
              / sqrt($"var12" / 12.0), 6)).as("z"))
        .orderBy("event_type")
    },
    Some("WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "CAST(SUM(CASE WHEN abs(user_id % 2) = 0 THEN " +
      "CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sa, " +
      "CAST(SUM(CASE WHEN abs(user_id % 2) = 1 THEN " +
      "CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sb, " +
      "CAST(SUM(CASE WHEN abs(user_id % 2) = 0 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS ka, " +
      "CAST(SUM(CASE WHEN abs(user_id % 2) = 1 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS kb " +
      "FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL " +
      "GROUP BY 1, 2), " +
      "dd AS (SELECT event_type, sa - sb AS dd, abs(sa - sb) AS ad " +
      "FROM daily WHERE ka > 0 AND kb > 0 AND sa - sb <> 0), " +
      "r AS (SELECT event_type, dd, " +
      "2 * rank() OVER (PARTITION BY event_type ORDER BY ad) " +
      "+ count(*) OVER (PARTITION BY event_type, ad) - 1 AS r2 FROM dd), " +
      "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN dd > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2 " +
      "FROM r GROUP BY 1), " +
      "ties AS (SELECT event_type, " +
      "CAST(SUM(t * t * t - t) AS BIGINT) AS tt FROM " +
      "(SELECT event_type, ad, CAST(count(*) AS BIGINT) AS t " +
      "FROM dd GROUP BY 1, 2) GROUP BY 1), " +
      "f AS (SELECT m.event_type, m.n, m.w2, ties.tt, " +
      "CAST(m.n AS DOUBLE) AS nd, " +
      "2.0 * CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) + 1.0) " +
      "* (2.0 * CAST(m.n AS DOUBLE) + 1.0) - CAST(ties.tt AS DOUBLE) " +
      "AS var12 FROM m JOIN ties ON ties.event_type = m.event_type) " +
      "SELECT event_type, n AS n_pairs, w2 AS w_plus_x2, " +
      "CASE WHEN var12 > 0.0 THEN " +
      OSql.sround("(CAST(w2 AS DOUBLE) - nd * (nd + 1.0) / 2.0) " +
        "/ sqrt(var12 / 12.0)", 6) +
      " END AS z FROM f ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_kruskal_wallis — Kruskal–Wallis H across the k event types:
  // the rank-based (nonparametric) sibling of `stat_anova_oneway` —
  // the test a curator reaches for when value distributions are too
  // skewed for F. Tie-averaged GLOBAL ranks stay exact with the
  // `stat_mann_whitney` doubling trick (2·rank is an integer), but
  // here the rank is over the WHOLE sample, so the prefix count runs
  // two-phase over the BOUNDED distinct-cents ledger: a keyed window
  // inside coarse $10 buckets plus the broadcast prefixOffsets merge —
  // no single-partition WindowExec anywhere, even over the ledger.
  // Per-group 2·rank sums R2_g are exact DECIMAL(38,0); each group's
  // R_g²/n_g term is integer-quantized at 10⁶ BEFORE the ≤k-row
  // reduction (the ANOVA trick). Tie correction is exact: ΣT(m³−m)
  // over the ledger, H_c = H·(N³−N)/(N³−N−ΣT) — the denominator
  // computed in exact integers, the cube cast to double only at the
  // final scalar formula, spelled identically in both engines. An
  // all-tied sample (correction denominator 0) yields NULL, never a
  // division error. Effect size ε² = H_c/(N−1).
  // ------------------------------------------------------------------

  private val statKruskalWallis = Q(
    "stat_kruskal_wallis",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .select($"event_type".as("g"), round($"value" * 100).cast("long").as("c"))
      val cnt = v.groupBy("c", "g").agg(count(lit(1)).as("mg"))
      val led = cnt.groupBy("c").agg(sum($"mg").as("m"))
        .withColumn("b", expr(Det.fdivExpr("c", "1000")))
      // two-phase global prefix: keyed window within $10 buckets +
      // broadcast bucket offsets (the interval_concurrency discipline)
      val local = Window.partitionBy($"b").orderBy($"c".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"m").as("n")), "b")
      val ranked = led
        .withColumn("lprev", coalesce(sum($"m").over(local), lit(0L)))
        .join(broadcast(offs), "b")
        .select($"c", $"m", ($"lprev" + $"off").as("cprev"))
      val grp = cnt.join(broadcast(ranked), "c")
        .groupBy("g").agg(
          sum($"mg").as("ng"),
          sum($"mg".cast(Dec380) * (lit(2) * $"cprev" + $"m" + 1)).as("r2g"))
        .withColumn("r2d", $"r2g".cast("double"))
        // floor(R²/n · 1e6 + 0.5) as an exact integer, never through
        // BIGINT: Spark's floor(double) is BIGINT and saturates at 2⁶³
        // (sf0.1 reaches ~5e19) where DuckDB's stays DOUBLE. y − y % 1
        // floors the non-negative double exactly; the 2³² split carries
        // its value into DECIMAL without a double→decimal cast's
        // shortest-repr rounding.
        .withColumn("y", $"r2d" * $"r2d" / (lit(4.0) * $"ng") * lit(1e6) + lit(0.5))
        .withColumn("fy", $"y" - $"y" % lit(1.0))
        .withColumn("hi", floor($"fy" / lit(4294967296.0)))
        .withColumn("tq", $"hi".cast(Dec380) * lit(4294967296L) +
          ($"fy" - $"hi" * lit(4294967296.0)).cast("long"))
      val ties = led.agg(
        sum($"m".cast(Dec380) * $"m" * $"m" - $"m").as("ts3"))
      grp.agg(count(lit(1)).as("k"), sum($"ng").as("n"),
          (sum($"tq").cast("double") / lit(1e6)).as("td"))
        .crossJoin(ties)
        .withColumn("nd", $"n".cast("double"))
        .withColumn("h",
          lit(12.0) * $"td" / ($"nd" * ($"nd" + 1)) - lit(3.0) * ($"nd" + 1))
        .withColumn("tcd",
          ($"n".cast(Dec380) * $"n" * $"n" - $"n" - $"ts3").cast("double"))
        // ANSI raises DIVIDE_BY_ZERO even on doubles: the correction
        // division only evaluates under the tcd > 0 guard
        .withColumn("hc",
          when($"tcd" > 0, $"h" * ($"nd" * $"nd" * $"nd" - $"nd") / $"tcd"))
        .select($"k", $"n",
          when($"k" > 1 && $"n" > 1 && $"tcd" > 0,
            dround($"hc", 6)).as("h_stat"),
          when($"k" > 1 && $"n" > 1 && $"tcd" > 0,
            dround($"hc" / ($"nd" - 1), 6)).as("eps_sq"))
    },
    Some("WITH v AS (SELECT event_type AS g, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events), " +
      "cnt AS (SELECT c, g, CAST(count(*) AS BIGINT) AS mg " +
      "FROM v GROUP BY 1, 2), " +
      "led AS (SELECT c, CAST(SUM(mg) AS BIGINT) AS m FROM cnt GROUP BY 1), " +
      "r AS (SELECT c, m, COALESCE(SUM(m) OVER (ORDER BY c ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev " +
      "FROM led), " +
      "grp AS (SELECT g, CAST(SUM(mg) AS BIGINT) AS ng, " +
      "SUM(CAST(mg AS HUGEINT) * (2*cprev + m + 1)) AS r2g " +
      "FROM cnt JOIN r USING (c) GROUP BY 1), " +
      "g2 AS (SELECT ng, CAST(floor(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE) " +
      "/ (4.0 * ng) * 1e6 + 0.5) AS HUGEINT) AS tq FROM grp), " +
      "ties AS (SELECT SUM(CAST(m AS HUGEINT)*m*m - m) AS ts3 FROM led), " +
      "mm AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(tq) AS DOUBLE) / 1e6 AS td " +
      "FROM g2), " +
      "x AS (SELECT k, n, CAST(n AS DOUBLE) AS nd, " +
      "12.0 * td / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) " +
      "- 3.0 * (CAST(n AS DOUBLE) + 1) AS h, " +
      "CAST(CAST(n AS HUGEINT)*n*n - n - ts3 AS DOUBLE) AS tcd " +
      "FROM mm, ties), " +
      "y AS (SELECT k, n, nd, tcd, CASE WHEN tcd > 0 THEN " +
      "h * (nd*nd*nd - nd) / tcd END AS hc FROM x) " +
      "SELECT k, n, " +
      "CASE WHEN k > 1 AND n > 1 AND tcd > 0 THEN " +
      OSql.sround("hc", 6) + " END AS h_stat, " +
      "CASE WHEN k > 1 AND n > 1 AND tcd > 0 THEN " +
      OSql.sround("hc / (nd - 1)", 6) + " END AS eps_sq FROM y"))

  // ------------------------------------------------------------------
  // eval_mcnemar — McNemar's paired test comparing TWO classifiers on
  // the SAME examples, the missing member of the eval family (the
  // two-proportion z test compares independent arms; model A vs model
  // B on one eval set is PAIRED, and only the discordant pairs carry
  // information). Classifier A is the family's value-as-score rule
  // (v ≥ $50); classifier B is a user-level prior — "this user's
  // overall mean event value is ≥ $50" — spelled as the exact integer
  // cross-multiplication Σv ≥ 5000·n (no float mean). The per-user
  // profile is ONE fact-keyed shuffle join (both sides hash on
  // user_id; at 100 TB the profile outgrows a broadcast, the
  // co-keyed join is the honest linear plan); NULL-user rows keep
  // classifier A and default B to "no" via the left join + coalesce.
  // The 2×2 agreement table collapses MAP-SIDE to one row; the
  // continuity-corrected statistic (|b−c|−1)²/(b+c) guards b=c=0 with
  // NULL and floors |b−c|−1 at 0 so an exactly-tied table scores 0,
  // not a spurious 1/(b+c).
  // ------------------------------------------------------------------

  private val evalMcnemar = Q(
    "eval_mcnemar",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"user_id",
          ($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
      val prof = e.filter($"user_id".isNotNull)
        .groupBy("user_id").agg(
          sum($"v".cast(Dec380)).as("sv"), count(lit(1)).as("nu"))
      val j = e.join(prof, Seq("user_id"), "left_outer")
        .withColumn("pa", ($"v" >= 5000).cast("long"))
        .withColumn("pb",
          coalesce(($"sv" >= $"nu".cast(Dec380) * 5000).cast("long"), lit(0L)))
        .withColumn("ca", ($"pa" === $"y").cast("long"))
        .withColumn("cb", ($"pb" === $"y").cast("long"))
      j.agg(
          count(lit(1)).as("n"),
          sum($"ca" * $"cb").as("n11"),
          sum($"ca" * (lit(1) - $"cb")).as("n10"),
          sum((lit(1) - $"ca") * $"cb").as("n01"),
          sum((lit(1) - $"ca") * (lit(1) - $"cb")).as("n00"))
        .select($"n", $"n11", $"n10", $"n01", $"n00",
          dround(($"n11" + $"n10").cast("double") / $"n", 6).as("acc_a"),
          dround(($"n11" + $"n01").cast("double") / $"n", 6).as("acc_b"),
          when($"n10" + $"n01" > 0,
            dround(greatest(abs($"n10" - $"n01") - 1, lit(0L)).cast("double")
              * greatest(abs($"n10" - $"n01") - 1, lit(0L))
              / ($"n10" + $"n01"), 6)).as("chi2_cc"))
    },
    Some("WITH e AS (SELECT user_id, " +
      "CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "prof AS (SELECT user_id, SUM(CAST(v AS HUGEINT)) AS sv, " +
      "CAST(count(*) AS BIGINT) AS nu FROM e " +
      "WHERE user_id IS NOT NULL GROUP BY 1), " +
      "jj AS (SELECT e.y, CAST(e.v >= 5000 AS BIGINT) AS pa, " +
      "COALESCE(CAST(prof.sv >= CAST(prof.nu AS HUGEINT) * 5000 AS BIGINT), 0) " +
      "AS pb FROM e LEFT JOIN prof ON e.user_id = prof.user_id), " +
      "cc AS (SELECT CAST(pa = y AS BIGINT) AS ca, " +
      "CAST(pb = y AS BIGINT) AS cb FROM jj), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(ca * cb) AS BIGINT) AS n11, " +
      "CAST(SUM(ca * (1 - cb)) AS BIGINT) AS n10, " +
      "CAST(SUM((1 - ca) * cb) AS BIGINT) AS n01, " +
      "CAST(SUM((1 - ca) * (1 - cb)) AS BIGINT) AS n00 FROM cc) " +
      "SELECT n, n11, n10, n01, n00, " +
      OSql.sround("CAST(n11 + n10 AS DOUBLE) / n", 6) + " AS acc_a, " +
      OSql.sround("CAST(n11 + n01 AS DOUBLE) / n", 6) + " AS acc_b, " +
      "CASE WHEN n10 + n01 > 0 THEN " +
      OSql.sround("CAST(GREATEST(abs(n10 - n01) - 1, 0) AS DOUBLE) " +
        "* GREATEST(abs(n10 - n01) - 1, 0) / (n10 + n01)", 6) +
      " END AS chi2_cc FROM t"))

  // ------------------------------------------------------------------
  // stat_jarque_bera — Jarque–Bera normality test per event type: the
  // moment-based gate (JB = n/6·(g1² + g2²/4), g1 = skewness, g2 =
  // excess kurtosis) a curator runs before reaching for z-scores or
  // t-tests that ASSUME normality — heavy-tailed value distributions
  // (g2 ≫ 0) send you to the rank-based siblings (mann_whitney,
  // kruskal_wallis) instead. One map-side pass collapses the fact to
  // exact DECIMAL(38,0)/HUGEINT power sums S1..S4 per type; the
  // variance numerator m2n = n·S2 − S1² stays an exact integer (≤
  // ~10³⁴ even at 10¹² rows/group — it survives 100 TB and drives
  // the constant-series guard), while the m3/m4 numerators (n²·S3
  // and n³·S4 would overflow both DECIMAL(38) and int128 long before
  // that) are ONE double formula each over the casted exact integers,
  // spelled identically in both engines (IEEE mult/add make that
  // bit-reproducible). The 1.5-power is m2·sqrt(m2) — sqrt is
  // correctly rounded everywhere; libm pow is not. A constant series
  // (m2n = 0) yields NULL stats under the guard, never a division
  // error.
  // ------------------------------------------------------------------

  private val statJarqueBera = Q(
    "stat_jarque_bera",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .select($"event_type", round($"value" * 100).cast("long").as("c"))
      val m = v.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum($"c".cast(Dec380)).as("s1"),
        sum($"c".cast(Dec380) * $"c").as("s2"),
        sum($"c".cast(Dec380) * $"c" * $"c").as("s3"),
        sum($"c".cast(Dec380) * $"c" * $"c" * $"c").as("s4"))
      val nd = $"n".cast("double")
      val s1d = $"s1".cast("double"); val s2d = $"s2".cast("double")
      val s3d = $"s3".cast("double"); val s4d = $"s4".cast("double")
      val withM = m
        .withColumn("m2n", ($"n".cast(Dec380) * $"s2" - $"s1" * $"s1"))
        .withColumn("m2d", $"m2n".cast("double"))
        .withColumn("m3d",
          nd * nd * s3d - lit(3.0) * nd * s1d * s2d +
            lit(2.0) * s1d * s1d * s1d)
        .withColumn("m4d",
          nd * nd * nd * s4d - lit(4.0) * nd * nd * s1d * s3d +
            lit(6.0) * nd * s1d * s1d * s2d - lit(3.0) * s1d * s1d * s1d * s1d)
        .withColumn("g1",
          when($"m2n" > 0, $"m3d" / ($"m2d" * sqrt($"m2d"))))
        .withColumn("g2",
          when($"m2n" > 0, $"m4d" / ($"m2d" * $"m2d") - lit(3.0)))
      withM.select($"event_type", $"n",
          dround($"g1", 6).as("skewness"),
          dround($"g2", 6).as("kurtosis_excess"),
          dround(nd / lit(6.0) * ($"g1" * $"g1" + $"g2" * $"g2" / lit(4.0)), 6)
            .as("jb_stat"))
        .orderBy("event_type")
    },
    Some("WITH v AS (SELECT event_type, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events), " +
      "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "SUM(CAST(c AS HUGEINT)) AS s1, SUM(CAST(c AS HUGEINT)*c) AS s2, " +
      "SUM(CAST(c AS HUGEINT)*c*c) AS s3, " +
      "SUM(CAST(c AS HUGEINT)*c*c*c) AS s4 FROM v GROUP BY 1), " +
      "x AS (SELECT event_type, n, " +
      "CAST(n AS HUGEINT)*s2 - s1*s1 AS m2n, " +
      "CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d, " +
      "CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d, " +
      "CAST(s4 AS DOUBLE) AS s4d FROM m), " +
      "y AS (SELECT event_type, n, nd, m2n, CAST(m2n AS DOUBLE) AS m2d, " +
      "nd*nd*s3d - 3.0*nd*s1d*s2d + 2.0*s1d*s1d*s1d AS m3d, " +
      "nd*nd*nd*s4d - 4.0*nd*nd*s1d*s3d + 6.0*nd*s1d*s1d*s2d " +
      "- 3.0*s1d*s1d*s1d*s1d AS m4d FROM x), " +
      "z AS (SELECT event_type, n, nd, " +
      "CASE WHEN m2n > 0 THEN m3d / (m2d * sqrt(m2d)) END AS g1, " +
      "CASE WHEN m2n > 0 THEN m4d / (m2d * m2d) - 3.0 END AS g2 FROM y) " +
      "SELECT event_type, n, " +
      OSql.sround("g1", 6) + " AS skewness, " +
      OSql.sround("g2", 6) + " AS kurtosis_excess, " +
      OSql.sround("nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0)", 6) +
      " AS jb_stat FROM z ORDER BY event_type"))

  // ------------------------------------------------------------------
  // eval_calibration_ece — Expected / Maximum Calibration Error, the
  // scalar verdict on top of `eval_calibration`'s reliability table
  // (the table shows WHERE the value-as-probability rule miscalibrates;
  // ECE answers "by how much overall", MCE "how bad is the worst
  // bin"). Probability = clamp(cents, 0, 10000)/10000, ten fixed 0.1
  // bins. The whole ECE stays ONE exact integer until a single final
  // division: per bin |acc_b − conf_b|·n_b/N = |10000·A_b − C_b| /
  // (10000·N) with A_b = Σy and C_b = Σ clamped cents both exact
  // BIGINTs, so ECE = Σ_b|10000·A_b − C_b| / (10000·N) — the
  // numerator sums order-independently, no per-bin float ever enters
  // a cross-bin reduction. MCE is a max (order-independent) over
  // per-bin single divisions spelled identically in both engines.
  // Bins collapse map-side to ≤10 rows; one row out.
  // ------------------------------------------------------------------

  private val evalCalibrationEce = Q(
    "eval_calibration_ece",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          greatest(least(round($"value" * 100).cast("long"), lit(10000L)),
            lit(0L)).as("pc"))
        .withColumn("bin", least(expr("pc div 1000"), lit(9L)))
      val bins = e.groupBy("bin").agg(
        count(lit(1)).as("nb"),
        sum($"y").as("ab"),
        sum($"pc").as("cb"))
        .withColumn("gap", abs(lit(10000L) * $"ab" - $"cb"))
      bins.agg(
          sum($"nb").as("n"),
          count(lit(1)).as("n_bins"),
          sum($"gap".cast(Dec380)).as("gsum"),
          max($"gap".cast("double") / (lit(10000.0) * $"nb")).as("mce"))
        .select($"n", $"n_bins",
          dround($"gsum".cast("double") / (lit(10000.0) * $"n"), 6).as("ece"),
          dround($"mce", 6).as("mce"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "GREATEST(LEAST(CAST(round(value*100) AS BIGINT), 10000), 0) AS pc " +
      "FROM events), " +
      "b AS (SELECT LEAST(pc // 1000, 9) AS bin, " +
      "CAST(count(*) AS BIGINT) AS nb, CAST(SUM(y) AS BIGINT) AS ab, " +
      "CAST(SUM(pc) AS BIGINT) AS cb FROM e GROUP BY 1), " +
      "g AS (SELECT bin, nb, abs(10000 * ab - cb) AS gap FROM b) " +
      "SELECT CAST(SUM(nb) AS BIGINT) AS n, " +
      "CAST(count(*) AS BIGINT) AS n_bins, " +
      OSql.sround("CAST(SUM(CAST(gap AS HUGEINT)) AS DOUBLE) " +
        "/ (10000.0 * SUM(nb))", 6) + " AS ece, " +
      OSql.sround("MAX(CAST(gap AS DOUBLE) / (10000.0 * nb))", 6) +
      " AS mce FROM g"))

  // ------------------------------------------------------------------
  // eval_demographic_parity — positive-rate parity audit of the
  // value-as-score classifier across user cohorts (pmod(user_id, 5) —
  // the stand-in for any protected segment column): the fairness
  // pre-screen a training pipeline runs before a labeling rule ships.
  // Per cohort the positive rate is an exact floor-quantized integer
  // rq = (10⁶·pos) div n (non-negative, so floor = trunc in both
  // engines); the parity gap max(rq) − min(rq) is then EXACT integer
  // arithmetic over the ≤5-row cohort ledger — no float ever crosses
  // rows. The fact collapses map-side to the cohort ledger; the gap
  // arrives back by a broadcast 1-row cross join.
  // ------------------------------------------------------------------

  private val evalDemographicParity = Q(
    "eval_demographic_parity",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select(pmod($"user_id", lit(5L)).as("cohort"),
          (round($"value" * 100).cast("long") >= 5000L).cast("long").as("pos"))
      val led = e.groupBy("cohort").agg(
          count(lit(1)).as("n"), sum($"pos").as("n_pos"))
        .withColumn("rq", expr("(1000000 * n_pos) div n"))
      val gap = led.agg(((max($"rq") - min($"rq")).cast("double") / 1e6)
        .as("g"))
      led.crossJoin(broadcast(gap))
        .select($"cohort", $"n", $"n_pos",
          dround($"rq".cast("double") / 1e6, 6).as("pos_rate"),
          dround($"g", 6).as("parity_gap"))
        .orderBy("cohort")
    },
    Some("WITH e AS (SELECT user_id % 5 AS cohort, " +
      "CAST(CAST(round(value*100) AS BIGINT) >= 5000 AS BIGINT) AS pos " +
      "FROM events WHERE user_id IS NOT NULL), " +
      "led AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(pos) AS BIGINT) AS n_pos FROM e GROUP BY 1), " +
      "lq AS (SELECT *, (1000000 * n_pos) // n AS rq FROM led), " +
      "g AS (SELECT CAST(MAX(rq) - MIN(rq) AS DOUBLE) / 1e6 AS g FROM lq) " +
      "SELECT cohort, n, n_pos, " +
      OSql.sround("CAST(rq AS DOUBLE) / 1e6", 6) + " AS pos_rate, " +
      OSql.sround("g", 6) + " AS parity_gap FROM lq, g ORDER BY cohort"))

  // ------------------------------------------------------------------
  // eval_average_precision — Average Precision (the step-interpolated
  // area under the precision-recall curve) of the value-as-score rule:
  // the THRESHOLD-FREE ranking verdict above `eval_pr_sweep`'s 9
  // sampled points (AP is what retrieval and imbalanced-class evals
  // actually report — it weights precision AT each positive, so it is
  // the PR-curve analogue of `eval_auc`). Standard ties-grouped
  // definition over the DESCENDING score ledger: AP = (1/npos)·Σ_v
  // c1_v·P_v with P_v = TP_v/NPRED_v at the tie group's inclusive
  // prefix. The prefix runs TWO-PHASE over the bounded distinct-cents
  // ledger ($10-bucket keyed window + broadcast offsets — the
  // kruskal_wallis discipline, descending spelled as ascending on the
  // NEGATED key so both phases share one direction); each ledger
  // term c1·TP/NPRED is one double division floor-quantized at 10⁹
  // BEFORE the cross-ledger sum, so the reduction is an
  // order-independent exact integer.
  // ------------------------------------------------------------------

  private val evalAveragePrecision = Q(
    "eval_average_precision",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
      // descending prefix = ascending prefix over nv = -v
      val led = e.groupBy("v").agg(
          sum($"y").as("c1"), count(lit(1)).as("m"))
        .withColumn("nv", -$"v")
        .withColumn("b", expr(Det.fdivExpr("nv", "1000")))
      val local = Window.partitionBy($"b").orderBy($"nv".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"m").as("n")), "b")
      val offs1 = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"c1").as("n")), "b")
        .withColumnRenamed("off", "off1")
      val ranked = led
        .withColumn("lm", sum($"m").over(local))
        .withColumn("lc", sum($"c1").over(local))
        .join(broadcast(offs), "b").join(broadcast(offs1), "b")
        .select($"c1", ($"lm" + $"off").as("npred"),
          ($"lc" + $"off1").as("tp"))
      val terms = ranked.filter($"c1" > 0)
        .select(floor($"c1".cast("double") * $"tp" / $"npred" * lit(1e9)
          + lit(0.5)).cast(Dec380).as("tq"))
      val tot = e.agg(sum($"y").as("npos"), count(lit(1)).as("n"))
      terms.agg(sum($"tq").as("tsum")).crossJoin(broadcast(tot))
        .select($"n", $"npos",
          when($"npos" > 0,
            dround($"tsum".cast("double") / (lit(1e9) * $"npos"), 6))
            .as("avg_precision"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "led AS (SELECT v, CAST(SUM(y) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS m FROM e GROUP BY 1), " +
      "r AS (SELECT c1, SUM(m) OVER (ORDER BY v DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS npred, " +
      "SUM(c1) OVER (ORDER BY v DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp FROM led), " +
      "t AS (SELECT CAST(floor(CAST(c1 AS DOUBLE) * tp / npred * 1e9 + 0.5) " +
      "AS HUGEINT) AS tq FROM r WHERE c1 > 0), " +
      "tot AS (SELECT CAST(SUM(y) AS BIGINT) AS npos, " +
      "CAST(count(*) AS BIGINT) AS n FROM e) " +
      "SELECT n, npos, CASE WHEN npos > 0 THEN " +
      OSql.sround("CAST((SELECT SUM(tq) FROM t) AS DOUBLE) / (1e9 * npos)", 6) +
      " END AS avg_precision FROM tot"))

  // ------------------------------------------------------------------
  // stat_cochran_q — Cochran's Q across THREE paired classifiers on
  // the same rows, the k-classifier generalization of `eval_mcnemar`
  // (two models → discordant pairs; three or more → Q, which reduces
  // to McNemar at k = 2): A = the value-as-score rule (v ≥ $50), B =
  // the user-mean prior (the mcnemar profile join, exact Σv ≥ 5000·n
  // cross-multiplication), C = the event-parity coin flip — the
  // null-ish baseline that keeps the test honest. Q = (k−1)·(k·ΣG² −
  // (ΣG)²) / (k·ΣL − ΣL²) with G_j the per-classifier correct totals
  // and L_i the per-row correct counts: ΣL and ΣL² collapse MAP-SIDE
  // (L ≤ 3 per row), the three G_j are one conditional aggregate, and
  // Q is a single guarded division of exact DECIMAL(38,0)/HUGEINT
  // integers. All-rows-identical agreement (denominator 0) yields
  // NULL, never an error.
  // ------------------------------------------------------------------

  private val statCochranQ = Q(
    "stat_cochran_q",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"user_id", $"event_id",
          ($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
      val prof = e.filter($"user_id".isNotNull)
        .groupBy("user_id").agg(
          sum($"v".cast(Dec380)).as("sv"), count(lit(1)).as("nu"))
      val j = e.join(prof, Seq("user_id"), "left_outer")
        .withColumn("ca", (($"v" >= 5000) === ($"y" === 1)).cast("long"))
        .withColumn("cb",
          (coalesce($"sv" >= $"nu".cast(Dec380) * 5000, lit(false))
            === ($"y" === 1)).cast("long"))
        .withColumn("cc",
          ((pmod($"event_id", lit(2L)) === 0) === ($"y" === 1)).cast("long"))
        .withColumn("l", $"ca" + $"cb" + $"cc")
      val m = j.agg(
        count(lit(1)).as("n"),
        sum($"ca").as("ga"), sum($"cb").as("gb"), sum($"cc").as("gc"),
        sum($"l".cast(Dec380)).as("sl"),
        sum($"l".cast(Dec380) * $"l").as("sl2"))
      m.withColumn("num",
          lit(2) * (lit(3) * ($"ga".cast(Dec380) * $"ga"
            + $"gb".cast(Dec380) * $"gb" + $"gc".cast(Dec380) * $"gc")
            - ($"ga" + $"gb" + $"gc").cast(Dec380)
              * ($"ga" + $"gb" + $"gc")))
        .withColumn("den", lit(3) * $"sl" - $"sl2")
        .select($"n", $"ga", $"gb", $"gc",
          when($"den" > 0,
            dround($"num".cast("double") / $"den".cast("double"), 6))
            .as("q_stat"))
    },
    Some("WITH e AS (SELECT user_id, event_id, " +
      "CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "prof AS (SELECT user_id, SUM(CAST(v AS HUGEINT)) AS sv, " +
      "CAST(count(*) AS BIGINT) AS nu FROM e " +
      "WHERE user_id IS NOT NULL GROUP BY 1), " +
      "jj AS (SELECT CAST((e.v >= 5000) = (e.y = 1) AS BIGINT) AS ca, " +
      "CAST(COALESCE(prof.sv >= CAST(prof.nu AS HUGEINT) * 5000, FALSE) " +
      "= (e.y = 1) AS BIGINT) AS cb, " +
      "CAST((((e.event_id % 2) + 2) % 2 = 0) = (e.y = 1) AS BIGINT) AS cc " +
      "FROM e LEFT JOIN prof ON e.user_id = prof.user_id), " +
      "l AS (SELECT ca, cb, cc, ca + cb + cc AS l FROM jj), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(ca) AS BIGINT) AS ga, CAST(SUM(cb) AS BIGINT) AS gb, " +
      "CAST(SUM(cc) AS BIGINT) AS gc, SUM(CAST(l AS HUGEINT)) AS sl, " +
      "SUM(CAST(l AS HUGEINT) * l) AS sl2 FROM l), " +
      "x AS (SELECT n, ga, gb, gc, " +
      "2 * (3 * (CAST(ga AS HUGEINT)*ga + CAST(gb AS HUGEINT)*gb " +
      "+ CAST(gc AS HUGEINT)*gc) " +
      "- CAST(ga + gb + gc AS HUGEINT) * (ga + gb + gc)) AS num, " +
      "3 * sl - sl2 AS den FROM m) " +
      "SELECT n, ga, gb, gc, CASE WHEN den > 0 THEN " +
      OSql.sround("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)", 6) +
      " END AS q_stat FROM x"))

  // ------------------------------------------------------------------
  // stat_ttest_paired — paired t-test over the archive's two eras
  // (event_id parity, the era convention `profile_drift_psi` set):
  // per-user spend in era 1 minus era 0, PAIRED on the user — the
  // within-subject design `stat_welch_ttest` (independent arms)
  // cannot express; only users measured in BOTH eras pair. The
  // per-user difference d = Σ₁ − Σ₀ is an exact cents integer off ONE
  // user-keyed conditional aggregate; t = Σd·√(n−1) / √(n·Σd² −
  // (Σd)²) is a single double formula over exact DECIMAL(38,0)/
  // HUGEINT sums (the jarque_bera m2n identity on the differences),
  // spelled identically in both engines. n < 2 or zero variance →
  // NULL. The fact collapses map-side per user; the pair table then
  // folds to one row.
  // ------------------------------------------------------------------

  private val statTtestPaired = Q(
    "stat_ttest_paired",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select($"user_id", pmod($"event_id", lit(2L)).as("era"),
          round($"value" * 100).cast("long").as("v"))
      val pairs = e.groupBy("user_id").agg(
          sum(when($"era" === 1, $"v".cast(Dec380)).otherwise(lit(0)))
            .as("s1"),
          sum(when($"era" === 0, $"v".cast(Dec380)).otherwise(lit(0)))
            .as("s0"),
          max(($"era" === 1).cast("long")).as("h1"),
          max(($"era" === 0).cast("long")).as("h0"))
        .filter($"h1" === 1 && $"h0" === 1)
        .select(($"s1" - $"s0").as("dd"))
      val m = pairs.agg(
        count(lit(1)).as("n"),
        sum($"dd").as("sd"),
        sum($"dd" * $"dd").as("sd2"))
      m.withColumn("m2n", $"n".cast(Dec380) * $"sd2" - $"sd" * $"sd")
        .select($"n",
          // trunc-toward-zero division in BOTH engines (Spark div and
          // DuckDB // agree on truncation; sd can be negative)
          when($"n" > 0, expr("cast(sd as bigint) div n").cast("long"))
            .as("mean_diff_cents"),
          when($"n" > 1 && $"m2n" > 0,
            dround($"sd".cast("double")
              * sqrt(($"n" - 1).cast("double"))
              / sqrt($"m2n".cast("double")), 6)).as("t_stat"))
    },
    Some("WITH e AS (SELECT user_id, ((event_id % 2) + 2) % 2 AS era, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events " +
      "WHERE user_id IS NOT NULL), " +
      "p AS (SELECT user_id, " +
      "SUM(CASE WHEN era = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s1, " +
      "SUM(CASE WHEN era = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s0, " +
      "MAX(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS h1, " +
      "MAX(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS h0 " +
      "FROM e GROUP BY 1), " +
      "dd AS (SELECT s1 - s0 AS dd FROM p WHERE h1 = 1 AND h0 = 1), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(dd) AS sd, " +
      "SUM(dd * dd) AS sd2 FROM dd), " +
      "x AS (SELECT n, sd, CAST(n AS HUGEINT) * sd2 - sd * sd AS m2n " +
      "FROM m) " +
      "SELECT n, CASE WHEN n > 0 THEN CAST(CAST(sd AS BIGINT) // n AS BIGINT) " +
      "END AS mean_diff_cents, " +
      "CASE WHEN n > 1 AND m2n > 0 THEN " +
      OSql.sround("CAST(sd AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE)) " +
        "/ sqrt(CAST(m2n AS DOUBLE))", 6) +
      " END AS t_stat FROM x"))

  // ------------------------------------------------------------------
  // stat_sign_test — the SIGN test over the same per-user era pairs as
  // `stat_ttest_paired`, completing the paired family's robustness
  // ladder (t assumes normal differences; Wilcoxon assumes symmetric;
  // the sign test assumes NOTHING but exchangeability — the verdict
  // that survives any spend distribution): count strictly positive vs
  // strictly negative differences (exact-zero pairs drop, the
  // textbook rule), z = (¦pos − neg¦ − 1)/√(pos + neg) with the
  // continuity correction FLOORED at 0 (the mcnemar discipline — a
  // tied table scores 0, never a spurious 1/√n). Everything is one
  // user-keyed conditional aggregate plus a one-row fold; the only
  // float is the final guarded z.
  // ------------------------------------------------------------------

  private val statSignTest = Q(
    "stat_sign_test",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select($"user_id", pmod($"event_id", lit(2L)).as("era"),
          round($"value" * 100).cast("long").as("v"))
      val pairs = e.groupBy("user_id").agg(
          sum(when($"era" === 1, $"v".cast(Dec380)).otherwise(lit(0)))
            .as("s1"),
          sum(when($"era" === 0, $"v".cast(Dec380)).otherwise(lit(0)))
            .as("s0"),
          max(($"era" === 1).cast("long")).as("h1"),
          max(($"era" === 0).cast("long")).as("h0"))
        .filter($"h1" === 1 && $"h0" === 1)
        .select(($"s1" - $"s0").as("dd"))
      pairs.agg(
          sum(($"dd" > 0).cast("long")).as("n_pos"),
          sum(($"dd" < 0).cast("long")).as("n_neg"),
          sum(($"dd" === 0).cast("long")).as("n_zero"))
        .select($"n_pos", $"n_neg", $"n_zero",
          when($"n_pos" + $"n_neg" > 0,
            dround(greatest(abs($"n_pos" - $"n_neg") - 1, lit(0L))
              .cast("double")
              / sqrt(($"n_pos" + $"n_neg").cast("double")), 6)).as("z"))
    },
    Some("WITH e AS (SELECT user_id, ((event_id % 2) + 2) % 2 AS era, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events " +
      "WHERE user_id IS NOT NULL), " +
      "p AS (SELECT user_id, " +
      "SUM(CASE WHEN era = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s1, " +
      "SUM(CASE WHEN era = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s0, " +
      "MAX(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS h1, " +
      "MAX(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS h0 " +
      "FROM e GROUP BY 1), " +
      "dd AS (SELECT s1 - s0 AS dd FROM p WHERE h1 = 1 AND h0 = 1), " +
      "t AS (SELECT CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_pos, " +
      "CAST(SUM(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg, " +
      "CAST(SUM(CASE WHEN dd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero " +
      "FROM dd) " +
      "SELECT n_pos, n_neg, n_zero, " +
      "CASE WHEN n_pos + n_neg > 0 THEN " +
      OSql.sround("CAST(GREATEST(abs(n_pos - n_neg) - 1, 0) AS DOUBLE) " +
        "/ sqrt(CAST(n_pos + n_neg AS DOUBLE))", 6) +
      " END AS z FROM t"))

  // ------------------------------------------------------------------
  // stat_f_test_variance — the two-sample F test for EQUALITY OF
  // VARIANCES between the archive's eras (event_id parity): the
  // two-arm member of the variance-homogeneity family (`stat_levene`
  // is the robust k-group version; F is the classical two-sample
  // form, and the precondition check for pooled-variance t).
  // Variance numerators are the exact m2n = n·Σv² − S² integers per
  // era off ONE conditional map-side aggregate; F = (m2na/(na(na−1)))
  // / (m2nb/(nb(nb−1))) is a single double formula over the casted
  // exact integers (the exact cross-product would overflow 38
  // digits), spelled identically in both engines; degenerate arms
  // (n ≤ 1 or zero variance in the denominator) yield NULL.
  // ------------------------------------------------------------------

  private val statFTestVariance = Q(
    "stat_f_test_variance",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(pmod($"event_id", lit(2L)).as("era"),
          round($"value" * 100).cast("long").as("v"))
      val m = e.agg(
        sum(($"era" === 0).cast("long")).as("na"),
        sum(($"era" === 1).cast("long")).as("nb"),
        sum(when($"era" === 0, $"v".cast(Dec380)).otherwise(lit(0)))
          .as("sa"),
        sum(when($"era" === 1, $"v".cast(Dec380)).otherwise(lit(0)))
          .as("sb"),
        sum(when($"era" === 0, $"v".cast(Dec380) * $"v").otherwise(lit(0)))
          .as("qa"),
        sum(when($"era" === 1, $"v".cast(Dec380) * $"v").otherwise(lit(0)))
          .as("qb"))
      m.withColumn("m2a", $"na".cast(Dec380) * $"qa" - $"sa" * $"sa")
        .withColumn("m2b", $"nb".cast(Dec380) * $"qb" - $"sb" * $"sb")
        .select($"na", $"nb",
          ($"na" - 1).as("df1"), ($"nb" - 1).as("df2"),
          when($"na" > 1 && $"nb" > 1 && $"m2b" > 0,
            dround(($"m2a".cast("double")
              / ($"na".cast("double") * ($"na" - 1).cast("double")))
              / ($"m2b".cast("double")
                / ($"nb".cast("double") * ($"nb" - 1).cast("double"))), 6))
            .as("f_stat"))
    },
    Some("WITH e AS (SELECT ((event_id % 2) + 2) % 2 AS era, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "m AS (SELECT " +
      "CAST(SUM(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
      "CAST(SUM(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
      "SUM(CASE WHEN era = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa, " +
      "SUM(CASE WHEN era = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb, " +
      "SUM(CASE WHEN era = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa, " +
      "SUM(CASE WHEN era = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qb " +
      "FROM e), " +
      "x AS (SELECT na, nb, " +
      "CAST(na AS HUGEINT) * qa - sa * sa AS m2a, " +
      "CAST(nb AS HUGEINT) * qb - sb * sb AS m2b FROM m) " +
      "SELECT na, nb, na - 1 AS df1, nb - 1 AS df2, " +
      "CASE WHEN na > 1 AND nb > 1 AND m2b > 0 THEN " +
      OSql.sround("(CAST(m2a AS DOUBLE) / (CAST(na AS DOUBLE) " +
        "* CAST(na - 1 AS DOUBLE))) / (CAST(m2b AS DOUBLE) " +
        "/ (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE)))", 6) +
      " END AS f_stat FROM x"))

  // ------------------------------------------------------------------
  // stat_chi2_goodness — one-way χ² goodness-of-fit of the event-type
  // mix against the uniform null: the 1-D sibling of
  // `stat_chi2_independence` (that key tests two categoricals against
  // each other; this tests ONE against a declared expectation — "is
  // traffic actually balanced across types", the mix-regression alarm
  // for a replay pipeline). Against uniform e = n/k the whole
  // statistic collapses algebraically to χ² = (k·Σo² − n²)/n — exact
  // DECIMAL(38,0)/HUGEINT integers to ONE final division, no per-cell
  // float, no zero-cell hazard (absent types simply lower k, spelled
  // identically in both engines). df = k − 1.
  // ------------------------------------------------------------------

  private val statChi2Goodness = Q(
    "stat_chi2_goodness",
    (s, d) => {
      import s.implicits._
      val o = Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("o"))
      o.agg(count(lit(1)).as("k"), sum($"o").as("n"),
          sum($"o".cast(Dec380) * $"o").as("so2"))
        .select($"k", $"n", ($"k" - 1).as("df"),
          when($"n" > 0,
            dround(($"k".cast(Dec380) * $"so2"
              - $"n".cast(Dec380) * $"n").cast("double")
              / $"n".cast("double"), 6)).as("chi2"))
    },
    Some("WITH o AS (SELECT event_type, CAST(count(*) AS BIGINT) AS o " +
      "FROM events GROUP BY 1), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "CAST(SUM(o) AS BIGINT) AS n, SUM(CAST(o AS HUGEINT) * o) AS so2 " +
      "FROM o) " +
      "SELECT k, n, k - 1 AS df, CASE WHEN n > 0 THEN " +
      OSql.sround("CAST(CAST(k AS HUGEINT) * so2 " +
        "- CAST(n AS HUGEINT) * n AS DOUBLE) / CAST(n AS DOUBLE)", 6) +
      " END AS chi2 FROM m"))

  // ------------------------------------------------------------------
  // eval_roc_points — the ROC curve table (TPR vs FPR per threshold)
  // for the value-as-score rule: the operating-curve view the scalar
  // keys summarize (`eval_auc` integrates it, `eval_youden_threshold`
  // picks one point, `eval_pr_sweep` shows the precision axes; ROC is
  // what a reviewer actually plots to choose a regime). Same scale
  // shape as the PR sweep: the fact collapses map-side to the bounded
  // cent-value ledger, the 9 fixed $10 thresholds probe its running
  // totals via one broadcast theta join, and TPR/FPR are single
  // guarded exact divisions per threshold row.
  // ------------------------------------------------------------------

  private val evalRocPoints = Q(
    "eval_roc_points",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
      val byV = e.groupBy("v").agg(
        sum($"y").as("c1"), count(lit(1)).as("m"))
      val tot = byV.agg(sum($"c1").as("npos"), sum($"m").as("n"))
      val thresholds = s.range(1, 10).select(($"id" * 1000L).as("thr"))
      val scored = thresholds.crossJoin(broadcast(tot))
        .join(byV, byV("v") >= thresholds("thr"), "left")
        .groupBy("thr", "npos", "n").agg(
          coalesce(sum($"c1"), lit(0L)).as("tp"),
          coalesce(sum($"m"), lit(0L)).as("npred"))
      scored.select($"thr", $"tp", ($"npred" - $"tp").as("fp"),
          when($"npos" > 0,
            dround($"tp".cast("double") / $"npos", 6)).as("tpr"),
          when($"n" - $"npos" > 0,
            dround(($"npred" - $"tp").cast("double") / ($"n" - $"npos"), 6))
            .as("fpr"))
        .orderBy("thr")
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "byv AS (SELECT v, CAST(SUM(y) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS m FROM e GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS npos, " +
      "CAST(SUM(m) AS BIGINT) AS n FROM byv), " +
      "thr AS (SELECT CAST(unnest(generate_series(1, 9)) * 1000 AS BIGINT) " +
      "AS thr), " +
      "sc AS (SELECT t.thr, tot.npos, tot.n, " +
      "COALESCE(CAST(SUM(b.c1) AS BIGINT), 0) AS tp, " +
      "COALESCE(CAST(SUM(b.m) AS BIGINT), 0) AS npred " +
      "FROM thr t CROSS JOIN tot LEFT JOIN byv b ON b.v >= t.thr " +
      "GROUP BY 1, 2, 3) " +
      "SELECT thr, tp, npred - tp AS fp, " +
      "CASE WHEN npos > 0 THEN " +
      OSql.sround("CAST(tp AS DOUBLE) / npos", 6) + " END AS tpr, " +
      "CASE WHEN n - npos > 0 THEN " +
      OSql.sround("CAST(npred - tp AS DOUBLE) / (n - npos)", 6) +
      " END AS fpr FROM sc ORDER BY thr"))

  // ------------------------------------------------------------------
  // stat_poisson_ztest — equal-rate test for COUNT data between the
  // archive's two eras (event_id parity gives equal exposure by
  // construction), per event type: the counting-process member of the
  // two-sample family (welch/F compare a VALUE's moments; this
  // compares the arrival RATE itself — "did error volume actually
  // change between eras"). The conditional test: under H₀ the era-0
  // count is Binomial(n, ½) given the total, so z = (n0 − n1)/√(n0 +
  // n1) — counts collapse map-side to the ≤|types| ledger, the rate
  // ratio is the exact floor-quantized (10⁶·n0) div n1, and z is one
  // guarded double division. Zero-total types emit NULL.
  // ------------------------------------------------------------------

  private val statPoissonZtest = Q(
    "stat_poisson_ztest",
    (s, d) => {
      import s.implicits._
      val m = Tables.events(s, d)
        .select($"event_type", pmod($"event_id", lit(2L)).as("era"))
        .groupBy("event_type").agg(
          sum(($"era" === 0).cast("long")).as("n0"),
          sum(($"era" === 1).cast("long")).as("n1"))
      m.select($"event_type", $"n0", $"n1",
          when($"n1" > 0,
            (expr("(1000000 * n0) div n1").cast("double") / 1e6))
            .as("rate_ratio"),
          when($"n0" + $"n1" > 0,
            dround(($"n0" - $"n1").cast("double")
              / sqrt(($"n0" + $"n1").cast("double")), 6)).as("z"))
        .orderBy("event_type")
    },
    Some("WITH m AS (SELECT event_type, " +
      "CAST(SUM(CASE WHEN ((event_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n0, " +
      "CAST(SUM(CASE WHEN ((event_id % 2) + 2) % 2 = 1 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n1 FROM events GROUP BY 1) " +
      "SELECT event_type, n0, n1, " +
      "CASE WHEN n1 > 0 THEN CAST((1000000 * n0) // n1 AS DOUBLE) / 1e6 END " +
      "AS rate_ratio, " +
      "CASE WHEN n0 + n1 > 0 THEN " +
      OSql.sround("CAST(n0 - n1 AS DOUBLE) / sqrt(CAST(n0 + n1 AS DOUBLE))",
        6) +
      " END AS z FROM m ORDER BY event_type"))

  // ------------------------------------------------------------------
  // eval_cost_threshold — COST-SENSITIVE operating point for the
  // value-as-score rule under an asymmetric loss (FP = 1, FN = 5 —
  // missing a conversion is five times worse than a false alarm):
  // the business-facing sibling of `eval_youden_threshold` (Youden
  // optimizes a statistical balance; deployments optimize a COST
  // matrix, and the two disagree whenever losses are asymmetric). At
  // threshold t, cost = FP + 5·FN = npred_t + 5·npos − 6·tp_t — all
  // EXACT integers off the same two-phase descending cent-ledger
  // prefix as `eval_average_precision`; the argmin is one
  // min(struct(cost, thr)) with ties to the smallest threshold, and
  // the predict-nothing baseline (cost = 5·npos) ships alongside so
  // the gate "does the best threshold beat doing nothing" is
  // hash-visible.
  // ------------------------------------------------------------------

  private val evalCostThreshold = Q(
    "eval_cost_threshold",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
      val led = e.groupBy("v").agg(
          sum($"y").as("c1"), count(lit(1)).as("m"))
        .withColumn("nv", -$"v")
        .withColumn("b", expr(Det.fdivExpr("nv", "1000")))
      val local = Window.partitionBy($"b").orderBy($"nv".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"m").as("n")), "b")
      val offs1 = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"c1").as("n")), "b")
        .withColumnRenamed("off", "off1")
      val tot = e.agg(sum($"y").as("npos"), count(lit(1)).as("n"))
      val scored = led
        .withColumn("lm", sum($"m").over(local))
        .withColumn("lc", sum($"c1").over(local))
        .join(broadcast(offs), "b").join(broadcast(offs1), "b")
        .crossJoin(broadcast(tot))
        .select($"v".as("thr"),
          (($"lm" + $"off") + lit(5) * $"npos" - lit(6) * ($"lc" + $"off1"))
            .as("cost"))
      scored.agg(min(struct($"cost".as("a"), $"thr".as("b"))).as("mm"))
        .crossJoin(broadcast(tot))
        .select($"n", $"npos", $"mm.b".as("best_thr_cents"),
          $"mm.a".as("best_cost"), (lit(5) * $"npos").as("cost_no_predict"))
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "led AS (SELECT v, CAST(SUM(y) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS m FROM e GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(y) AS BIGINT) AS npos, " +
      "CAST(count(*) AS BIGINT) AS n FROM e), " +
      "r AS (SELECT v AS thr, SUM(m) OVER w AS npred, SUM(c1) OVER w AS tp " +
      "FROM led WINDOW w AS (ORDER BY v DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "sc AS (SELECT r.thr, r.npred + 5 * tot.npos - 6 * r.tp AS cost " +
      "FROM r, tot), " +
      "best AS (SELECT thr, cost, row_number() OVER " +
      "(ORDER BY cost ASC, thr ASC) AS k FROM sc) " +
      "SELECT tot.n, tot.npos, best.thr AS best_thr_cents, " +
      "CAST(best.cost AS BIGINT) AS best_cost, " +
      "5 * tot.npos AS cost_no_predict FROM best, tot WHERE best.k = 1"))

  // ------------------------------------------------------------------
  // eval_fbeta_sweep — the F-β operating points (β = ½, 1, 2) of the
  // value-as-score rule over the same two-phase descending cent-ledger
  // prefix as `eval_cost_threshold` — the THIRD way this engine picks
  // a threshold (Youden optimizes a statistical balance, the cost key
  // a loss matrix, F-β the precision/recall trade a retrieval or
  // review queue actually tunes: β = ½ when a false positive costs
  // review time, β = 2 when a miss costs a customer). The identity
  // F_β = (1+β²)·tp/(npred + β²·npos) makes every sweep point a ratio
  // of exact integers; scaling by 4 clears the β = ½ fraction (4β² ∈
  // {1, 4, 16}), each F floor-quantizes via ONE integer division at
  // 10⁶, and the per-β argmax is max(struct(fq, −thr)) — ties resolve
  // to the SMALLEST threshold, spelled identically in the oracle.
  // Headroom: 10⁶·20·tp needs tp < 4.6×10¹¹ in a long — the archive's
  // cent ledger is orders below; past it the product lifts to
  // DECIMAL(38,0) like the χ² keys.
  // ------------------------------------------------------------------

  private val evalFbetaSweep = Q(
    "eval_fbeta_sweep",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
      val led = e.groupBy("v").agg(
          sum($"y").as("c1"), count(lit(1)).as("m"))
        .withColumn("nv", -$"v")
        .withColumn("b", expr(Det.fdivExpr("nv", "1000")))
      val local = Window.partitionBy($"b").orderBy($"nv".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"m").as("n")), "b")
      val offs1 = Windows.prefixOffsets(
        led.groupBy("b").agg(sum($"c1").as("n")), "b")
        .withColumnRenamed("off", "off1")
      val tot = e.agg(sum($"y").as("npos"), count(lit(1)).as("n"))
      val scored = led
        .withColumn("lm", sum($"m").over(local))
        .withColumn("lc", sum($"c1").over(local))
        .join(broadcast(offs), "b").join(broadcast(offs1), "b")
        .crossJoin(broadcast(tot))
        .select($"v".as("thr"), ($"lm" + $"off").as("npred"),
          ($"lc" + $"off1").as("tp"), $"npos")
      val swept = scored
        .withColumn("bx", explode(array(lit(1L), lit(4L), lit(16L))))
        .select($"bx", $"thr",
          expr("(1000000 * (4 + bx) * tp) div (4 * npred + bx * npos)")
            .as("fq"))
      swept.groupBy("bx")
        .agg(max(struct($"fq".as("a"), (-$"thr").as("nt"))).as("mm"))
        .crossJoin(broadcast(tot))
        .select(
          when($"bx" === 1, lit(50L)).when($"bx" === 4, lit(100L))
            .otherwise(lit(200L)).as("beta_x100"),
          $"n", $"npos", (-$"mm.nt").as("best_thr_cents"),
          ($"mm.a".cast("double") / 1e6).as("fbeta"))
        .orderBy("beta_x100")
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "led AS (SELECT v, CAST(SUM(y) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS m FROM e GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(y) AS BIGINT) AS npos, " +
      "CAST(count(*) AS BIGINT) AS n FROM e), " +
      "r AS (SELECT v AS thr, SUM(m) OVER w AS npred, SUM(c1) OVER w AS tp " +
      "FROM led WINDOW w AS (ORDER BY v DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "bb AS (SELECT unnest([1, 4, 16]) AS bx), " +
      "sc AS (SELECT bb.bx, r.thr, " +
      "(1000000 * (4 + bb.bx) * r.tp) // (4 * r.npred + bb.bx * tot.npos) " +
      "AS fq FROM r CROSS JOIN bb, tot), " +
      "mx AS (SELECT bx, MAX(fq) AS fq FROM sc GROUP BY 1), " +
      "pick AS (SELECT sc.bx, mx.fq, MIN(sc.thr) AS thr FROM sc " +
      "JOIN mx ON mx.bx = sc.bx AND sc.fq = mx.fq GROUP BY 1, 2) " +
      "SELECT CASE pick.bx WHEN 1 THEN 50 WHEN 4 THEN 100 ELSE 200 END " +
      "AS beta_x100, tot.n, tot.npos, pick.thr AS best_thr_cents, " +
      "CAST(pick.fq AS DOUBLE) / 1e6 AS fbeta FROM pick, tot ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_zprop_one — ONE-proportion z test of the purchase share
  // against the declared null p₀ = 1/5 (the uniform share over the
  // five event types — "is purchase traffic exactly its design
  // share"): the one-sample member beside `stat_proportions_ztest`'s
  // two arms. With p₀ = 1/5 the statistic collapses to pure integers:
  // z = (o − n/5)/√(n·(1/5)(4/5)) = (5·o − n)/(2·√n) — one exact
  // integer numerator, one guarded double division; the share itself
  // ships as the exact floor-quantized (10⁶·o) div n.
  // ------------------------------------------------------------------

  private val statZpropOne = Q(
    "stat_zprop_one",
    (s, d) => {
      import s.implicits._
      val m = Tables.events(s, d).agg(
        count(lit(1)).as("n"),
        sum(($"event_type" === "purchase").cast("long")).as("o"))
      m.select($"n", $"o",
          when($"n" > 0,
            (expr("(1000000 * o) div n").cast("double") / 1e6)).as("share"),
          when($"n" > 0,
            dround((lit(5) * $"o" - $"n").cast("double")
              / (lit(2.0) * sqrt($"n".cast("double"))), 6)).as("z"))
    },
    Some("WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS o FROM events) " +
      "SELECT n, o, " +
      "CASE WHEN n > 0 THEN CAST((1000000 * o) // n AS DOUBLE) / 1e6 END " +
      "AS share, " +
      "CASE WHEN n > 0 THEN " +
      OSql.sround("CAST(5 * o - n AS DOUBLE) / (2.0 * sqrt(CAST(n AS DOUBLE)))",
        6) +
      " END AS z FROM m"))

  // ------------------------------------------------------------------
  // agg_topn_share — revenue share of the top-10 users, the "whale
  // concentration" metric read next to the distribution-wide scores
  // (`agg_gini_revenue` summarizes the whole curve, `agg_hhi` squares
  // every share; operators ask the blunter question — how much of the
  // book do the ten biggest accounts carry): per-user exact cents
  // collapse map-side, the top-10 cut is a TakeOrderedAndProject with
  // the (cents desc, user asc) total order (O(k) per partition, never
  // a global sort), totals broadcast as a 1-row aggregate of the SAME
  // per-user ledger, and the share is the exact floor-quantized
  // (10⁶·top) div total.
  // ------------------------------------------------------------------

  private val aggTopnShare = Q(
    "agg_topn_share",
    (s, d) => {
      import s.implicits._
      val perUser = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select($"user_id", round($"value" * 100).cast("long").as("c"))
        .groupBy("user_id").agg(sum($"c".cast(Dec380)).as("uc"))
      val top = perUser.orderBy($"uc".desc, $"user_id".asc).limit(10)
        .agg(sum($"uc").cast("long").as("top_cents"),
          count(lit(1)).as("k"))
      val tot = perUser.agg(sum($"uc").cast("long").as("total_cents"),
        count(lit(1)).as("n_users"))
      top.crossJoin(broadcast(tot))
        .select($"n_users", $"k", $"top_cents", $"total_cents",
          when($"total_cents" > 0,
            (expr("(1000000 * top_cents) div total_cents").cast("double")
              / 1e6)).as("top_share"))
    },
    Some("WITH pu AS (SELECT user_id, SUM(CAST(round(value*100) AS BIGINT)) " +
      "AS uc FROM events WHERE user_id IS NOT NULL GROUP BY 1), " +
      "tp AS (SELECT CAST(SUM(uc) AS BIGINT) AS top_cents, " +
      "CAST(count(*) AS BIGINT) AS k FROM " +
      "(SELECT uc FROM pu ORDER BY uc DESC, user_id ASC LIMIT 10)), " +
      "tt AS (SELECT CAST(SUM(uc) AS BIGINT) AS total_cents, " +
      "CAST(count(*) AS BIGINT) AS n_users FROM pu) " +
      "SELECT tt.n_users, tp.k, tp.top_cents, tt.total_cents, " +
      "CASE WHEN tt.total_cents > 0 THEN " +
      "CAST((1000000 * tp.top_cents) // tt.total_cents AS DOUBLE) / 1e6 END " +
      "AS top_share FROM tp, tt"))

  val qs: Seq[Q] = Seq(
    statWelchTtest, statChi2Independence, featureTargetEncode,
    assocBasketLift, statKsTest, statMannWhitney, statBootstrapCi,
    statPermutationTest, evalBinaryClassifier, sampleClassBalance,
    aggWinsorizedMean, assocItemset3, evalCalibration, statFdrBh,
    evalPrSweep, profileColumnStats, featureDecayScore,
    auditFkIntegrity, aggBenfordDigits, anomalyTukeyFence,
    aggTrimmedMean, evalRegressionMetrics, statCramersV,
    statAnovaOneway, evalConfusionMulticlass, statLevene, evalCohenKappa,
    statCohensD, evalMcc, sampleNeymanAlloc, evalBrierScore, evalLogLoss,
    evalAuc, statSpearmanRho, statPowerTwoprop, evalLiftDeciles,
    statTostEquivalence, evalYoudenThreshold, statKendallTau,
    statProportionsZtest, statWilcoxonSignedRank, statKruskalWallis,
    evalMcnemar, statJarqueBera, evalCalibrationEce, evalDemographicParity,
    evalAveragePrecision, statCochranQ, statBenjaminiYekutieli,
    statTtestPaired, statSignTest, statFTestVariance, statChi2Goodness,
    evalRocPoints, statPoissonZtest, evalCostThreshold, statZpropOne,
    aggTopnShare, statBartlett, statFriedman, evalFbetaSweep,
    evalEqualizedOdds, statCochranArmitage, evalCalibrationIsotonic,
    statMoodMedian)

  // ------------------------------------------------------------------
  // assoc_itemset3 — the Apriori level-3 step above `assoc_basket_lift`:
  // support of unordered event-type TRIPLES over user baskets. The
  // enumeration is two chained user-keyed self-joins with a < b < c —
  // per-user blow-up B³/6 with B bounded by the type domain, never a
  // relation product — and the level-2 downward-closure property
  // (every subset of a frequent triple is frequent) is what a real
  // Apriori run would prune with; here the full bounded lattice level
  // is emitted with exact support.
  // ------------------------------------------------------------------

  private lazy val assocItemset3 = Q(
    "assoc_itemset3",
    (s, d) => {
      import s.implicits._
      val basket = Tables.events(s, d)
        .select($"user_id", $"event_type").distinct()
      val u = basket.select($"user_id").distinct().count().toDouble
      val a = basket.select($"user_id", $"event_type".as("ta"))
      val b = basket.select($"user_id", $"event_type".as("tb"))
      val c = basket.select($"user_id", $"event_type".as("tc"))
      a.join(b, "user_id").filter($"ta" < $"tb")
        .join(c, "user_id").filter($"tb" < $"tc")
        .groupBy("ta", "tb", "tc").agg(count(lit(1)).as("n_users"))
        .select($"ta", $"tb", $"tc", $"n_users",
          dround($"n_users".cast("double") / lit(u), 6).as("support"))
        .orderBy("ta", "tb", "tc")
    },
    Some("WITH basket AS (SELECT DISTINCT user_id, event_type FROM events), " +
      "u AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS u FROM basket) " +
      "SELECT a.event_type AS ta, b.event_type AS tb, c.event_type AS tc, " +
      "count(*) AS n_users, " +
      OSql.sround("CAST(count(*) AS DOUBLE) / (SELECT u FROM u)", 6) +
      " AS support " +
      "FROM basket a JOIN basket b ON a.user_id = b.user_id " +
      "AND a.event_type < b.event_type " +
      "JOIN basket c ON b.user_id = c.user_id " +
      "AND b.event_type < c.event_type " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"))

  // ------------------------------------------------------------------
  // eval_calibration — the CALIBRATION CURVE for the value-as-score
  // rule `eval_binary_classifier` thresholds: scores bucket into fixed
  // $10 bins and each bin reports its observed positive (purchase)
  // rate next to its mean score — a well-calibrated score tracks the
  // diagonal; this is the reliability-diagram table every deployed
  // classifier gets monitored with. Counts collapse map-side to the
  // bounded bin domain; both reported ratios are single exact
  // divisions.
  // ------------------------------------------------------------------

  private lazy val evalCalibration = Q(
    "eval_calibration",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
        .withColumn("bin", least(expr("v div 1000"), lit(9L)))
        .groupBy("bin").agg(
          count(lit(1)).as("n"),
          sum($"y").as("n_pos"),
          dround(sum($"y").cast("double") / count(lit(1)), 6).as("pos_rate"),
          dround(sum($"v").cast("double") / count(lit(1)) / 100.0, 4)
            .as("mean_score_usd"))
        .orderBy("bin")
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "b AS (SELECT y, v, least(v // 1000, 9) AS bin FROM e) " +
      "SELECT bin, count(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos, " +
      OSql.sround("CAST(SUM(y) AS DOUBLE) / count(*)", 6) + " AS pos_rate, " +
      OSql.sround("CAST(SUM(v) AS DOUBLE) / count(*) / 100.0", 4) +
      " AS mean_score_usd FROM b GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_fdr_bh — Benjamini-Hochberg multiple-testing correction over
  // the per-type permutation p-values (the FDR control every metrics
  // platform needs once it tests many hypotheses at once): p-values
  // rank ascending, the largest k with p_(k) <= k*q/m (q = 0.10)
  // defines the rejection set, and every type at rank <= k rejects.
  // The step-up scan is one bounded window over the |types|-row
  // hypothesis table (never the fact stream); the BH threshold
  // comparison happens on 6dp-rounded p-values with identical
  // arithmetic text, so the cut is bit-stable.
  // ------------------------------------------------------------------

  /** The per-corpus permutation p-value ledger, shared by the BH and
    * BY step-ups through IndexCache so the 16-replicate permutation
    * pipeline runs ONCE per corpus, not once per FDR key (cold-build
    * cost lands in the `index_staging` bench metric, not in whichever
    * key runs first).
    */
  private def permPvalues(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.core.IndexCache(s, s"perm-pvalues|$d",
      statPermutationTest.fn(s, d).select($"event_type", $"p_value"))
  }

  private lazy val statFdrBh = Q(
    "stat_fdr_bh",
    (s, d) => {
      import s.implicits._
      // IndexCache the |types|-row p-value table ONCE per corpus: the
      // count, the ranked output, AND the BY sibling all read the same
      // materialization — without it each consumer re-runs the full
      // 16-replicate permutation pipeline
      val p = permPvalues(s, d)
      val m = p.count().toDouble
      // BH ranks via a broadcast theta-join over the materialized
      // |types|-row table — no WindowExec even on the tiny ledger
      val ranked = p.as("a").join(broadcast(p.as("b")),
          $"b.p_value" < $"a.p_value" ||
            ($"b.p_value" === $"a.p_value" && $"b.event_type" < $"a.event_type"),
          "left_outer")
        .groupBy($"a.event_type".as("event_type"), $"a.p_value".as("p_value"))
        .agg((count($"b.event_type") + 1).as("k"))
        .withColumn("pass",
          ($"p_value" <= $"k" * lit(0.10) / lit(m)).cast("long"))
      val kmax = ranked.agg(max(when($"pass" === 1, $"k")).as("kmax"))
      ranked.crossJoin(broadcast(kmax))
        .select($"event_type", $"k", $"p_value",
          ($"k" <= coalesce($"kmax", lit(0L))).cast("long").as("rejected"))
        .orderBy("k")
    },
    Some("WITH pv AS (" + permOracleSql + "), " +
      "mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM pv), " +
      "r AS (SELECT event_type, p_value, row_number() OVER " +
      "(ORDER BY p_value, event_type) AS k FROM pv), " +
      "km AS (SELECT max(CASE WHEN p_value <= k * 0.10 / " +
      "(SELECT m FROM mm) THEN k END) AS kmax FROM r) " +
      "SELECT event_type, CAST(k AS BIGINT) AS k, p_value, " +
      "CAST(k <= COALESCE((SELECT kmax FROM km), 0) AS BIGINT) AS rejected " +
      "FROM r ORDER BY k"))

  // ------------------------------------------------------------------
  // stat_benjamini_yekutieli — the Benjamini–Yekutieli FDR step-up,
  // the arbitrary-dependence-safe sibling of `stat_fdr_bh` (BH
  // controls FDR under independence/PRDS; BY divides the threshold by
  // the harmonic number c(m) = Σ1/i and holds under ANY dependence —
  // the conservative default when the per-type hypotheses share the
  // same archive). Same permutation p-values, same |types|-row
  // ledger and broadcast theta-rank — but the threshold test is FULLY
  // INTEGER: with the harmonic quantized as Hq = Σ_{i≤m}(10⁹ div i)
  // (an exact integer both engines reproduce term by term), p ≤
  // k·q/(m·c) becomes p6·m·Hq ≤ k·10¹⁴ over the exact 6dp p-value
  // integer p6 — no float comparison anywhere near the cut.
  // ------------------------------------------------------------------

  private lazy val statBenjaminiYekutieli = Q(
    "stat_benjamini_yekutieli",
    (s, d) => {
      import s.implicits._
      val p = permPvalues(s, d)
      val m = p.count()
      val hq = (1L to m).map(1000000000L / _).sum
      val ranked = p.as("a").join(broadcast(p.as("b")),
          $"b.p_value" < $"a.p_value" ||
            ($"b.p_value" === $"a.p_value" && $"b.event_type" < $"a.event_type"),
          "left_outer")
        .groupBy($"a.event_type".as("event_type"), $"a.p_value".as("p_value"))
        .agg((count($"b.event_type") + 1).as("k"))
        .withColumn("p6", round($"p_value" * 1e6).cast("long"))
        .withColumn("pass",
          ($"p6".cast(Dec380) * m * hq <=
            $"k".cast(Dec380) * lit(100000000000000L)).cast("long"))
      val kmax = ranked.agg(max(when($"pass" === 1, $"k")).as("kmax"))
      ranked.crossJoin(broadcast(kmax))
        .select($"event_type", $"k", $"p_value",
          ($"k" <= coalesce($"kmax", lit(0L))).cast("long").as("rejected"))
        .orderBy("k")
    },
    Some("WITH pv AS (" + permOracleSql + "), " +
      "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv), " +
      "hh AS (SELECT CAST(SUM(1000000000 // i) AS BIGINT) AS hq FROM " +
      "(SELECT unnest(generate_series(1, (SELECT m FROM mm))) AS i)), " +
      "r AS (SELECT event_type, p_value, row_number() OVER " +
      "(ORDER BY p_value, event_type) AS k, " +
      "CAST(round(p_value * 1e6) AS BIGINT) AS p6 FROM pv), " +
      "km AS (SELECT max(CASE WHEN CAST(p6 AS HUGEINT) * " +
      "(SELECT m FROM mm) * (SELECT hq FROM hh) <= " +
      "CAST(k AS HUGEINT) * 100000000000000 THEN k END) AS kmax FROM r) " +
      "SELECT event_type, CAST(k AS BIGINT) AS k, p_value, " +
      "CAST(k <= COALESCE((SELECT kmax FROM km), 0) AS BIGINT) AS rejected " +
      "FROM r ORDER BY k"))

  // ------------------------------------------------------------------
  // eval_pr_sweep — the precision/recall THRESHOLD SWEEP completing
  // the evaluation family (the classifier report fixes one threshold;
  // the sweep is how that threshold gets picked): 9 fixed $10
  // thresholds, each scored from ONE pass of cumulative counts over
  // the bounded cent-value domain - the fact table collapses map-side
  // first, then a 9-row broadcast of thresholds probes the running
  // totals. Precision and recall are single exact divisions per row.
  // ------------------------------------------------------------------

  private lazy val evalPrSweep = Q(
    "eval_pr_sweep",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select(($"event_type" === "purchase").cast("long").as("y"),
          round($"value" * 100).cast("long").as("v"))
      val byV = e.groupBy("v").agg(
        sum($"y").as("c1"), count(lit(1)).as("m"))
      val tot = byV.agg(sum($"c1").as("npos"))
      val thresholds = s.range(1, 10)
        .select(($"id" * 1000L).as("thr"))
      val scored = thresholds.crossJoin(broadcast(tot))
        .join(byV, byV("v") >= thresholds("thr"), "left")
        .groupBy("thr", "npos").agg(
          coalesce(sum($"c1"), lit(0L)).as("tp"),
          coalesce(sum($"m"), lit(0L)).as("npred"))
      scored.select($"thr",
          $"tp", $"npred",
          when($"npred" > 0,
            dround($"tp".cast("double") / $"npred", 6)).as("precision"),
          when($"npos" > 0,
            dround($"tp".cast("double") / $"npos", 6)).as("recall"))
        .orderBy("thr")
    },
    Some("WITH e AS (SELECT CAST(event_type = 'purchase' AS BIGINT) AS y, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "byv AS (SELECT v, CAST(SUM(y) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS m FROM e GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS npos FROM byv), " +
      "thr AS (SELECT CAST(unnest(generate_series(1, 9)) * 1000 AS BIGINT) " +
      "AS thr), " +
      "sc AS (SELECT t.thr, " +
      "CAST(COALESCE(SUM(b.c1), 0) AS BIGINT) AS tp, " +
      "CAST(COALESCE(SUM(b.m), 0) AS BIGINT) AS npred " +
      "FROM thr t LEFT JOIN byv b ON b.v >= t.thr GROUP BY 1) " +
      "SELECT thr, tp, npred, " +
      "CASE WHEN npred > 0 THEN " +
      OSql.sround("CAST(tp AS DOUBLE) / npred", 6) + " END AS precision, " +
      "CASE WHEN (SELECT npos FROM tot) > 0 THEN " +
      OSql.sround("CAST(tp AS DOUBLE) / (SELECT npos FROM tot)", 6) +
      " END AS recall FROM sc ORDER BY thr"))

  // ------------------------------------------------------------------
  // profile_column_stats — the ANALYZE TABLE statistics collector as a
  // declared operator (the per-column profile a cost-based optimizer
  // and every data-quality monitor consume): nulls, distinct count,
  // min and max for the fact table's numeric columns, computed in ONE
  // scan via a generator unpivot (stack) followed by a single grouped
  // aggregate - never one job per column. min/max/counts are
  // order-independent by construction; no sums, no rounding hazards.
  // ------------------------------------------------------------------

  private lazy val profileColumnStats = Q(
    "profile_column_stats",
    (s, d) => {
      import s.implicits._
      Tables.t(s, d, "lineitem")
        .select(expr("stack(3, " +
          "'l_quantity', l_quantity, " +
          "'l_extendedprice', l_extendedprice, " +
          "'l_discount', l_discount) AS (col, val)"))
        .groupBy("col").agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count($"val")).as("n_nulls"),
          countDistinct($"val").as("n_distinct"),
          min($"val").as("min_val"),
          max($"val").as("max_val"))
        .orderBy("col")
    },
    Some("SELECT col, count(*) AS n_rows, " +
      "count(*) - count(val) AS n_nulls, " +
      "CAST(count(DISTINCT val) AS BIGINT) AS n_distinct, " +
      "min(val) AS min_val, max(val) AS max_val FROM (" +
      "SELECT 'l_quantity' AS col, l_quantity AS val FROM lineitem " +
      "UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem " +
      "UNION ALL SELECT 'l_discount', l_discount FROM lineitem) " +
      "GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // feature_decay_score - exponentially time-decayed engagement (the
  // recsys recency-weighted activity feature): each event contributes
  // 2^(-age_days) relative to the archive head, halving per day, so a
  // burst yesterday outweighs steady activity last month. Each decay
  // term quantizes to BIGINT*1e6 before the per-user sum (the
  // float-pow ulp risk bounded the same way as the entropy keys); the
  // archive-head timestamp is a 1-row broadcast.
  // ------------------------------------------------------------------

  private lazy val featureDecayScore = Q(
    "feature_decay_score",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).select($"user_id", $"ms")
      val head = e.agg(max($"ms").as("maxms"))
      e.crossJoin(broadcast(head))
        .withColumn("t",
          floor(pow(lit(2.0),
            -(($"maxms" - $"ms").cast("double") / lit(86400000.0)))
            * lit(1e6) + lit(0.5)).cast("long"))
        .groupBy("user_id").agg(
          count(lit(1)).as("n_events"),
          dround(sum($"t").cast("double") / 1e6, 4).as("decay_score"))
        .orderBy("user_id")
    },
    Some("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events), " +
      "h AS (SELECT max(ms) AS maxms FROM e), " +
      "t AS (SELECT user_id, " +
      "CAST(floor(pow(2.0, -(CAST(maxms - ms AS DOUBLE) / 86400000.0)) " +
      "* 1e6 + 0.5) AS BIGINT) AS t FROM e, h) " +
      "SELECT user_id, count(*) AS n_events, " +
      OSql.sround("CAST(SUM(t) AS DOUBLE) / 1e6", 4) + " AS decay_score " +
      "FROM t GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // audit_fk_integrity - referential-integrity reconciliation between
  // the fact and its parent (the foreign-key audit every landed
  // archive gets before anyone trusts a join): DISTINCT key sets on
  // both sides meet in ONE full outer join, and the ledger counts
  // matched keys, childless parents, and orphaned children - the
  // orphan count is the data-loss alarm. Both key sets collapse
  // map-side before the join; the ledger is a single row.
  // ------------------------------------------------------------------

  private lazy val auditFkIntegrity = Q(
    "audit_fk_integrity",
    (s, d) => {
      import s.implicits._
      val parents = Tables.t(s, d, "orders")
        .select($"o_orderkey".as("pk")).distinct()
      val children = Tables.t(s, d, "lineitem")
        .select($"l_orderkey".as("fk")).distinct()
      parents.join(children, $"pk" === $"fk", "full_outer")
        .agg(
          sum(($"pk".isNotNull && $"fk".isNotNull).cast("long")).as("n_matched"),
          sum(($"pk".isNotNull && $"fk".isNull).cast("long")).as("n_childless"),
          sum(($"pk".isNull && $"fk".isNotNull).cast("long")).as("n_orphans"))
    },
    Some("WITH p AS (SELECT DISTINCT o_orderkey AS pk FROM orders), " +
      "c AS (SELECT DISTINCT l_orderkey AS fk FROM lineitem) " +
      "SELECT " +
      "CAST(SUM(CASE WHEN pk IS NOT NULL AND fk IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_matched, " +
      "CAST(SUM(CASE WHEN pk IS NOT NULL AND fk IS NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_childless, " +
      "CAST(SUM(CASE WHEN pk IS NULL AND fk IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_orphans " +
      "FROM p FULL OUTER JOIN c ON pk = fk"))

  // ------------------------------------------------------------------
  // agg_benford_digits - Benford's-law first-digit analysis of order
  // totals (the fraud/fabrication screen: organically-grown magnitudes
  // follow P(d) = log10(1 + 1/d); invented numbers don't): the first
  // significant digit comes from the decimal string of the integer
  // cents (no float log tricks), observed shares are exact rationals,
  // the expected share is one log10 call on identical text, and each
  // chi-square contribution quantizes to BIGINT before any cross-digit
  // use. Bounded 9-row output.
  // ------------------------------------------------------------------

  private lazy val aggBenfordDigits = Q(
    "agg_benford_digits",
    (s, d) => {
      import s.implicits._
      val digits = Tables.t(s, d, "orders")
        .select(round($"o_totalprice" * 100).cast("long").as("c"))
        .filter($"c" > 0)
        .select(substring($"c".cast("string"), 1, 1).cast("long").as("digit"))
      val tot = digits.count().toDouble
      digits.groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("obs", $"n".cast("double") / lit(tot))
        .withColumn("exp", log(10.0, lit(1.0) + lit(1.0) / $"digit"))
        .select($"digit", $"n",
          dround($"obs", 6).as("observed_share"),
          dround($"exp", 6).as("benford_share"),
          dround(($"obs" - $"exp") * ($"obs" - $"exp") / $"exp" * lit(tot), 4)
            .as("chi2_term"))
        .orderBy("digit")
    },
    Some("WITH dg AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) " +
      "AS BIGINT) AS digit FROM (SELECT CAST(round(o_totalprice * 100) " +
      "AS BIGINT) AS c FROM orders) WHERE c > 0), " +
      "tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM dg), " +
      "a AS (SELECT digit, count(*) AS n, " +
      "CAST(count(*) AS DOUBLE) / (SELECT t FROM tt) AS obs, " +
      "log10(1.0 + 1.0 / digit) AS exp FROM dg GROUP BY 1) " +
      "SELECT digit, n, " +
      OSql.sround("obs", 6) + " AS observed_share, " +
      OSql.sround("exp", 6) + " AS benford_share, " +
      OSql.sround("(obs - exp) * (obs - exp) / exp * (SELECT t FROM tt)", 4) +
      " AS chi2_term FROM a ORDER BY 1"))

  // ------------------------------------------------------------------
  // anomaly_tukey_fence - the boxplot outlier rule completing the
  // anomaly trio (z-score assumes normality, MAD a symmetric spread;
  // Tukey fences are the distribution-free default): exact discrete
  // quartiles per type, fences at Q1 - 3*IQR div 2 and Q3 + 3*IQR
  // div 2 (integer arithmetic - IQR >= 0 so the halving truncates
  // identically in both engines), per-type outlier ledger.
  //
  // Scale shape: quartiles and the fence counts depend only on VALUES,
  // so the whole key runs over the bounded per-(type, v) count ledger
  // (2-decimal domain): value v covers ranks (cum−c, cum], so the
  // ⌈n/4⌉-rank test is pure integer arithmetic on (cum, c, n), and the
  // below/above counts are Σc filters — no fact-row WindowExec keyed
  // by the 5-value type column.
  // ------------------------------------------------------------------

  private lazy val anomalyTukeyFence = Q(
    "anomaly_tukey_fence",
    (s, d) => {
      import s.implicits._
      val cnt = Tables.events(s, d)
        .select($"event_type", round($"value" * 100).cast("long").as("v"))
        .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
      val run = Window.partitionBy($"event_type").orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"event_type")
      val edges = cnt
        .select($"event_type", $"v", $"c",
          sum($"c").over(run).as("cum"), sum($"c").over(tot).as("n"))
        .groupBy("event_type").agg(
          max(when($"cum" * 4 >= $"n" && ($"cum" - $"c") * 4 < $"n", $"v"))
            .as("q1"),
          max(when($"cum" * 4 >= $"n" * 3 && ($"cum" - $"c") * 4 < $"n" * 3,
            $"v")).as("q3"))
        .withColumn("lo", expr("q1 - (3 * (q3 - q1)) div 2"))
        .withColumn("hi", expr("q3 + (3 * (q3 - q1)) div 2"))
      cnt.join(broadcast(edges), "event_type")
        .groupBy("event_type").agg(
          sum($"c").as("n"),
          max($"lo").as("fence_lo"), max($"hi").as("fence_hi"),
          sum(when($"v" < $"lo", $"c").otherwise(lit(0L))).as("n_below"),
          sum(when($"v" > $"hi", $"c").otherwise(lit(0L))).as("n_above"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, event_id, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "r AS (SELECT event_type, v, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY v, event_id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS n FROM e), " +
      "edges AS (SELECT event_type, q1 - (3 * (q3 - q1)) // 2 AS lo, " +
      "q3 + (3 * (q3 - q1)) // 2 AS hi FROM (SELECT event_type, " +
      "max(CASE WHEN rn * 4 >= n AND (rn - 1) * 4 < n THEN v END) AS q1, " +
      "max(CASE WHEN rn * 4 >= n * 3 AND (rn - 1) * 4 < n * 3 THEN v END) " +
      "AS q3 FROM r GROUP BY 1)) " +
      "SELECT e.event_type, count(*) AS n, " +
      "max(lo) AS fence_lo, max(hi) AS fence_hi, " +
      "CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below, " +
      "CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above " +
      "FROM e JOIN edges ON edges.event_type = e.event_type " +
      "GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // agg_trimmed_mean - the 5%-trimmed mean per type: unlike
  // `agg_winsorized_mean` (which CLIPS the tails to the percentile
  // values) the trimmed estimator EXCLUDES them - rows ranked outside
  // (ceil(n/20), n - ceil(n/20)] leave before the exact integer mean.
  //
  // Scale shape: trimming removes RANK ranges, and equal values hold
  // contiguous ranks, so each entry of the bounded per-(type, v) count
  // ledger keeps exactly overlap((cum−c, cum], (cut, n−cut]) =
  // max(0, min(cum, n−cut) − max(cum−c, cut)) copies — pure integer
  // arithmetic; the kept count and Σ kept·v aggregate the ledger. No
  // fact-row WindowExec keyed by the 5-value type column (the old
  // spelling ranked N/|types| rows through one task per type).
  // ------------------------------------------------------------------

  private lazy val aggTrimmedMean = Q(
    "agg_trimmed_mean",
    (s, d) => {
      import s.implicits._
      val cnt = Tables.events(s, d)
        .select($"event_type", round($"value" * 100).cast("long").as("v"))
        .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
      val run = Window.partitionBy($"event_type").orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"event_type")
      cnt.select($"event_type", $"v", $"c",
          sum($"c").over(run).as("cum"), sum($"c").over(tot).as("n"))
        .withColumn("cut", expr("(n + 19) div 20"))
        .withColumn("kept", greatest(
          least($"cum", $"n" - $"cut") - greatest($"cum" - $"c", $"cut"),
          lit(0L)))
        .groupBy("event_type").agg(
          sum($"kept").as("n_kept"),
          dround(sum($"kept" * $"v").cast("double") / sum($"kept") / 100.0, 6)
            .as("trimmed_mean"))
        // a group whose every rank is trimmed (tiny n) emits no row in
        // the row-filter spelling — match it
        .filter($"n_kept" > 0)
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, event_id, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "r AS (SELECT event_type, v, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY v, event_id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS n FROM e), " +
      "k AS (SELECT event_type, v FROM (SELECT event_type, v, rn, n, " +
      "(n + 19) // 20 AS cut FROM r) WHERE rn > cut AND rn <= n - cut) " +
      "SELECT event_type, count(*) AS n_kept, " +
      OSql.sround("CAST(SUM(v) AS DOUBLE) / count(*) / 100.0", 6) +
      " AS trimmed_mean FROM k GROUP BY 1 ORDER BY 1"))
}
