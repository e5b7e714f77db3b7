package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Det, OSql, Q, Share, Tables}

/** Time-series repair, forecasting, and distribution-drift operators —
  * the monitoring layer a replay consumer runs over the landed archive:
  * linear gap interpolation on the hourly grid, seasonal-naive
  * forecasting with MAE scoring, population-stability drift (PSI), and
  * hour-of-day Shannon entropy. All hash-verified against DuckDB.
  *
  * Scale shape (the 100 TB stance, per operator):
  *  - ts_interpolate_linear: the fact table collapses map-side to an
  *    (event_type, hour) grid BEFORE any window; the calendar spine is
  *    sequence()-exploded from one bounds row per type (bounded by the
  *    calendar, not data), and the prev/next windows are keyed by
  *    event_type — never a global WindowExec. Interpolation is the
  *    integer lerp (pv·(nh−h) + nv·(h−ph))·10⁶ div (nh−ph): every
  *    operand non-negative, so truncating div agrees across engines.
  *  - ts_forecast_snaive: history means and last-day actuals are two
  *    conditional aggregates over the SAME (type, day, hour) grid —
  *    one shuffle; the per-type max-day is a broadcast row.
  *  - profile_drift_psi: era×bin counts collapse map-side to a
  *    |types|·2·20 grid; Laplace-smoothed shares are exact rationals
  *    evaluated with identical expression text, and each PSI term is
  *    integer-quantized BEFORE the per-type sum (exact BIGINT
  *    reduction, order-independent).
  *  - agg_entropy: bucket counts collapse map-side to ≤24 rows per
  *    type; each c·log₂c term quantizes to BIGINT before the sum.
  *    (ln/log2 may differ by 1 ulp across engines — the same bounded
  *    risk the unigram-LM keys carry, empirically hash-stable at all
  *    three SFs.)
  */
object TsOps {
  import Det._

  /** The shared HOURLY CENTS series (event_type, h, v) — the grid six
    * time-series operators run on, defined ONCE per engine: exact
    * integer cent sums per (type, epoch-hour), collapsed map-side. A
    * grid change (rounding, bucketing) lands here and stays in sync
    * across every consumer and its oracle.
    *
    * Shared ([[Share]]): almost every consumer branches over the
    * CALENDAR-BOUNDED grid several times (seasonal profile + residual +
    * moments; lag spines; decompositions), and the fact-scale hourly
    * collapse runs once per query regardless of branch count.
    */
  private def hourlyCents(s: SparkSession, d: String) = {
    import s.implicits._
    Share(Tables.events(s, d)
      .select($"event_type", expr(Det.fdivExpr("ms", "3600000")).as("h"),
        round($"value" * 100).cast("long").as("c"))
      .groupBy("event_type", "h").agg(sum($"c").as("v")))
  }

  private val hourlyCtes: String =
    "hourly AS (SELECT event_type, epoch_ms(ts) // 3600000 AS h, " +
      "SUM(CAST(round(value*100) AS BIGINT)) AS v FROM events GROUP BY 1,2)"


  private val HourMs = 3600000L
  private val DayMs = 86400000L

  // ------------------------------------------------------------------
  // ts_interpolate_linear — repair the hourly per-type value series by
  // LINEAR INTERPOLATION across missing hours (the telemetry-grid
  // sibling of window_fill_forward's LOCF): the spine is every hour
  // between a type's first and last observed hour; an absent hour gets
  // the integer lerp between its nearest observed neighbors. The
  // bounds come from observed data, so the spine's endpoints are
  // always observed and every gap is interior (prev and next exist).
  // Output is the per-type repair ledger: spine length, observed vs
  // filled counts, and the exact sums of both populations.
  // ------------------------------------------------------------------

  private val tsInterpolateLinear = Q(
    "ts_interpolate_linear",
    (s, d) => {
      import s.implicits._
      val hourly = hourlyCents(s, d)
      val bounds = hourly.groupBy("event_type")
        .agg(min($"h").as("h0"), max($"h").as("h1"))
      val spine = bounds.select($"event_type",
        explode(sequence($"h0", $"h1")).as("h"))
      val j = spine.join(hourly, Seq("event_type", "h"), "left")
      val ord = Window.partitionBy($"event_type").orderBy($"h".asc)
      val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val marked = j.select($"event_type", $"h", $"v",
        last($"v", ignoreNulls = true).over(back).as("pv"),
        last(when($"v".isNotNull, $"h"), ignoreNulls = true).over(back).as("ph"),
        first($"v", ignoreNulls = true).over(fwd).as("nv"),
        first(when($"v".isNotNull, $"h"), ignoreNulls = true).over(fwd).as("nh"))
      marked
        .withColumn("fill", when($"v".isNull,
          expr("((pv * (nh - h) + nv * (h - ph)) * 1000000) div (nh - ph)")))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_hours"),
          count($"v").as("n_obs"),
          count($"fill").as("n_filled"),
          dround(sum($"v").cast("double") / 100.0, 2).as("obs_total"),
          dround(sum($"fill").cast("double") / 1e6 / 100.0, 4).as("filled_total"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1 " +
      "FROM hourly GROUP BY 1), " +
      "spine AS (SELECT event_type, unnest(generate_series(h0, h1)) AS h " +
      "FROM bounds), " +
      "j AS (SELECT s.event_type, s.h, hourly.v FROM spine s " +
      "LEFT JOIN hourly ON hourly.event_type = s.event_type AND hourly.h = s.h), " +
      "m AS (SELECT event_type, h, v, " +
      "last_value(v IGNORE NULLS) OVER w_back AS pv, " +
      "last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) " +
      "OVER w_back AS ph, " +
      "first_value(v IGNORE NULLS) OVER w_fwd AS nv, " +
      "first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) " +
      "OVER w_fwd AS nh FROM j " +
      "WINDOW w_back AS (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
      "w_fwd AS (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), " +
      "f AS (SELECT event_type, h, v, CASE WHEN v IS NULL THEN " +
      "((pv * (nh - h) + nv * (h - ph)) * 1000000) // (nh - ph) END AS fill " +
      "FROM m) " +
      "SELECT event_type, count(*) AS n_hours, count(v) AS n_obs, " +
      "count(fill) AS n_filled, " +
      OSql.sround("CAST(SUM(v) AS DOUBLE) / 100.0", 2) + " AS obs_total, " +
      OSql.sround("CAST(SUM(fill) AS DOUBLE) / 1e6 / 100.0", 4) +
      " AS filled_total FROM f GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_forecast_snaive — seasonal-naive forecast with MAE scoring: the
  // LAST archive day of each type is forecast hour-by-hour from the
  // mean of the same hour-of-day over all PRIOR days (the hourly
  // seasonal profile — the baseline every forecasting deployment must
  // beat). History means are exact integer divisions (S·10⁶ div n,
  // non-negative) and the per-hour absolute errors are exact BIGINTs,
  // so the MAE is a single final division. Hours of the last day with
  // no prior-day observation are unscorable and excluded (n_scored
  // reports how many survive).
  // ------------------------------------------------------------------

  private val tsForecastSnaive = Q(
    "ts_forecast_snaive",
    (s, d) => {
      import s.implicits._
      val grid = Tables.events(s, d)
        .select($"event_type",
          expr(Det.fdivExpr("ms", "86400000")).as("day"),
          expr(s"(${Det.fdivExpr("ms", "3600000")}) % 24").as("hod"),
          round($"value" * 100).cast("long").as("c"))
        .groupBy("event_type", "day", "hod").agg(sum($"c").as("v"))
      val maxd = grid.groupBy("event_type").agg(max($"day").as("maxd"))
      val g = grid.join(broadcast(maxd), "event_type")
      val hist = g.filter($"day" < $"maxd")
        .groupBy("event_type", "hod")
        .agg(expr(Det.fdivExpr("sum(v) * 1000000", "count(v)")).as("fc"))
      val lastDay = g.filter($"day" === $"maxd")
        .select($"event_type", $"hod", $"v".as("actual"))
      lastDay.join(hist, Seq("event_type", "hod"))
        .withColumn("err", abs($"actual" * lit(1000000L) - $"fc"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_scored"),
          dround(sum($"actual").cast("double") / 100.0, 2).as("actual_total"),
          dround(sum($"err").cast("double") / count(lit(1)) / 1e6 / 100.0, 4)
            .as("mae"))
        .orderBy("event_type")
    },
    Some("WITH grid AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "(epoch_ms(ts) // 3600000) % 24 AS hod, " +
      "SUM(CAST(round(value*100) AS BIGINT)) AS v FROM events GROUP BY 1,2,3), " +
      "maxd AS (SELECT event_type, max(day) AS maxd FROM grid GROUP BY 1), " +
      "g AS (SELECT grid.*, maxd.maxd FROM grid JOIN maxd USING (event_type)), " +
      "hist AS (SELECT event_type, hod, " +
      "(SUM(v) * 1000000) // count(v) AS fc FROM g WHERE day < maxd " +
      "GROUP BY 1,2), " +
      "s AS (SELECT g.event_type, g.v AS actual, " +
      "abs(g.v * 1000000 - hist.fc) AS err FROM g " +
      "JOIN hist ON hist.event_type = g.event_type AND hist.hod = g.hod " +
      "WHERE g.day = g.maxd) " +
      "SELECT event_type, count(*) AS n_scored, " +
      OSql.sround("CAST(SUM(actual) AS DOUBLE) / 100.0", 2) + " AS actual_total, " +
      OSql.sround("CAST(SUM(err) AS DOUBLE) / count(*) / 1e6 / 100.0", 4) +
      " AS mae FROM s GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // profile_drift_psi — Population Stability Index between two archive
  // eras (split by event_id parity — the deterministic A/B the other
  // stat keys use), per event_type: values bucket into 20 fixed-width
  // $50 bins (top bin open), counts get Laplace +1 smoothing so empty
  // bins stay finite, and PSI = Σ (pa−pb)·ln(pa/pb) over the COMPLETE
  // bin spine (absent bins still contribute through smoothing). The
  // smoothed shares are exact rationals evaluated with identical
  // expression text; each term quantizes to BIGINT·1e8 before the sum.
  // PSI < 0.1 is the classic "no drift" read — the parity split is
  // null by construction, making small values the expected output.
  // ------------------------------------------------------------------

  private val profileDriftPsi = Q(
    "profile_drift_psi",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"event_type", ($"event_id" % 2).as("era"),
          least(expr("cast(round(value * 100) as long) div 5000"), lit(19L)).as("bin"))
      val counts = e.groupBy("event_type", "era", "bin").agg(count(lit(1)).as("c"))
      val spine = e.select($"event_type").distinct()
        .select($"event_type", explode(sequence(lit(0L), lit(19L))).as("bin"))
      val wide = spine
        .join(counts.filter($"era" === 0).select($"event_type", $"bin", $"c".as("ca")),
          Seq("event_type", "bin"), "left")
        .join(counts.filter($"era" === 1).select($"event_type", $"bin", $"c".as("cb")),
          Seq("event_type", "bin"), "left")
        .select($"event_type", $"bin",
          coalesce($"ca", lit(0L)).as("ca"), coalesce($"cb", lit(0L)).as("cb"))
      val tot = wide.groupBy("event_type")
        .agg(sum($"ca").as("ta"), sum($"cb").as("tb"))
      wide.join(broadcast(tot), "event_type")
        .withColumn("pa", ($"ca" + lit(1)).cast("double") / ($"ta" + lit(20)))
        .withColumn("pb", ($"cb" + lit(1)).cast("double") / ($"tb" + lit(20)))
        .withColumn("term",
          floor(($"pa" - $"pb") * log($"pa" / $"pb") * lit(1e8) + lit(0.5))
            .cast("long"))
        .groupBy("event_type").agg(
          sum($"ca").as("n_a"), sum($"cb").as("n_b"),
          (sum($"term") / lit(1e8)).as("psi"))
        .orderBy("event_type")
    },
    Some("WITH e AS (SELECT event_type, event_id % 2 AS era, " +
      "least(CAST(round(value*100) AS BIGINT) // 5000, 19) AS bin FROM events), " +
      "counts AS (SELECT event_type, era, bin, count(*) AS c " +
      "FROM e GROUP BY 1,2,3), " +
      "spine AS (SELECT event_type, unnest(generate_series(0, 19)) AS bin " +
      "FROM (SELECT DISTINCT event_type FROM e)), " +
      "wide AS (SELECT s.event_type, s.bin, " +
      "COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb FROM spine s " +
      "LEFT JOIN counts a ON a.event_type = s.event_type AND a.bin = s.bin " +
      "AND a.era = 0 " +
      "LEFT JOIN counts b ON b.event_type = s.event_type AND b.bin = s.bin " +
      "AND b.era = 1), " +
      "tot AS (SELECT event_type, SUM(ca) AS ta, SUM(cb) AS tb " +
      "FROM wide GROUP BY 1), " +
      "t AS (SELECT w.event_type, w.ca, w.cb, " +
      "CAST(floor((pa - pb) * ln(pa / pb) * 1e8 + 0.5) AS BIGINT) AS term " +
      "FROM (SELECT w.*, CAST(w.ca + 1 AS DOUBLE) / (tot.ta + 20) AS pa, " +
      "CAST(w.cb + 1 AS DOUBLE) / (tot.tb + 20) AS pb " +
      "FROM wide w JOIN tot USING (event_type)) w) " +
      "SELECT event_type, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b, " +
      "SUM(term) / 1e8 AS psi FROM t GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // agg_entropy — Shannon entropy (bits) of each event_type's
  // hour-of-day distribution: H = log₂T − (Σ c·log₂c)/T over the ≤24
  // observed buckets. The identity form keeps every sum over exact
  // integers: counts collapse map-side, each c·log₂c term quantizes
  // to BIGINT·1e6 before the reduction, and the two log calls per
  // output row are single expressions with identical text in both
  // engines. A type seen in only one hour scores exactly 0; a uniform
  // 24-hour spread scores log₂24 ≈ 4.585.
  // ------------------------------------------------------------------

  private val aggEntropy = Q(
    "agg_entropy",
    (s, d) => {
      import s.implicits._
      val buckets = Tables.events(s, d)
        .select($"event_type",
          expr(s"(${Det.fdivExpr("ms", "3600000")}) % 24").as("hod"))
        .groupBy("event_type", "hod").agg(count(lit(1)).as("c"))
        .withColumn("term",
          floor($"c" * log2($"c") * lit(1e6) + lit(0.5)).cast("long"))
      buckets.groupBy("event_type").agg(
          count(lit(1)).as("n_buckets"),
          sum($"c").as("n"),
          dround(log2(sum($"c")) - (sum($"term") / lit(1e6)) / sum($"c"), 6)
            .as("entropy_bits"))
        .orderBy("event_type")
    },
    Some("WITH b AS (SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hod, " +
      "count(*) AS c FROM events GROUP BY 1,2), " +
      "t AS (SELECT event_type, c, " +
      "CAST(floor(c * log2(c) * 1e6 + 0.5) AS BIGINT) AS term FROM b) " +
      "SELECT event_type, count(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS n, " +
      OSql.sround("log2(SUM(c)) - (SUM(term) / 1e6) / SUM(c)", 6) +
      " AS entropy_bits FROM t GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // window_median_rolling — rolling MEDIAN of each user's last 5
  // readings (the robust denoising filter; the median sibling of
  // `window_moving_avg`, immune to the single spike that drags a
  // mean): a 5-row trailing frame collects the cent values, sorts
  // them, and picks the lower median at index (n+1) div 2. Every
  // value is an exact integer, the frame is bounded (O(k) state per
  // row), and the window is keyed by user — one hash shuffle, never a
  // global WindowExec.
  // ------------------------------------------------------------------

  private val windowMedianRolling = Q(
    "window_median_rolling",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ms".asc, $"event_id".asc)
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, d)
        .select($"user_id", $"ms", $"event_id",
          round($"value" * 100).cast("long").as("c"))
        .withColumn("win", sort_array(collect_list($"c").over(w)))
        .select($"user_id", $"ms", $"event_id", $"c",
          expr("win[((size(win) + 1) div 2) - 1]").as("med_c"))
        .orderBy("user_id", "ms", "event_id")
    },
    // list_sort is pinned 'ASC NULLS FIRST' to match Spark's
    // sort_array (DuckDB's default sorts NULLs LAST), and the window's
    // ms key pins NULLS FIRST for the same reason
    Some("SELECT user_id, epoch_ms(ts) AS ms, event_id, c, " +
      "l[(len(l) + 1) // 2] AS med_c FROM " +
      "(SELECT user_id, ts, event_id, c, " +
      "list_sort(array_agg(c) OVER (PARTITION BY user_id " +
      "ORDER BY epoch_ms(ts) NULLS FIRST, event_id " +
      "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 'ASC', 'NULLS FIRST') AS l FROM " +
      "(SELECT user_id, ts, event_id, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events)) " +
      "ORDER BY user_id, ms, event_id"))

  // ------------------------------------------------------------------
  // window_drawdown — maximum drawdown of each type's cumulative value
  // series (the risk metric: the deepest peak-to-trough fall of the
  // running total): cum rides a type-keyed running sum over the hourly
  // grid, peak a running max of cum, drawdown = peak − cum, all exact
  // cents longs; one keyed window (the two frames share its exchange
  // and sort). Reported in dollars with the final exact division.
  // ------------------------------------------------------------------

  private val windowDrawdown = Q(
    "window_drawdown",
    (s, d) => {
      import s.implicits._
      // net flow: every third event_id subtracts, the rest add (a
      // synthetic outflow rule — a sum of non-negatives never draws
      // down, so the series needs genuine troughs)
      val hourly = Tables.events(s, d)
        .select($"event_type", expr(Det.fdivExpr("ms", "3600000")).as("h"),
          when($"event_id" % 3 === 0, -round($"value" * 100).cast("long"))
            .otherwise(round($"value" * 100).cast("long")).as("c"))
        .groupBy("event_type", "h").agg(sum($"c").as("v"))
      val run = Window.partitionBy($"event_type").orderBy($"h".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourly
        .select($"event_type", $"h", sum($"v").over(run).as("cum"))
        .withColumn("peak", max($"cum").over(
          Window.partitionBy($"event_type").orderBy($"h".asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_hours"),
          dround(max($"cum").cast("double") / 100.0, 2).as("peak_total"),
          dround(max($"peak" - $"cum").cast("double") / 100.0, 2)
            .as("max_drawdown"))
        .orderBy("event_type")
    },
    Some("WITH hourly AS (SELECT event_type, epoch_ms(ts) // 3600000 AS h, " +
      "SUM(CASE WHEN event_id % 3 = 0 THEN -CAST(round(value*100) AS BIGINT) " +
      "ELSE CAST(round(value*100) AS BIGINT) END) AS v " +
      "FROM events GROUP BY 1,2), " +
      "c1 AS (SELECT event_type, h, " +
      "SUM(v) OVER (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hourly), " +
      "c AS (SELECT event_type, h, cum, " +
      "MAX(cum) OVER (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM c1) " +
      "SELECT event_type, count(*) AS n_hours, " +
      OSql.sround("CAST(max(cum) AS DOUBLE) / 100.0", 2) + " AS peak_total, " +
      OSql.sround("CAST(max(peak - cum) AS DOUBLE) / 100.0", 2) +
      " AS max_drawdown FROM c GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // window_rolling_slope — rolling OLS trend over each type's last 5
  // hourly points (the local trend detector behind rate-of-change
  // alerting): closed-form slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from
  // exact integer sufficient sums over a bounded 5-row frame; a
  // single-point frame has zero x-variance and yields NULL, not 0/0.
  // One type-keyed window; all five sums share its exchange and sort.
  // ------------------------------------------------------------------

  private val windowRollingSlope = Q(
    "window_rolling_slope",
    (s, d) => {
      import s.implicits._
      val hourly = hourlyCents(s, d)
      val f = Window.partitionBy($"event_type").orderBy($"h".asc)
        .rowsBetween(-4, Window.currentRow)
      hourly
        .select($"event_type", $"h",
          count(lit(1)).over(f).as("n"),
          sum($"h").over(f).as("sx"), sum($"v").over(f).as("sy"),
          sum($"h" * $"v").over(f).as("sxy"),
          sum($"h" * $"h").over(f).as("sxx"))
        .withColumn("den", $"n" * $"sxx" - $"sx" * $"sx")
        .select($"event_type", $"h",
          when($"den" > 0,
            dround(($"n" * $"sxy" - $"sx" * $"sy").cast("double")
              / $"den" / 100.0, 6)).as("slope_usd_per_hour"))
        .orderBy("event_type", "h")
    },
    Some("WITH " + hourlyCtes + ", " +
      "s AS (SELECT event_type, h, " +
      "COUNT(*) OVER f AS n, SUM(h) OVER f AS sx, SUM(v) OVER f AS sy, " +
      "SUM(h * v) OVER f AS sxy, SUM(h * h) OVER f AS sxx FROM hourly " +
      "WINDOW f AS (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) " +
      "SELECT event_type, h, " +
      "CASE WHEN n * sxx - sx * sx > 0 THEN " +
      OSql.sround("CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) " +
        "/ 100.0", 6) + " END AS slope_usd_per_hour " +
      "FROM s ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // stat_trend_mann_kendall — the Mann-Kendall monotonic-trend test
  // per event_type over the hourly series: S = Σ_{i<j} sign(v_j − v_i)
  // with the tie-corrected variance Var(S) = [n(n−1)(2n+5) −
  // Σ_t t(t−1)(2t+5)]/18 and the continuity-corrected z. S comes from
  // an all-pairs self-join — honest ONLY because the grid is
  // CALENDAR-BOUNDED per type (hours in the archive span, not corpus
  // rows; the fact table collapses map-side first), the same
  // bounded-domain stance as the exact quantiles. Everything is exact
  // integer until z's one sqrt/division with identical formula text.
  // ------------------------------------------------------------------

  private val statTrendMannKendall = Q(
    "stat_trend_mann_kendall",
    (s, d) => {
      import s.implicits._
      val hourly = hourlyCents(s, d)
      val a = hourly.select($"event_type", $"h".as("hi"), $"v".as("vi"))
      val b = hourly.select($"event_type", $"h".as("hj"), $"v".as("vj"))
      val sStat = a.join(b, "event_type").filter($"hi" < $"hj")
        .groupBy("event_type")
        .agg(sum(signum(($"vj" - $"vi").cast("double")).cast("long")).as("s"))
      val ties = hourly.groupBy("event_type", "v")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type").agg(
          sum($"t").as("n"),
          sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)).as("tcorr"))
      sStat.join(ties, "event_type")
        .withColumn("vars",
          ($"n" * ($"n" - 1) * (lit(2) * $"n" + 5) - $"tcorr").cast("double")
            / 18.0)
        .select($"event_type", $"n", $"s",
          when($"vars" > 0,
            dround(when($"s" > 0, ($"s" - 1) / sqrt($"vars"))
              .when($"s" < 0, ($"s" + 1) / sqrt($"vars"))
              .otherwise(lit(0.0)), 6)).as("z"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "st AS (SELECT a.event_type, " +
      "CAST(SUM(CAST(sign(CAST(b.v - a.v AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s " +
      "FROM hourly a JOIN hourly b ON a.event_type = b.event_type " +
      "AND a.h < b.h GROUP BY 1), " +
      "ties AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n, " +
      "CAST(SUM(t * (t - 1) * (2*t + 5)) AS BIGINT) AS tcorr " +
      "FROM (SELECT event_type, v, count(*) AS t FROM hourly GROUP BY 1,2) " +
      "GROUP BY 1), " +
      "j AS (SELECT st.event_type, n, s, " +
      "CAST(n * (n - 1) * (2*n + 5) - tcorr AS DOUBLE) / 18.0 AS vars " +
      "FROM st JOIN ties ON ties.event_type = st.event_type) " +
      "SELECT event_type, n, s, " +
      "CASE WHEN vars > 0 THEN " +
      OSql.sround("CASE WHEN s > 0 THEN (s - 1) / sqrt(vars) " +
        "WHEN s < 0 THEN (s + 1) / sqrt(vars) ELSE 0.0 END", 6) +
      " END AS z FROM j ORDER BY 1"))

  // ------------------------------------------------------------------
  // window_cusum_change — CUSUM changepoint estimation per type over
  // the hourly series, ENTIRELY in exact integers: the classic CUSUM
  // statistic C_k = Σ_{i≤k}(v_i − mean) locates a level shift at the
  // argmax of |C_k|; multiplying through by n clears the division —
  // D_k = n·prefix_k − k·total is an exact BIGINT, its argmax the same
  // hour. One keyed window (prefix sum + row index share the
  // exchange); the magnitude pays ONE final division. The argmax hour
  // is fully tie-broken (|D| desc, h asc).
  // ------------------------------------------------------------------

  private val windowCusumChange = Q(
    "window_cusum_change",
    (s, d) => {
      import s.implicits._
      val hourly = hourlyCents(s, d)
      val run = Window.partitionBy($"event_type").orderBy($"h".asc)
      val tot = Window.partitionBy($"event_type")
      val dk = hourly.select($"event_type", $"h",
          sum($"v").over(run.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("prefix"),
          row_number().over(run).as("k"),
          sum($"v").over(tot).as("s"), count(lit(1)).over(tot).as("n"))
        .withColumn("dabs", abs($"n" * $"prefix" - $"k" * $"s"))
      val pick = Window.partitionBy($"event_type")
        .orderBy($"dabs".desc, $"h".asc)
      dk.withColumn("rn", row_number().over(pick))
        .filter($"rn" === 1)
        .select($"event_type", $"n".cast("long").as("n_hours"),
          $"h".as("cp_hour"),
          dround($"dabs".cast("double") / $"n" / 100.0, 4).as("cusum_usd"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "dk AS (SELECT event_type, h, " +
      "abs(n * prefix - k * s) AS dabs, n FROM (" +
      "SELECT event_type, h, " +
      "SUM(v) OVER (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY h) AS k, " +
      "SUM(v) OVER (PARTITION BY event_type) AS s, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS n FROM hourly)), " +
      "pick AS (SELECT event_type, h, dabs, n, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY dabs DESC, h) AS rn FROM dk) " +
      "SELECT event_type, CAST(n AS BIGINT) AS n_hours, h AS cp_hour, " +
      OSql.sround("CAST(dabs AS DOUBLE) / n / 100.0", 4) + " AS cusum_usd " +
      "FROM pick WHERE rn = 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // interval_union_length — the UNION-OF-INTERVALS primitive (total
  // covered time, overlaps counted once): every event opens a 10-min
  // activity window and the user's covered duration is the union
  // length, computed by the classic start-ordered sweep — the running
  // max of prior ends rides one user-keyed exclusive-frame window, and
  // each interval contributes max(0, end − max(start, prior_max_end)).
  // Exact integer milliseconds throughout; the sibling of
  // `interval_concurrency` (which counts depth; this measures
  // coverage).
  // ------------------------------------------------------------------

  private val intervalUnionLength = Q(
    "interval_union_length",
    (s, d) => {
      import s.implicits._
      val win = 600000L // 10-minute activity window per event
      val iv = Tables.events(s, d)
        .select($"user_id", $"event_id", $"ms".as("st"),
          ($"ms" + win).as("en"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"st".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      iv.withColumn("pmax", max($"en").over(w))
        .withColumn("add",
          greatest(lit(0L), $"en" - greatest($"st", coalesce($"pmax", $"st"))))
        .groupBy("user_id").agg(
          count(lit(1)).as("n_windows"),
          sum($"add").as("covered_ms"))
        .orderBy("user_id")
    },
    Some("WITH iv AS (SELECT user_id, event_id, epoch_ms(ts) AS st, " +
      "epoch_ms(ts) + 600000 AS en FROM events), " +
      "sw AS (SELECT user_id, en, st, " +
      "max(en) OVER (PARTITION BY user_id ORDER BY st NULLS FIRST, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv) " +
      "SELECT user_id, count(*) AS n_windows, " +
      "CAST(SUM(greatest(0, en - greatest(st, COALESCE(pmax, st)))) " +
      "AS BIGINT) AS covered_ms " +
      "FROM sw GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // stat_runs_test — the Wald–Wolfowitz runs test per type over the
  // hourly series: signs = (v > lower median of the type's hourly
  // values), runs counted as 1 + sign changes in hour order, compared
  // against the expected run count 1 + 2·n1·n0/n with its closed-form
  // variance. Median is the exact discrete rule (value at ⌈n/2⌉);
  // signs, run counting, and the class counts are exact integers; z is
  // one guarded expression (a one-class series has no defined test).
  // Too few runs ⇒ trending/clustered; too many ⇒ oscillating.
  // ------------------------------------------------------------------

  private val statRunsTest = Q(
    "stat_runs_test",
    (s, d) => {
      import s.implicits._
      val hourly = hourlyCents(s, d)
      val rankW = Window.partitionBy($"event_type").orderBy($"v".asc, $"h".asc)
      val tot = Window.partitionBy($"event_type")
      val med = hourly
        .select($"event_type", $"v",
          row_number().over(rankW).as("rn"), count(lit(1)).over(tot).as("n"))
        .groupBy("event_type").agg(
          max(when($"rn" * 2 >= $"n" && ($"rn" - 1) * 2 < $"n", $"v")).as("med"))
      val signed = hourly.join(broadcast(med), "event_type")
        .withColumn("sg", ($"v" > $"med").cast("long"))
      val ord = Window.partitionBy($"event_type").orderBy($"h".asc)
      signed
        .withColumn("chg",
          when(lag($"sg", 1).over(ord).isNull, 1L)
            .when(lag($"sg", 1).over(ord) =!= $"sg", 1L).otherwise(0L))
        .groupBy("event_type").agg(
          sum($"sg").as("n1"),
          (count(lit(1)) - sum($"sg")).as("n0"),
          sum($"chg").as("runs"))
        .withColumn("n", ($"n1" + $"n0").cast("double"))
        .withColumn("er", lit(1.0) + lit(2.0) * $"n1" * $"n0" / $"n")
        .withColumn("vr",
          when($"n1" > 0 && $"n0" > 0 && $"n" > 1,
            lit(2.0) * $"n1" * $"n0" * (lit(2.0) * $"n1" * $"n0" - $"n")
              / ($"n" * $"n" * ($"n" - 1))))
        .select($"event_type", $"n1", $"n0", $"runs",
          when($"vr" > 0, dround(($"runs" - $"er") / sqrt($"vr"), 6)).as("z"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "r AS (SELECT event_type, v, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY v, h) AS rn, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS n FROM hourly), " +
      "med AS (SELECT event_type, " +
      "max(CASE WHEN rn * 2 >= n AND (rn - 1) * 2 < n THEN v END) AS med " +
      "FROM r GROUP BY 1), " +
      "sg AS (SELECT h.event_type, h.h, " +
      "CAST(h.v > med.med AS BIGINT) AS sg " +
      "FROM hourly h JOIN med ON med.event_type = h.event_type), " +
      "chg AS (SELECT event_type, sg, CASE " +
      "WHEN lag(sg) OVER w IS NULL THEN 1 " +
      "WHEN lag(sg) OVER w <> sg THEN 1 ELSE 0 END AS chg FROM sg " +
      "WINDOW w AS (PARTITION BY event_type ORDER BY h)), " +
      "agg AS (SELECT event_type, CAST(SUM(sg) AS BIGINT) AS n1, " +
      "CAST(count(*) - SUM(sg) AS BIGINT) AS n0, " +
      "CAST(SUM(chg) AS BIGINT) AS runs FROM chg GROUP BY 1), " +
      "f AS (SELECT event_type, n1, n0, runs, " +
      "CAST(n1 + n0 AS DOUBLE) AS n, " +
      "1.0 + 2.0 * n1 * n0 / CAST(n1 + n0 AS DOUBLE) AS er, " +
      "CASE WHEN n1 > 0 AND n0 > 0 AND n1 + n0 > 1 THEN " +
      "2.0 * n1 * n0 * (2.0 * n1 * n0 - CAST(n1 + n0 AS DOUBLE)) " +
      "/ (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE) " +
      "* (CAST(n1 + n0 AS DOUBLE) - 1)) END AS vr FROM agg) " +
      "SELECT event_type, n1, n0, runs, " +
      "CASE WHEN vr > 0 THEN " +
      OSql.sround("(runs - er) / sqrt(vr)", 6) + " END AS z " +
      "FROM f ORDER BY 1"))

  // ------------------------------------------------------------------
  // window_mom_growth — period-over-period growth rate per type over
  // fixed 30-day periods (the BI growth report): period totals are
  // exact cents, prev rides a keyed lag, and the rate is one guarded
  // division (the first period, or a zero base, reports NULL — no
  // division blow-up). dround(6) on the single ratio.
  // ------------------------------------------------------------------

  private val windowMomGrowth = Q(
    "window_mom_growth",
    (s, d) => {
      import s.implicits._
      val period = Tables.events(s, d)
        .select($"event_type", expr(Det.fdivExpr("ms", "2592000000")).as("p"),
          round($"value" * 100).cast("long").as("c"))
        .groupBy("event_type", "p").agg(sum($"c").as("v"))
      val w = Window.partitionBy($"event_type").orderBy($"p".asc)
      period
        .withColumn("prev", lag($"v", 1).over(w))
        .select($"event_type", $"p",
          dround($"v".cast("double") / 100.0, 2).as("total_usd"),
          when($"prev" > 0,
            dround(($"v" - $"prev").cast("double") / $"prev", 6))
            .as("growth"))
        .orderBy("event_type", "p")
    },
    Some("WITH period AS (SELECT event_type, " +
      "epoch_ms(ts) // 2592000000 AS p, " +
      "SUM(CAST(round(value*100) AS BIGINT)) AS v FROM events GROUP BY 1,2), " +
      "l AS (SELECT event_type, p, v, " +
      "lag(v) OVER (PARTITION BY event_type ORDER BY p) AS prev FROM period) " +
      "SELECT event_type, p, " +
      OSql.sround("CAST(v AS DOUBLE) / 100.0", 2) + " AS total_usd, " +
      "CASE WHEN prev > 0 THEN " +
      OSql.sround("CAST(v - prev AS DOUBLE) / prev", 6) + " END AS growth " +
      "FROM l ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // agg_autocorr_lag1 — lag-1 autocorrelation of the hourly series per
  // type (the persistence diagnostic: near +1 = momentum, near −1 =
  // oscillation, near 0 = noise): consecutive-hour pairs from one
  // keyed lag, then Pearson r over the pairs from EXACT integer
  // sufficient sums (Σx, Σy, Σxy, Σx², Σy² in DECIMAL — the agg_corr
  // trick), a single guarded sqrt/division at the end.
  // ------------------------------------------------------------------

  private val aggAutocorrLag1 = Q(
    "agg_autocorr_lag1",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val hourly = hourlyCents(s, d)
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
      val pairs = hourly
        .withColumn("x", lag($"v", 1).over(w))
        .filter($"x".isNotNull)
        .select($"event_type", $"x", $"v".as("y"))
      pairs.groupBy("event_type").agg(
          count(lit(1)).cast("double").as("n"),
          sum($"x".cast(Dec380)).cast("double").as("sx"),
          sum($"y".cast(Dec380)).cast("double").as("sy"),
          sum(($"x".cast(Dec380) * $"y")).cast("double").as("sxy"),
          sum(($"x".cast(Dec380) * $"x")).cast("double").as("sxx"),
          sum(($"y".cast(Dec380) * $"y")).cast("double").as("syy"))
        .withColumn("dx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("dy", $"n" * $"syy" - $"sy" * $"sy")
        .select($"event_type", $"n".cast("long").as("n_pairs"),
          when($"dx" > 0 && $"dy" > 0,
            dround(($"n" * $"sxy" - $"sx" * $"sy")
              / sqrt($"dx" * $"dy"), 6)).as("acf1"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "p AS (SELECT event_type, " +
      "lag(v) OVER (PARTITION BY event_type ORDER BY h) AS x, v AS y " +
      "FROM hourly), " +
      "p2 AS (SELECT event_type, x, y FROM p WHERE x IS NOT NULL), " +
      "m AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, " +
      "CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx, " +
      "CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy, " +
      "CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy, " +
      "CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx, " +
      "CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy FROM p2 GROUP BY 1), " +
      "f AS (SELECT event_type, n, sx, sy, sxy, " +
      "n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy FROM m) " +
      "SELECT event_type, CAST(n AS BIGINT) AS n_pairs, " +
      "CASE WHEN dx > 0 AND dy > 0 THEN " +
      OSql.sround("(n * sxy - sx * sy) / sqrt(dx * dy)", 6) +
      " END AS acf1 FROM f ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_acf_lags — the CORRELOGRAM above `agg_autocorr_lag1`'s single
  // point: Pearson autocorrelation of the hourly series at lags
  // {2, 3, 6, 12, 24} (lag 1 is the existing key), the panel a
  // forecaster reads to pick the seasonal period (a daily cycle shows
  // as the lag-24 spike `ts_forecast_snaive` assumes and
  // `ts_seasonal_decompose` measures). Same positional-lag convention
  // and exact DECIMAL/HUGEINT moment spelling as the lag-1 key; the
  // five lag columns come off ONE window pass over the
  // calendar-bounded hourly rollup and stack into (lag, x, y) rows —
  // never five scans, never fact rows.
  // ------------------------------------------------------------------

  private val tsAcfLags = Q(
    "ts_acf_lags",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val lags = Seq(2, 3, 6, 12, 24)
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
      val withLags = hourlyCents(s, d).select(
        ($"event_type" +: $"v" +:
          lags.map(k => lag($"v", k).over(w).as(s"x$k"))): _*)
      val pairs = withLags.select($"event_type", $"v".as("y"),
          expr("stack(5, " +
            lags.map(k => s"${k}L, x$k").mkString(", ") + ") as (lg, x)"))
        .filter($"x".isNotNull)
      pairs.groupBy("event_type", "lg").agg(
          count(lit(1)).cast("double").as("n"),
          sum($"x".cast(Dec380)).cast("double").as("sx"),
          sum($"y".cast(Dec380)).cast("double").as("sy"),
          sum(($"x".cast(Dec380) * $"y")).cast("double").as("sxy"),
          sum(($"x".cast(Dec380) * $"x")).cast("double").as("sxx"),
          sum(($"y".cast(Dec380) * $"y")).cast("double").as("syy"))
        .withColumn("dx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("dy", $"n" * $"syy" - $"sy" * $"sy")
        .select($"event_type", $"lg".as("lag"),
          $"n".cast("long").as("n_pairs"),
          when($"dx" > 0 && $"dy" > 0,
            dround(($"n" * $"sxy" - $"sx" * $"sy")
              / sqrt($"dx" * $"dy"), 6)).as("acf"))
        .orderBy("event_type", "lag")
    },
    Some {
      val legs = Seq(2, 3, 6, 12, 24).map { k =>
        s"SELECT event_type, CAST($k AS BIGINT) AS lg, " +
          s"lag(v, $k) OVER (PARTITION BY event_type ORDER BY h) AS x, " +
          "v AS y FROM hourly"
      }.mkString(" UNION ALL ")
      "WITH " + hourlyCtes + ", " +
        s"p AS ($legs), " +
        "p2 AS (SELECT event_type, lg, x, y FROM p WHERE x IS NOT NULL), " +
        "m AS (SELECT event_type, lg, CAST(count(*) AS DOUBLE) AS n, " +
        "CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx, " +
        "CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy, " +
        "CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx, " +
        "CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy " +
        "FROM p2 GROUP BY 1, 2), " +
        "f AS (SELECT event_type, lg, n, sx, sy, sxy, " +
        "n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy FROM m) " +
        "SELECT event_type, lg AS lag, CAST(n AS BIGINT) AS n_pairs, " +
        "CASE WHEN dx > 0 AND dy > 0 THEN " +
        OSql.sround("(n * sxy - sx * sy) / sqrt(dx * dy)", 6) +
        " END AS acf FROM f ORDER BY 1, 2"
    })

  // ------------------------------------------------------------------
  // ts_theil_sen — Theil–Sen ROBUST trend slope per type over the
  // daily cents ledger (the estimator `window_rolling_slope`'s OLS
  // sibling breaks on: one corrupted day drags a least-squares fit
  // arbitrarily far, while the median of pairwise slopes shrugs off up
  // to ~29% outliers). Pairwise slopes are exact floor divisions
  // (Δv·10⁶) fdiv Δd — numerator lifted to DECIMAL(38,0)/HUGEINT so
  // the ×10⁶ never overflows at archive-scale daily sums, Δd > 0 by
  // construction — and the LOWER median comes off the bounded
  // (slope → count) ledger with one keyed cumulative window, the
  // `agg_percentile_disc` two-phase discipline. The pair join is
  // O(D²) with D = ARCHIVE DAYS (calendar-bounded, not data-bounded:
  // a 10-year archive is ~6.7M pairs per type, each a 3-column row)
  // and is keyed per type, so it distributes across types.
  // ------------------------------------------------------------------

  private val tsTheilSen = Q(
    "ts_theil_sen",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = Tables.events(s, d)
        .filter($"value".isNotNull)
        .groupBy($"event_type",
          expr(Det.fdivExpr("ms", "86400000")).as("day"))
        .agg(sum(round($"value" * 100).cast("long")).as("v"))
        .filter($"day".isNotNull)
      val pairs = daily.as("a").join(daily.as("b"),
          $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
        .select($"a.event_type".as("event_type"),
          ((col("b.v").cast(Dec380) - col("a.v")) * lit(1000000L)).as("num"),
          (col("b.day") - col("a.day")).as("den"))
        .select($"event_type",
          expr(Det.fdivExpr("num", "den")).cast("long").as("sq"))
      val led = pairs.groupBy($"event_type", $"sq").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy($"event_type").orderBy($"sq".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = led.groupBy("event_type").agg(sum($"c").as("np"))
      val med = led.withColumn("cum", sum($"c").over(wcum))
        .join(broadcast(tot), "event_type")
        .filter($"cum" - $"c" < expr("(np + 1) div 2") &&
          expr("(np + 1) div 2") <= $"cum")
      val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      nd.join(med.select($"event_type", $"np".as("n_pairs"), $"sq"),
          Seq("event_type"), "left")
        .select($"event_type", $"n_days",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"),
          dround($"sq".cast("double") / 1e6, 6).as("slope_cents_per_day"))
        .orderBy("event_type")
    },
    Some("WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v " +
      "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), " +
      "d2 AS (SELECT * FROM daily WHERE day IS NOT NULL), " +
      "p AS (SELECT a.event_type, " +
      "(CAST(b.v AS HUGEINT) - a.v) * 1000000 AS num, " +
      "b.day - a.day AS den FROM d2 a JOIN d2 b " +
      "ON a.event_type = b.event_type AND a.day < b.day), " +
      // NOT `num // den`: DuckDB's integer `//` truncates toward zero
      // (floor only on floats), and slope numerators are genuinely
      // signed — unlike the ms buckets, where non-negative data makes
      // the two spellings agree. The pmod spelling floors exactly.
      "sl AS (SELECT event_type, " +
      "CAST((num - (((num % den) + den) % den)) // den AS BIGINT) AS sq " +
      "FROM p), " +
      "led AS (SELECT event_type, sq, CAST(count(*) AS BIGINT) AS c " +
      "FROM sl GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS np " +
      "FROM led GROUP BY 1), " +
      "cum AS (SELECT event_type, sq, c, " +
      "CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY sq " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm " +
      "FROM led), " +
      "med AS (SELECT cum.event_type, t.np, cum.sq FROM cum " +
      "JOIN t ON t.event_type = cum.event_type " +
      "WHERE cum.cm - cum.c < (t.np + 1) // 2 AND (t.np + 1) // 2 <= cum.cm), " +
      "nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days " +
      "FROM d2 GROUP BY 1) " +
      "SELECT nd.event_type, n_days, " +
      "CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs, " +
      OSql.sround("CAST(sq AS DOUBLE) / 1e6", 6) + " AS slope_cents_per_day " +
      "FROM nd LEFT JOIN med ON med.event_type = nd.event_type ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_holt_forecast — Holt's LINEAR-TREND double exponential
  // smoothing (α = β = ½) per type over the daily cents series: the
  // level-plus-trend forecaster between `ts_forecast_snaive` (pure
  // seasonality) and `ts_theil_sen` (pure robust trend). The
  // recursion l' = (y + l + b)/2, b' = ((l' − l) + b)/2 is
  // INHERENTLY SEQUENTIAL — no window or agg expresses it — so it
  // runs as an ORDERED FOLD over the bounded per-type day array:
  // array_sort(collect_list(struct(day, v))) makes the order
  // deterministic regardless of arrival, and aggregate() folds an
  // exact milli-cent BIGINT state (l, b) with every halving spelled
  // as the pmod floor division (trend goes negative; DuckDB's
  // integer `//` truncates, so BOTH sides spell floor explicitly —
  // the ts_theil_sen engine law). The oracle replays the same fold
  // as a row_number-indexed RECURSIVE CTE. No float touches the
  // state: output is the exact integer (level, trend, one-step
  // forecast) ledger. The array is ARCHIVE DAYS long
  // (calendar-bounded, ~3.6k at 10 years) per type — a bounded
  // driver-free fold, not a fact-row collect; types with a single
  // observed day have no defined trend and are excluded (both
  // engines: the init needs days 1 and 2).
  // ------------------------------------------------------------------

  private val tsHoltForecast = Q(
    "ts_holt_forecast",
    (s, d) => {
      import s.implicits._
      def f2(e: String) = s"((($e) - (((($e) % 2) + 2) % 2)) div 2)"
      val daily = Tables.events(s, d)
        .filter($"value".isNotNull)
        .groupBy($"event_type",
          expr(Det.fdivExpr("ms", "86400000")).as("day"))
        .agg(sum(round($"value" * 100).cast("long")).as("v"))
        .filter($"day".isNotNull)
      daily.groupBy($"event_type")
        .agg(expr("array_sort(collect_list(struct(day, v)))").as("a"))
        .filter(size($"a") >= 2)
        .withColumn("st", expr(
          "aggregate(slice(a, 3, greatest(size(a) - 2, 0)), " +
            "named_struct('l', a[0].v * 1000, 'b', (a[1].v - a[0].v) * 1000), " +
            "(s, x) -> named_struct(" +
            s"'l', ${f2("x.v * 1000 + s.l + s.b")}, " +
            s"'b', ${f2(f2("x.v * 1000 + s.l + s.b") + " - s.l + s.b")}))"))
        .select($"event_type", size($"a").cast("long").as("n_days"),
          $"st.l".as("level_mc"), $"st.b".as("trend_mc"),
          ($"st.l" + $"st.b").as("forecast_next_mc"))
        .orderBy("event_type")
    },
    Some {
      def f2(e: String) = s"((($e) - (((($e) % 2) + 2) % 2)) // 2)"
      "WITH RECURSIVE daily AS (SELECT event_type, " +
        "epoch_ms(ts) // 86400000 AS day, " +
        "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), " +
        "h AS (SELECT event_type, day, v, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY day) AS i " +
        "FROM daily WHERE day IS NOT NULL), " +
        "n AS (SELECT event_type, CAST(max(i) AS BIGINT) AS n_days " +
        "FROM h GROUP BY 1), " +
        "rec(event_type, i, l, b) AS (" +
        "SELECT h1.event_type, CAST(2 AS BIGINT), h1.v * 1000, " +
        "(h2.v - h1.v) * 1000 FROM h h1 JOIN h h2 " +
        "ON h2.event_type = h1.event_type AND h1.i = 1 AND h2.i = 2 " +
        "UNION ALL " +
        "SELECT r.event_type, r.i + 1, " +
        f2("h.v * 1000 + r.l + r.b") + ", " +
        f2(f2("h.v * 1000 + r.l + r.b") + " - r.l + r.b") + " " +
        "FROM rec r JOIN h ON h.event_type = r.event_type " +
        "AND h.i = r.i + 1) " +
        "SELECT rec.event_type, n.n_days, rec.l AS level_mc, " +
        "rec.b AS trend_mc, rec.l + rec.b AS forecast_next_mc " +
        "FROM rec JOIN n ON n.event_type = rec.event_type " +
        "AND rec.i = n.n_days ORDER BY 1"
    })

  // ------------------------------------------------------------------
  // ts_seasonal_decompose — classical seasonal decomposition over the
  // shared hourly-cents grid: the hour-of-day (0–23) seasonal profile
  // per event_type, and how much of the series' variance it explains
  // (seasonal strength = seasonal SS / total SS — the number that says
  // whether a forecaster should bother with a daily cycle; the snaive
  // forecast key ASSUMES seasonality, this one MEASURES it).
  //
  // Determinism: everything is integer-exact until one final division.
  // Sums of squares accumulate in DECIMAL(38,0)/HUGEINT; every
  // mean-square term S²/n is ONE double division of identical exact
  // integers (both engines cast the same exact product to double, so
  // the quotient is bit-identical), quantized to BIGINT via
  // floor(x + 0.5) BEFORE any cross-term summation — so the 24-term
  // seasonal sum is an integer sum, never an order-dependent float
  // fold. Scale shape: two partial+final aggregates over the hourly
  // grid (itself map-side collapsed), a ≤24·|types|-row intermediate,
  // no windows, no shuffle of raw events beyond the shared grid.
  // ------------------------------------------------------------------

  private val tsSeasonalDecompose = Q(
    "ts_seasonal_decompose",
    (s, d) => {
      import s.implicits._
      val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val hod = hourlyCents(s, d)
        .withColumn("hod", pmod($"h", lit(24L)))
      val bySeason = hod.groupBy($"event_type", $"hod")
        .agg(sum($"v".cast(Dec38)).as("sh"), count(lit(1)).as("nh"))
      val perType = bySeason.groupBy("event_type")
        .agg(sum($"sh").as("s"), sum($"nh").as("n"),
          sum(floor(($"sh" * $"sh").cast("double") / $"nh" + lit(0.5))
            .cast("long")).as("seas_q"))
      val sq = hod.groupBy("event_type")
        .agg(sum($"v".cast(Dec38) * $"v").as("vv"))
      perType.join(sq, "event_type")
        .withColumn("grand_q",
          floor(($"s" * $"s").cast("double") / $"n" + lit(0.5)).cast("long"))
        .withColumn("ss_total_q", $"vv".cast("long") - $"grand_q")
        .withColumn("ss_seasonal_q", $"seas_q" - $"grand_q")
        .select($"event_type", $"n".as("n_cells"),
          dround($"s".cast("double") / $"n", 4).as("mean_cents"),
          $"ss_total_q", $"ss_seasonal_q",
          when($"ss_total_q" > 0,
            dround($"ss_seasonal_q".cast("double") / $"ss_total_q", 6))
            .as("seasonal_strength"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      // ((h % 24) + 24) % 24 restates Spark's pmod for pre-epoch hours
      "hd AS (SELECT event_type, ((h % 24) + 24) % 24 AS hod, v FROM hourly), " +
      "bs AS (SELECT event_type, hod, SUM(CAST(v AS HUGEINT)) AS sh, " +
      "count(*) AS nh FROM hd GROUP BY 1, 2), " +
      "pt AS (SELECT event_type, SUM(sh) AS s, SUM(nh) AS n, " +
      "SUM(CAST(floor(CAST(sh * sh AS DOUBLE) / nh + 0.5) AS BIGINT)) AS seas_q " +
      "FROM bs GROUP BY 1), " +
      "sq AS (SELECT event_type, SUM(CAST(v AS HUGEINT) * v) AS vv " +
      "FROM hd GROUP BY 1), " +
      "f AS (SELECT pt.event_type, n, s, seas_q, vv, " +
      "CAST(floor(CAST(s * s AS DOUBLE) / n + 0.5) AS BIGINT) AS grand_q " +
      "FROM pt JOIN sq ON sq.event_type = pt.event_type) " +
      "SELECT event_type, CAST(n AS BIGINT) AS n_cells, " +
      OSql.sround("CAST(s AS DOUBLE) / n", 4) + " AS mean_cents, " +
      "CAST(CAST(vv AS BIGINT) - grand_q AS BIGINT) AS ss_total_q, " +
      "CAST(seas_q - grand_q AS BIGINT) AS ss_seasonal_q, " +
      "CASE WHEN CAST(vv AS BIGINT) - grand_q > 0 THEN " +
      OSql.sround("CAST(seas_q - grand_q AS DOUBLE) / (CAST(vv AS BIGINT) - grand_q)", 6) +
      " END AS seasonal_strength FROM f ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_hampel_outliers — the Hampel identifier over each type's hourly
  // series: a point is an outlier when it sits more than 3 rolling
  // MADs from its ±2-hour rolling median. The WINDOWED sibling of
  // `anomaly_mad`'s global fence (a level shift moves the global
  // median and masks local spikes; the rolling identifier follows the
  // level) and the repair rule `window_median_rolling` reports the
  // center for. Both the median and the MAD come off ONE collected
  // ≤5-element window array per point — sort, middle, transform to
  // |x−med|, sort, middle — all exact cents integers; the per-type
  // ledger (points, outliers, worst deviation) collapses map-side.
  // Scale: the window partitions by type over the ≤|types|×|hours|
  // HOURLY rollup (bounded by the calendar), never over fact rows —
  // the same pre-aggregate discipline as every ts_* key.
  // ------------------------------------------------------------------

  private val tsHampelOutliers = Q(
    "ts_hampel_outliers",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
        .rowsBetween(-2, 2)
      val pts = hourlyCents(s, d)
        .withColumn("win", sort_array(collect_list($"v").over(w)))
        .withColumn("med", expr("win[((size(win) + 1) div 2) - 1]"))
        .withColumn("dv",
          expr("array_sort(transform(win, x -> abs(x - med)))"))
        .withColumn("mad", expr("dv[((size(dv) + 1) div 2) - 1]"))
        .withColumn("out",
          (abs($"v" - $"med") > $"mad" * 3).cast("long"))
      pts.groupBy("event_type").agg(
          count(lit(1)).as("n_points"),
          sum($"out").as("n_outliers"),
          max(when($"out" === 1L, abs($"v" - $"med"))).as("max_dev_cents"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "w1 AS (SELECT event_type, h, v, " +
      "list_sort(array_agg(v) OVER (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 'ASC', 'NULLS FIRST') " +
      "AS win FROM hourly), " +
      "w2 AS (SELECT event_type, h, v, win, " +
      "win[(len(win) + 1) // 2] AS med FROM w1), " +
      "w3 AS (SELECT event_type, v, med, " +
      "list_sort(list_transform(win, x -> abs(x - med)), 'ASC', 'NULLS FIRST') " +
      "AS dv FROM w2), " +
      "w4 AS (SELECT event_type, v, med, dv[(len(dv) + 1) // 2] AS mad " +
      "FROM w3), " +
      "f AS (SELECT event_type, v, med, " +
      "CASE WHEN abs(v - med) > mad * 3 THEN 1 ELSE 0 END AS o FROM w4) " +
      "SELECT event_type, count(*) AS n_points, " +
      "CAST(SUM(o) AS BIGINT) AS n_outliers, " +
      "CAST(MAX(CASE WHEN o = 1 THEN abs(v - med) END) AS BIGINT) " +
      "AS max_dev_cents " +
      "FROM f GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_changepoint_cusum — CUSUM-argmax changepoint LOCATION over each
  // type's hourly series: `window_cusum_change` FLAGS that the level
  // drifted; this locates the break at the k maximizing the CUSUM
  // excursion |S₁(k) − k·S/n| — the classic single-changepoint
  // estimator, spelled over the prefix sums with the fraction CLEARED:
  // score(k) = |n·S₁(k) − k·S| is a pure integer (DECIMAL(38,0)/
  // HUGEINT products of exact cents — no division, no float until the
  // reported means), prefix sums ride one bounded-ledger window, and
  // the argmax is a max(struct(score, −k)) aggregate (ties → earliest
  // split). A <2-point series has no interior split and drops out.
  // The window runs over the calendar-bounded hourly rollup, never
  // fact rows.
  // ------------------------------------------------------------------

  private val tsChangepointCusum = Q(
    "ts_changepoint_cusum",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = hourlyCents(s, d)
        .withColumn("i", count(lit(1)).over(w))
        .withColumn("s1", sum($"v").over(w))
      val tot = hourlyCents(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum($"v").as("st"))
      val cand = pts.join(tot, "event_type")
        .filter($"i" < $"n")
        .withColumn("score", abs(
          expr("cast(n as decimal(38,0)) * s1") -
            expr("cast(i as decimal(38,0)) * st")))
      cand.groupBy("event_type").agg(
          max(struct($"score", (-$"i").as("ni"))).as("m"))
        .join(cand, Seq("event_type"))
        .filter($"i" === -$"m.ni")
        .select($"event_type", $"n",
          $"h".as("split_after_hour"),
          $"i".as("n_before"), ($"n" - $"i").as("n_after"),
          dround($"s1".cast("double") / $"i" / 100.0, 4).as("mean_before"),
          dround(($"st" - $"s1").cast("double") / ($"n" - $"i") / 100.0, 4)
            .as("mean_after"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "p AS (SELECT event_type, h, v, " +
      "count(*) OVER w AS i, SUM(v) OVER w AS s1 " +
      "FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(v) AS HUGEINT) AS st FROM hourly GROUP BY 1), " +
      "c AS (SELECT p.event_type, p.h, p.i, CAST(p.s1 AS HUGEINT) AS s1, " +
      "t.n, t.st, " +
      "abs(CAST(t.n AS HUGEINT) * p.s1 - CAST(p.i AS HUGEINT) * t.st) AS score " +
      "FROM p JOIN t USING (event_type) WHERE p.i < t.n), " +
      "best AS (SELECT event_type, first(i ORDER BY score DESC, i ASC) AS bi " +
      "FROM c GROUP BY 1) " +
      "SELECT c.event_type, c.n, c.h AS split_after_hour, " +
      "CAST(c.i AS BIGINT) AS n_before, CAST(c.n - c.i AS BIGINT) AS n_after, " +
      OSql.sround("CAST(c.s1 AS DOUBLE) / c.i / 100.0", 4) + " AS mean_before, " +
      OSql.sround("CAST(c.st - c.s1 AS DOUBLE) / (c.n - c.i) / 100.0", 4) +
      " AS mean_after " +
      "FROM c JOIN best ON best.event_type = c.event_type AND best.bi = c.i " +
      "ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_seasonal_anomaly — SEASONALITY-ADJUSTED anomaly detection over
  // the shared hourly grid: subtract each type's hour-of-day seasonal
  // mean, then flag hours whose residual sits more than 3σ from the
  // residual mean. The missing member of the anomaly family: zscore /
  // MAD / Tukey fence all compare against the RAW level, so the 3 am
  // lull reads as an anomaly every single day; Hampel follows the
  // local level but a one-off spike INSIDE a normal-looking hour of a
  // high-variance daypart escapes it. Determinism: the seasonal mean
  // is the truncated integer sh div nh (≤1-cent quantization, floor =
  // trunc on these non-negatives... sums can be negative — both
  // engines truncate identically on the same exact integers), so the
  // residual rq is an exact integer; the 3σ test is the fully
  // cross-multiplied (n·rq − S)² > 9·(n·Q − S²) — ZERO divisions, no
  // σ materialized, immune to ANSI divide-by-zero on constant series.
  // Scale: the profile is a ≤24·|types| broadcast, the residual and
  // moment passes run over the calendar-bounded hourly grid, and the
  // one fact-scale stage is the shared map-side hourly collapse.
  // ------------------------------------------------------------------

  private val tsSeasonalAnomaly = Q(
    "ts_seasonal_anomaly",
    (s, d) => {
      import s.implicits._
      val Dec38i = org.apache.spark.sql.types.DecimalType(38, 0)
      val hd = hourlyCents(s, d).withColumn("hod", pmod($"h", lit(24L)))
      val prof = hd.groupBy("event_type", "hod")
        .agg(sum($"v".cast(Dec38i)).as("sh"), count(lit(1)).as("nh"))
      val r = hd.join(broadcast(prof), Seq("event_type", "hod"))
        .select($"event_type", $"h",
          ($"v".cast(Dec38i) - expr(Det.fdivExpr("sh", "nh"))).as("rq"))
      val mom = r.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum($"rq").as("ss"),
        sum($"rq" * $"rq").as("qq"))
      r.join(broadcast(mom), "event_type")
        .withColumn("dev", $"n" * $"rq" - $"ss")
        .withColumn("is_out",
          ($"dev" * $"dev" > lit(9) * ($"n" * $"qq" - $"ss" * $"ss"))
            .cast("long"))
        .groupBy("event_type").agg(
          max($"n").as("n_hours"),
          sum($"is_out").as("n_outliers"),
          dround(max(abs($"dev")).cast("double") / max($"n"), 4)
            .as("worst_dev_cents"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "hd AS (SELECT event_type, h, ((h % 24) + 24) % 24 AS hod, v " +
      "FROM hourly), " +
      "bs AS (SELECT event_type, hod, SUM(CAST(v AS HUGEINT)) AS sh, " +
      "count(*) AS nh FROM hd GROUP BY 1, 2), " +
      "r AS (SELECT hd.event_type, hd.h, " +
      "CAST(hd.v AS HUGEINT) - (bs.sh // bs.nh) AS rq FROM hd " +
      "JOIN bs ON bs.event_type = hd.event_type AND bs.hod = hd.hod), " +
      "mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "SUM(rq) AS ss, SUM(rq * rq) AS qq FROM r GROUP BY 1), " +
      "x AS (SELECT r.event_type, mom.n, mom.n * r.rq - mom.ss AS dev, " +
      "mom.n * mom.qq - mom.ss * mom.ss AS varn " +
      "FROM r JOIN mom USING (event_type)) " +
      "SELECT event_type, MAX(n) AS n_hours, " +
      "CAST(SUM(CASE WHEN dev*dev > 9*varn THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_outliers, " +
      OSql.sround("CAST(MAX(abs(dev)) AS DOUBLE) / MAX(n)", 4) +
      " AS worst_dev_cents FROM x GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_dominant_period — dominant-period detection per type: the lag
  // ℓ ∈ 1..36 maximizing the autocorrelation of the hourly series —
  // the step ABOVE `ts_acf_lags`' correlogram (the correlogram shows
  // the shape; this answers "what cycle does this series actually
  // have", the question snaive's hard-coded 24 assumes away). Row-
  // based lag semantics match the ACF key (gaps in the observed grid
  // compress), spelled as a LEDGER SELF-JOIN: row_number per type on
  // the calendar-bounded hourly rollup, explode the 36-lag spine,
  // equi-join on (type, rn−ℓ) — never a window per lag, never a
  // fact-scale anything. Per (type, ℓ) Pearson r comes from exact
  // DECIMAL(38,0)/HUGEINT sums, is integer-quantized at 10⁶
  // (round-half-up, identical on negatives in both engines), and the
  // argmax is one max(struct(rq, −ℓ)) with ties to the smallest lag;
  // degenerate lags (zero variance on either side) drop before the
  // argmax in both engines.
  // ------------------------------------------------------------------

  private val tsDominantPeriod = Q(
    "ts_dominant_period",
    (s, d) => {
      import s.implicits._
      val Dec38i = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
      val hr = hourlyCents(s, d)
        .select($"event_type", $"v", row_number().over(w).as("rn"))
      val ex = hr.select($"event_type", $"v".as("y"), $"rn",
          explode(expr("sequence(1, 36)")).as("lg"))
        .withColumn("rnx", $"rn" - $"lg")
      val pairs = ex.join(
        hr.select($"event_type", $"rn".as("rnx"), $"v".as("x")),
        Seq("event_type", "rnx"))
      val m = pairs.groupBy("event_type", "lg").agg(
          count(lit(1)).cast("double").as("n"),
          sum($"x".cast(Dec38i)).cast("double").as("sx"),
          sum($"y".cast(Dec38i)).cast("double").as("sy"),
          sum($"x".cast(Dec38i) * $"y").cast("double").as("sxy"),
          sum($"x".cast(Dec38i) * $"x").cast("double").as("sxx"),
          sum($"y".cast(Dec38i) * $"y").cast("double").as("syy"))
        .withColumn("dx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("dy", $"n" * $"syy" - $"sy" * $"sy")
        .filter($"dx" > 0 && $"dy" > 0)
        .withColumn("rq",
          floor(($"n" * $"sxy" - $"sx" * $"sy") / sqrt($"dx" * $"dy")
            * lit(1e6) + lit(0.5)).cast("long"))
      m.groupBy("event_type")
        .agg(max(struct($"rq".as("a"), (-$"lg").as("b"),
          $"n".cast("long").as("c"))).as("mm"))
        .select($"event_type", (-$"mm.b").cast("long").as("best_lag"),
          $"mm.c".as("n_pairs"),
          ($"mm.a".cast("double") / 1e6).as("acf"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "hr AS (SELECT event_type, v, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY h ASC) AS rn FROM hourly), " +
      "lgs AS (SELECT unnest(generate_series(1, 36)) AS lg), " +
      "p AS (SELECT y.event_type, lgs.lg, x.v AS x, y.v AS y " +
      "FROM hr y CROSS JOIN lgs " +
      "JOIN hr x ON x.event_type = y.event_type AND x.rn = y.rn - lgs.lg), " +
      "m AS (SELECT event_type, lg, CAST(count(*) AS DOUBLE) AS n, " +
      "CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx, " +
      "CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy, " +
      "CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy, " +
      "CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx, " +
      "CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy " +
      "FROM p GROUP BY 1, 2), " +
      "f AS (SELECT event_type, lg, CAST(n AS BIGINT) AS nb, " +
      "n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy, " +
      "n * sxy - sx * sy AS cv FROM m), " +
      "q AS (SELECT event_type, lg, nb, " +
      "CAST(floor(cv / sqrt(dx * dy) * 1e6 + 0.5) AS BIGINT) AS rq " +
      "FROM f WHERE dx > 0 AND dy > 0), " +
      "best AS (SELECT event_type, lg, nb, rq, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY rq DESC, lg ASC) AS k FROM q) " +
      "SELECT event_type, CAST(lg AS BIGINT) AS best_lag, nb AS n_pairs, " +
      "CAST(rq AS DOUBLE) / 1e6 AS acf FROM best WHERE k = 1 " +
      "ORDER BY event_type"))

  // ------------------------------------------------------------------
  // stat_durbin_watson — Durbin–Watson serial-correlation diagnostic
  // per type over the hourly series: DW = Σ(v_t − v_{t−1})² / Σ(v−v̄)²
  // — the standard 0..4 autocorrelation gauge (≈2 none, →0 positive
  // persistence, →4 alternation) that complements `stat_runs_test`'s
  // sign-based verdict with a magnitude-weighted one. Everything is
  // exact until one division: the successive-difference sum Σd² is an
  // exact integer off ONE keyed lag over the calendar-bounded hourly
  // ledger, the denominator arrives as the exact variance numerator
  // m2n = n·Σv² − S² (the jarque_bera identity), and DW =
  // (n·Σd²)/m2n is a single division of exact DECIMAL(38,0)/HUGEINT
  // integers spelled identically in both engines. Constant series
  // (m2n = 0) emit NULL, never a division error.
  // ------------------------------------------------------------------

  private val statDurbinWatson = Q(
    "stat_durbin_watson",
    (s, d) => {
      import s.implicits._
      val Dec38i = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
      val hd = hourlyCents(s, d)
        .withColumn("pv", lag($"v", 1).over(w))
      val m = hd.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum($"v".cast(Dec38i)).as("sv"),
        sum($"v".cast(Dec38i) * $"v").as("svv"),
        sum(when($"pv".isNotNull,
          ($"v".cast(Dec38i) - $"pv") * ($"v" - $"pv")).otherwise(lit(0)))
          .as("sd2"))
      m.withColumn("m2n", $"n".cast(Dec38i) * $"svv" - $"sv" * $"sv")
        .select($"event_type", $"n",
          when($"m2n" > 0,
            dround(($"n".cast(Dec38i) * $"sd2").cast("double")
              / $"m2n".cast("double"), 6)).as("dw"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "hd AS (SELECT event_type, v, lag(v) OVER (PARTITION BY event_type " +
      "ORDER BY h ASC) AS pv FROM hourly), " +
      "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "SUM(CAST(v AS HUGEINT)) AS sv, SUM(CAST(v AS HUGEINT) * v) AS svv, " +
      "SUM(CASE WHEN pv IS NOT NULL THEN " +
      "(CAST(v AS HUGEINT) - pv) * (v - pv) ELSE 0 END) AS sd2 " +
      "FROM hd GROUP BY 1), " +
      "x AS (SELECT event_type, n, sd2, " +
      "CAST(n AS HUGEINT) * svv - sv * sv AS m2n FROM m) " +
      "SELECT event_type, n, CASE WHEN m2n > 0 THEN " +
      OSql.sround("CAST(CAST(n AS HUGEINT) * sd2 AS DOUBLE) " +
        "/ CAST(m2n AS DOUBLE)", 6) +
      " END AS dw FROM x ORDER BY event_type"))

  // ------------------------------------------------------------------
  // window_rolling_corr — trailing-24-hour rolling correlation between
  // the purchase and view hourly series: the CO-MOVEMENT monitor
  // (demand tracking engagement is healthy; the correlation breaking
  // toward 0 flags a funnel rupture long before revenue does) — the
  // bivariate member of the rolling family (moving_avg/median/slope
  // are univariate). The joint (h, x, y) ledger is calendar-bounded;
  // the trailing RANGE frame is the broadcast theta self-join
  // (the moving_avg discipline — no single-partition WindowExec even
  // over the ledger), accumulating exact DECIMAL(38,0)/HUGEINT moment
  // sums per anchor hour; Pearson r is one guarded double formula
  // (degenerate windows — either side constant — emit NULL). The
  // oracle is the naive RANGE window; the hash match proves
  // theta-join ≡ RANGE frame.
  // ------------------------------------------------------------------

  private val windowRollingCorr = Q(
    "window_rolling_corr",
    (s, d) => {
      import s.implicits._
      val Dec38i = org.apache.spark.sql.types.DecimalType(38, 0)
      val hc = hourlyCents(s, d)
      val j = hc.filter($"event_type" === "purchase").select($"h", $"v".as("x"))
        .join(hc.filter($"event_type" === "view").select($"h", $"v".as("y")),
          Seq("h"))
      val m = j.as("a").join(broadcast(j.as("b")),
          $"b.h" >= $"a.h" - 23 && $"b.h" <= $"a.h")
        .groupBy($"a.h".as("h")).agg(
          count(lit(1)).as("n"),
          sum($"b.x".cast(Dec38i)).as("sx"),
          sum($"b.y".cast(Dec38i)).as("sy"),
          sum($"b.x".cast(Dec38i) * $"b.y").as("sxy"),
          sum($"b.x".cast(Dec38i) * $"b.x").as("sxx"),
          sum($"b.y".cast(Dec38i) * $"b.y").as("syy"))
      m.withColumn("dx", ($"n" * $"sxx" - $"sx" * $"sx").cast("double"))
        .withColumn("dy", ($"n" * $"syy" - $"sy" * $"sy").cast("double"))
        .select($"h", $"n",
          when($"dx" > 0 && $"dy" > 0,
            dround(($"n" * $"sxy" - $"sx" * $"sy").cast("double")
              / sqrt($"dx" * $"dy"), 6)).as("corr"))
        .orderBy("h")
    },
    Some("WITH " + hourlyCtes + ", " +
      "j AS (SELECT p.h, p.v AS x, w.v AS y FROM " +
      "(SELECT h, v FROM hourly WHERE event_type = 'purchase') p " +
      "JOIN (SELECT h, v FROM hourly WHERE event_type = 'view') w " +
      "USING (h)), " +
      "m AS (SELECT h, " +
      "CAST(count(*) OVER win AS BIGINT) AS n, " +
      "SUM(CAST(x AS HUGEINT)) OVER win AS sx, " +
      "SUM(CAST(y AS HUGEINT)) OVER win AS sy, " +
      "SUM(CAST(x AS HUGEINT) * y) OVER win AS sxy, " +
      "SUM(CAST(x AS HUGEINT) * x) OVER win AS sxx, " +
      "SUM(CAST(y AS HUGEINT) * y) OVER win AS syy " +
      "FROM j WINDOW win AS (ORDER BY h ASC " +
      "RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)), " +
      "f AS (SELECT h, n, sxy, sx, sy, " +
      "CAST(n * sxx - sx * sx AS DOUBLE) AS dx, " +
      "CAST(n * syy - sy * sy AS DOUBLE) AS dy FROM m) " +
      "SELECT h, n, CASE WHEN dx > 0 AND dy > 0 THEN " +
      OSql.sround("CAST(n * sxy - sx * sy AS DOUBLE) / sqrt(dx * dy)", 6) +
      " END AS corr FROM f ORDER BY h"))

  // ------------------------------------------------------------------
  // ts_weekday_profile — day-of-week revenue profile per type with the
  // weekend contrast: the WEEKLY-cycle sibling of the hour-of-day
  // keys (snaive/seasonal_decompose/seasonal_anomaly read the daily
  // cycle; business series carry a second, weekly one — the profile a
  // capacity planner and the seasonal-adjust step both read). Day =
  // FLOOR epoch-day (pmod spelling, pre-epoch safe), dow = pmod(day +
  // 3, 7) so Monday = 0 (1970-01-01 was a Thursday), weekend = dow ≥
  // 5. The fact collapses map-side to the (type, day) daily ledger,
  // then to the ≤7·|types| grid: day counts, exact cents mass, and
  // the exact floor-quantized mean per active day. One row per (type,
  // dow), plus the weekend/weekday mean ratio repeated per type from
  // a broadcast ≤|types|-row contrast ledger (exact quantized
  // integers, one final division).
  // ------------------------------------------------------------------

  private val tsWeekdayProfile = Q(
    "ts_weekday_profile",
    (s, d) => {
      import s.implicits._
      val Dec38w = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = Tables.events(s, d)
        .select($"event_type", expr(Det.fdivExpr("ms", "86400000")).as("day"),
          round($"value" * 100).cast("long").as("c"))
        .groupBy("event_type", "day").agg(sum($"c").as("v"))
        .withColumn("dow", pmod($"day" + 3, lit(7L)))
      val grid = daily.groupBy("event_type", "dow").agg(
        count(lit(1)).as("n_days"),
        sum($"v".cast(Dec38w)).as("sv"))
      val contrast = grid.groupBy("event_type").agg(
          sum(when($"dow" >= 5, $"sv").otherwise(lit(0))).as("we_s"),
          sum(when($"dow" >= 5, $"n_days").otherwise(lit(0L))).as("we_n"),
          sum(when($"dow" < 5, $"sv").otherwise(lit(0))).as("wd_s"),
          sum(when($"dow" < 5, $"n_days").otherwise(lit(0L))).as("wd_n"))
        .select($"event_type",
          when($"we_n" > 0 && $"wd_n" > 0 && $"wd_s" > 0,
            dround(($"we_s".cast("double") / $"we_n")
              / ($"wd_s".cast("double") / $"wd_n"), 6)).as("weekend_lift"))
      grid.join(broadcast(contrast), "event_type")
        .select($"event_type", $"dow", $"n_days",
          $"sv".cast("long").as("sum_cents"),
          expr("cast(sv as decimal(38,0)) div n_days").cast("long")
            .as("mean_cents_per_day"),
          $"weekend_lift")
        .orderBy("event_type", "dow")
    },
    Some("WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "SUM(CAST(round(value*100) AS BIGINT)) AS v FROM events GROUP BY 1, 2), " +
      "dd AS (SELECT event_type, ((day + 3) % 7 + 7) % 7 AS dow, v " +
      "FROM daily), " +
      "grid AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_days, " +
      "SUM(CAST(v AS HUGEINT)) AS sv FROM dd GROUP BY 1, 2), " +
      "ct AS (SELECT event_type, " +
      "SUM(CASE WHEN dow >= 5 THEN sv ELSE 0 END) AS we_s, " +
      "SUM(CASE WHEN dow >= 5 THEN n_days ELSE 0 END) AS we_n, " +
      "SUM(CASE WHEN dow < 5 THEN sv ELSE 0 END) AS wd_s, " +
      "SUM(CASE WHEN dow < 5 THEN n_days ELSE 0 END) AS wd_n " +
      "FROM grid GROUP BY 1), " +
      "cl AS (SELECT event_type, CASE WHEN we_n > 0 AND wd_n > 0 " +
      "AND wd_s > 0 THEN " +
      OSql.sround("(CAST(we_s AS DOUBLE) / we_n) / " +
        "(CAST(wd_s AS DOUBLE) / wd_n)", 6) +
      " END AS weekend_lift FROM ct) " +
      "SELECT grid.event_type, grid.dow, grid.n_days, " +
      "CAST(grid.sv AS BIGINT) AS sum_cents, " +
      "CAST(grid.sv // grid.n_days AS BIGINT) AS mean_cents_per_day, " +
      "cl.weekend_lift " +
      "FROM grid JOIN cl USING (event_type) ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // stat_ljung_box — the Ljung–Box portmanteau whiteness test per type
  // over the hourly series, lags 1..12: the JOINT verdict above the
  // single-lag diagnostics (`agg_autocorr_lag1` reads one lag,
  // `stat_durbin_watson` weights lag 1, `ts_acf_lags` shows the
  // panel; Ljung-Box asks "is there ANY autocorrelation in the first
  // h lags" — the residual-whiteness gate every fitted forecast is
  // checked against). Textbook ACF (global-mean normalization, full-
  // series variance denominator) kept EXACT by cross-multiplication:
  // n²·N_k = Σ(n·v_t − S)(n·v_{t−k} − S) is an exact integer off the
  // ranked-ledger self-join (the dominant_period machinery), the
  // denominator is n·m2n (the jarque identity), so r_k = n²N_k/(n·m2n)
  // is one double division of exact integers; each r_k²/(n−k) term is
  // floor-quantized at 10¹² before the ≤12-row sum, and Q = n(n+2)·Σ.
  // Degenerate series (m2n = 0 or n ≤ h) emit NULL.
  // ------------------------------------------------------------------

  private val statLjungBox = Q(
    "stat_ljung_box",
    (s, d) => {
      import s.implicits._
      val Dec38l = org.apache.spark.sql.types.DecimalType(38, 0)
      val H = 12
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
      val hr = hourlyCents(s, d)
        .select($"event_type", $"v", row_number().over(w).as("rn"))
      val mom = hr.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum($"v".cast(Dec38l)).as("sv"),
        sum($"v".cast(Dec38l) * $"v").as("svv"))
        .withColumn("m2n", $"n".cast(Dec38l) * $"svv" - $"sv" * $"sv")
        .select($"event_type", $"n", $"sv", $"m2n")
      val ex = hr.select($"event_type", $"v".as("y"), $"rn",
          explode(expr(s"sequence(1, $H)")).as("lg"))
        .withColumn("rnx", $"rn" - $"lg")
      val pairs = ex.join(
          hr.select($"event_type", $"rn".as("rnx"), $"v".as("x")),
          Seq("event_type", "rnx"))
        .join(broadcast(mom), "event_type")
        .groupBy($"event_type", $"lg", $"n", $"m2n").agg(
          sum(($"n".cast(Dec38l) * $"y" - $"sv")
            * ($"n".cast(Dec38l) * $"x" - $"sv")).as("nk"))
      // ANSI raises DIVIDE_BY_ZERO even on doubles: the rk and 1/(n−k)
      // divisions only evaluate under the positivity guards (a
      // constant or too-short series nulls out through the final gate)
      val terms = pairs
        .withColumn("rk", when($"m2n" > 0 && $"n" > $"lg",
          $"nk".cast("double")
            / ($"n".cast("double") * $"m2n".cast("double"))))
        .select($"event_type", $"n", $"m2n",
          when($"rk".isNotNull,
            floor($"rk" * $"rk" / ($"n" - $"lg").cast("double") * lit(1e12)
              + lit(0.5)).cast(Dec38l)).as("tq"))
      terms.groupBy("event_type").agg(
          max($"n").as("n"), max($"m2n").as("m2x"), sum($"tq").as("ts"))
        .select($"event_type", $"n", lit(H.toLong).as("df"),
          when($"n" > H && $"m2x" > 0,
            dround($"n".cast("double") * ($"n" + 2).cast("double")
              * ($"ts".cast("double") / lit(1e12)), 6)).as("q_stat"))
        .orderBy("event_type")
    },
    Some("WITH " + hourlyCtes + ", " +
      "hr AS (SELECT event_type, v, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY h ASC) AS rn FROM hourly), " +
      "mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "SUM(CAST(v AS HUGEINT)) AS sv, SUM(CAST(v AS HUGEINT) * v) AS svv " +
      "FROM hr GROUP BY 1), " +
      "mm AS (SELECT event_type, n, sv, " +
      "CAST(n AS HUGEINT) * svv - sv * sv AS m2n FROM mom), " +
      "lgs AS (SELECT unnest(generate_series(1, 12)) AS lg), " +
      "p AS (SELECT y.event_type, lgs.lg, x.v AS x, y.v AS y " +
      "FROM hr y CROSS JOIN lgs " +
      "JOIN hr x ON x.event_type = y.event_type AND x.rn = y.rn - lgs.lg), " +
      "nk AS (SELECT p.event_type, p.lg, mm.n, mm.m2n, " +
      "SUM((CAST(mm.n AS HUGEINT) * p.y - mm.sv) " +
      "* (CAST(mm.n AS HUGEINT) * p.x - mm.sv)) AS nk " +
      "FROM p JOIN mm ON mm.event_type = p.event_type GROUP BY 1, 2, 3, 4), " +
      "t AS (SELECT event_type, n, m2n, " +
      "CASE WHEN m2n > 0 AND n > lg THEN " +
      "CAST(floor(CAST(nk AS DOUBLE) / (CAST(n AS DOUBLE) " +
      "* CAST(m2n AS DOUBLE)) * (CAST(nk AS DOUBLE) / (CAST(n AS DOUBLE) " +
      "* CAST(m2n AS DOUBLE))) / CAST(n - lg AS DOUBLE) * 1e12 + 0.5) " +
      "AS HUGEINT) END AS tq FROM nk), " +
      "f AS (SELECT event_type, MAX(n) AS n, MAX(m2n) AS m2x, " +
      "SUM(tq) AS ts FROM t GROUP BY 1) " +
      "SELECT event_type, CAST(n AS BIGINT) AS n, " +
      "CAST(12 AS BIGINT) AS df, " +
      "CASE WHEN n > 12 AND m2x > 0 THEN " +
      OSql.sround("CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) " +
        "* (CAST(ts AS DOUBLE) / 1e12)", 6) +
      " END AS q_stat FROM f ORDER BY event_type"))

  // ------------------------------------------------------------------
  // ts_cross_correlation — LEAD-LAG cross-correlation between the
  // daily click and purchase series at lags −3..+3: the "which series
  // moves first" panel an analyst reads after the single-series
  // correlogram (`ts_acf_lags` asks does a series predict ITSELF;
  // this asks does traffic predict conversion, and at which offset —
  // an asymmetric peak at positive lag means clicks LEAD purchases).
  // The day spine is DENSE (explode(sequence(min, max)), zero-filled
  // by left join), so every lag's overlap is span−|L| and a quiet day
  // is a real 0, not a dropped row; pairing is an equi-join on the
  // shifted day key (b.day = a.day + L — hash-partitionable, never a
  // theta scan), per-lag Pearson runs off exact HUGEINT moments, and
  // the whole computation lives on the calendar-bounded daily ledger,
  // never fact rows. Degenerate lags (zero variance either side)
  // emit NULL.
  // ------------------------------------------------------------------

  private val tsCrossCorrelation = Q(
    "ts_cross_correlation",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_type", expr(Det.fdivExpr("ms", "86400000")).as("day"))
      val daily = ev.groupBy("day").agg(
        sum(($"event_type" === "click").cast("long")).as("x"),
        sum(($"event_type" === "purchase").cast("long")).as("y"))
      val spine = ev.agg(min($"day").as("mn"), max($"day").as("mx"))
        .select(explode(sequence($"mn", $"mx")).as("day"))
      val ser = spine.join(daily, Seq("day"), "left_outer")
        .select($"day", coalesce($"x", lit(0L)).as("x"),
          coalesce($"y", lit(0L)).as("y"))
      val lags = s.range(-3, 4).select($"id".as("lg"))
      val pairs = ser.as("a").crossJoin(broadcast(lags))
        .join(ser.as("b"), $"b.day" === $"a.day" + $"lg")
        .select($"lg", $"a.x".as("x"), $"b.y".as("y"))
      pairs.groupBy("lg").agg(
          count(lit(1)).cast("double").as("n"),
          sum($"x".cast(Dec380)).cast("double").as("sx"),
          sum($"y".cast(Dec380)).cast("double").as("sy"),
          sum(($"x".cast(Dec380) * $"y")).cast("double").as("sxy"),
          sum(($"x".cast(Dec380) * $"x")).cast("double").as("sxx"),
          sum(($"y".cast(Dec380) * $"y")).cast("double").as("syy"))
        .withColumn("dx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("dy", $"n" * $"syy" - $"sy" * $"sy")
        .select($"lg".as("lag"), $"n".cast("long").as("n_pairs"),
          when($"dx" > 0 && $"dy" > 0,
            dround(($"n" * $"sxy" - $"sx" * $"sy")
              / sqrt($"dx" * $"dy"), 6)).as("xcorr"))
        .orderBy("lag")
    },
    Some("WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day " +
      "FROM events WHERE event_type IN ('click', 'purchase')), " +
      "daily AS (SELECT day, " +
      "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS x, " +
      "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS y FROM ev GROUP BY 1), " +
      "sp AS (SELECT unnest(generate_series(mn, mx)) AS day FROM " +
      "(SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev)), " +
      "ser AS (SELECT sp.day, coalesce(daily.x, 0) AS x, " +
      "coalesce(daily.y, 0) AS y FROM sp LEFT JOIN daily USING (day)), " +
      "lgs AS (SELECT unnest(generate_series(-3, 3)) AS lg), " +
      "p AS (SELECT lgs.lg, a.x, b.y FROM lgs CROSS JOIN ser a " +
      "JOIN ser b ON b.day = a.day + lgs.lg), " +
      "m AS (SELECT lg, CAST(count(*) AS DOUBLE) AS n, " +
      "CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx, " +
      "CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy, " +
      "CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy, " +
      "CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx, " +
      "CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy " +
      "FROM p GROUP BY 1), " +
      "f AS (SELECT lg, n, sx, sy, sxy, " +
      "n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy FROM m) " +
      "SELECT lg AS lag, CAST(n AS BIGINT) AS n_pairs, " +
      "CASE WHEN dx > 0 AND dy > 0 THEN " +
      OSql.sround("(n * sxy - sx * sy) / sqrt(dx * dy)", 6) +
      " END AS xcorr FROM f ORDER BY 1"))

  // ------------------------------------------------------------------
  // ts_sax_symbols — SAX (Symbolic Aggregate approXimation) of each
  // type's daily revenue series: z-normalize, Piecewise-Aggregate into
  // 6 segments, map each segment mean to one of 4 symbols at the
  // standard-normal quartile breakpoints (−0.6745, 0, +0.6745). This
  // is the symbolization layer TS indexing/motif systems are built on
  // (a 30-day series becomes a 6-letter word; words are joinable,
  // groupable, and distance-lower-boundable — the whole point of SAX
  // at archive scale). Determinism: the series lives on the DENSE day
  // spine (quiet days are real 0s), segments are integer floor
  // divisions of the day offset, and the z-scored segment mean is ONE
  // double formula off exact HUGEINT sums — paa = (S_seg/n_seg − μ)/σ
  // with μ, σ from exact N/ΣS/ΣS² — so both engines branch the
  // breakpoint CASE on the identical double. A zero-variance series
  // emits NULL symbols rather than dividing by zero.
  // ------------------------------------------------------------------

  private val tsSaxSymbols = Q(
    "ts_sax_symbols",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .filter($"value".isNotNull)
        .select($"event_type", expr(Det.fdivExpr("ms", "86400000")).as("day"),
          round($"value" * 100).cast("long").as("c"))
      val daily = ev.groupBy("event_type", "day")
        .agg(sum($"c".cast(Dec380)).cast("long").as("v"))
      val spine = ev.agg(min($"day").as("mn"), max($"day").as("mx"))
        .select($"mn", ($"mx" - $"mn" + 1).as("span"),
          explode(sequence($"mn", $"mx")).as("day"))
      val ser = ev.select($"event_type").distinct()
        .crossJoin(spine)
        .join(daily, Seq("event_type", "day"), "left_outer")
        .select($"event_type", $"mn", $"span", $"day",
          coalesce($"v", lit(0L)).as("v"))
        .withColumn("seg", expr("((day - mn) * 6) div span"))
      val mom = ser.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum($"v".cast(Dec380)).cast("double").as("sv"),
        sum(($"v".cast(Dec380) * $"v")).cast("double").as("sq"))
      val segs = ser.groupBy("event_type", "seg").agg(
        count(lit(1)).as("n_days"),
        sum($"v".cast(Dec380)).cast("double").as("ss"))
      segs.join(broadcast(mom), "event_type")
        .withColumn("mu", $"sv" / $"n")
        .withColumn("sig", sqrt(greatest($"sq" / $"n" - $"mu" * $"mu",
          lit(0.0))))
        .withColumn("paa",
          when($"sig" > 0, dround(($"ss" / $"n_days" - $"mu") / $"sig", 6)))
        .select($"event_type", $"seg", $"n_days", $"paa",
          when($"paa".isNull, lit(null).cast("string"))
            .when($"paa" < -0.6745, lit("a"))
            .when($"paa" < 0.0, lit("b"))
            .when($"paa" < 0.6745, lit("c"))
            .otherwise(lit("d")).as("sym"))
        .orderBy("event_type", "seg")
    },
    Some("WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events " +
      "WHERE value IS NOT NULL), " +
      "daily AS (SELECT event_type, day, " +
      "CAST(SUM(CAST(c AS HUGEINT)) AS BIGINT) AS v FROM ev GROUP BY 1, 2), " +
      "sp AS (SELECT mn, mx - mn + 1 AS span, " +
      "unnest(generate_series(mn, mx)) AS day FROM " +
      "(SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev)), " +
      "tt AS (SELECT DISTINCT event_type FROM ev), " +
      "ser AS (SELECT tt.event_type, sp.mn, sp.span, sp.day, " +
      "coalesce(daily.v, 0) AS v, ((sp.day - sp.mn) * 6) // sp.span AS seg " +
      "FROM tt CROSS JOIN sp LEFT JOIN daily " +
      "ON daily.event_type = tt.event_type AND daily.day = sp.day), " +
      "mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) AS sv, " +
      "CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS sq " +
      "FROM ser GROUP BY 1), " +
      "segs AS (SELECT event_type, seg, CAST(count(*) AS BIGINT) AS n_days, " +
      "CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) AS ss " +
      "FROM ser GROUP BY 1, 2), " +
      "zz AS (SELECT segs.event_type, segs.seg, segs.n_days, " +
      "mom.sv / mom.n AS mu, " +
      "sqrt(greatest(mom.sq / mom.n - (mom.sv / mom.n) * (mom.sv / mom.n), " +
      "0.0)) AS sig, segs.ss FROM segs JOIN mom USING (event_type)), " +
      "pp AS (SELECT event_type, seg, n_days, " +
      "CASE WHEN sig > 0 THEN " +
      OSql.sround("(ss / n_days - mu) / sig", 6) + " END AS paa FROM zz) " +
      "SELECT event_type, seg, n_days, paa, " +
      "CASE WHEN paa IS NULL THEN NULL " +
      "WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b' " +
      "WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS sym " +
      "FROM pp ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // ts_hurst_rs — HURST EXPONENT by rescaled-range (R/S) analysis of
  // the global daily-revenue series: the long-memory diagnostic (H ≈
  // 0.5 = random walk, H → 1 = trending/persistent, H < 0.5 = mean-
  // reverting) read before fitting any forecaster — snaive and Holt
  // both assume structure this number can refute. Windows w ∈ {4, 8,
  // 16} tile the dense day spine into disjoint blocks; per block the
  // range of mean-adjusted cumulative deviations R and the stddev S
  // reduce to EXACT integers on the common denominator w: w·cumdev_t =
  // w·S_t − t·SB and w²·S² = w·SSQ − SB², so R/S = (maxΔ − minΔ)/
  // √(w·SSQ − SB²) is one double per block off exact HUGEINTs,
  // floor-quantized at 10⁶ before the per-w mean (order-independent
  // integer sum). With w a power of 2, the log-log OLS slope collapses
  // CLOSED-FORM: x = ln w = k·ln 2 for k = 2,3,4 ⇒ slope = (ln RS₁₆ −
  // ln RS₄)/(2 ln 2) — two lns and one division, no float regression.
  // Zero-variance blocks drop (R = S = 0 is 0/0); a fully-degenerate
  // scale yields NULL. All work is on the calendar-bounded ledger;
  // per-block windows are ≤16-row partitions.
  // ------------------------------------------------------------------

  private val tsHurstRs = Q(
    "ts_hurst_rs",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .filter($"value".isNotNull)
        .select(expr(Det.fdivExpr("ms", "86400000")).as("day"),
          round($"value" * 100).cast("long").as("c"))
      val daily = ev.groupBy("day").agg(sum($"c".cast(Dec380)).cast("long").as("v"))
      val ser = ev.agg(min($"day").as("mn"), max($"day").as("mx"))
        .select($"mn", ($"mx" - $"mn" + 1).as("n"),
          explode(sequence($"mn", $"mx")).as("day"))
        .join(daily, Seq("day"), "left_outer")
        .select($"n", ($"day" - $"mn").as("idx"),
          coalesce($"v", lit(0L)).as("v"))
      val tiled = ser
        .withColumn("w", explode(array(lit(4L), lit(8L), lit(16L))))
        .filter($"idx" < $"w" * expr("n div w"))
        .select($"w", expr("idx div w").as("blk"), $"idx",
          (pmod($"idx", $"w") + 1).as("t"), $"v")
      val bs = tiled.groupBy("w", "blk").agg(
        sum($"v".cast(Dec380)).cast("long").as("sb"),
        sum(($"v".cast(Dec380) * $"v")).as("ssq"))
      val cw = Window.partitionBy($"w", $"blk").orderBy($"idx".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blocks = tiled
        .withColumn("st", sum($"v").over(cw))
        .join(bs, Seq("w", "blk"))
        .select($"w", $"blk",
          ($"w" * $"st" - $"t" * $"sb").as("cd"),
          ($"ssq" * $"w" - $"sb".cast(Dec380) * $"sb").as("den"))
        .groupBy("w", "blk").agg(
          (max($"cd") - min($"cd")).as("rw"), max($"den").as("den"))
        .filter($"den" > 0)
        .select($"w",
          floor($"rw".cast("double") / sqrt($"den".cast("double")) * 1e6
            + 0.5).cast("long").as("rsq"))
      val perW = blocks.groupBy("w").agg(
        count(lit(1)).as("nb"),
        (sum($"rsq").cast("double") / count(lit(1)) / 1e6).as("rs"))
      perW.agg(
          max(when($"w" === 4, $"rs")).as("rs4"),
          max(when($"w" === 8, $"rs")).as("rs8"),
          max(when($"w" === 16, $"rs")).as("rs16"))
        .select(dround($"rs4", 6).as("rs4"), dround($"rs8", 6).as("rs8"),
          dround($"rs16", 6).as("rs16"),
          when($"rs4" > 0 && $"rs16" > 0,
            dround((log($"rs16") - log($"rs4")) / (lit(2.0) * log(lit(2.0))),
              6)).as("hurst"))
    },
    Some("WITH ev AS (SELECT epoch_ms(ts) // 86400000 AS day, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events " +
      "WHERE value IS NOT NULL), " +
      "daily AS (SELECT day, CAST(SUM(CAST(c AS HUGEINT)) AS BIGINT) AS v " +
      "FROM ev GROUP BY 1), " +
      "sp AS (SELECT mn, mx - mn + 1 AS n, " +
      "unnest(generate_series(mn, mx)) AS day FROM " +
      "(SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev)), " +
      "ser AS (SELECT sp.n, sp.day - sp.mn AS idx, " +
      "coalesce(daily.v, 0) AS v FROM sp LEFT JOIN daily USING (day)), " +
      "ww AS (SELECT unnest([4, 8, 16]) AS w), " +
      "tiled AS (SELECT ww.w, ser.idx // ww.w AS blk, ser.idx, " +
      "(ser.idx % ww.w) + 1 AS t, ser.v FROM ser CROSS JOIN ww " +
      "WHERE ser.idx < ww.w * (ser.n // ww.w)), " +
      "bsum AS (SELECT w, blk, " +
      "CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS sb, " +
      "SUM(CAST(v AS HUGEINT) * v) AS ssq FROM tiled GROUP BY 1, 2), " +
      "cum AS (SELECT w, blk, t, " +
      "SUM(v) OVER (PARTITION BY w, blk ORDER BY idx " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st " +
      "FROM tiled), " +
      "cd AS (SELECT cum.w, cum.blk, " +
      "cum.w * cum.st - cum.t * bsum.sb AS cd, " +
      "bsum.ssq * cum.w - CAST(bsum.sb AS HUGEINT) * bsum.sb AS den " +
      "FROM cum JOIN bsum USING (w, blk)), " +
      "blocks AS (SELECT w, " +
      "CAST(floor(CAST(MAX(cd) - MIN(cd) AS DOUBLE) / " +
      "sqrt(CAST(MAX(den) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS rsq " +
      "FROM cd GROUP BY w, blk HAVING MAX(den) > 0), " +
      "pw AS (SELECT w, CAST(SUM(rsq) AS DOUBLE) / count(*) / 1e6 AS rs " +
      "FROM blocks GROUP BY 1), " +
      "pv AS (SELECT MAX(CASE WHEN w = 4 THEN rs END) AS rs4, " +
      "MAX(CASE WHEN w = 8 THEN rs END) AS rs8, " +
      "MAX(CASE WHEN w = 16 THEN rs END) AS rs16 FROM pw) " +
      "SELECT " + OSql.sround("rs4", 6) + " AS rs4, " +
      OSql.sround("rs8", 6) + " AS rs8, " +
      OSql.sround("rs16", 6) + " AS rs16, " +
      "CASE WHEN rs4 > 0 AND rs16 > 0 THEN " +
      OSql.sround("(ln(rs16) - ln(rs4)) / (2.0 * ln(2.0))", 6) +
      " END AS hurst FROM pv"))

  // ------------------------------------------------------------------
  // ts_changepoint_binseg — one BINARY-SEGMENTATION step per type over
  // the daily revenue series: the split minimizing SSE_left+SSE_right,
  // i.e. the WHERE answer next to `ts_changepoint_cusum`'s WHEN/whether
  // (CUSUM detects that the mean drifted; binary segmentation names the
  // day, and iterating it is how changepoint libraries segment — one
  // verified step is the primitive). Since SSE = SSQ − S²/n and SSQ is
  // split-invariant, argmin SSE ⟺ argmax S_L²/n_L + S_R²/n_R: the
  // per-split score is ONE double formula off exact HUGEINT prefix
  // sums (never a float accumulation), compared identically in both
  // engines, ties to the EARLIEST split; prefix sums are per-type
  // windows over the calendar-bounded dense spine (quiet days are real
  // 0s). Output keeps the exact floor-divided segment means — the
  // before/after levels an operator actually reads.
  // ------------------------------------------------------------------

  private val tsChangepointBinseg = Q(
    "ts_changepoint_binseg",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .filter($"value".isNotNull)
        .select($"event_type", expr(Det.fdivExpr("ms", "86400000")).as("day"),
          round($"value" * 100).cast("long").as("c"))
      val daily = ev.groupBy("event_type", "day")
        .agg(sum($"c".cast(Dec380)).cast("long").as("v"))
      val spine = ev.agg(min($"day").as("mn"), max($"day").as("mx"))
        .select($"mn", ($"mx" - $"mn" + 1).as("n"),
          explode(sequence($"mn", $"mx")).as("day"))
      val ser = ev.select($"event_type").distinct()
        .crossJoin(spine)
        .join(daily, Seq("event_type", "day"), "left_outer")
        .select($"event_type", $"n", $"day",
          coalesce($"v", lit(0L)).as("v"))
      val cw = Window.partitionBy($"event_type").orderBy($"day".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = ser.groupBy("event_type").agg(
        sum($"v".cast(Dec380)).cast("long").as("st"))
      val scored = ser
        .withColumn("nl", sum(lit(1L)).over(cw))
        .withColumn("sl", sum($"v").over(cw))
        .join(tot, "event_type")
        .filter($"nl" < $"n")
        .select($"event_type", $"day", $"n", $"nl", $"sl", $"st",
          ($"sl".cast("double") * $"sl" / $"nl" +
            ($"st" - $"sl").cast("double") * ($"st" - $"sl") /
              ($"n" - $"nl")).as("score"))
      scored.groupBy("event_type")
        .agg(max(struct($"score".as("a"), (-$"day").as("nd"),
          $"nl".as("nl"), $"sl".as("sl"), $"n".as("n"), $"st".as("st")))
          .as("mm"))
        .select($"event_type", (-$"mm.nd").as("split_day"),
          $"mm.nl".as("n_left"), ($"mm.n" - $"mm.nl").as("n_right"),
          expr(Det.fdivExpr("mm.sl", "mm.nl")).as("mean_l_cents"),
          expr(Det.fdivExpr("(mm.st - mm.sl)", "(mm.n - mm.nl)"))
            .as("mean_r_cents"))
        .orderBy("event_type")
    },
    Some("WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "CAST(round(value*100) AS BIGINT) AS c FROM events " +
      "WHERE value IS NOT NULL), " +
      "daily AS (SELECT event_type, day, " +
      "CAST(SUM(CAST(c AS HUGEINT)) AS BIGINT) AS v FROM ev GROUP BY 1, 2), " +
      "sp AS (SELECT mn, mx - mn + 1 AS n, " +
      "unnest(generate_series(mn, mx)) AS day FROM " +
      "(SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev)), " +
      "tt AS (SELECT DISTINCT event_type FROM ev), " +
      "ser AS (SELECT tt.event_type, sp.n, sp.day, coalesce(daily.v, 0) " +
      "AS v FROM tt CROSS JOIN sp LEFT JOIN daily " +
      "ON daily.event_type = tt.event_type AND daily.day = sp.day), " +
      "tot AS (SELECT event_type, " +
      "CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS st FROM ser GROUP BY 1), " +
      "pre AS (SELECT event_type, n, day, " +
      "CAST(count(*) OVER w AS BIGINT) AS nl, " +
      "CAST(SUM(v) OVER w AS BIGINT) AS sl FROM ser WINDOW w AS " +
      "(PARTITION BY event_type ORDER BY day ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "sc AS (SELECT pre.event_type, pre.day, pre.n, pre.nl, pre.sl, " +
      "tot.st, CAST(pre.sl AS DOUBLE) * pre.sl / pre.nl + " +
      "CAST(tot.st - pre.sl AS DOUBLE) * (tot.st - pre.sl) / " +
      "(pre.n - pre.nl) AS score FROM pre JOIN tot USING (event_type) " +
      "WHERE pre.nl < pre.n), " +
      "bst AS (SELECT event_type, day, nl, sl, n, st, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY score DESC, day ASC) AS rk " +
      "FROM sc) " +
      "SELECT event_type, day AS split_day, nl AS n_left, " +
      "n - nl AS n_right, sl // nl AS mean_l_cents, " +
      "(st - sl) // (n - nl) AS mean_r_cents " +
      "FROM bst WHERE rk = 1 ORDER BY event_type"))

  // ------------------------------------------------------------------
  // ts_pacf_lags — PARTIAL autocorrelation at lags 1..3 per type, the
  // AR-order panel beside `ts_acf_lags`' correlogram (the ACF of an
  // AR(1) decays forever; its PACF cuts off after lag 1 — PACF is how
  // a forecaster reads the AR order, the other half of Box-Jenkins).
  // Durbin-Levinson is a sequential recursion, but at depth 3 it
  // CLOSES FORM: φ₁₁ = r₁, φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₂₁ = r₁(1−φ₂₂),
  // φ₃₃ = (r₃ − φ₂₁r₂ − φ₂₂r₁)/(1 − φ₂₁r₁ − φ₂₂r₂) — pure scalar
  // formulas over the autocorrelations. The rₖ themselves are ratios
  // of EXACT integers: n²·cₖ = n²Pₖ − nS(Hₖ+Tₖ) + (n−k)S² off lagged
  // products and head/tail sums (DECIMAL/HUGEINT), so no float ever
  // accumulates in engine order; one keyed window pass stacks all
  // three lags (the ts_acf_lags shape). Degenerate series (c₀ ≤ 0, a
  // zero denominator in the recursion) emit NULL at that depth.
  // ------------------------------------------------------------------

  private val tsPacfLags = Q(
    "ts_pacf_lags",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val lags = Seq(1, 2, 3)
      val w = Window.partitionBy($"event_type").orderBy($"h".asc)
      val withLags = hourlyCents(s, d).select(
        ($"event_type" +: $"v" +:
          lags.map(k => lag($"v", k).over(w).as(s"x$k"))): _*)
      val base = withLags.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum($"v".cast(Dec380)).as("ss"),
        sum(($"v".cast(Dec380) * $"v")).as("sq"))
      val pairs = withLags.select($"event_type", $"v".as("y"),
          expr("stack(3, " +
            lags.map(k => s"${k}L, x$k").mkString(", ") + ") as (lg, x)"))
        .filter($"x".isNotNull)
      val mom = pairs.groupBy("event_type", "lg").agg(
        sum(($"x".cast(Dec380) * $"y")).as("p"),
        sum($"x".cast(Dec380)).as("hh"),
        sum($"y".cast(Dec380)).as("tt"))
      // n²·c_k exact; c_0 from the base moments (k = 0 ⇒ H = T = S)
      val rk = mom.join(broadcast(base), "event_type")
        .select($"event_type", $"lg",
          (($"p" * $"n" * $"n" - $"ss" * ($"hh" + $"tt") * $"n" +
            $"ss" * $"ss" * ($"n" - $"lg")).cast("double") /
            (($"sq" * $"n" * $"n" - $"ss" * $"ss" * $"n" * lit(2) +
              $"ss" * $"ss" * $"n").cast("double"))).as("r"))
      val wide = rk.groupBy("event_type").agg(
        max(when($"lg" === 1, $"r")).as("r1"),
        max(when($"lg" === 2, $"r")).as("r2"),
        max(when($"lg" === 3, $"r")).as("r3"))
      wide
        .withColumn("p22",
          when(abs(lit(1.0) - $"r1" * $"r1") > 0,
            ($"r2" - $"r1" * $"r1") / (lit(1.0) - $"r1" * $"r1")))
        .withColumn("p21", $"r1" * (lit(1.0) - $"p22"))
        .select($"event_type",
          dround($"r1", 6).as("acov_r1"), dround($"r2", 6).as("acov_r2"),
          dround($"r3", 6).as("acov_r3"),
          dround($"r1", 6).as("pacf1"),
          dround($"p22", 6).as("pacf2"),
          when(abs(lit(1.0) - $"p21" * $"r1" - $"p22" * $"r2") > 0,
            dround(($"r3" - $"p21" * $"r2" - $"p22" * $"r1") /
              (lit(1.0) - $"p21" * $"r1" - $"p22" * $"r2"), 6))
            .as("pacf3"))
        .orderBy("event_type")
    },
    Some {
      val legs = Seq(1, 2, 3).map { k =>
        s"SELECT event_type, CAST($k AS BIGINT) AS lg, " +
          s"lag(v, $k) OVER (PARTITION BY event_type ORDER BY h) AS x, " +
          "v AS y FROM hourly"
      }.mkString(" UNION ALL ")
      "WITH " + hourlyCtes + ", " +
        "base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "SUM(CAST(v AS HUGEINT)) AS ss, " +
        "SUM(CAST(v AS HUGEINT) * v) AS sq FROM hourly GROUP BY 1), " +
        s"p AS ($legs), " +
        "mom AS (SELECT event_type, lg, " +
        "SUM(CAST(x AS HUGEINT) * y) AS p, " +
        "SUM(CAST(x AS HUGEINT)) AS hh, SUM(CAST(y AS HUGEINT)) AS tt " +
        "FROM p WHERE x IS NOT NULL GROUP BY 1, 2), " +
        "rk AS (SELECT mom.event_type, mom.lg, " +
        "CAST(mom.p * base.n * base.n - base.ss * (mom.hh + mom.tt) * " +
        "base.n + base.ss * base.ss * (base.n - mom.lg) AS DOUBLE) / " +
        "CAST(base.sq * base.n * base.n - base.ss * base.ss * base.n * 2 " +
        "+ base.ss * base.ss * base.n AS DOUBLE) AS r " +
        "FROM mom JOIN base USING (event_type)), " +
        "wide AS (SELECT event_type, " +
        "MAX(CASE WHEN lg = 1 THEN r END) AS r1, " +
        "MAX(CASE WHEN lg = 2 THEN r END) AS r2, " +
        "MAX(CASE WHEN lg = 3 THEN r END) AS r3 FROM rk GROUP BY 1), " +
        "dl AS (SELECT event_type, r1, r2, r3, " +
        "CASE WHEN abs(1.0 - r1 * r1) > 0 THEN " +
        "(r2 - r1 * r1) / (1.0 - r1 * r1) END AS p22 FROM wide), " +
        "dl2 AS (SELECT *, r1 * (1.0 - p22) AS p21 FROM dl) " +
        "SELECT event_type, " +
        OSql.sround("r1", 6) + " AS acov_r1, " +
        OSql.sround("r2", 6) + " AS acov_r2, " +
        OSql.sround("r3", 6) + " AS acov_r3, " +
        OSql.sround("r1", 6) + " AS pacf1, " +
        OSql.sround("p22", 6) + " AS pacf2, " +
        "CASE WHEN abs(1.0 - p21 * r1 - p22 * r2) > 0 THEN " +
        OSql.sround("(r3 - p21 * r2 - p22 * r1) / " +
          "(1.0 - p21 * r1 - p22 * r2)", 6) +
        " END AS pacf3 FROM dl2 ORDER BY event_type"
    })

  val qs: Seq[Q] = Seq(
    tsInterpolateLinear, tsForecastSnaive, profileDriftPsi, aggEntropy,
    windowMedianRolling, windowDrawdown, windowRollingSlope,
    statTrendMannKendall, windowCusumChange, intervalUnionLength,
    statRunsTest, windowMomGrowth, aggAutocorrLag1, tsSeasonalDecompose,
    tsHampelOutliers, tsChangepointCusum, tsAcfLags, tsTheilSen,
    tsHoltForecast, tsSeasonalAnomaly, tsDominantPeriod, statDurbinWatson,
    windowRollingCorr, tsWeekdayProfile, statLjungBox, tsCrossCorrelation,
    tsSaxSymbols, tsHurstRs, tsChangepointBinseg, tsPacfLags)
}
