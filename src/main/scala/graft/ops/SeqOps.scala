package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Cut, Det, OSql, Q, Share, Tables}

/** Ordered-sequence analytics over the landed event archive: run-length
  * islands, Markov transition structure, interval concurrency, funnel
  * latency, robust anomaly flagging, and the exact equi-depth histogram
  * — the session/behavior reporting a replay consumer runs after the
  * stream lands. All hash-verified against DuckDB.
  *
  * Scale shape (the 100 TB stance, per operator):
  *  - seq_gap_islands / markov_transitions: every window is
  *    partitionBy(user_id) — ONE hash shuffle, per-user state, never a
  *    global WindowExec; the adjacent Window ops share one sort.
  *  - interval_concurrency: the classic sweep-line (+1/−1 endpoints,
  *    global running sum) is spelled TWO-PHASE — range-shuffle the
  *    endpoint stream, local cumulative sums per partition, then a
  *    P-row broadcast prefix-offset merge ([[Windows.prefixOffsets]]).
  *    No single-partition window anywhere; the global sweep costs one
  *    range exchange regardless of event cardinality.
  *  - funnel_time_to_convert: two conditional-min aggregates on the
  *    SAME user_id partitioning (one shuffle, exchange reused) + a
  *    single-row exact-percentile reduce.
  *  - anomaly_zscore: per-type sufficient statistics (n, Σx, Σx² in
  *    DECIMAL — exact, order-independent) collapse map-side to
  *    |event_types| rows, broadcast back over the fact scan: the fact
  *    table is read once and never shuffled.
  *  - agg_histogram_equidepth: exact global depth buckets via the same
  *    two-phase global-row-number machinery as window_rank_dense — a
  *    range shuffle + broadcast offsets, not a global sort-to-one-task.
  *  - funnel_abandonment: sessionization and the per-session rollup
  *    ride ONE user_id shuffle; outcome classes collapse to two rows.
  *  - seq_streak_longest: distinct days → islands (integer day − rank
  *    trick) → per-user max → histogram; every shuffle strictly
  *    smaller than the last.
  *  - seq_interarrival_stats: one keyed lag + grouped exact
  *    percentiles (the agg_quantiles layout — per-type sorts, never a
  *    global one).
  *  - anomaly_mad: two broadcast-back passes (median, then MAD); the
  *    fact table is scanned twice and never shuffled.
  */
object SeqOps {
  import Det._

  /** Exact sufficient-statistic decimal: Σx and Σx² stay exact for
    * |x| ≤ ~5e2 out to ~1e29 rows — order-independent at any scale.
    */
  private val Dec38: DecimalType = DecimalType(38, 6)

  // ------------------------------------------------------------------
  // seq_gap_islands — gaps-and-islands: collapse each user's ordered
  // event stream into maximal runs of the same event_type. Spelled as
  // lag → new-run flag → running sum (= island id) → per-island agg;
  // the two window passes share the identical (user_id; ms, event_id)
  // spec, so Catalyst plans ONE exchange + one sort for both.
  // ------------------------------------------------------------------

  private val seqGapIslands = Q(
    "seq_gap_islands",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
      val run = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"ms", $"event_type")
        .withColumn("is_new",
          when(lag($"event_type", 1).over(w).isNull ||
            lag($"event_type", 1).over(w) =!= $"event_type", 1L).otherwise(0L))
        .withColumn("island", sum($"is_new").over(run))
        .groupBy($"user_id", $"island", $"event_type")
        .agg(count(lit(1)).as("run_len"),
          min($"ms").as("start_ms"), max($"ms").as("end_ms"))
        .orderBy("user_id", "island")
    },
    Some("WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type " +
      "FROM events), " +
      "f AS (SELECT user_id, event_id, ms, event_type, " +
      "CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type " +
      "THEN 1 ELSE 0 END AS is_new FROM e " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC NULLS FIRST, event_id ASC)), " +
      "i AS (SELECT user_id, ms, event_type, CAST(SUM(is_new) OVER (PARTITION BY user_id " +
      "ORDER BY ms ASC, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS BIGINT) AS island FROM f) " +
      "SELECT user_id, island, event_type, count(*) AS run_len, " +
      "min(ms) AS start_ms, max(ms) AS end_ms " +
      "FROM i GROUP BY 1, 2, 3 ORDER BY user_id, island"))

  // ------------------------------------------------------------------
  // markov_transitions — first-order event-type transition matrix:
  // per-user (prev → next) bigrams via ONE keyed lag window, then a
  // partial+final count keyed by the pair. Row probabilities join the
  // per-prev totals back by broadcast (|event_types| rows). The
  // probability is one double division of two exact longs — bit-equal
  // in any engine.
  // ------------------------------------------------------------------

  private val markovTransitions = Q(
    "markov_transitions",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
      val pairs = Tables.events(s, d)
        .select($"user_id", $"event_id", $"ms", $"event_type")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
      val cnt = pairs.groupBy($"prev", $"event_type".as("next"))
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy($"prev").agg(sum($"cnt").cast("long").as("tot"))
      cnt.join(broadcast(tot), "prev")
        .select($"prev", $"next", $"cnt",
          dround($"cnt".cast("double") / $"tot", 6).as("p"))
        .orderBy("prev", "next")
    },
    Some("WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type " +
      "FROM events), " +
      "b AS (SELECT user_id, event_type AS next, lag(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ms ASC NULLS FIRST, event_id ASC) AS prev FROM e), " +
      "c AS (SELECT prev, next, count(*) AS cnt FROM b WHERE prev IS NOT NULL " +
      "GROUP BY 1, 2), " +
      "t AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS tot FROM c GROUP BY 1) " +
      "SELECT c.prev, c.next, c.cnt, " +
      OSql.sround("CAST(c.cnt AS DOUBLE) / t.tot", 6) + " AS p " +
      "FROM c JOIN t USING (prev) ORDER BY prev, next"))

  // ------------------------------------------------------------------
  // interval_concurrency — peak concurrency of 30-second event
  // intervals [ms, ms+30000), the sweep-line classic. Endpoints carry
  // +1/−1; ends sort BEFORE starts at equal t (delta ASC), making the
  // interval half-open. The global running sum is two-phase: local
  // cumsum within range partitions + broadcast prefix offsets — at
  // equal (t, delta) the running values form the same multiset in any
  // order, so peak and first-peak-time are total-order-independent.
  // ------------------------------------------------------------------

  private val intervalConcurrency = Q(
    "interval_concurrency",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"ms")
      val ep = ev.select($"ms".as("t"), lit(1L).as("delta"))
        .unionAll(ev.select(($"ms" + 30000L).as("t"), lit(-1L).as("delta")))
      val ids = Cut(ep
        .repartitionByRange(32, $"t".asc, $"delta".asc)
        .sortWithinPartitions($"t".asc, $"delta".asc)
        .withColumn("mid", monotonically_increasing_id())
        .withColumn("pid", shiftright($"mid", 33)), "conc-ids", s"$d/events.parquet")
      val local = Window.partitionBy($"pid").orderBy($"mid".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ≤32-row per-pid delta ledger (prefixOffsets shares it across
      // both sides of its theta-join)
      val offs = Windows.prefixOffsets(
        ids.groupBy("pid").agg(sum($"delta").as("n")), "pid")
      val r = ids
        .withColumn("cum", sum($"delta").over(local))
        .join(broadcast(offs), "pid")
        .select($"t", ($"cum" + $"off").as("conc"))
      // ONE aggregate pass (r16, guide §2.4): first_peak_ms = the t
      // that maximizes (conc, −t) — max conc, then smallest t — so the
      // old peak-scalar + conc=peak self-join (two more passes over
      // the endpoint table) collapses into the same aggregate as the
      // peak itself. Ties are exact (equal conc AND equal t ⇒ same t),
      // so max_by is deterministic here. The isNotNull filter keeps
      // the empty-corpus row count at 0, like the join spelling.
      r.agg(max($"conc").as("peak"),
          max_by($"t", struct($"conc", $"t" * lit(-1L))).as("first_peak_ms"))
        .filter($"peak".isNotNull)
    },
    Some("WITH e AS (SELECT epoch_ms(ts) AS ms FROM events), " +
      "ep AS (SELECT ms AS t, 1 AS delta FROM e " +
      "UNION ALL SELECT ms + 30000, -1 FROM e), " +
      "r AS (SELECT t, CAST(SUM(delta) OVER (ORDER BY t ASC, delta ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc FROM ep), " +
      "p AS (SELECT MAX(conc) AS peak FROM r) " +
      "SELECT p.peak, (SELECT MIN(t) FROM r WHERE r.conc = p.peak) AS first_peak_ms " +
      "FROM p WHERE p.peak IS NOT NULL"))

  // ------------------------------------------------------------------
  // funnel_time_to_convert — latency distribution of the view →
  // purchase funnel edge: per user, first view and first purchase
  // AFTER it; exact interpolated p50/p90 over the deltas. Both
  // conditional mins come from ONE aggregate on one user_id shuffle.
  // ------------------------------------------------------------------

  private val funnelTimeToConvert = Q(
    "funnel_time_to_convert",
    (s, d) => {
      import s.implicits._
      val per = Tables.events(s, d)
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "view", $"ms")).as("v_ms"),
          min(when($"event_type" === "purchase", $"ms")).as("p_ms"))
        .filter($"v_ms".isNotNull && $"p_ms".isNotNull && $"p_ms" > $"v_ms")
        .select(($"p_ms" - $"v_ms").as("delta"))
      per.agg(count(lit(1)).as("n_converted"),
        dround(percentile($"delta", lit(0.5)), 4).as("p50_ms"),
        dround(percentile($"delta", lit(0.9)), 4).as("p90_ms"),
        max($"delta").as("max_ms"))
    },
    Some("WITH per AS (SELECT user_id, " +
      "MIN(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v_ms, " +
      "MIN(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS p_ms " +
      "FROM events GROUP BY 1), " +
      "dl AS (SELECT p_ms - v_ms AS delta FROM per " +
      "WHERE v_ms IS NOT NULL AND p_ms IS NOT NULL AND p_ms > v_ms) " +
      "SELECT count(*) AS n_converted, " +
      OSql.sround("quantile_cont(delta, 0.5)", 4) + " AS p50_ms, " +
      OSql.sround("quantile_cont(delta, 0.9)", 4) + " AS p90_ms, " +
      "MAX(delta) AS max_ms FROM dl"))

  // ------------------------------------------------------------------
  // anomaly_zscore — flag events whose value sits > 3σ from its
  // event_type's mean. μ and σ come from EXACT decimal sufficient
  // statistics (n, Σx, Σx²) so they are order-independent; the z
  // arithmetic is the identical IEEE expression tree in both engines
  // (μ spelled s1/n everywhere), making the |z| > 3 boundary
  // bit-deterministic. One fact scan, map-side stat collapse, tiny
  // broadcast back — the fact table never shuffles.
  // ------------------------------------------------------------------

  private val anomalyZscore = Q(
    "anomaly_zscore",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val st = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(Dec38)).cast("double").as("s1"),
          sum(($"value" * $"value").cast(Dec38)).cast("double").as("s2"))
        .withColumn("mu", $"s1" / $"n")
        .withColumn("sigma", sqrt($"s2" / $"n" - ($"s1" / $"n") * ($"s1" / $"n")))
      ev.select($"event_id", $"event_type", $"value")
        .join(broadcast(st), "event_type")
        .withColumn("z", ($"value" - $"mu") / $"sigma")
        .filter(abs($"z") > 3.0)
        .select($"event_id", $"event_type", $"value", dround($"z", 4).as("z"))
        .orderBy("event_id")
    },
    Some("WITH st AS (SELECT event_type, count(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1, " +
      "CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2 " +
      "FROM events GROUP BY 1), " +
      "sg AS (SELECT event_type, s1 / n AS mu, " +
      "sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sigma FROM st), " +
      "z AS (SELECT e.event_id, e.event_type, e.value, " +
      "(e.value - sg.mu) / sg.sigma AS z FROM events e " +
      "JOIN sg USING (event_type)) " +
      "SELECT event_id, event_type, value, " + OSql.sround("z", 4) + " AS z " +
      "FROM z WHERE abs(z) > 3.0 ORDER BY event_id"))

  // ------------------------------------------------------------------
  // agg_histogram_equidepth — EXACT 8-bucket equi-depth histogram of
  // the value column (bucket boundaries from the true global order,
  // not a sketch — the complement of agg_approx_quantile). The global
  // row number is the two-phase range-shuffle + broadcast-prefix
  // spelling (no single-partition WindowExec); the bucket rule
  // floor((rn−1)·8 / n) is pure integer arithmetic, restated verbatim
  // in the oracle.
  // ------------------------------------------------------------------

  private val aggHistogramEquidepth = Q(
    "agg_histogram_equidepth",
    (s, d) => {
      import s.implicits._
      val ids = Cut(Windows.rankIds(
        Tables.events(s, d).select($"event_id", $"value"),
        $"value".asc, $"event_id".asc), "hist-ids", s"$d/events.parquet")
      // the per-pid count ledger (≤32 rows, shared so its one pass over
      // the ranked corpus serves BOTH prefix sides of the offsets
      // theta-join AND the global total)
      val cnts = Share(ids.groupBy("pid").agg(count(lit(1)).as("n")))
      val offs = Windows.prefixOffsets(cnts, "pid")
      val tot = cnts.agg(sum($"n").cast("long").as("nn"))
      ids.join(broadcast(offs), "pid")
        .crossJoin(broadcast(tot))
        .select($"value", expr("((lrn + off - 1) * 8) div nn").as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("cnt"), min($"value").as("lo"), max($"value").as("hi"))
        .orderBy("bucket")
    },
    Some("WITH r AS (SELECT value, " +
      "row_number() OVER (ORDER BY value ASC, event_id ASC) AS rn, " +
      "count(*) OVER () AS nn FROM events) " +
      "SELECT CAST(((rn - 1) * 8) // nn AS BIGINT) AS bucket, " +
      "count(*) AS cnt, min(value) AS lo, max(value) AS hi " +
      "FROM r GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // funnel_abandonment — abandoned-cart analysis: each user's stream
  // splits into 30-minute-gap sessions (the stream_session idiom),
  // a session converts iff it contains a purchase AFTER engaging
  // (view/click), and the report compares converted vs abandoned
  // sessions on count, length, and exact value. One user_id shuffle
  // carries sessionization and the per-session rollup; outcome
  // classes collapse to two rows.
  // ------------------------------------------------------------------

  private val funnelAbandonment = Q(
    "funnel_abandonment",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
      val run = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.events(s, d)
        .select($"user_id", $"event_id", $"ms", $"event_type",
          round($"value" * 100).cast("long").as("vc"))
        .withColumn("gap",
          when($"ms" - lag($"ms", 1).over(w) > 1800000L || lag($"ms", 1)
            .over(w).isNull, 1L).otherwise(0L))
        .withColumn("sid", sum($"gap").over(run))
      val perSession = sess.groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          (max($"ms") - min($"ms")).as("span_ms"),
          max(when($"event_type".isin("view", "click"), 1L)
            .otherwise(0L)).as("engaged"),
          max(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("purchased"),
          sum(when($"event_type" === "purchase", $"vc").otherwise(0L))
            .as("purchase_cents"))
        .filter($"engaged" === 1L)
      perSession
        .withColumn("outcome",
          when($"purchased" === 1L, "converted").otherwise("abandoned"))
        .groupBy("outcome")
        .agg(count(lit(1)).as("n_sessions"),
          sum($"n_events").cast("long").as("n_events"),
          sum($"span_ms").cast("long").as("total_span_ms"),
          sum($"purchase_cents").cast("long").as("purchase_cents"))
        .orderBy("outcome")
    },
    Some("WITH ev AS (SELECT user_id, event_id, event_type, " +
      "epoch_ms(ts) AS ms, CAST(round(value*100) AS BIGINT) AS vc " +
      "FROM events), " +
      "g AS (SELECT *, CASE WHEN ms - lag(ms) OVER fr > 1800000 " +
      "OR lag(ms) OVER fr IS NULL THEN 1 ELSE 0 END AS gap FROM ev " +
      "WINDOW fr AS (PARTITION BY user_id ORDER BY ms NULLS FIRST, event_id)), " +
      "sid AS (SELECT *, CAST(sum(gap) OVER (PARTITION BY user_id " +
      "ORDER BY ms NULLS FIRST, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "CURRENT ROW) AS BIGINT) AS sid FROM g), " +
      "ps AS (SELECT user_id, sid, count(*) AS n_events, " +
      "max(ms) - min(ms) AS span_ms, " +
      "max(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END) " +
      "AS engaged, " +
      "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
      "AS purchased, " +
      "sum(CASE WHEN event_type = 'purchase' THEN vc ELSE 0 END) " +
      "AS purchase_cents FROM sid GROUP BY 1, 2) " +
      "SELECT CASE WHEN purchased = 1 THEN 'converted' " +
      "ELSE 'abandoned' END AS outcome, count(*) AS n_sessions, " +
      "CAST(sum(n_events) AS BIGINT) AS n_events, " +
      "CAST(sum(span_ms) AS BIGINT) AS total_span_ms, " +
      "CAST(sum(purchase_cents) AS BIGINT) AS purchase_cents " +
      "FROM ps WHERE engaged = 1 GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // seq_streak_longest — longest consecutive-day activity streak per
  // user (the retention signal engagement teams chart): distinct
  // active days → the day − dense-day-rank difference is CONSTANT
  // within a consecutive run (the classic islands-on-calendar trick,
  // all integer arithmetic) → max run length per user → streak
  // histogram. Every shuffle strictly smaller than the last.
  // ------------------------------------------------------------------

  private val seqStreakLongest = Q(
    "seq_streak_longest",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"day".asc)
      val days = Tables.events(s, d)
        .select($"user_id", expr(Det.fdivExpr("ms", "86400000")).as("day"))
        .distinct()
      val streaks = days
        .withColumn("grp", $"day" - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(max($"len").as("streak"))
      streaks.groupBy("streak").agg(count(lit(1)).as("n_users"))
        .orderBy("streak")
    },
    Some("WITH days AS (SELECT DISTINCT user_id, " +
      "epoch_ms(ts) // 86400000 AS day FROM events), " +
      "g AS (SELECT user_id, day, day - row_number() OVER (" +
      "PARTITION BY user_id ORDER BY day) AS grp FROM days), " +
      "runs AS (SELECT user_id, grp, count(*) AS len FROM g " +
      "GROUP BY 1, 2), " +
      "st AS (SELECT user_id, max(len) AS streak FROM runs GROUP BY 1) " +
      "SELECT CAST(streak AS BIGINT) AS streak, count(*) AS n_users " +
      "FROM st GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // seq_interarrival_stats — SLA percentile bands of inter-event gaps
  // per event_type: one keyed lag gives exact integer ms deltas, and
  // p50/p90/p99 are exact interpolated percentiles per type (grouped
  // sort over bounded per-type sets — the agg_quantiles layout, never
  // a global sort). The latency panel every on-call dashboard opens.
  // ------------------------------------------------------------------

  private val seqInterarrivalStats = Q(
    "seq_interarrival_stats",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type", $"user_id")
        .orderBy($"ms".asc, $"event_id".asc)
      Tables.events(s, d)
        .select($"event_type", $"user_id", $"ms", $"event_id")
        .withColumn("delta", $"ms" - lag($"ms", 1).over(w))
        .filter($"delta".isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          dround(percentile($"delta", lit(0.5)), 4).as("p50_ms"),
          dround(percentile($"delta", lit(0.9)), 4).as("p90_ms"),
          dround(percentile($"delta", lit(0.99)), 4).as("p99_ms"))
        .orderBy("event_type")
    },
    Some("WITH dl AS (SELECT event_type, " +
      "ms - lag(ms) OVER (PARTITION BY event_type, user_id " +
      "ORDER BY ms NULLS FIRST, event_id) AS delta FROM " +
      "(SELECT event_type, user_id, event_id, epoch_ms(ts) AS ms " +
      "FROM events)) " +
      "SELECT event_type, count(*) AS n_gaps, " +
      OSql.sround("quantile_cont(delta, 0.5)", 4) + " AS p50_ms, " +
      OSql.sround("quantile_cont(delta, 0.9)", 4) + " AS p90_ms, " +
      OSql.sround("quantile_cont(delta, 0.99)", 4) + " AS p99_ms " +
      "FROM dl WHERE delta IS NOT NULL GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // anomaly_mad — robust outlier flags via Median Absolute Deviation
  // (the heavy-tail-safe complement of anomaly_zscore's moment
  // z-score, which an outlier itself corrupts): per-type exact median
  // over cents → broadcast → exact |v − med| deviations → second
  // exact median (the MAD) → flag |v − med| > 3·1.4826·MAD. Two
  // broadcast-back passes; the fact table is scanned twice and never
  // shuffled.
  // ------------------------------------------------------------------

  private val anomalyMad = Q(
    "anomaly_mad",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_type", $"event_id",
          round($"value" * 100).cast("long").as("v"))
      val med = ev.groupBy("event_type")
        .agg(percentile($"v", lit(0.5)).as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs($"v".cast("double") - $"med"))
      val mad = dev.groupBy("event_type")
        .agg(percentile($"adev", lit(0.5)).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .filter($"adev" > lit(3.0) * lit(1.4826) * $"mad")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outliers"),
          min($"event_id").as("first_outlier_id"))
        .orderBy("event_type")
    },
    Some("WITH b AS (SELECT event_type, event_id, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "m AS (SELECT event_type, quantile_cont(v, 0.5) AS med " +
      "FROM b GROUP BY 1), " +
      "dv AS (SELECT b.event_type, b.event_id, " +
      "abs(CAST(b.v AS DOUBLE) - m.med) AS adev FROM b " +
      "JOIN m USING (event_type)), " +
      "md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad " +
      "FROM dv GROUP BY 1) " +
      "SELECT dv.event_type, count(*) AS n_outliers, " +
      "min(dv.event_id) AS first_outlier_id " +
      "FROM dv JOIN md USING (event_type) " +
      "WHERE dv.adev > 3.0 * 1.4826 * md.mad " +
      "GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // seq_markov_stationary — the STATIONARY distribution of the
  // event-type transition chain (`markov_transitions` reports the
  // one-step matrix; the stationary vector is where the chain
  // SETTLES — the long-run share of attention each state captures,
  // the quantity behind PageRank-style steady-state reasoning).
  // Power iteration in FIXED-POINT integers: the mass vector lives in
  // parts-per-10¹² BIGINTs, each step moves floor(m·cnt/tot) along
  // every transition edge (numerator lifted to DECIMAL(38,0)/HUGEINT;
  // all operands non-negative, so trunc = floor in both engines), and
  // 12 synchronized iterations from the uniform start are unrolled
  // IDENTICALLY on both sides — Spark as codegen'd higher-order-
  // function folds over ONE collected |types|²-row ledger (the matrix
  // is bounded by the type domain at any corpus size, so per-step
  // joins/shuffles were pure fixed cost ×12), the oracle as 12
  // chained CTEs. Integer flooring leaks ≤|states| parts per step —
  // deterministic, never a float fold. The expensive stage (bigram
  // counting) is ONE keyed lag window + a partial+final agg, shared
  // spelling with markov_transitions.
  // ------------------------------------------------------------------

  private val seqMarkovStationary = Q(
    "seq_markov_stationary",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
      val pairs = Tables.events(s, d)
        .select($"user_id", $"event_id", $"ms", $"event_type")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
      val cnt = pairs.groupBy($"prev", $"event_type".as("next"))
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("prev").agg(sum($"cnt").cast("long").as("tot"))
      // The transition matrix is BOUNDED (|types|² rows), so the
      // 12-step fold runs as higher-order-function expressions over
      // ONE collected ledger row instead of 12 broadcast-join +
      // shuffle rounds (each round was a full job: broadcast build of
      // the mass vector + a |types|²-row exchange — pure fixed cost ×
      // 12 at any scale, since the matrix never grows with the
      // corpus). The expensive stage — the user-keyed lag window and
      // the partial+final bigram count — is unchanged; only the
      // bounded fixpoint moved into codegen'd array expressions.
      // Arithmetic is IDENTICAL: each step moves
      // floor((m·cnt)/tot) with the numerator lifted to DECIMAL(38,0),
      // masses stay BIGINT, and a state keeps a mass row exactly when
      // some in-edge's prev carried mass the previous step (the join
      // row-membership rule, preserved via NULL masses).
      val trans = cnt.join(tot, "prev")
      // one ledger row: sorted edge list (deterministic order — sums
      // are exact integers, order can't matter, but sorted keeps the
      // collected plan canonical), sorted state domain (prev ∪ next),
      // prev-state count ns for the uniform start
      val led = trans
        .agg(sort_array(collect_list(struct($"prev", $"next", $"cnt", $"tot")))
          .as("tr"))
        .withColumn("dom", expr(
          "array_sort(array_union(transform(tr, e -> e.prev), " +
            "transform(tr, e -> e.next)))"))
        .withColumn("pset", expr("array_sort(array_distinct(transform(tr, e -> e.prev)))"))
        .withColumn("tri", expr(
          // index the edges into the domain once (0-based positions)
          "transform(tr, e -> struct(" +
            "CAST(array_position(dom, e.prev) - 1 AS INT) AS pi, " +
            "CAST(array_position(dom, e.next) - 1 AS INT) AS ni, " +
            "e.cnt AS cnt, e.tot AS tot))"))
        .withColumn("m", expr(
          // uniform start on the prev set; next-only states start absent
          "transform(dom, x -> CASE WHEN array_contains(pset, x) " +
            "THEN CAST(1000000000000 DIV size(pset) AS BIGINT) END)"))
      val stepped = (1 to 12).foldLeft(led) { (df, _) =>
        df.withColumn("m", expr(
          // m'(j) = Σ over in-edges with a massed prev of
          // floor((m(prev)·cnt)/tot); NULL (absent) when no such edge
          "transform(sequence(0, size(dom) - 1), j -> " +
            "CASE WHEN exists(tri, e -> e.ni = j AND m[e.pi] IS NOT NULL) " +
            "THEN aggregate(" +
            "filter(tri, e -> e.ni = j AND m[e.pi] IS NOT NULL), " +
            "CAST(0 AS BIGINT), (acc, e) -> acc + " +
            "CAST((CAST(m[e.pi] AS DECIMAL(38,0)) * e.cnt) DIV e.tot AS BIGINT)) " +
            "END)"))
      }
      stepped
        .select(explode(arrays_zip($"dom", $"m")).as("z"))
        .select($"z.dom".as("state"), $"z.m".as("mass_ppt"))
        .filter($"mass_ppt".isNotNull)
        .select($"state", $"mass_ppt",
          dround($"mass_ppt".cast("double") / 1e12, 6).as("p_stationary"))
        .orderBy("state")
    },
    Some {
      val steps = (1 to 12).map { i =>
        s"p$i AS (SELECT tr.next AS state, " +
          "CAST(SUM((CAST(p.m AS HUGEINT) * tr.cnt) // tr.tot) AS BIGINT) " +
          s"AS m FROM tr JOIN p${i - 1} p ON p.state = tr.prev GROUP BY 1)"
      }.mkString(", ")
      "WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, " +
        "event_type FROM events), " +
        "b AS (SELECT event_type AS next, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ms ASC NULLS FIRST, event_id ASC) " +
        "AS prev FROM e), " +
        "cnt AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM b WHERE prev IS NOT NULL GROUP BY 1, 2), " +
        "tot AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS tot " +
        "FROM cnt GROUP BY 1), " +
        "tr AS (SELECT cnt.prev, cnt.next, cnt.cnt, tot.tot " +
        "FROM cnt JOIN tot USING (prev)), " +
        "st AS (SELECT DISTINCT prev AS state FROM tr), " +
        "p0 AS (SELECT state, CAST(1000000000000 // " +
        "(SELECT count(*) FROM st) AS BIGINT) AS m FROM st), " +
        steps + " " +
        "SELECT state, m AS mass_ppt, " +
        OSql.sround("CAST(m AS DOUBLE) / 1e12", 6) +
        " AS p_stationary FROM p12 ORDER BY 1"
    })

  // ------------------------------------------------------------------
  // join_interval_overlap — INTERVAL-OVERLAP JOIN ("which user
  // sessions did each incident touch"): 30-minute-gap user sessions
  // [first_ms, last_ms+1) joined against 2-hour incident windows (one
  // per hour containing an error event) on the HALF-OPEN overlap
  // predicate s.s < i.e AND i.s < s.e. A theta join is a cross
  // product; the scale plan is the GRID trick:
  //   - both interval sets explode into the 1-hour bins they cover
  //     (an incident covers exactly 2; a session Σduration/1h + 1);
  //   - the join becomes a hash EQUI-join on the bin — candidates are
  //     same-bin pairs only, and the incident-bin side is calendar-
  //     bounded so it BROADCASTS: the session side never shuffles;
  //   - each overlapping pair is counted EXACTLY ONCE without any
  //     distinct: the overlap start max(s.s, i.s) lies inside both
  //     intervals, so only the bin containing it owns the pair.
  // Sessionization runs over DISTINCT (user, ms) so window ties
  // cannot split a session nondeterministically. The oracle is the
  // naive theta join; the hash match proves grid ≡ theta.
  // ------------------------------------------------------------------

  private val joinIntervalOverlap = Q(
    "join_interval_overlap",
    (s, d) => {
      import s.implicits._
      val H = 3600000L
      val um = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"ms".isNotNull)
        .select($"user_id", $"ms").distinct()
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc)
      val run = Window.partitionBy($"user_id").orderBy($"ms".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = um
        .withColumn("is_new",
          when(lag($"ms", 1).over(w).isNull ||
            $"ms" - lag($"ms", 1).over(w) > 1800000L, 1L).otherwise(0L))
        .withColumn("sid", sum($"is_new").over(run))
        .groupBy($"user_id", $"sid")
        .agg(min($"ms").as("ss"), (max($"ms") + 1L).as("se"))
      val inc = Tables.events(s, d)
        .filter($"event_type" === "error" && $"ms".isNotNull)
        .select(expr(Det.fdivExpr("ms", "3600000")).as("hr")).distinct()
        .select($"hr", ($"hr" * H).as("is_"), (($"hr" + 2L) * H).as("ie"))
      // incident [hr·H, (hr+2)·H) covers exactly bins hr and hr+1
      val incBins = inc.select($"hr", $"is_", $"ie",
        explode(array($"hr", $"hr" + 1L)).as("bin"))
      val sessBins = sess.select($"ss", $"se",
        explode(sequence(expr(Det.fdivExpr("ss", "3600000")),
          expr(Det.fdivExpr("se - 1", "3600000")))).as("bin"))
      sessBins.join(broadcast(incBins), Seq("bin"))
        .filter($"ss" < $"ie" && $"is_" < $"se" &&
          $"bin" === expr(Det.fdivExpr("greatest(ss, is_)", "3600000")))
        .groupBy($"hr".as("incident_hr"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(least($"se", $"ie") - greatest($"ss", $"is_"))
            .cast("long").as("overlap_ms"))
        .orderBy("incident_hr")
    },
    Some("WITH um AS (SELECT DISTINCT user_id, epoch_ms(ts) AS ms FROM events " +
      "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
      "f AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER w IS NULL " +
      "OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new " +
      "FROM um WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC)), " +
      "g AS (SELECT user_id, ms, SUM(is_new) OVER (PARTITION BY user_id " +
      "ORDER BY ms ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid " +
      "FROM f), " +
      "sess AS (SELECT user_id, sid, MIN(ms) AS ss, MAX(ms) + 1 AS se " +
      "FROM g GROUP BY 1, 2), " +
      "inc AS (SELECT DISTINCT epoch_ms(ts) // 3600000 AS hr FROM events " +
      "WHERE event_type = 'error' AND ts IS NOT NULL), " +
      "iv AS (SELECT hr, hr * 3600000 AS is_, (hr + 2) * 3600000 AS ie FROM inc) " +
      "SELECT iv.hr AS incident_hr, count(*) AS n_sessions, " +
      "CAST(SUM(LEAST(sess.se, iv.ie) - GREATEST(sess.ss, iv.is_)) AS BIGINT) " +
      "AS overlap_ms " +
      "FROM iv JOIN sess ON sess.ss < iv.ie AND iv.is_ < sess.se " +
      "GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // seq_session_stats — the corpus-level session profile over the same
  // 30-minute-gap sessionizer `join_interval_overlap` uses (DISTINCT
  // (user, ms) first, so window ties cannot split a session): total
  // sessions, bounce share (single-event sessions), events per
  // session, and duration statistics — the product-analytics rollup
  // that sits above the per-session keys (gap_islands slices one
  // user; this is the whole-archive report). Scale shape: ONE
  // user-keyed window pass for the session ids, one keyed collapse to
  // per-session rows (n_events, duration), then a map-side fold to a
  // single row; means are exact floor-quantized integer divisions
  // ((10⁶·num) div den, non-negative) so nothing float crosses the
  // reduction.
  // ------------------------------------------------------------------

  private val seqSessionStats = Q(
    "seq_session_stats",
    (s, d) => {
      import s.implicits._
      val um = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"ms".isNotNull)
        .select($"user_id", $"ms").distinct()
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc)
      val run = Window.partitionBy($"user_id").orderBy($"ms".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = um
        .withColumn("is_new",
          when(lag($"ms", 1).over(w).isNull ||
            $"ms" - lag($"ms", 1).over(w) > 1800000L, 1L).otherwise(0L))
        .withColumn("sid", sum($"is_new").over(run))
        .groupBy($"user_id", $"sid")
        .agg(count(lit(1)).as("ne"), (max($"ms") - min($"ms")).as("dur"))
      sess.agg(
          count(lit(1)).as("n_sessions"),
          sum(($"ne" === 1).cast("long")).as("n_bounce"),
          sum($"ne").as("n_events"),
          sum($"dur").as("sum_dur_ms"),
          max($"dur").as("max_dur_ms"))
        .select($"n_sessions", $"n_bounce", $"n_events",
          (expr("(1000000 * n_events) div n_sessions").cast("double") / 1e6)
            .as("events_per_session"),
          expr("sum_dur_ms div n_sessions").as("mean_dur_ms"),
          $"max_dur_ms")
    },
    Some("WITH um AS (SELECT DISTINCT user_id, epoch_ms(ts) AS ms FROM events " +
      "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
      "f AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER w IS NULL " +
      "OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new " +
      "FROM um WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC)), " +
      "g AS (SELECT user_id, ms, SUM(is_new) OVER (PARTITION BY user_id " +
      "ORDER BY ms ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS sid FROM f), " +
      "sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS ne, " +
      "MAX(ms) - MIN(ms) AS dur FROM g GROUP BY 1, 2), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions, " +
      "CAST(SUM(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce, " +
      "CAST(SUM(ne) AS BIGINT) AS n_events, " +
      "CAST(SUM(dur) AS BIGINT) AS sum_dur_ms, " +
      "CAST(MAX(dur) AS BIGINT) AS max_dur_ms FROM sess) " +
      "SELECT n_sessions, n_bounce, n_events, " +
      "CAST((1000000 * n_events) // n_sessions AS DOUBLE) / 1e6 " +
      "AS events_per_session, " +
      "sum_dur_ms // n_sessions AS mean_dur_ms, max_dur_ms FROM t"))

  // ------------------------------------------------------------------
  // seq_attribution_markov_removal — MARKOV REMOVAL-EFFECT attribution,
  // the data-driven model that completes the attribution shelf
  // (first-touch/linear/time-decay are position HEURISTICS; the Markov
  // model asks the causal-shaped question — how much conversion
  // probability disappears if a channel is deleted from the graph):
  // journeys truncate at first purchase ('conv' absorbing; journeys
  // that end without converting absorb into 'null'), first-order
  // transition counts come off ONE user-keyed lag window, and each
  // variant chain (full + one per removed channel) REDIRECTS edges
  // into the removed state to 'null' (out-edges drop; per-src totals
  // are unchanged, so all variants share one denominator table).
  // Conversion probability is 8 bounded power steps of the chain —
  // each step ONE (variant, state)-keyed join against the broadcast
  // edge ledger + a partial+final agg, mass in INTEGER units of 1e−9
  // with per-edge floor division ((m·cnt) div tot — deterministic in
  // any engine/order; headroom needs cnt < 9·10⁹ per long, far above
  // the archive) and absorbed conv mass accumulated per step. Removal
  // effect = (p_full − p_removed)/p_full as an exact floor-quantized
  // division — non-negative structurally, since redirected chains are
  // mass-dominated by the full chain step-by-step. The oracle unrolls
  // the identical 8 steps as CTEs.
  // ------------------------------------------------------------------

  private val seqAttributionMarkovRemoval = Q(
    "seq_attribution_markov_removal",
    (s, d) =>
    // The 8 propagation steps are LEDGER-sized (≤ variants·states rows)
    // — at the engine's per-core default each step pays 32 tasks of
    // scheduling for bytes of data. Scope the whole chain to the
    // small-stage shard count (the ivfIndex training discipline);
    // results are partitioning-invariant (exact integer arithmetic).
    graft.core.Sessions.withShufflePartitions(
      s, graft.core.Sessions.StreamStateShards) {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
      val ranked = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select($"user_id", $"event_id", $"ms", $"event_type")
        .withColumn("rn", row_number().over(w))
        .withColumn("pprev",
          coalesce(sum(($"event_type" === "purchase").cast("long"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val kept = ranked.filter($"pprev" === 0)
        .select($"user_id", $"rn",
          when($"event_type" === "purchase", lit("conv"))
            .otherwise($"event_type").as("state"))
      val wk = Window.partitionBy($"user_id").orderBy($"rn".asc)
      val seq2 = kept
        .withColumn("src", coalesce(lag($"state", 1).over(wk), lit("start")))
        .withColumn("nx", lead($"state", 1).over(wk))
      val trans = seq2.select($"src", $"state".as("dst"))
        .unionByName(seq2.filter($"nx".isNull && $"state" =!= "conv")
          .select($"state".as("src"), lit("null").as("dst")))
      // ONE materialization of the journey-window pipeline: every later
      // relation (totals, channels, variants, the final report spine)
      // derives from this ≤|states|²-row ledger instead of re-running
      // the fact-sized window pass per lineage branch. Every channel
      // state appears as a dst (the start→first edge covers journey
      // heads), so the variant list reads off the ledger too.
      // It is cut, not shared: the cut edge table below reads it in its
      // own job, and the final query reads it again through `vv`.
      val ed = Cut(trans.groupBy("src", "dst").agg(count(lit(1)).as("cnt")),
        "markov-ledger", s"$d/events.parquet")
      val tt = ed.groupBy("src").agg(sum($"cnt").cast("long").as("tot"))
      val channels = ed.select($"dst".as("state")).distinct()
        .filter($"state" =!= "conv" && $"state" =!= "null")
      val vv = channels.select($"state".as("variant"))
        .unionByName(s.range(1).select(lit("full").as("variant")))
      val edV = vv.crossJoin(ed)
        .filter($"src" =!= $"variant")
        .select($"variant", $"src",
          when($"dst" === $"variant", lit("null")).otherwise($"dst")
            .as("dst"), $"cnt")
        .groupBy("variant", "src", "dst").agg(sum($"cnt").as("cnt"))
        .join(tt, "src")
        .select($"variant", $"src".as("state"), $"dst", $"cnt", $"tot")
      // The 8 power steps stay LAZY: each is a broadcast join + a
      // ledger-sized agg, so the whole propagation (including the
      // recomputed step prefixes under the conv-accumulator unions) is
      // ONE job over tiny relations — cheaper than 8 materialization
      // jobs would be. The edge table they all read is cut, not shared:
      // the unrolled steps read it 36 times, and as a lazy share each
      // read plans the shared subtree again.
      val edB = broadcast(Cut(edV, "markov-edges", s"$d/events.parquet"))
      var m = vv.select($"variant", lit("start").as("state"),
        lit(1000000000L).as("mass"))
      var acc: DataFrame = null
      for (_ <- 1 to 8) {
        val step = m.join(edB, Seq("variant", "state"))
          .select($"variant", $"dst".as("state"),
            expr("(mass * cnt) div tot").as("mass"))
          .groupBy("variant", "state").agg(sum($"mass").as("mass"))
        val conv = step.filter($"state" === "conv")
          .select($"variant", $"mass")
        acc = if (acc == null) conv else acc.unionByName(conv)
        m = step.filter(!$"state".isin("conv", "null"))
      }
      val pc = vv.join(
          acc.groupBy("variant").agg(sum($"mass").as("conv_mass")),
          Seq("variant"), "left_outer")
        .select($"variant", coalesce($"conv_mass", lit(0L)).as("conv_mass"))
      val pf = pc.filter($"variant" === "full")
        .select($"conv_mass".as("fmass"))
      pc.crossJoin(broadcast(pf))
        .select($"variant",
          ($"conv_mass".cast("double") / 1e9).as("p_conv"),
          when($"variant" =!= "full" && $"fmass" > 0,
            expr("(1000000 * (fmass - conv_mass)) div fmass")
              .cast("double") / 1e6).as("removal_effect"))
        .orderBy("variant")
    },
    Some {
      val steps = (1 to 8).map { i =>
        val prev = if (i == 1) "m0" else s"m${i - 1}"
        s"s$i AS (SELECT $prev.variant, ev.dst AS state, " +
          s"CAST(SUM(($prev.mass * ev.cnt) // ev.tot) AS BIGINT) AS mass " +
          s"FROM $prev JOIN ev ON ev.variant = $prev.variant " +
          s"AND ev.src = $prev.state GROUP BY 1, 2), " +
          s"m$i AS (SELECT * FROM s$i WHERE state NOT IN ('conv', 'null'))"
      }.mkString(", ")
      val convLegs = (1 to 8)
        .map(i => s"SELECT variant, mass FROM s$i WHERE state = 'conv'")
        .mkString(" UNION ALL ")
      "WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, " +
        "event_type FROM events WHERE user_id IS NOT NULL), " +
        "r AS (SELECT user_id, event_type, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ms ASC NULLS FIRST, event_id ASC) " +
        "AS rn, coalesce(SUM(CASE WHEN event_type = 'purchase' THEN 1 " +
        "ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ms ASC NULLS " +
        "FIRST, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 " +
        "PRECEDING), 0) AS pprev FROM e), " +
        "k AS (SELECT user_id, rn, CASE WHEN event_type = 'purchase' " +
        "THEN 'conv' ELSE event_type END AS state FROM r WHERE pprev = 0), " +
        "sq AS (SELECT user_id, state, coalesce(lag(state) OVER " +
        "(PARTITION BY user_id ORDER BY rn), 'start') AS src, " +
        "lead(state) OVER (PARTITION BY user_id ORDER BY rn) AS nx FROM k), " +
        "tr AS (SELECT src, state AS dst FROM sq " +
        "UNION ALL SELECT state, 'null' FROM sq " +
        "WHERE nx IS NULL AND state <> 'conv'), " +
        "ed AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM tr GROUP BY 1, 2), " +
        "tt AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS tot " +
        "FROM ed GROUP BY 1), " +
        "vv AS (SELECT DISTINCT state AS variant FROM k " +
        "WHERE state <> 'conv' UNION ALL SELECT 'full'), " +
        "ev AS (SELECT g.variant, g.src, g.dst, g.cnt, tt.tot FROM " +
        "(SELECT vv.variant, ed.src, CASE WHEN ed.dst = vv.variant " +
        "THEN 'null' ELSE ed.dst END AS dst, " +
        "CAST(SUM(ed.cnt) AS BIGINT) AS cnt FROM vv CROSS JOIN ed " +
        "WHERE ed.src <> vv.variant GROUP BY 1, 2, 3) g " +
        "JOIN tt ON tt.src = g.src), " +
        "m0 AS (SELECT variant, 'start' AS state, " +
        "CAST(1000000000 AS BIGINT) AS mass FROM vv), " +
        steps + ", " +
        s"cv AS (SELECT variant, CAST(SUM(mass) AS BIGINT) AS conv " +
        s"FROM ($convLegs) GROUP BY 1), " +
        "pc AS (SELECT vv.variant, coalesce(cv.conv, 0) AS conv " +
        "FROM vv LEFT JOIN cv USING (variant)), " +
        "pf AS (SELECT conv AS fmass FROM pc WHERE variant = 'full') " +
        "SELECT pc.variant, CAST(pc.conv AS DOUBLE) / 1e9 AS p_conv, " +
        "CASE WHEN pc.variant <> 'full' AND pf.fmass > 0 THEN " +
        "CAST((1000000 * (pf.fmass - pc.conv)) // pf.fmass AS DOUBLE) / 1e6 " +
        "END AS removal_effect FROM pc, pf ORDER BY variant"
    })

  val qs: Seq[Q] = Seq(
    seqGapIslands, markovTransitions, intervalConcurrency,
    funnelTimeToConvert, anomalyZscore, aggHistogramEquidepth,
    funnelAbandonment, seqStreakLongest, seqInterarrivalStats,
    anomalyMad, seqMarkovStationary, joinIntervalOverlap, seqSessionStats,
    seqAttributionMarkovRemoval)
}
