package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cut, Det, OSql, Q, Share, Tables}

/** Window-function surface (SURVEY.md §2.2). All event-time windows
  * order by epoch-milliseconds (unix_millis / epoch_ms) rather than raw
  * timestamps: the parquet stores timestamp[ns], which Spark and DuckDB
  * truncate to µs identically, but emitting raw ts would hash-mismatch
  * (SURVEY.md §1.3). Every window has a unique total order (id tiebreak)
  * so lag/lead/row_number are engine-independent.
  *
  * Scale: a window partitioned by a high-cardinality key (user_id,
  * custkey) shuffles once on that key and sorts within partitions —
  * the same plan shape a 1000-executor cluster wants. Two keys run
  * (intentional) GLOBAL windows on bounded inputs — window_percent_rank
  * on the supplier dimension, window_moving_avg on per-day
  * pre-aggregates; each documents the single-partition bound and the
  * two-phase (range-partition + offset merge) spelling a 100× input
  * would need — and window_rank_dense IS that two-phase spelling,
  * computing rank/dense_rank/ntile with no global-window exchange.
  */
object Windows {
  import Det._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Exclusive prefix sums of a (pid, n) count table via a broadcast
    * theta-join (Σ counts of strictly-earlier pids, 0 for the first) —
    * the offset table of every two-phase global-rank spelling, spelled
    * WITHOUT a window so not even the P-row step funnels through a
    * single-partition WindowExec. Property-tested against a
    * driver-side scan in PropertySpec.
    */
  private[graft] def prefixOffsets(cnts: DataFrame, pidCol: String): DataFrame = {
    // The ≤P-row count ledger feeds BOTH sides of the theta-join:
    // shared, so the pass over the caller's (usually corpus-sized)
    // input runs once. Callers hand in counts that are a deterministic
    // function of their input (a cut rank table or keyed buckets).
    val c = Share(cnts)
    c.as("a").join(
        broadcast(c.as("b")),
        col(s"b.$pidCol") < col(s"a.$pidCol"), "left_outer")
      .groupBy(col(s"a.$pidCol").as(pidCol))
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
  }

  /** Phase 1 of every two-phase global-rank spelling, shared by the
    * whole family (distributed rank/dense/ntile/percent_rank, the
    * equi-depth histogram, sequence packing, ntile sharding): range-
    * repartition to global (sortCols) order, sort within partitions,
    * and derive (pid, lrn) — the partition id and the 1-based local
    * row number — from `monotonically_increasing_id`'s (partition ≪ 33
    * | offset) layout, so the LOCAL rank is pure arithmetic with no
    * window at all. Callers add [[prefixOffsets]] over the per-pid
    * counts for the global offset, and [[Cut]] the result: both phases
    * must observe ONE sampled range partitioning.
    */
  private[graft] def rankIds(df: DataFrame, sortCols: Column*): DataFrame =
    df.repartitionByRange(32, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("mid"), 33))
      .withColumn("lrn", col("mid").bitwiseAND(lit((1L << 33) - 1)) + 1)

  /** Top-3 orders per market segment. The rank filter is written
    * declaratively (row_number ≤ 3 over a window) and Catalyst's
    * WindowGroupLimit rule turns it into the two-phase top-k plan:
    * a PARTIAL WindowGroupLimit before the exchange keeps ≤3 rows per
    * (segment, input-partition), so the shuffle and the final
    * 5-partition window only ever see ≤3×P candidate rows — the full
    * fact table is pruned map-side. Verified via `runMain graft.Explain
    * window_rank_topk`: Sort→WindowGroupLimit(partial)→Exchange→
    * WindowGroupLimit(final)→Window.
    */
  private val rankTopk = Q(
    "window_rank_topk",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      // customer is SF-scaled: no broadcast hint (plan-linter R5) —
      // AQE broadcasts while small, shuffle-joins at scale
      t(s, d, "orders")
        .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"c_mktsegment", $"rn".cast("long").as("rn"), $"o_orderkey", $"o_totalprice")
        .orderBy("c_mktsegment", "rn")
    },
    Some("SELECT c_mktsegment, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice FROM " +
      "(SELECT c_mktsegment, o_orderkey, o_totalprice, row_number() OVER " +
      "(PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
      "FROM orders JOIN customer ON o_custkey = c_custkey) " +
      "WHERE rn <= 3 ORDER BY c_mktsegment, rn"))

  /** Global rank / dense_rank / ntile, computed DISTRIBUTIVELY — no
    * single-partition WindowExec anywhere (the naive `Window.orderBy`
    * without partitionBy funnels the whole relation through ONE task).
    * Three pure-arithmetic reductions over the two-phase global
    * row_number machinery `window_rank_distributed` pins
    * (ScaleOps.rankIdsPlan shape): (1) the global row_number `rn` in
    * (s_acctbal DESC, s_suppkey ASC) order comes from ONE range
    * shuffle + monotonically_increasing_id + a P-row broadcast offset
    * table; (2) rank() = min(rn) within the tie group — a window
    * PARTITIONED by the order value (tie groups are small; the
    * exchange distributes); (3) dense_rank() = the tie-group's own
    * row_number in value order, computed by the SAME two-phase trick
    * over the ≤N-row per-value table; (4) ntile(4) = the
    * `window_ntile_shard` integer bucket rule on `rn` and the
    * broadcast total. Cost: two range shuffles (fact + value table) +
    * one value-keyed shuffle + tiny broadcast aggregates — the plan a
    * 1000-executor global rank over a 100× fact-shaped input needs.
    * The oracle runs the plain global window functions: the hash match
    * proves the arithmetic spelling IS rank/dense_rank/ntile.
    */
  private val rankDense = Q(
    "window_rank_dense",
    (s, d) => {
      import s.implicits._
      // phase 1: range-shuffle to global order; (pid, lrn) from the id
      val ids = Cut(rankIds(
        t(s, d, "supplier").select($"s_suppkey", $"s_acctbal"),
        $"s_acctbal".desc, $"s_suppkey".asc), "rank-ids", s"$d/supplier.parquet")
      // phase 2: P-row exclusive prefix sums → per-partition offsets
      // (broadcast theta-join, no WindowExec — see [[prefixOffsets]])
      val offs = prefixOffsets(
        ids.groupBy("pid").agg(count(lit(1)).as("n")), "pid")
      val tot = ids.agg(count(lit(1)).as("nn"))
      val rn = ids.join(broadcast(offs), "pid")
        .select($"s_suppkey", $"s_acctbal", ($"lrn" + $"off").as("rn"))
      // rank = min rn of the tie group; the per-value ledger also
      // feeds dense_rank below. One value-keyed shuffle, no text.
      val vt = rn.groupBy($"s_acctbal".as("v")).agg(min($"rn").as("vrnk"))
      // dense_rank = the VALUE's row_number in value order — the same
      // two-phase spelling over the ≤N-row value table
      val vids = Cut(rankIds(vt, $"v".desc)
        .withColumnRenamed("pid", "pid2").withColumnRenamed("lrn", "lv"),
        "rank-vids", s"$d/supplier.parquet")
      val offs2 = prefixOffsets(
        vids.groupBy("pid2").agg(count(lit(1)).as("n")), "pid2")
      val vt2 = vids.join(broadcast(offs2), "pid2")
        .select($"v", $"vrnk", ($"lv" + $"off").as("vdrnk"))
      rn.join(vt2, $"s_acctbal" === $"v")
        .crossJoin(broadcast(tot))
        .withColumn("bq", expr("nn div 4"))
        .withColumn("bm", $"nn" % 4)
        // ntile bucket rule on the global rn (see window_ntile_shard)
        .withColumn("tile",
          when($"rn" <= $"bm" * ($"bq" + 1), expr("(rn + bq) div (bq + 1)"))
            .otherwise(expr("bm + ((rn - bm * (bq + 1)) + bq - 1) div bq")))
        .select($"s_suppkey", $"s_acctbal", $"vrnk".cast("long").as("rnk"),
          $"vdrnk".cast("long").as("drnk"), $"tile".cast("long").as("tile"))
        .orderBy("s_suppkey")
    },
    Some("SELECT s_suppkey, s_acctbal, " +
      "CAST(rank() OVER (ORDER BY s_acctbal DESC) AS BIGINT) AS rnk, " +
      "CAST(dense_rank() OVER (ORDER BY s_acctbal DESC) AS BIGINT) AS drnk, " +
      "CAST(ntile(4) OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS BIGINT) AS tile " +
      "FROM supplier ORDER BY s_suppkey"))

  /** nth_value over the FULL partition frame — "the user's second and
    * third readings in time order", the onboarding-analysis shape
    * (first purchase vs second purchase). The unbounded-following
    * frame makes the nth value visible on every row; one keyed window
    * + one agg collapses it per user. Users with fewer than n events
    * surface NULL (pinned by the oracle's identical frame).
    */
  private val nthValue = Q(
    "window_nth_value",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select($"user_id", $"value", $"ms", $"event_id")
        .withColumn("second_v", nth_value($"value", 2).over(w))
        .withColumn("third_v", nth_value($"value", 3).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max($"second_v").as("second_v"), max($"third_v").as("third_v"))
        .orderBy("user_id")
    },
    Some("WITH w AS (SELECT user_id, " +
      "nth_value(value, 2) OVER win AS second_v, " +
      "nth_value(value, 3) OVER win AS third_v FROM events " +
      "WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) " +
      "SELECT user_id, count(*) AS n_events, max(second_v) AS second_v, " +
      "max(third_v) AS third_v FROM w GROUP BY 1 ORDER BY 1"))

  private val lagLead = Q(
    "window_lag_lead",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"value", $"ms")
        .select($"user_id", $"event_id",
          lag($"value", 1).over(w).as("prev_value"),
          (lead($"ms", 1).over(w) - $"ms").as("next_delta_ms"))
        .orderBy("user_id", "event_id")
    },
    Some("SELECT user_id, event_id, " +
      "lag(value) OVER w AS prev_value, " +
      "lead(epoch_ms(ts)) OVER w - epoch_ms(ts) AS next_delta_ms " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) ASC, event_id ASC) " +
      "ORDER BY user_id, event_id"))

  /** Running sum over a fully-ordered frame. The windowed sum runs in
    * DECIMAL in both engines (exact, so neither Spark's frame-order
    * accumulation nor DuckDB's segment-tree combination can drift),
    * then one cast to double + 2dp floor-round.
    */
  private val runningSum = Q(
    "window_running_sum",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select($"o_custkey", $"o_orderkey",
          dround(sum($"o_totalprice".cast(Dec)).over(w).cast("double"), 2).as("cum_rev"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("SELECT o_custkey, o_orderkey, " +
      OSql.sround("CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate ASC, o_orderkey ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)", 2) +
      " AS cum_rev FROM orders ORDER BY o_custkey, o_orderkey"))

  /** First/last event per user. Not a window at all: `min_by`/`max_by`
    * keyed on the (ms, event_id) event-time order run as ONE partial +
    * final aggregate — the shuffle carries #users rows (vs the full
    * event table for a window + distinct), fully codegen'd.
    */
  private val firstLast = Q(
    "window_first_last",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type", $"ms")
        .groupBy($"user_id")
        .agg(
          min_by($"event_type", struct($"ms", $"event_id")).as("first_et"),
          max_by($"event_type", struct($"ms", $"event_id")).as("last_et"))
        .orderBy("user_id")
    },
    Some("SELECT DISTINCT user_id, " +
      "first_value(event_type) OVER w AS first_et, " +
      "last_value(event_type) OVER w AS last_et " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) ASC, event_id ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY user_id"))

  /** Range-frame window: 7-day moving average of daily event value over
    * epoch-day. Daily totals are summed EXACTLY in decimal first, so the
    * moving sum (≤7 decimal terms) is order-independent; only the final
    * divide happens in double, identically in both engines.
    *
    * The window itself is global (one row per DAY after the pre-agg, so
    * the single-partition WindowExec sees #days rows — bounded by the
    * calendar, not the corpus; the fact-table shuffle happens in the
    * partial+final daily aggregate, which scales normally). A
    * multi-year/multi-series variant would partitionBy(series) or
    * two-phase it: range-partition by day with a 6-day overlap fringe,
    * average within partitions, drop the fringe rows.
    */
  private val movingAvg = Q(
    "window_moving_avg",
    (s, d) => {
      import s.implicits._
      // the ≤|days|-row rollup evaluates its trailing range frame as a
      // broadcast theta self-join (exact DECIMAL sums are
      // order-insensitive) — no WindowExec even on the bounded ledger
      // FLOOR-aligned day (pmod spelling), matching the oracle's `//`
      // floor division — a bare `div` truncates toward zero and would
      // shift pre-epoch (negative-ms) events onto the wrong day
      val daily = Share(Tables.events(s, d)
        .groupBy(expr("(ms - pmod(ms, 86400000)) div 86400000")
          .cast("long").as("day"))
        .agg(sum($"value".cast(Dec)).as("v")))
      // the NULL-day ledger row (NULL ts) must survive the rewrite: a
      // bare theta predicate is NULL-valued for it and the inner join
      // would drop it, while the oracle's RANGE window still emits the
      // NULL peer group (all NULL days are peers of each other — which
      // is exactly what the null-safe disjunct reproduces)
      daily.as("a").join(broadcast(daily.as("b")),
          ($"b.day" >= $"a.day" - 6 && $"b.day" <= $"a.day") ||
            ($"a.day".isNull && $"b.day".isNull))
        .groupBy($"a.day".as("day"))
        .agg(dround(sum($"b.v").cast("double") / count(lit(1)), 4).as("mavg7"))
        .orderBy("day")
    },
    Some("WITH dsum AS (SELECT epoch_ms(ts)//86400000 AS day, " +
      "SUM(CAST(value AS DECIMAL(20,6))) AS v FROM events GROUP BY 1) " +
      "SELECT CAST(day AS BIGINT) AS day, " +
      OSql.sround("CAST(SUM(v) OVER w AS DOUBLE) / COUNT(*) OVER w", 4) +
      " AS mavg7 FROM dsum WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) " +
      "ORDER BY day"))

  /** Distribution window functions (percent_rank, cume_dist): both are
    * pure rank arithmetic — (rank−1)/(n−1) and rank/n — identical in
    * both engines, rounded to 6dp. Runs on the supplier dimension (the
    * documented small-global-window pattern; never on fact tables —
    * same single-partition bound and two-phase alternative as
    * `window_rank_dense` above: global rank = within-partition rank +
    * range-partition offset, and n comes from one count).
    */
  private val percentRank = Q(
    "window_percent_rank",
    (s, d) => {
      import s.implicits._
      // the two-phase global-rank spelling (rankIdsPlan shape): range
      // shuffle + id arithmetic + broadcast prefix offsets give every
      // row its unique rn. The window ORDER key (s_acctbal, s_suppkey)
      // is a total order — NO peers — so percent_rank = (rn−1)/(n−1)
      // and cume_dist = rn/n directly, with no per-value peer ledger
      // (grouping peers by s_acctbal alone would diverge from the
      // oracle's suppkey-tiebroken window on tied balances). No global
      // WindowExec even on the dimension table.
      val ids = Cut(rankIds(
        t(s, d, "supplier").select($"s_suppkey", $"s_acctbal"),
        $"s_acctbal".desc, $"s_suppkey".asc), "rank-ids", s"$d/supplier.parquet")
      val offs = prefixOffsets(
        ids.groupBy("pid").agg(count(lit(1)).as("n")), "pid")
      val tot = ids.agg(count(lit(1)).as("nn"))
      ids.join(broadcast(offs), "pid")
        .withColumn("rn", $"lrn" + $"off")
        .crossJoin(broadcast(tot))
        .select($"s_suppkey", $"s_acctbal",
          dround(when($"nn" > 1,
            ($"rn" - 1).cast("double") / ($"nn" - 1)).otherwise(0.0), 6)
            .as("prank"),
          dround($"rn".cast("double") / $"nn", 6).as("cdist"))
        .orderBy("s_suppkey")
    },
    Some("SELECT s_suppkey, s_acctbal, " +
      OSql.sround("percent_rank() OVER w", 6) + " AS prank, " +
      OSql.sround("cume_dist() OVER w", 6) + " AS cdist " +
      "FROM supplier WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey ASC) " +
      "ORDER BY s_suppkey"))

  /** Bounded RANGE frame — the VALUE-bounded sibling of the row-counted
    * moving average: per event type, each day's trailing-3-day revenue
    * (`rangeBetween(-2, 0)` over the day number). ROWS and RANGE differ
    * exactly when the series has gaps or duplicate order values: a
    * 3-ROW frame would reach past a gap to older days, a 3-DAY range
    * frame never does — the semantics a calendar metric needs. Daily
    * totals pre-aggregate partial+final BEFORE the window (the shuffle
    * carries #days × #types rows, not events), the window partitions by
    * event_type (parallel across types, never single-partition), and
    * the decimal sums stay EXACT through both the pre-agg and the frame
    * sum — one rounding at the end, so frame-membership arithmetic is
    * integer and engine-identical.
    */
  private val rangeFrame = Q(
    "window_range_frame",
    (s, d) => {
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy($"event_type",
          expr(Det.fdivExpr("ms", "86400000")).cast("long").as("day"))
        .agg(sum($"value".cast(Dec)).as("vsum"))
      val w = Window.partitionBy($"event_type").orderBy($"day").rangeBetween(-2, 0)
      daily.select($"event_type", $"day",
          dround($"vsum".cast("double"), 2).as("day_value"),
          dround(sum($"vsum").over(w).cast("double"), 2).as("trail3"))
        .orderBy("event_type", "day")
    },
    Some("WITH dly AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
      "SUM(CAST(value AS DECIMAL(20,6))) AS vsum FROM events GROUP BY 1, 2) " +
      "SELECT event_type, day, " +
      OSql.sround("CAST(vsum AS DOUBLE)", 2) + " AS day_value, " +
      OSql.sround("CAST(SUM(vsum) OVER (PARTITION BY event_type ORDER BY day " +
        "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)", 2) + " AS trail3 " +
      "FROM dly ORDER BY 1, 2"))

  // ------------------------------------------------------------------
  // window_pareto_80 — revenue-concentration analysis (the 80/20
  // report): per market segment, the minimum number of customers whose
  // cumulative revenue reaches 80% of the segment total. Revenue sums
  // are exact cents (decimal→long), the running share rides ONE
  // segment-keyed window in (revenue desc, custkey) order, and the
  // 80% cut is the cross-multiplied integer test 5·cum ≥ 4·total — no
  // float CDF anywhere. Output: segment ledger (customers, k80, and
  // the exact concentration ratio in one final division).
  // ------------------------------------------------------------------

  private val windowPareto80 = Q(
    "window_pareto_80",
    (s, d) => {
      import s.implicits._
      val rev = graft.core.Tables.t(s, d, "orders")
        // SF-scaled customer: hint-free join (plan-linter R5), AQE picks
        .join(graft.core.Tables.t(s, d, "customer"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment", $"c_custkey")
        .agg(sum(round($"o_totalprice" * 100).cast("long")).as("r"))
      val run = Window.partitionBy($"c_mktsegment")
        .orderBy($"r".desc, $"c_custkey".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"c_mktsegment")
      rev.select($"c_mktsegment",
          sum($"r").over(run).as("cum"), sum($"r").over(tot).as("t"),
          count(lit(1)).over(tot).as("n"))
        // ×5/×4 in DECIMAL: at 100 TB a segment's total cents times 5
        // can pass Long.Max — the oracle's window SUM already widens
        // to HUGEINT, so the Spark side must not wrap first
        .withColumn("reached",
          ($"cum".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 5 >=
            $"t".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 4)
            .cast("long"))
        .groupBy("c_mktsegment").agg(
          max($"n").as("n_customers"),
          (max($"n") - sum($"reached") + 1).as("k80"))
        .select($"c_mktsegment", $"n_customers", $"k80",
          dround($"k80".cast("double") / $"n_customers", 6).as("k80_share"))
        .orderBy("c_mktsegment")
    },
    Some("WITH rev AS (SELECT c_mktsegment, c_custkey, " +
      "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
      "w AS (SELECT c_mktsegment, " +
      "SUM(r) OVER (PARTITION BY c_mktsegment ORDER BY r DESC, c_custkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "SUM(r) OVER (PARTITION BY c_mktsegment) AS t, " +
      "COUNT(*) OVER (PARTITION BY c_mktsegment) AS n FROM rev) " +
      "SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n_customers, " +
      "CAST(max(n) - SUM(CASE WHEN cum * 5 >= t * 4 THEN 1 ELSE 0 END) + 1 " +
      "AS BIGINT) AS k80, " +
      OSql.sround("CAST(max(n) - SUM(CASE WHEN cum * 5 >= t * 4 THEN 1 " +
        "ELSE 0 END) + 1 AS DOUBLE) / max(n)", 6) + " AS k80_share " +
      "FROM w GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // agg_hhi — Herfindahl–Hirschman concentration per market segment
  // (the antitrust-style index completing the `window_pareto_80`
  // concentration pair): HHI = Σ share_i² = Σ r_i² / (Σ r_i)² — the
  // identity keeps everything in EXACT integer sums (Σr and Σr² in
  // DECIMAL/HUGEINT; shares are never materialized) with one final
  // division; effective competitor count is its reciprocal. HHI → 1
  // is a monopoly, → 1/n is perfect competition.
  // ------------------------------------------------------------------

  private val aggHhi = Q(
    "agg_hhi",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val rev = graft.core.Tables.t(s, d, "orders")
        // SF-scaled customer: hint-free join (plan-linter R5), AQE picks
        .join(graft.core.Tables.t(s, d, "customer"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment", $"c_custkey")
        .agg(sum(round($"o_totalprice" * 100).cast("long")).as("r"))
      rev.groupBy("c_mktsegment").agg(
          count(lit(1)).as("n_customers"),
          sum($"r".cast(Dec380)).cast("double").as("t"),
          sum(($"r".cast(Dec380) * $"r")).cast("double").as("sq"))
        .select($"c_mktsegment", $"n_customers",
          dround($"sq" / $"t" / $"t", 6).as("hhi"),
          dround($"t" * $"t" / $"sq", 4).as("effective_n"))
        .orderBy("c_mktsegment")
    },
    Some("WITH rev AS (SELECT c_mktsegment, c_custkey, " +
      "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
      "a AS (SELECT c_mktsegment, count(*) AS n_customers, " +
      "CAST(SUM(CAST(r AS HUGEINT)) AS DOUBLE) AS t, " +
      "CAST(SUM(CAST(r AS HUGEINT) * r) AS DOUBLE) AS sq FROM rev GROUP BY 1) " +
      "SELECT c_mktsegment, n_customers, " +
      OSql.sround("sq / t / t", 6) + " AS hhi, " +
      OSql.sround("t * t / sq", 4) + " AS effective_n " +
      "FROM a ORDER BY 1"))

  // ------------------------------------------------------------------
  // agg_gini_revenue — the Gini coefficient of customer revenue per
  // segment (completing the concentration trio with `window_pareto_80`
  // and `agg_hhi`): the sorted-rank identity
  // G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n keeps everything exact — ranks
  // from one segment-keyed window, Σ i·x and Σx as exact DECIMAL sums
  // — with two divisions of identical text at the end. 0 = perfect
  // equality, →1 = one customer holds everything.
  // ------------------------------------------------------------------

  private val aggGiniRevenue = Q(
    "agg_gini_revenue",
    (s, d) => {
      import s.implicits._
      val Dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val rev = graft.core.Tables.t(s, d, "orders")
        // SF-scaled customer: hint-free join (plan-linter R5), AQE picks
        .join(graft.core.Tables.t(s, d, "customer"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment", $"c_custkey")
        .agg(sum(round($"o_totalprice" * 100).cast("long")).as("r"))
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"r".asc, $"c_custkey".asc)
      rev.withColumn("i", row_number().over(w))
        .groupBy("c_mktsegment").agg(
          count(lit(1)).as("n"),
          sum($"r".cast(Dec380)).cast("double").as("t"),
          sum(($"r".cast(Dec380) * $"i")).cast("double").as("wsum"))
        .select($"c_mktsegment", $"n",
          when($"t" > 0 && $"n" > 0,
            dround(lit(2.0) * $"wsum" / ($"n" * $"t")
              - ($"n" + 1).cast("double") / $"n", 6)).as("gini"))
        .orderBy("c_mktsegment")
    },
    Some("WITH rev AS (SELECT c_mktsegment, c_custkey, " +
      "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
      "rk AS (SELECT c_mktsegment, r, row_number() OVER " +
      "(PARTITION BY c_mktsegment ORDER BY r, c_custkey) AS i FROM rev), " +
      "a AS (SELECT c_mktsegment, count(*) AS n, " +
      "CAST(SUM(CAST(r AS HUGEINT)) AS DOUBLE) AS t, " +
      "CAST(SUM(CAST(r AS HUGEINT) * i) AS DOUBLE) AS wsum " +
      "FROM rk GROUP BY 1) " +
      "SELECT c_mktsegment, n, " +
      "CASE WHEN t > 0 AND n > 0 THEN " +
      OSql.sround("2.0 * wsum / (n * t) - CAST(n + 1 AS DOUBLE) / n", 6) +
      " END AS gini FROM a ORDER BY 1"))

  val qs: Seq[Q] = Seq(
    rankTopk, rankDense, lagLead, nthValue, runningSum, firstLast, movingAvg, percentRank,
    rangeFrame, windowPareto80, aggHhi, aggGiniRevenue)
}
