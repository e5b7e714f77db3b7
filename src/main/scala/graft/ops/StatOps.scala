package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}
import graft.core.{Det, OSql, Q, Share, Tables}

/** Distributional profiling, attribution, and snapshot-lifecycle
  * operators — the data-quality and reporting layer a replay consumer
  * runs over the landed archive: higher-moment shape statistics,
  * weighted robust centers, per-key cumulative distribution, bipartite
  * degree profiles, first-touch attribution, and snapshot-to-snapshot
  * table diffing. All hash-verified against DuckDB.
  *
  * Scale shape (the 100 TB stance, per operator):
  *  - agg_skew_kurtosis: the fact table collapses MAP-SIDE to
  *    |event_types| rows of exact integer moment sums (partial+final
  *    agg); no row-level shuffle, and the skew/kurtosis formulas run on
  *    the tiny aggregate only.
  *  - agg_weighted_median: two-level bisection over deterministic
  *    price cells — bounded map-side weight ledgers, broadcast prefix
  *    theta-joins, and a running window over ONLY the final crossing
  *    cell (~N/65536 of the rows); the fact is scanned, never
  *    shuffled, and no WindowExec keyed by the 3-value returnflag
  *    ever sees fact-scale input.
  *  - window_cume_dist: the window runs over the bounded per-(type,
  *    value) count ledger (2-decimal value domain), broadcast back to
  *    the fact — never a fact-row WindowExec keyed by event_type.
  *  - graph_degree_stats: distinct + two partial+final aggs, each
  *    output orders of magnitude smaller than its input.
  *  - seq_first_touch: both per-user reductions (first event, purchase
  *    revenue) hash-partition on user_id — the exchange is reused — and
  *    only then collapse to |channels| rows.
  *  - cdc_snapshot_diff: BOTH snapshot states come from ONE aggregate
  *    over one user_id shuffle (conditional max over an integer event
  *    ordinal) — not one scan per snapshot; the diff classification is
  *    a projection over the per-key state table.
  *  - sample_temperature: the only non-keyed reduction is over the
  *    DOMAIN table (|sources| rows, a bounded dimension); per-domain
  *    weights are rounded to fixed decimals BEFORE the cross-domain
  *    normalization sum so the total is an exact decimal sum —
  *    order-independent on any cluster.
  *  - scan_json_badrecords: the PERMISSIVE dead-letter path as a batch
  *    operator — parse failures are counted per type map-side, never
  *    thrown, never collected.
  */
object StatOps {
  import Det._

  // ------------------------------------------------------------------
  // agg_skew_kurtosis — population skewness + excess kurtosis per
  // event_type from EXACT integer moment sums. events.value is exactly
  // 2-decimal, so v = round(value*100) is an exact integer and the
  // raw moments Σv, Σv², Σv³, Σv⁴ are exact integer sums —
  // order-independent, bit-identical in any engine (v³ fits a long;
  // v⁴ can pass Long.Max so it is lifted to DECIMAL(38,0) / HUGEINT
  // before the final multiply, and every sum accumulates there).
  // Skewness and kurtosis are scale-invariant so the cent
  // scaling cancels; only the mean is rescaled. The double-arithmetic
  // formula text is identical in both engines (left-associative, one
  // correctly-rounded sqrt), so the rounded output is bit-stable.
  // ------------------------------------------------------------------

  private val Dec380: DecimalType = DecimalType(38, 0)

  private val aggSkewKurtosis = Q(
    "agg_skew_kurtosis",
    (s, d) => {
      import s.implicits._
      val v = Tables.events(s, d)
        .select($"event_type",
          round($"value" * 100).cast("long").as("v"))
        .withColumn("v2", $"v" * $"v")
      val m = v.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum($"v".cast(Dec380)).cast("double").as("s1"),
        sum($"v2".cast(Dec380)).cast("double").as("s2"),
        sum(($"v2" * $"v").cast(Dec380)).cast("double").as("s3"),
        // v⁴ can pass Long.Max (|v| ≤ ~5.7e4 ⇒ v⁴ ≤ ~1e19) — lift to
        // decimal BEFORE the final multiply; DuckDB mirrors via HUGEINT
        sum($"v2".cast(Dec380) * $"v2").cast("double").as("s4"))
      // a zero-variance group has no defined shape — emit NULL, not the
      // engine-dependent 0/0 NaN a naked division would produce
      m.withColumn("m1", $"s1" / $"n")
        .withColumn("m2", $"s2" / $"n" - $"m1" * $"m1")
        .select($"event_type", $"n".cast("long").as("n"),
          dround($"m1" / 100.0, 6).as("mean_v"),
          when($"m2" > 0,
            dround(($"s3" / $"n" - lit(3.0) * $"m1" * ($"s2" / $"n")
              + lit(2.0) * $"m1" * $"m1" * $"m1")
              / ($"m2" * sqrt($"m2")), 6)).as("skewness"),
          when($"m2" > 0,
            dround(($"s4" / $"n" - lit(4.0) * $"m1" * ($"s3" / $"n")
              + lit(6.0) * $"m1" * $"m1" * ($"s2" / $"n")
              - lit(3.0) * $"m1" * $"m1" * $"m1" * $"m1")
              / ($"m2" * $"m2") - lit(3.0), 6)).as("kurtosis_excess"))
        .orderBy("event_type")
    },
    Some("WITH b AS (SELECT event_type, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "m AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, " +
      "CAST(sum(v) AS DOUBLE) AS s1, CAST(sum(v*v) AS DOUBLE) AS s2, " +
      "CAST(sum((v*v)*v) AS DOUBLE) AS s3, " +
      "CAST(sum(CAST(v*v AS HUGEINT)*(v*v)) AS DOUBLE) AS s4 " +
      "FROM b GROUP BY 1), " +
      "c AS (SELECT event_type, n, s1/n AS m1, s2, s3, s4, " +
      "s2/n - (s1/n)*(s1/n) AS m2 FROM m) " +
      "SELECT event_type, CAST(n AS BIGINT) AS n, " +
      OSql.sround("m1 / 100.0", 6) + " AS mean_v, " +
      "CASE WHEN m2 > 0 THEN " +
      OSql.sround("(s3/n - 3.0*m1*(s2/n) + 2.0*m1*m1*m1) " +
        "/ (m2 * sqrt(m2))", 6) + " END AS skewness, " +
      "CASE WHEN m2 > 0 THEN " +
      OSql.sround("(s4/n - 4.0*m1*(s3/n) + 6.0*m1*m1*(s2/n) " +
        "- 3.0*m1*m1*m1*m1) / (m2*m2) - 3.0", 6) +
      " END AS kurtosis_excess FROM c ORDER BY 1"))

  // ------------------------------------------------------------------
  // agg_weighted_median — exact lower weighted median of
  // l_extendedprice weighted by l_quantity, per returnflag: the first
  // price (in the total (price, orderkey, linenumber) order) whose
  // running weight reaches half the group total. l_quantity is
  // integral, so all weights are exact longs and the 2·W ≥ T pick is
  // pure integer comparison — no float boundary.
  //
  // Scale shape — TWO-LEVEL BISECTION over deterministic price cells
  // (no WindowExec keyed by the 3-value returnflag, no fact shuffle at
  // all): each level buckets cents by a STATIC width (coarse $1000
  // slabs over the bounded price domain; fine = coarse/256 — pure
  // literals, so no sampling, no bounds scan, no checkpoint),
  // collapses rows map-side to a bounded weight ledger, runs the
  // exclusive prefix as a broadcast theta-join on that ledger, and
  // descends into the single cell per group where the cumulative
  // weight crosses half the total. After two levels the crossing fine
  // cell holds ~N/65536 of the rows; only those feed the running-sum
  // window (its partition key is the fine cell). The fact is scanned
  // three times (coarse ledger, fine ledger, finish) and moved never —
  // at 100 TB, pruned column scans beat a full range repartition by
  // orders of magnitude of shuffled bytes. Deployment knobs: widths
  // narrow with N, and each extra DEPTH level divides the final
  // window's input by another 256. The tiny ledgers and the level-1
  // crossing table are shared ([[graft.core.Share]]) — each feeds
  // several consumers, and no branch re-runs a fact scan.
  // ------------------------------------------------------------------

  private val aggWeightedMedian = Q(
    "agg_weighted_median",
    (s, d) => {
      import s.implicits._
      // static cell widths — pure literals, so cell ids need no bounds
      // scan, no crossJoin, and no checkpoint: coarse = $1000 cent
      // slabs (domain-bounded ledger), fine = coarse/256. Deployment
      // narrows both with N (the derived-parameter knob); depth adds
      // another 256× division of the final window's input per level.
      val W1 = 100000L
      val W2 = (W1 + 255) / 256
      def li0 = Tables.t(s, d, "lineitem")
        .select($"l_returnflag", $"l_extendedprice",
          $"l_quantity".cast("long").as("w"),
          $"l_orderkey", $"l_linenumber")
        .withColumn("c", expr("cast(round(l_extendedprice * 100) as bigint)"))
      def withC1(df: DataFrame) = df.withColumn("c1", expr(s"c div $W1"))
      // exclusive prefix + crossing pick over a bounded (grp, cell)
      // ledger — broadcast theta-join, no window
      def crossing(cells: DataFrame, cellCol: String, cum0: Column)
          : DataFrame = {
        val base = cells.as("a")
          .join(broadcast(cells.as("b")),
            $"b.l_returnflag" === $"a.l_returnflag" &&
              col(s"b.$cellCol") < col(s"a.$cellCol"), "left_outer")
          .groupBy(col(s"a.$cellCol").as(cellCol),
            $"a.l_returnflag".as("l_returnflag"), $"a.sw".as("sw"),
            $"a.tw".as("tw"), $"a.cum0".as("cum0"))
          .agg(coalesce(sum($"b.sw"), lit(0L)).as("base"))
        base
          .filter(lit(2) * (cum0 + $"base" + $"sw") >= $"tw")
          .groupBy($"l_returnflag")
          .agg(min_by(struct(col(cellCol), $"base", $"tw", $"cum0"),
            col(cellCol)).as("t"))
          .select($"l_returnflag", $"t.$cellCol".as(cellCol),
            ($"t.cum0" + $"t.base").as("cum0"), $"t.tw".as("tw"))
      }
      // level 1: coarse ledger → crossing coarse cell per group. The
      // ≤256·G-row ledger feeds the group totals, both theta-join
      // branches, and the crossing pick, so it is shared
      val cl1 = Share(withC1(li0).groupBy($"l_returnflag", $"c1")
        .agg(sum($"w").as("sw")))
      val tw = cl1.groupBy($"l_returnflag").agg(sum($"sw").as("tw"))
      val l1 = cl1.join(broadcast(tw), "l_returnflag")
        .withColumn("cum0", lit(0L))
      // the 3-row level-1 crossing table feeds the fine ledger and the
      // finish, so it is shared the same way
      val t1 = broadcast(Share(crossing(l1, "c1", $"cum0")))
      // level 2: ≤256 fine cells WITHIN the crossing coarse cell
      def withC2(df: DataFrame) = withC1(df)
        .join(t1, Seq("l_returnflag", "c1"))
        .withColumn("c2", expr(s"(c - c1 * $W1) div $W2"))
      val l2 = Share(withC2(li0)
        .groupBy($"l_returnflag", $"c1", $"c2", $"cum0", $"tw")
        .agg(sum($"w").as("sw")))
      val t2 = broadcast(
        crossing(l2.select($"l_returnflag", $"c2", $"sw", $"tw", $"cum0"),
          "c2", $"cum0"))
      // finish: running sum over ONLY the crossing fine cell's rows
      val wloc = Window.partitionBy($"c1", $"c2", $"l_returnflag")
        .orderBy($"l_extendedprice".asc, $"l_orderkey".asc,
          $"l_linenumber".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withC2(li0).drop("cum0", "tw")
        .join(t2, Seq("l_returnflag", "c2"))
        .withColumn("cw", $"cum0" + sum($"w").over(wloc))
        .groupBy("l_returnflag")
        .agg(min($"tw").as("total_weight"),
          min(when(lit(2) * $"cw" >= $"tw", $"l_extendedprice"))
            .as("weighted_median"))
        .orderBy("l_returnflag")
    },
    Some("WITH c AS (SELECT l_returnflag, l_extendedprice, " +
      "sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag " +
      "ORDER BY l_extendedprice, l_orderkey, l_linenumber " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, " +
      "sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) " +
      "AS tw FROM lineitem) " +
      "SELECT l_returnflag, CAST(min(tw) AS BIGINT) AS total_weight, " +
      "min(l_extendedprice) FILTER (WHERE 2*cw >= tw) " +
      "AS weighted_median FROM c GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // window_cume_dist — cumulative distribution of the value signal
  // within each event_type: cume_dist = (#rows with value ≤ mine) / n,
  // the keyed-percentile primitive a monitoring layer thresholds on.
  // Tied values share a cume_dist in both engines (the frame extends
  // through the last peer), so the output is total-order-stable.
  //
  // Scale shape: cume_dist depends only on a row's VALUE, so the fact
  // first collapses map-side to the per-(type, value) count table —
  // bounded by the 2-decimal value domain, not N — the running-count
  // window runs over that bounded ledger, and the per-value cd
  // broadcast-joins back onto the fact scan. No WindowExec ever sees a
  // raw fact row: the old spelling sorted N/|types| rows through one
  // task per type.
  // ------------------------------------------------------------------

  private val windowCumeDist = Q(
    "window_cume_dist",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"event_type", $"event_id", $"value")
      val cnt = e.groupBy($"event_type", $"value")
        .agg(count(lit(1)).as("c"))
      val run = Window.partitionBy($"event_type").orderBy($"value".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"event_type")
      val cd = cnt.select($"event_type".as("t"), $"value".as("w"),
        dround(sum($"c").over(run).cast("double") / sum($"c").over(tot), 6)
          .as("cd"))
      // null-safe equi-join: a NULL value row still carries a cume_dist
      // (NULLs sort first in the window), so it must not drop here
      e.join(broadcast(cd), $"event_type" <=> $"t" && $"value" <=> $"w")
        .select($"event_type", $"event_id", $"value", $"cd")
        .orderBy("event_type", "event_id")
    },
    // NULLS FIRST spelled explicitly: the Spark ledger window sorts
    // NULL values first (Spark's ASC default) while DuckDB's window
    // default is NULLS LAST — the divergence the null-safe join-back
    // exists to carry correctly
    Some("SELECT event_type, event_id, value, " +
      OSql.sround("cume_dist() OVER (PARTITION BY event_type " +
        "ORDER BY value NULLS FIRST)", 6) + " AS cd " +
      "FROM events ORDER BY event_type, event_id"))

  // ------------------------------------------------------------------
  // graph_degree_stats — degree histogram of the user↔active-day
  // bipartite graph: per user the number of DISTINCT UTC days it was
  // active on (its degree, an exact ms div 86400000 integer), then how
  // many users sit at each degree — the activity-profile histogram an
  // engagement report opens with. The distinct collapses map-side;
  // every shuffle in the chain carries strictly fewer rows than the
  // one before (events → user-days → users → degrees).
  // ------------------------------------------------------------------

  private val graphDegreeStats = Q(
    "graph_degree_stats",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id", expr(Det.fdivExpr("ms", "86400000")).as("day"))
        .distinct()
        .groupBy("user_id").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_users"))
        .orderBy("degree")
    },
    Some("SELECT degree, count(*) AS n_users FROM (" +
      "SELECT user_id, count(DISTINCT epoch_ms(ts) // 86400000) " +
      "AS degree FROM events GROUP BY 1) GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // seq_first_touch — first-touch attribution: every user is credited
  // to the CHANNEL of their first event (by ms, event_id), and each
  // channel reports its cohort size, how many of its users ever
  // purchased, and the exact purchase revenue it is credited with.
  // The first-event pick and the purchase rollup are both per-user
  // reductions on the same user_id hash partitioning; revenue
  // accumulates in DECIMAL so the cross-user sum is exact.
  // ------------------------------------------------------------------

  private val seqFirstTouch = Q(
    "seq_first_touch",
    (s, d) => {
      import s.implicits._
      // ONE aggregate does both per-user reductions: the first touch is
      // the lexicographic min of (ms, event_id, event_type) structs —
      // (ms, event_id) is a total order, so the carried event_type is
      // exact — and the purchase revenue is a conditional decimal sum
      // in the same pass. One shuffle, no window sort, no join.
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(struct($"ms", $"event_id", $"event_type")).as("ft"),
          sum(when($"event_type" === "purchase", $"value").cast(Dec))
            .as("rev"))
      perUser
        .groupBy($"ft.event_type".as("channel"))
        .agg(count(lit(1)).as("n_users"),
          count($"rev").as("n_converted"),
          dround(coalesce(sum($"rev"), lit(0).cast(Dec))
            .cast("double"), 2).as("revenue"))
        .orderBy("channel")
    },
    Some("WITH ft AS (SELECT user_id, event_type AS channel FROM (" +
      "SELECT user_id, event_type, row_number() OVER (" +
      "PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn " +
      "FROM events) WHERE rn = 1), " +
      "pu AS (SELECT user_id, " +
      "SUM(CAST(value AS DECIMAL(20,6))) AS rev FROM events " +
      "WHERE event_type = 'purchase' GROUP BY 1) " +
      "SELECT channel, count(*) AS n_users, " +
      "count(rev) AS n_converted, " +
      OSql.sround("CAST(COALESCE(SUM(rev), 0) AS DOUBLE)", 2) +
      " AS revenue " +
      "FROM ft LEFT JOIN pu USING (user_id) GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // cdc_snapshot_diff — snapshot-to-snapshot table diff: the per-user
  // STATE (last event's value; an 'error' last-event is a tombstone =
  // absent) is materialized as of two cut points T1 < T2, and every
  // key is classified added / deleted / changed / unchanged — the
  // audit a CDC consumer runs to reconcile two replays. BOTH states
  // come from ONE aggregate over ONE user_id shuffle — a conditional
  // lexicographic struct-max carries (ord, type, value) per snapshot,
  // so the fact table is scanned once and never joined back. The
  // ordinal packs (ms, event_id) into a single long (event_id < 1e5
  // here; the struct-max head field could equally be the raw pair at
  // any scale). Values diff as exact cent integers.
  // ------------------------------------------------------------------

  private val cdcSnapshotDiff = Q(
    "cdc_snapshot_diff",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_type",
          round($"value" * 100).cast("long").as("v"),
          ($"ms" * 1000000L + $"event_id").as("ord"), $"ms")
      // integer-only cut points: a double division then cast would
      // truncate in Spark but round half-to-even in DuckDB's CAST —
      // the engines disagree exactly at fractional midpoints
      val cuts = ev.agg(
        expr(Det.fdivExpr("min(ms) + max(ms)", "2")).as("t1"),
        expr("min(ms) + ((max(ms) - min(ms)) * 3) div 4").as("t2"))
      // BOTH snapshot states come from ONE aggregate: the state is the
      // lexicographic max of (ord, event_type, v) structs — ord =
      // packed (ms, event_id) is a total order, so the carried type and
      // value are exactly the last event's. No join-back to the fact
      // table; the whole key costs one user_id shuffle.
      val st = ev.crossJoin(broadcast(cuts))
        .filter($"ms" <= $"t2")
        .groupBy("user_id")
        .agg(max(when($"ms" <= $"t1",
            struct($"ord", $"event_type", $"v"))).as("s1"),
          max(struct($"ord", $"event_type", $"v")).as("s2"))
      val diff = st
        .select($"user_id",
          $"s1.event_type".as("tp1"), $"s1.v".as("v1"),
          $"s2.event_type".as("tp2"), $"s2.v".as("v2"))
        .withColumn("p1", $"tp1".isNotNull && $"tp1" =!= "error")
        .withColumn("p2", $"tp2".isNotNull && $"tp2" =!= "error")
        .withColumn("class",
          when(!$"p1" && $"p2", "added")
            .when($"p1" && !$"p2", "deleted")
            .when($"p1" && $"p2" && $"v1" =!= $"v2", "changed")
            .when($"p1" && $"p2", "unchanged"))
        .filter($"class".isNotNull)
      diff.groupBy("class")
        .agg(count(lit(1)).as("n_keys"),
          sum(when($"class" === "changed", $"v2" - $"v1")
            .otherwise(lit(0L))).as("delta_cents"))
        .orderBy("class")
    },
    Some("WITH ev AS (SELECT user_id, event_type, " +
      "CAST(round(value*100) AS BIGINT) AS v, " +
      "epoch_ms(ts)*1000000 + event_id AS ord, epoch_ms(ts) AS ms " +
      "FROM events), " +
      "cuts AS (SELECT (min(ms)+max(ms))//2 AS t1, " +
      "min(ms) + ((max(ms)-min(ms))*3)//4 AS t2 FROM ev), " +
      "st AS (SELECT user_id, " +
      "max(ord) FILTER (WHERE ms <= t1) AS o1, max(ord) AS o2 " +
      "FROM ev, cuts WHERE ms <= t2 GROUP BY 1), " +
      "df AS (SELECT st.user_id, " +
      "(a.event_type IS NOT NULL AND a.event_type <> 'error') AS p1, " +
      "(b.event_type IS NOT NULL AND b.event_type <> 'error') AS p2, " +
      "a.v AS v1, b.v AS v2 FROM st " +
      "LEFT JOIN ev a ON st.user_id = a.user_id AND st.o1 = a.ord " +
      "LEFT JOIN ev b ON st.user_id = b.user_id AND st.o2 = b.ord), " +
      "cl AS (SELECT CASE " +
      "WHEN NOT p1 AND p2 THEN 'added' " +
      "WHEN p1 AND NOT p2 THEN 'deleted' " +
      "WHEN p1 AND p2 AND v1 <> v2 THEN 'changed' " +
      "WHEN p1 AND p2 THEN 'unchanged' END AS class, v1, v2 FROM df) " +
      "SELECT class, count(*) AS n_keys, " +
      "CAST(SUM(CASE WHEN class = 'changed' THEN v2 - v1 ELSE 0 END) " +
      "AS BIGINT) AS delta_cents FROM cl WHERE class IS NOT NULL " +
      "GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // sample_temperature — temperature-flattened domain mixture (the
  // multinomial α-reweighting multilingual/multi-domain training runs
  // use, α = 0.5 here): domain size (Σ n_chars per source) →
  // w = size^α → share = w / Σw → expected docs out of a 1000-doc
  // epoch. α = 0.5 is spelled sqrt() — correctly rounded IEEE in any
  // engine — and each w is rounded to 6 decimals BEFORE the
  // normalization sum, which then runs in exact DECIMAL over the
  // bounded domain table: order-independent on any cluster (a raw
  // float Σw would be partition-order-dependent).
  // ------------------------------------------------------------------

  private val sampleTemperature = Q(
    "sample_temperature",
    (s, d) => {
      import s.implicits._
      val dom = Tables.t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sz"))
        .withColumn("w", dround(sqrt($"sz".cast("double")), 6).cast(Dec))
      val tot = dom.agg(sum($"w").cast("double").as("tw"))
      dom.crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"sz",
          dround($"w".cast("double") / $"tw", 6).as("share"))
        .withColumn("expected_docs",
          floor($"share" * 1000 + 0.5).cast("long"))
        .orderBy("source")
    },
    Some("WITH dom AS (SELECT source, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS sz, " +
      "CAST(" + OSql.sround("sqrt(CAST(sum(n_chars) AS DOUBLE))", 6) +
      " AS DECIMAL(20,6)) AS w FROM documents GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(w) AS DOUBLE) AS tw FROM dom) " +
      "SELECT source, n_docs, sz, " +
      OSql.sround("CAST(w AS DOUBLE) / tw", 6) + " AS share, " +
      "CAST(floor(" + OSql.sround("CAST(w AS DOUBLE) / tw", 6) +
      " * 1000 + 0.5) AS BIGINT) AS expected_docs " +
      "FROM dom, tot ORDER BY source"))

  // ------------------------------------------------------------------
  // scan_json_badrecords — the batch dead-letter path (reference A3's
  // PERMISSIVE parse as a first-class scan): a deterministic 1-in-7
  // corruption (leading '{' stripped) models archive rot, the strict-
  // schema parse nulls out exactly the bad rows instead of failing the
  // job, and the per-type report counts parsed vs dead-letter rows
  // plus the parsed-k checksum. Parse failures are counted map-side —
  // no row is ever thrown to the driver.
  // ------------------------------------------------------------------

  private val scanJsonBadrecords = Q(
    "scan_json_badrecords",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_type", $"event_id",
          when($"event_id" % 7 === 0, expr("substring(props, 2)"))
            .otherwise($"props").as("raw"))
      val parsed = ev.select($"event_type",
        from_json($"raw", StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      parsed.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          count($"k").as("n_parsed"),
          (count(lit(1)) - count($"k")).as("n_dead_letter"),
          sum($"k".cast("long")).as("k_sum"))
        .orderBy("event_type")
    },
    Some("WITH raw AS (SELECT event_type, " +
      "CASE WHEN event_id % 7 = 0 THEN substring(props, 2) " +
      "ELSE props END AS raw FROM events), " +
      "p AS (SELECT event_type, CASE WHEN json_valid(raw) THEN " +
      "CAST(json_extract(raw, '$.k') AS INTEGER) END AS k FROM raw) " +
      "SELECT event_type, count(*) AS n_rows, count(k) AS n_parsed, " +
      "count(*) - count(k) AS n_dead_letter, " +
      "CAST(sum(k) AS BIGINT) AS k_sum " +
      "FROM p GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // window_zscore_rolling — rolling anomaly detection: each event
  // scored against the TRAILING 20-event window of its own user's
  // stream (the online monitoring shape, vs anomaly_zscore's global
  // per-type baseline). The entire statistic is integer until the last
  // step: with frame sums s1=Σv, s2=Σv² over exact cents,
  // z = (n·v − s1) / sqrt(n·s2 − s1²) — numerator and radicand are
  // exact longs, so the score is one division and one
  // correctly-rounded sqrt: bit-deterministic in any engine, immune
  // to windowed-float re-association (DuckDB's segment-tree window
  // aggregation re-associates sums — exact integers don't care).
  // Keyed window: one user_id hash shuffle, bounded per-key state.
  // ------------------------------------------------------------------

  private val windowZscoreRolling = Q(
    "window_zscore_rolling",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_id", $"ms",
          round($"value" * 100).cast("long").as("v"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"ms".asc, $"event_id".asc)
        .rowsBetween(-19, Window.currentRow)
      ev.select($"user_id", $"event_id", $"v",
          count(lit(1)).over(w).as("n"),
          sum($"v").over(w).as("s1"),
          sum($"v" * $"v").over(w).as("s2"))
        .filter($"n" >= 10 && $"n" * $"s2" - $"s1" * $"s1" > 0)
        .withColumn("z", ($"n" * $"v" - $"s1").cast("double")
          / sqrt(($"n" * $"s2" - $"s1" * $"s1").cast("double")))
        .filter(abs($"z") > 2.0)
        .select($"user_id", $"event_id", $"v", $"n".cast("long").as("n"),
          dround($"z", 6).as("z"))
        .orderBy("user_id", "event_id")
    },
    Some("WITH b AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "f AS (SELECT user_id, event_id, v, " +
      "CAST(count(*) OVER fr AS BIGINT) AS n, " +
      "CAST(sum(v) OVER fr AS BIGINT) AS s1, " +
      "CAST(sum(v*v) OVER fr AS BIGINT) AS s2 FROM b " +
      "WINDOW fr AS (PARTITION BY user_id ORDER BY ms, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
      "z AS (SELECT user_id, event_id, v, n, " +
      "CAST(n*v - s1 AS DOUBLE) / sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)) " +
      "AS zr FROM f WHERE n >= 10 AND n*s2 - s1*s1 > 0) " +
      "SELECT user_id, event_id, v, n, " + OSql.sround("zr", 6) +
      " AS z FROM z WHERE abs(zr) > 2.0 ORDER BY user_id, event_id"))

  // ------------------------------------------------------------------
  // seq_rfm_score — RFM (recency / frequency / monetary) customer
  // segmentation WITHOUT a global ntile: per-user R/F/M reduce in one
  // aggregate, the three quartile boundary sets come from exact
  // interpolated percentiles of that (much smaller) user table, and
  // each user scores 1-4 by comparing against the BROADCAST
  // boundaries — a projection, where textbook ntile(4)×3 would funnel
  // every user through a single-partition window three times. Scores
  // collapse to ≤64 (r,f,m) segment cells.
  // ------------------------------------------------------------------

  private val seqRfmScore = Q(
    "seq_rfm_score",
    (s, d) => {
      import s.implicits._
      val per = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max($"ms").as("r"), count(lit(1)).as("f"),
          sum(round($"value" * 100).cast("long")).as("m"))
      val qs = per.agg(
        percentile($"r", array(lit(0.25), lit(0.5), lit(0.75))).as("qr"),
        percentile($"f", array(lit(0.25), lit(0.5), lit(0.75))).as("qf"),
        percentile($"m", array(lit(0.25), lit(0.5), lit(0.75))).as("qm"))
      def score(c: org.apache.spark.sql.Column, q: String) =
        lit(1) + (c > col(q)(0)).cast("int") +
          (c > col(q)(1)).cast("int") + (c > col(q)(2)).cast("int")
      per.crossJoin(broadcast(qs))
        .select(score($"r", "qr").as("score_r"),
          score($"f", "qf").as("score_f"), score($"m", "qm").as("score_m"))
        .groupBy("score_r", "score_f", "score_m")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("score_r", "score_f", "score_m")
    },
    Some("WITH per AS (SELECT user_id, max(epoch_ms(ts)) AS r, " +
      "count(*) AS f, " +
      "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS m " +
      "FROM events GROUP BY 1), " +
      "q AS (SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS qr, " +
      "quantile_cont(f, [0.25, 0.5, 0.75]) AS qf, " +
      "quantile_cont(m, [0.25, 0.5, 0.75]) AS qm FROM per), " +
      "sc AS (SELECT " +
      "1 + CAST(r > qr[1] AS INT) + CAST(r > qr[2] AS INT) " +
      "+ CAST(r > qr[3] AS INT) AS score_r, " +
      "1 + CAST(f > qf[1] AS INT) + CAST(f > qf[2] AS INT) " +
      "+ CAST(f > qf[3] AS INT) AS score_f, " +
      "1 + CAST(m > qm[1] AS INT) + CAST(m > qm[2] AS INT) " +
      "+ CAST(m > qm[3] AS INT) AS score_m FROM per, q) " +
      "SELECT score_r, score_f, score_m, count(*) AS n_users " +
      "FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"))

  // ------------------------------------------------------------------
  // dedup_url_canonical — URL canonicalization dedup (the first pass
  // of every web-crawl pipeline): synthetic per-doc URLs carry the
  // four classic noise variants (scheme, case, trailing slash,
  // query/fragment junk) over a shared base so adjacent doc pairs
  // collide after canonicalization; the chain is lower → strip scheme
  // → strip ?/# tail → strip trailing slash (each pattern matches at
  // most once, so Spark's replace-all and DuckDB's replace-first
  // agree), keeper = min doc_id per canonical key. Shuffle carries
  // (canonical, doc_id) only.
  // ------------------------------------------------------------------

  /** The shared synthetic-URL grammar (doc_id % 4 variants: plain,
    * uppercase-host + trailing slash, utm query, fragment) — ONE
    * definition for both URL operators (`dedup_url_canonical`,
    * `scalar_url`) in both engines, so a grammar change cannot
    * silently break their cross-operator fixture claim.
    */
  private def syntheticUrl: Column = {
    val base = expr("doc_id div 2").cast("string")
    when(col("doc_id") % 4 === 0,
      concat(lit("https://site"), base, lit(".com/p")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://SITE"), base, lit(".COM/p/")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://site"), base, lit(".com/p?utm_source=feed")))
      .otherwise(concat(lit("https://site"), base, lit(".com/p#frag")))
  }

  private val syntheticUrlSql: String =
    "CASE doc_id % 4 " +
      "WHEN 0 THEN 'https://site' || CAST(doc_id // 2 AS VARCHAR) || '.com/p' " +
      "WHEN 1 THEN 'http://SITE' || CAST(doc_id // 2 AS VARCHAR) || '.COM/p/' " +
      "WHEN 2 THEN 'https://site' || CAST(doc_id // 2 AS VARCHAR) || '.com/p?utm_source=feed' " +
      "ELSE 'https://site' || CAST(doc_id // 2 AS VARCHAR) || '.com/p#frag' " +
      "END"

  private val dedupUrlCanonical = Q(
    "dedup_url_canonical",
    (s, d) => {
      import s.implicits._
      val docs = Tables.t(s, d, "documents")
        .select($"doc_id", $"source", syntheticUrl.as("url"))
      val canon = docs.withColumn("c",
        regexp_replace(regexp_replace(regexp_replace(
          lower($"url"), "^https?://", ""), "[?#].*$", ""), "/$", ""))
      val keeper = canon.groupBy("c").agg(min($"doc_id").as("keep_id"))
      canon.join(keeper, Seq("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(($"doc_id" === $"keep_id").cast("long")).as("n_kept"))
        .orderBy("source")
    },
    Some("WITH u AS (SELECT doc_id, source, " + syntheticUrlSql +
      " AS url FROM documents), " +
      "c AS (SELECT doc_id, source, regexp_replace(regexp_replace(" +
      "regexp_replace(lower(url), '^https?://', ''), '[?#].*$', ''), " +
      "'/$', '') AS c FROM u), " +
      "k AS (SELECT c, min(doc_id) AS keep_id FROM c GROUP BY 1) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_kept FROM c JOIN k USING (c) GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // agg_gini_diversity — per-user Gini impurity of the event_type
  // distribution: 1 − Σpᵢ² = (n² − Σcntᵢ²)/n², the diversity measure
  // chosen over Shannon entropy DELIBERATELY (entropy needs per-term
  // logs — not correctly-rounded-guaranteed across libm
  // implementations; Gini is pure rational arithmetic on exact
  // counts, one division at the end — bit-deterministic anywhere;
  // same stance as text_lexical_diversity's TTR-over-entropy call).
  // Two chained aggs on the same user_id partitioning.
  // ------------------------------------------------------------------

  private val aggGiniDiversity = Q(
    "agg_gini_diversity",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(sum($"cnt").as("n"), sum($"cnt" * $"cnt").as("sq"))
        .select($"user_id", $"n".cast("long").as("n"),
          dround(($"n" * $"n" - $"sq").cast("double")
            / ($"n" * $"n").cast("double"), 6).as("gini"))
        .orderBy("user_id")
    },
    Some("WITH c AS (SELECT user_id, event_type, count(*) AS cnt " +
      "FROM events GROUP BY 1, 2), " +
      "g AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n, " +
      "CAST(sum(cnt*cnt) AS BIGINT) AS sq FROM c GROUP BY 1) " +
      "SELECT user_id, n, " +
      OSql.sround("CAST(n*n - sq AS DOUBLE) / CAST(n*n AS DOUBLE)", 6) +
      " AS gini FROM g ORDER BY 1"))

  // ------------------------------------------------------------------
  // topk_windowed — top-2 event types per tumbling hour (the rolling
  // leaderboard a monitoring dashboard renders): exact hour bucket
  // ms div 3600000, per-(hour, type) counts collapse map-side, the
  // rank window partitions BY HOUR — distributed across buckets,
  // never a global sort; ties break by event_type for a total order.
  // ------------------------------------------------------------------

  private val topkWindowed = Q(
    "topk_windowed",
    (s, d) => {
      import s.implicits._
      val counts = Tables.events(s, d)
        .select(expr(Det.fdivExpr("ms", "3600000")).as("hr"), $"event_type")
        .groupBy("hr", "event_type").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"hr")
        .orderBy($"cnt".desc, $"event_type".asc)
      counts.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .orderBy("hr", "rn")
    },
    Some("WITH c AS (SELECT epoch_ms(ts) // 3600000 AS hr, event_type, " +
      "count(*) AS cnt FROM events GROUP BY 1, 2), " +
      "r AS (SELECT hr, event_type, cnt, row_number() OVER (" +
      "PARTITION BY hr ORDER BY cnt DESC, event_type ASC) AS rn FROM c) " +
      "SELECT hr, event_type, cnt, rn FROM r WHERE rn <= 2 " +
      "ORDER BY hr, rn"))

  // ------------------------------------------------------------------
  // join_temporal_dim — point-in-time dimensional join (the consumer
  // of every SCD2 history): profile events (signup/error) define a
  // user's tier over half-open validity intervals [ms, next-ms) via
  // lead(), and each purchase joins to the tier IN EFFECT AT ITS
  // EVENT TIME. The join is an EQUI-join on user_id with the interval
  // check as a residual predicate — hash-partitionable on the key
  // (per-user interval sets are small), never a theta-only join.
  // Intervals partition time per user, so each purchase matches at
  // most one dim row; pre-first-profile purchases survive the left
  // join as the 'none' tier.
  // ------------------------------------------------------------------

  private val joinTemporalDim = Q(
    "join_temporal_dim",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val wd = Window.partitionBy($"user_id")
        .orderBy($"valid_from".asc, $"event_id".asc)
      val dim = ev.filter($"event_type".isin("signup", "error"))
        .select($"user_id", $"ms".as("valid_from"), $"event_id",
          floor($"value" / 100).cast("long").as("tier"))
        .withColumn("valid_to", lead($"valid_from", 1).over(wd))
        .drop("event_id")
      val facts = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ms".as("pms"), $"value")
      facts.join(dim,
          facts("user_id") === dim("user_id") &&
            $"pms" >= $"valid_from" &&
            ($"valid_to".isNull || $"pms" < $"valid_to"),
          "left")
        .select(coalesce($"tier", lit(-1L)).as("tier"), $"value")
        .groupBy("tier")
        .agg(count(lit(1)).as("n_purchases"),
          moneySum($"value").as("revenue"))
        .orderBy("tier")
    },
    Some("WITH ev AS (SELECT user_id, event_id, event_type, value, " +
      "epoch_ms(ts) AS ms FROM events), " +
      "dim AS (SELECT user_id, ms AS valid_from, " +
      "CAST(floor(value / 100) AS BIGINT) AS tier, " +
      "lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) " +
      "AS valid_to FROM ev WHERE event_type IN ('signup', 'error')), " +
      "f AS (SELECT ev.user_id, ev.ms AS pms, ev.value FROM ev " +
      "WHERE event_type = 'purchase') " +
      "SELECT COALESCE(dim.tier, -1) AS tier, " +
      "count(*) AS n_purchases, " + OSql.msum("f.value") + " AS revenue " +
      "FROM f LEFT JOIN dim ON f.user_id = dim.user_id " +
      "AND f.pms >= dim.valid_from " +
      "AND (dim.valid_to IS NULL OR f.pms < dim.valid_to) " +
      "GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // scalar_url — the parse_url surface (host / path / query-param /
  // fragment extraction every web-crawl pipeline runs): over the same
  // synthetic URL fixture as dedup_url_canonical, count per lowered
  // host the URLs carrying a utm_source query tag and a fragment.
  // DuckDB has no parse_url, so the oracle restates the components as
  // anchored regexps — the hash match proves the regexp spelling IS
  // parse_url for this grammar. Single projection + map-side agg.
  // ------------------------------------------------------------------

  private val scalarUrl = Q(
    "scalar_url",
    (s, d) => {
      import s.implicits._
      val urls = Tables.t(s, d, "documents")
        .select($"doc_id", syntheticUrl.as("url"))
      urls.select(
          lower(expr("parse_url(url, 'HOST')")).as("host"),
          expr("parse_url(url, 'QUERY', 'utm_source')").as("utm"),
          expr("parse_url(url, 'REF')").as("frag"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_urls"),
          count($"utm").as("n_query_tagged"),
          count($"frag").as("n_fragmented"))
        .orderBy("host")
    },
    Some("WITH u AS (SELECT doc_id, " + syntheticUrlSql +
      " AS url FROM documents), " +
      "p AS (SELECT lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) " +
      "AS host, " +
      "CASE WHEN url LIKE '%?%utm_source=%' THEN " +
      "regexp_extract(url, '[?&]utm_source=([^&#]*)', 1) END AS utm, " +
      "CASE WHEN url LIKE '%#%' THEN " +
      "regexp_extract(url, '#(.*)$', 1) END AS frag FROM u) " +
      "SELECT host, count(*) AS n_urls, count(utm) AS n_query_tagged, " +
      "count(frag) AS n_fragmented FROM p GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------------
  // window_ewma — exponentially weighted moving average with α = 1/2
  // over each user's last 8 events: the smoothing filter telemetry
  // dashboards run, spelled so it is BIT-EXACT. The taps 2⁻ⁱ are exact
  // binary fractions and v·2⁻ⁱ only shifts the exponent of an exact
  // ≤16-bit cent integer, so the 8-term weighted sum needs ≤24
  // mantissa bits — EXACT in IEEE double in any summation order; the
  // normalizer 255/128 is exact too, leaving ONE rounded division.
  // (A general-α EWMA sums inexact products — the same cross-engine
  // hazard agg_gini_diversity documents; α = 1/2 dissolves it.)
  // Eight lag() taps share one (user_id; ms, event_id) window spec →
  // ONE WindowExec after ONE hash exchange; rows without a full frame
  // are withheld (no partial-warmup ambiguity).
  // ------------------------------------------------------------------

  private val windowEwma = Q(
    "window_ewma",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ms".asc, $"event_id".asc)
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_id", $"ms",
          round($"value" * 100).cast("long").as("v"))
      val taps = (0 to 7).map(i =>
        lag($"v", i).over(w).cast("double") * lit(math.pow(0.5, i)))
      ev.withColumn("ws", taps.reduce(_ + _))
        .withColumn("tail", lag($"v", 7).over(w))
        .filter($"tail".isNotNull)
        .select($"user_id", $"event_id",
          dround($"ws" / (lit(255.0) / lit(128.0)) / lit(100.0), 6)
            .as("ewma"))
        .orderBy("user_id", "event_id")
    },
    Some("WITH b AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, " +
      "CAST(round(value*100) AS BIGINT) AS v FROM events), " +
      "l AS (SELECT user_id, event_id, " +
      (0 to 7).map(i =>
        s"CAST(lag(v, $i) OVER fr AS DOUBLE) AS v$i").mkString(", ") +
      " FROM b WINDOW fr AS (PARTITION BY user_id " +
      "ORDER BY ms, event_id)) " +
      "SELECT user_id, event_id, " +
      OSql.sround("(" + (0 to 7).map(i =>
        s"v$i * ${1.0 / (1 << i)}").mkString(" + ") +
        ") / (255.0/128.0) / 100.0", 6) + " AS ewma " +
      "FROM l WHERE v7 IS NOT NULL ORDER BY user_id, event_id"))

  // ------------------------------------------------------------------
  // scan_csv_badrecords — the CSV cell of the dead-letter matrix (the
  // robustness sibling of `scan_json_badrecords`, completing the
  // format-robustness story the strict `scan_csv` round trip started):
  // events staged as CSV text with a deterministic 1-in-7 corruption
  // (the integer cents field becomes 'xx'), read back PERMISSIVE with
  // a declared corrupt-record column — the malformed rows surface as
  // dead letters instead of failing the scan, counted map-side per
  // type with an exact cents checksum over the survivors. The oracle
  // restates the same accounting from the parquet archive.
  // ------------------------------------------------------------------

  private val scanCsvBadrecords = Q(
    "scan_csv_badrecords",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType}
      val staged = graft.core.TmpDirs.dir("csv-bad")
      // nullable fields coalesce to the EMPTY string before concat_ws
      // (which silently DROPS null arguments — a null value would
      // stage a 2-field line the reader flags corrupt, while the
      // oracle's 1-in-7 rule still counts it parsed); the empty CSV
      // field round-trips back to null under the default nullValue
      Tables.events(s, d)
        .select(concat_ws(",",
          $"event_id", coalesce($"event_type", lit("")),
          when($"event_id" % 7 === 0, lit("xx"))
            .otherwise(coalesce(
              round($"value" * 100).cast("long").cast("string"), lit(""))))
          .as("value"))
        .write.mode("overwrite").text(staged)
      val parsed = s.read
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("c", LongType),
          StructField("_corrupt", StringType))))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(staged)
      parsed.groupBy("event_type").agg(
          count(lit(1)).as("n_rows"),
          count($"c").as("n_parsed"),
          count($"_corrupt").as("n_dead_letter"),
          sum($"c").as("c_sum"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, count(*) AS n_rows, " +
      "CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_parsed, " +
      "CAST(SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_dead_letter, " +
      "CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN " +
      "CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS c_sum " +
      "FROM events GROUP BY 1 ORDER BY 1"))

  val qs: Seq[Q] = Seq(
    aggSkewKurtosis, aggWeightedMedian, windowCumeDist, graphDegreeStats,
    seqFirstTouch, cdcSnapshotDiff, sampleTemperature, scanJsonBadrecords,
    windowZscoreRolling, seqRfmScore, dedupUrlCanonical, aggGiniDiversity,
    topkWindowed, joinTemporalDim, scalarUrl, windowEwma, scanCsvBadrecords)
}
