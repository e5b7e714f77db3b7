package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cut, Det, OSql, Q, Share, Tables, TmpDirs}

/** Scale-technique operators: the join/storage/ingest patterns a 100 TB
  * deployment leans on, each demonstrated as a first-class verified
  * query rather than a comment. Every result is hash-checked against a
  * plain-SQL oracle, proving the technique is a pure execution-plan
  * change — same answer, different (scale-safe) plan.
  */
object ScaleOps {
  import Det._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Guard for the once-per-JVM orphaned-scratch-table sweep in
    * [[withBucketedJoin]].
    */
  private val orphanSweepDone = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Salted repartition join — the manual skew-mitigation pattern. The
    * fact side derives a deterministic salt (l_linenumber mod S — at
    * scale, any per-row value uncorrelated with the join key); the dim
    * side is replicated S× with an exploded salt column, and the join
    * key becomes (key, salt), so one hot orderkey's rows spread over S
    * reducer partitions instead of one straggler task. S multiplies the
    * dim shuffle volume — you salt only keys a count-sketch flags as
    * hot in production (AQE's skew-join split is the automatic cousin;
    * this operator is the explicit form for engines/pipelines where AQE
    * can't see the skew, e.g. pre-partitioned sinks). The oracle is the
    * UNSALTED join — the hash match proves salting changed the plan,
    * not the answer.
    */
  /** Memo of the derived salt fan-out per corpus dir: the probe is one
    * narrow scan — pay it once per JVM, not once per bench rep.
    */
  private val saltedSMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Derive the salt fan-out S from the OBSERVED hot-key mass of the
    * fact side, not a constant: a fixed S both over-replicates the dim
    * side on uniform data (S× shuffle volume bought for nothing) and
    * under-splits extreme skew (a key holding 1/2 the table still
    * lands S/2 of a fair share per reducer). The probe is a
    * deterministic 1/64 row-hash sample (row-level, so every key's
    * mass is thinned uniformly and a hot key cannot be missed the way
    * key-level sampling would) aggregated to the top key's share —
    * the sampled stand-in for the count-sketch pass a 100 TB pipeline
    * runs over the fact keys. S then targets "the hottest key's rows
    * spread to at most ~2 fair reducer shares":
    * S = ceil(hotShare × shufflePartitions), clamped to [2, 64] — the
    * floor keeps the salted plan shape demonstrated at uniform test
    * scale (production would skip salting entirely below it; the
    * oracle is salt-count-agnostic either way).
    */
  private[graft] def saltedS(s: SparkSession, d: String): Int =
    saltedSMemo.computeIfAbsent(d, _ => {
      import s.implicits._
      val row = t(s, d, "lineitem")
        .select($"l_orderkey", $"l_partkey", $"l_linenumber")
        .filter(pmod(xxhash64($"l_orderkey", $"l_partkey", $"l_linenumber"),
          lit(64L)) === 0L)
        .groupBy($"l_orderkey").agg(count(lit(1)).as("c"))
        .agg(max($"c").as("hot"), sum($"c").as("tot"))
        .collect()(0)
      val p = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      if (row.isNullAt(1) || row.getLong(1) == 0L) 2
      else {
        val hotShare = row.getLong(0).toDouble / row.getLong(1)
        math.max(2, math.min(64, math.ceil(hotShare * p).toInt))
      }
    }).intValue()

  private val joinSkewSalted = Q(
    "join_skew_salted",
    (s, d) => {
      import s.implicits._
      val S = saltedS(s, d)
      // salt from a hash of a non-key column: l_linenumber itself is
      // 1..7, which would leave salt 0 forever empty (S−1 spread and a
      // dead dim replica). The salt never reaches the output, so the
      // engine-internal xxhash64 is fine here.
      val fact = t(s, d, "lineitem")
        .select($"l_orderkey", $"l_extendedprice",
          pmod(xxhash64($"l_partkey", $"l_linenumber"), lit(S.toLong)).cast("int").as("salt"))
      val dim = t(s, d, "orders")
        .select($"o_orderkey", $"o_orderpriority",
          explode(array((0 until S).map(lit(_)): _*)).as("salt"))
      fact.join(dim, $"l_orderkey" === $"o_orderkey" && fact("salt") === dim("salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), moneySum($"l_extendedprice").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some("SELECT o_orderpriority, count(*) AS cnt, " +
      OSql.msum("l_extendedprice") + " AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "GROUP BY 1 ORDER BY 1"))

  /** Bucketed co-located join — the zero-shuffle storage layout. Both
    * sides are written CLUSTERED BY the join key into the same bucket
    * count, so the join's children already satisfy its distribution
    * requirement and Catalyst plans a SortMergeJoin with NO Exchange on
    * either side (pinned in PlanSpec). At 100 TB this is THE pattern
    * for a fact table joined repeatedly on one key: pay the bucketed
    * write once, skip the dominant shuffle on every subsequent join.
    * Scratch tables live in [[TmpDirs]] locations and are dropped in a
    * finally — nothing leaks into the caller's catalog.
    */
  /** Stage both join sides as bucketed scratch tables, run `f` on the
    * co-located join, then drop the tables — exposed so PlanSpec can
    * pin the shuffle-free plan inside the tables' lifetime.
    */
  private[graft] def withBucketedJoin[T](s: SparkSession, d: String)(
      f: DataFrame => T): T = {
    import s.implicits._
    // UUID-suffixed names: never collides with (or drops!) a table the
    // caller's externally-built session may own, and concurrent
    // invocations IN THIS JVM cannot race on create/insert/drop.
    // The graft_bkt_ prefix is the engine's reserved scratch namespace:
    // entries left by a hard-crashed previous run (its finally never
    // ran) are swept ONCE per JVM. Like withShufflePartitions, this
    // relies on the single-threaded driver contract (SURVEY §1): the
    // CAS makes the sweep run once, but it does NOT fence a concurrent
    // same-JVM invocation racing past the CAS and creating its scratch
    // tables while the sweep is still enumerating — sequential callers
    // can only ever expose true orphans from a dead process to it.
    // Same assumption across processes: one driver per metastore at a
    // time (the engine's deployment model); two drivers sharing a
    // persistent metastore could sweep each other's in-flight scratch
    // tables at startup, so a multi-driver deployment should disable
    // the sweep and garbage-collect the namespace out of band.
    if (orphanSweepDone.compareAndSet(false, true)) {
      s.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_bkt_"))
        .foreach(tbl => s.sql(s"DROP TABLE IF EXISTS ${tbl.name}"))
    }
    val run = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ta, tb) = (s"graft_bkt_lineitem_$run", s"graft_bkt_orders_$run")
    try {
      s.sql(s"CREATE TABLE $ta (l_orderkey BIGINT, l_extendedprice DOUBLE) " +
        s"USING PARQUET CLUSTERED BY (l_orderkey) INTO 8 BUCKETS " +
        s"LOCATION '${TmpDirs.dir("bkt-lineitem")}'")
      s.sql(s"CREATE TABLE $tb (o_orderkey BIGINT, o_orderpriority STRING) " +
        s"USING PARQUET CLUSTERED BY (o_orderkey) INTO 8 BUCKETS " +
        s"LOCATION '${TmpDirs.dir("bkt-orders")}'")
      t(s, d, "lineitem").select($"l_orderkey", $"l_extendedprice")
        .write.mode("overwrite").insertInto(ta)
      t(s, d, "orders").select($"o_orderkey", $"o_orderpriority")
        .write.mode("overwrite").insertInto(tb)
      // merge hint: the pattern targets LARGE×LARGE (a broadcastable
      // side wouldn't need bucketing) — pin SMJ so the zero-exchange
      // shape is the one demonstrated at every test scale factor
      f(s.table(ta).hint("merge").join(s.table(tb), $"l_orderkey" === $"o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), moneySum($"l_extendedprice").as("revenue"))
        .orderBy("o_orderpriority"))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $ta")
      s.sql(s"DROP TABLE IF EXISTS $tb")
    }
  }

  private val joinBucketed = Q(
    "join_bucketed",
    // materialize inside the tables' lifetime (the catalog cleanup in
    // the finally runs before the caller consumes the DataFrame)
    (s, d) => withBucketedJoin(s, d)(Cut(_, "bucketed-join", s"$d/lineitem.parquet")),
    Some("SELECT o_orderpriority, count(*) AS cnt, " +
      OSql.msum("l_extendedprice") + " AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "GROUP BY 1 ORDER BY 1"))

  /** The deterministic keyed changelog shared by `cdc_upsert` and
    * `cdc_scd2`: over the orders snapshot, every 10th key gets a +10%
    * reprice at v1 and every 17th a delete at v2. Derived from the
    * snapshot itself so both engines build the identical change stream.
    */
  private def cdcChangeLog(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = t(s, d, "orders")
      .select($"o_orderkey".as("key"), $"o_totalprice".as("price"),
        $"o_orderstatus".as("status"), lit(0L).as("ver"), lit("U").as("op"))
    val repriced = base.filter($"key" % 10 === 0)
      .select($"key", ($"price" * lit(1.1)).as("price"), $"status",
        lit(1L).as("ver"), lit("U").as("op"))
    val deletes = base.filter($"key" % 17 === 0)
      .select($"key", $"price", $"status", lit(2L).as("ver"), lit("D").as("op"))
    base.unionByName(repriced).unionByName(deletes)
  }

  /** DuckDB spelling of [[cdcChangeLog]] — the shared CTE prefix ends
    * with `chg`, the full change stream.
    */
  private val cdcLogSql =
    "WITH base AS (SELECT o_orderkey AS key, o_totalprice AS price, " +
      "o_orderstatus AS status, 0 AS ver, 'U' AS op FROM orders), " +
      "rep AS (SELECT key, price * 1.1 AS price, status, 1 AS ver, 'U' AS op " +
      "FROM base WHERE key % 10 = 0), " +
      "del AS (SELECT key, price, status, 2 AS ver, 'D' AS op " +
      "FROM base WHERE key % 17 = 0), " +
      "chg AS (SELECT * FROM base UNION ALL SELECT * FROM rep UNION ALL SELECT * FROM del)"

  /** CDC upsert (MERGE semantics): apply a keyed changelog (updates +
    * deletes, versioned) over a base snapshot — latest version wins,
    * deletes drop the key. The changelog is [[cdcChangeLog]]. The merge
    * is the standard shuffle-once window idiom: union base+changes,
    * row_number per key by version desc, keep rn=1 non-deletes — at
    * scale this is one hash-partition by key over base∪Δ, the same
    * shape a foreachBatch MERGE INTO sink executes incrementally.
    */
  private val cdcUpsert = Q(
    "cdc_upsert",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"key").orderBy($"ver".desc)
      cdcChangeLog(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1 && $"op" =!= "D")
        .groupBy("status")
        .agg(count(lit(1)).as("cnt"), moneySum($"price").as("total_price"))
        .orderBy("status")
    },
    Some(cdcLogSql + ", " +
      "merged AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY ver DESC) AS rn " +
      "FROM chg) " +
      "SELECT status, count(*) AS cnt, " + OSql.msum("price") + " AS total_price " +
      "FROM merged WHERE rn = 1 AND op <> 'D' GROUP BY 1 ORDER BY 1"))

  /** SCD type-2 history build — the other half of CDC: instead of
    * keeping only the latest version (`cdc_upsert`), every version
    * becomes a validity interval [valid_from, valid_to) with the open
    * interval flagged current; a delete closes the key's last interval
    * and leaves no current row. One window over the version order per
    * key derives `valid_to` as lead(ver) — at 100 TB this is a single
    * hash-partition by key over the change stream, the exact shuffle a
    * MERGE-based SCD2 maintenance job pays, and the key-predicate
    * (changed keys only) pushes BELOW the window because it filters the
    * partition column, so unchanged keys never enter the shuffle.
    * Emitted: the full interval history of every changed key (unchanged
    * keys are trivially one open interval).
    */
  private val cdcScd2 = Q(
    "cdc_scd2",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"key").orderBy($"ver")
      cdcChangeLog(s, d)
        .withColumn("valid_to", lead($"ver", 1).over(w))
        .filter($"op" === "U" && ($"key" % 10 === 0 || $"key" % 17 === 0))
        .select($"key", $"ver".as("valid_from"), $"valid_to",
          dround($"price", 2).as("price"), $"status",
          $"valid_to".isNull.as("is_current"))
        .orderBy("key", "valid_from")
    },
    Some(cdcLogSql + ", " +
      "iv AS (SELECT key, CAST(ver AS BIGINT) AS valid_from, " +
      "CAST(lead(ver) OVER (PARTITION BY key ORDER BY ver) AS BIGINT) AS valid_to, " +
      "price, status, op FROM chg) " +
      "SELECT key, valid_from, valid_to, " +
      OSql.sround("price", 2) + " AS price, status, " +
      "(valid_to IS NULL) AS is_current " +
      "FROM iv WHERE op = 'U' AND (key % 10 = 0 OR key % 17 = 0) " +
      "ORDER BY key, valid_from"))

  /** CSV source (the last cell of the format matrix: parquet, JSON,
    * gzip NDJSON, CSV). Events are staged as RFC-4180 CSV — explicit
    * escape='"' so embedded quotes in the JSON `props` column
    * round-trip (Spark's default backslash escaping is NOT RFC CSV) —
    * then read back with an explicit schema (no inference scan) and
    * aggregated, `props` re-parsed from the quoted cell. The oracle
    * restates the aggregation over the parquet archive: the hash match
    * proves the CSV round trip — quoting, doubles
    * (shortest-round-trip), nested JSON — is lossless.
    */
  private val scanCsv = Q(
    "scan_csv",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val dir = TmpDirs.dir("events-csv")
      Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type", $"value", $"ms", $"props")
        .write.mode("overwrite").option("escape", "\"").csv(dir)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("ms", LongType), StructField("props", StringType)))
      s.read.schema(schema).option("escape", "\"").csv(dir)
        .select($"event_type", $"value",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum($"k").as("sum_k"),
          moneySum($"value").as("total_value"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, count(*) AS cnt, " +
      "CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k, " +
      OSql.msum("value") + " AS total_value " +
      "FROM events GROUP BY event_type ORDER BY event_type"))

  /** Heavy hitters via the native Misra-Gries
    * `TypedImperativeAggregate` ([[graft.functions.HeavyHitters]]):
    * the sketch pass PROPOSES candidate tokens in one O(capacity)-state
    * ObjectHashAggregate scan (no groupBy shuffle of the token
    * universe), then the DISPOSE pass re-counts ONLY the ≤capacity
    * candidates exactly (broadcast semi-join, then a partial+final agg
    * over a capacity-bounded key set).
    *
    * Two-scan trade, stated deliberately: the sketch pass and the
    * recount pass EACH scan+explode the corpus. Materializing the
    * tokenized relation once to share the explode would replace two
    * column-pruned, codegen'd passes over the (compressed) corpus with
    * one write plus two reads of the token relation — which is LARGER
    * than the corpus it came from (one row per token, uncompressed
    * strings), and measured on this engine such corpus-sized
    * materialization loses to recompute (see the gramRows note,
    * LlmPipeline.scala). Two scans of the source is the cheaper plan at
    * every scale factor tested and the cheaper IO at 100 TB.
    *
    * The declared result is the SUPPORT-THRESHOLD set — every token
    * with exact count·65 > n (frequency above n/(capacity+1)) — because
    * that is precisely what Misra-Gries guarantees survives any
    * partition split and merge order: the sketch can MISS nothing above
    * the threshold (completeness), and the exact re-count discards the
    * below-threshold survivors (soundness). A "top-k" contract would be
    * unsound — rank k can sit below the threshold on a flat
    * distribution and get evicted. The threshold test is exact integer
    * arithmetic (cnt·65 > n), identical in both engines. At 100 TB this
    * is the point: the exact groupBy's shuffle carries the whole token
    * universe; the sketch's shuffle carries #partitions × 64 entries,
    * and n comes from the same single scan.
    */
  private val aggHeavyHitters = Q(
    "agg_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val tok = t(s, d, "documents")
        .select(explode(split($"text", " ")).as("token"))
      // one scan: total token count n AND the sketch's candidate set
      val sk = tok.agg(count(lit(1)).as("n"),
        graft.functions.HeavyHitters.sketch(s, $"token", 64).as("cand"))
      val cands = sk.select($"n", explode($"cand").as("token"))
      tok.join(broadcast(cands), "token")
        .groupBy("token", "n")
        .agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * lit(65L) > $"n")
        .select($"token", $"cnt")
        .orderBy($"cnt".desc, $"token".asc)
    },
    Some("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
      "tot AS (SELECT count(*) AS n FROM tok) " +
      "SELECT token, count(*) AS cnt FROM tok, tot GROUP BY token, n " +
      "HAVING count(*) * 65 > n ORDER BY cnt DESC, token ASC"))

  /** Binned interval join — the scale path for range predicates. The
    * naive plan for `point BETWEEN lo AND hi` is a broadcast
    * nested-loop join: every point row is tested against every interval
    * (O(|P|·|I|) comparisons — at 100 TB the scan never ends). Binning
    * turns it into an EQUI-join: points get `bin = floor(p / W)`,
    * intervals are replicated to every bin they overlap (width == W ⇒
    * exactly 2 rows each, the bounded-replication invariant), the join
    * runs hash-partitioned on `bin`, and the exact BETWEEN is re-checked
    * on the ≤2-bin candidate set. Membership is decided ONLY by the
    * exact predicate, so bin-boundary float behavior cannot change the
    * answer — the oracle is the naive theta join, and the hash match
    * proves binning changed the plan, not the result.
    *
    * The interval side is a SIZE-DERIVED probe set: modulus
    * 97 · max(1, round(|orders| / 15000)) keeps ~155 probe intervals
    * at every SF (and exactly the historical 97 at the sf0.01 gate and
    * below). A fixed modulus makes BOTH join sides data-scaled over a
    * FIXED bin domain (prices don't grow with SF), so candidate volume
    * — and the declared output itself — grows as N²/|bins|: the first
    * 100-key sf10 sweep measured exactly that, 98.7× for 10× data.
    * That quadratic is the STATISTIC's, not the plan's; the production
    * shape of a range join at scale is probes × archive, which is what
    * the derived modulus pins (scan-linear: the lineitem side still
    * scans and shuffles fully).
    */
  private val joinRangeBinned = Q(
    "join_range_binned",
    (s, d) => {
      import s.implicits._
      val W = 2000.0
      val orders = t(s, d, "orders")
      // 1-row scalar agg (the index_append maxId discipline): the
      // probe-set modulus is a pure function of the corpus size, and
      // the oracle derives the identical value from the same count
      val nOrd = orders.agg(count(lit(1))).head.getLong(0)
      val m = 97L * math.max(1L, math.round(nOrd / 15000.0))
      val iv = orders
        .filter($"o_orderkey" % m === 0)
        .select($"o_orderkey", ($"o_totalprice" - 1000.0).as("lo"),
          ($"o_totalprice" + 1000.0).as("hi"))
        // interval width == bin width ⇒ floor(hi/W) == floor(lo/W) + 1
        // always: replication is exactly 2×, independent of data
        .withColumn("bin", explode(sequence(floor($"lo" / W), floor($"hi" / W))))
      t(s, d, "lineitem")
        .select($"l_extendedprice".as("p"), floor($"l_extendedprice" / W).as("bin"))
        .join(iv, "bin")
        .filter($"p" >= $"lo" && $"p" <= $"hi")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("cnt"), moneySum($"p").as("matched_price"))
        .orderBy("o_orderkey")
    },
    Some("WITH m AS (SELECT 97 * greatest(1, CAST(round(count(*) / 15000.0, 0) " +
      "AS BIGINT)) AS mv FROM orders) " +
      "SELECT o_orderkey, count(*) AS cnt, " +
      OSql.msum("l_extendedprice") + " AS matched_price " +
      "FROM orders JOIN lineitem " +
      "ON l_extendedprice BETWEEN o_totalprice - 1000.0 AND o_totalprice + 1000.0 " +
      "WHERE o_orderkey % (SELECT mv FROM m) = 0 GROUP BY 1 ORDER BY 1"))

  /** Z-order (Morton) clustering — the multi-dimensional data-layout
    * technique behind file-skipping indexes: quantize each dimension to
    * 4 bits, interleave the bits arithmetically (no engine-specific bit
    * ops, so the oracle reproduces the code exactly), and cluster rows
    * by z-cell. The per-cell min/max bounds this query emits ARE the
    * payoff being demonstrated: after a z-ordered write, every file's
    * footer stats bound BOTH dimensions tightly, so a 2-D predicate
    * prunes files on either column — a 1-D sort gives tight bounds on
    * one dimension only. At 100 TB the write path is
    * `repartitionByRange(zcode).sortWithinPartitions(zcode)` before the
    * parquet write; this operator verifies the zcode math and the
    * locality it buys, hash-checked against the identical arithmetic in
    * the oracle.
    */
  private val zorderCluster = {
    // bit-interleave via pure integer arithmetic; `div` is the dialect's
    // integer-division token (Spark `DIV`, DuckDB `//`)
    def interleave(div: String): String =
      (0 until 4).map { i =>
        val b = 1L << i
        s"((qx $div $b) % 2) * ${1L << (2 * i + 1)} + ((qy $div $b) % 2) * ${1L << (2 * i)}"
      }.mkString(" + ")
    Q(
      "zorder_cluster",
      (s, d) => {
        import s.implicits._
        t(s, d, "part")
          .select($"p_size", $"p_retailprice",
            // p_size 1..50 → 0..15; p_retailprice 900..1000 → 0..15
            expr("((p_size - 1) * 16) DIV 50").as("qx"),
            expr("LEAST(GREATEST(CAST(FLOOR((p_retailprice - 900.0) / 6.25) AS BIGINT), 0), 15)").as("qy"))
          .withColumn("zcell", expr(s"(${interleave("DIV")}) DIV 16"))
          .groupBy("zcell")
          .agg(count(lit(1)).as("cnt"),
            min($"p_size").as("min_size"), max($"p_size").as("max_size"),
            min($"p_retailprice").as("min_price"), max($"p_retailprice").as("max_price"))
          .orderBy("zcell")
      },
      Some("WITH b AS (SELECT p_size, p_retailprice, " +
        "((p_size - 1) * 16) // 50 AS qx, " +
        "LEAST(GREATEST(CAST(FLOOR((p_retailprice - 900.0) / 6.25) AS BIGINT), 0), 15) AS qy " +
        "FROM part), " +
        s"z AS (SELECT p_size, p_retailprice, (${interleave("//")}) // 16 AS zcell FROM b) " +
        "SELECT zcell, count(*) AS cnt, " +
        "min(p_size) AS min_size, max(p_size) AS max_size, " +
        "min(p_retailprice) AS min_price, max(p_retailprice) AS max_price " +
        "FROM z GROUP BY 1 ORDER BY 1"))
  }

  /** Date-partitioned archive scan with partition pruning — the
    * reference's defining A1 behavior (SURVEY §2.1 A1, §4.2): replay
    * only the time range asked for by LISTING only its keys, never
    * touching the rest of the archive. The reference scopes its object
    * listing to `YYYY/MM/DD/HH` prefixes; the Spark-native spelling is
    * a Hive-partitioned directory tree (`dt=YYYY-MM-DD/`) where the
    * time-range predicate becomes a PARTITION FILTER resolved against
    * directory names at planning time — the 7-day query below reads 7
    * of the 30 day-directories and the other 23 are never opened (file
    * count pinned in PlanSpec). At 100 TB this is the single biggest
    * scan-cost lever: "replay yesterday" out of years of archive costs
    * one day's IO, not a full scan with a post-filter. The oracle
    * restates the same predicate over the flat events table — the hash
    * match proves pruning changed the IO, not the answer.
    */
  /** Cached per source dir per JVM (IndexCache, so the cold write is
    * attributed to `index_staging`): the partitioned tree is the
    * archive's INGEST LAYOUT — written once when the data lands, then
    * amortized over every pruned scan/replay after (four keys and two
    * plan pins read it). The tree is treated read-only by every
    * consumer.
    */
  private[graft] def stageTimePartitioned(s: SparkSession, d: String): String =
    graft.core.IndexCache.dir(s"events-dt|$d") {
      import s.implicits._
      val dir = TmpDirs.dir("events-dt")
      // At scale this write is the archive's ingest layout decision:
      // partitionBy(dt) so every downstream time-ranged replay prunes.
      Tables.events(s, d)
        .withColumn("dt", date_format(timestamp_millis($"ms"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("dt").parquet(dir)
      dir
    }

  /** The time-ranged read over the staged tree ("replay week 2 of the
    * month"); split out so PlanSpec can pin the pruned partition count
    * on the same DataFrame the key executes.
    */
  private[graft] def timePartitionedRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(dir)
      // dt is a DATE partition column (directory-name type inference);
      // the string literals cast to date, and the predicate is resolved
      // against partition VALUES at planning time — a partition filter,
      // not a data filter.
      .filter($"dt" >= "2024-01-08" && $"dt" <= "2024-01-14")
      .groupBy($"dt".cast("string").as("dt"), $"event_type")
      .agg(count(lit(1)).as("cnt"), moneySum($"value").as("total_value"))
      .orderBy("dt", "event_type")
  }

  private val scanTimePartitioned = Q(
    "scan_time_partitioned",
    (s, d) => {
      import s.implicits._
      // an empty archive writes no partition directories — nothing to
      // infer a schema from on the read side
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(String, String, Long, Double)]
          .toDF("dt", "event_type", "cnt", "total_value")
      else timePartitionedRead(s, stageTimePartitioned(s, d))
    },
    Some("SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, count(*) AS cnt, " +
      OSql.msum("value") + " AS total_value FROM events " +
      "WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14' " +
      "GROUP BY 1, 2 ORDER BY 1, 2"))

  /** Join-driven DYNAMIC partition pruning over the same archive tree —
    * the 100 TB star-join sibling of `scan_time_partitioned`'s static
    * range. There the pruning predicate is a literal the planner
    * resolves against directory names; here it is NOT known at plan
    * time: the replay is scoped by a campaign calendar (a dimension
    * table), "replay the days campaign 2 ran". Spark's DPP turns the
    * broadcast join's build side into a runtime partition filter on the
    * fact scan (`dynamicpruningexpression` reusing the broadcast — zero
    * extra jobs), so only the 6 of 30 day-directories whose dt survives
    * the dim filter are ever listed or read (pinned in PlanSpec). This
    * is the shape every 100 TB fact-to-dimension replay query needs:
    * the IO is bounded by the dimension's selectivity even though no
    * literal date range exists in the query text. The oracle restates
    * the join over the flat events table — the hash match proves DPP
    * changed the IO, not the answer.
    */
  private[graft] def dppRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The campaign calendar: one row per archive day, campaign id
    // derived deterministically from the day-of-month so both engines
    // build the identical dimension. Cut to its own relation (a
    // genuine filterable dim scan, not a foldable local relation).
    val dim = Cut(s.read.parquet(dir).select($"dt").distinct()
      .select($"dt", (dayofmonth($"dt") % 5).cast("int").as("campaign")), "dpp-dim", dir)
    s.read.parquet(dir)
      .join(dim.filter($"campaign" === 2).select("dt"), Seq("dt"))
      .groupBy($"dt".cast("string").as("dt"), $"event_type")
      .agg(count(lit(1)).as("cnt"), moneySum($"value").as("total_value"))
      .orderBy("dt", "event_type")
  }

  private val scanDppJoin = Q(
    "scan_dpp_join",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(String, String, Long, Double)]
          .toDF("dt", "event_type", "cnt", "total_value")
      else dppRead(s, stageTimePartitioned(s, d))
    },
    Some("WITH f AS (SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, value " +
      "FROM events), " +
      "dim AS (SELECT dt FROM (SELECT DISTINCT dt FROM f) " +
      "WHERE date_part('day', CAST(dt AS DATE)) % 5 = 2) " +
      "SELECT dt, event_type, count(*) AS cnt, " + OSql.msum("value") +
      " AS total_value FROM f JOIN dim USING (dt) GROUP BY 1, 2 ORDER BY 1, 2"))

  /** Runtime BLOOM-FILTER join pruning — the sibling of DPP for
    * non-partition columns: in a large×large shuffle join where one
    * side carries a selective filter, Spark's InjectRuntimeFilter
    * builds a bloom filter over the filtered side's join keys (a
    * one-pass `bloom_filter_agg` subquery) and pushes a `might_contain`
    * probe into the OTHER side's scan — rows that cannot join are
    * dropped at the scan instead of being shuffled. At 100 TB this is
    * the difference between shuffling the whole fact table and
    * shuffling the ~selectivity fraction that can match. The driver's
    * test tables sit under the feature's size thresholds (it is tuned
    * for real clusters), so the helper scopes the thresholds down and
    * pins broadcast off — the technique is the plan change, and the
    * oracle (the plain join) proves the bloom filter dropped no row it
    * shouldn't: false positives only, never false negatives.
    *
    * Execution happens INSIDE the conf scope ([[Cut]], the
    * join_bucketed pattern) because runtime-filter injection runs at
    * optimization time — a lazily returned plan would optimize after
    * the confs were restored.
    */
  private[graft] def withRuntimeFilterJoin[T](s: SparkSession, d: String)(
      f: DataFrame => T): T = {
    import s.implicits._
    val scoped = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = scoped.map { case (k, _) => k -> s.conf.getOption(k) }
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val dim = t(s, d, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey", $"o_orderpriority")
      val df = t(s, d, "lineitem")
        .select($"l_orderkey", $"l_extendedprice")
        .join(dim, $"l_orderkey" === $"o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), moneySum($"l_extendedprice").as("revenue"))
        .orderBy("o_orderpriority")
      f(df)
    } finally saved.foreach { case (k, ov) =>
      ov.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  private val joinRuntimeFilter = Q(
    "join_runtime_filter",
    (s, d) => withRuntimeFilterJoin(s, d)(Cut(_, "runtime-filter-join", s"$d/lineitem.parquet")),
    Some("SELECT o_orderpriority, count(*) AS cnt, " +
      OSql.msum("l_extendedprice") + " AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE o_orderpriority = '1-URGENT' GROUP BY 1 ORDER BY 1"))

  /** AQE SKEW-JOIN split — the AUTOMATIC cousin the salted join's
    * scaladoc names: a hot key is manufactured (30% of the fact
    * collapses onto key 0), the join is forced to sort-merge, and
    * Spark's OptimizeSkewedJoin — seeing the runtime shuffle statistics
    * — splits the oversized partition into advisory-sized chunks while
    * replicating the matching dim rows, so the hot key runs as N
    * parallel tasks instead of one straggler (SortMergeJoin(skew=true),
    * pinned in PlanSpec). Thresholds are scoped down the same way
    * `join_runtime_filter` scopes its feature (the defaults target
    * cluster-sized shuffles) and restored in a finally. The dim side is
    * the DISTINCT key set so the join is semantically a no-op — the
    * oracle aggregates the mapped fact directly, proving the runtime
    * re-plan changed the task layout, not the answer. Salting
    * (explicit, engine-independent) and AQE (automatic, stats-driven)
    * are the two production answers to skew; the engine now declares
    * and verifies both.
    *
    * Two test-scale accommodations, both mirroring real 100 TB shape
    * rather than faking it: (1) AQE splits a skewed REDUCE partition by
    * mapper-index ranges, so it physically cannot split a partition fed
    * by one mapper — and a sub-MB parquet fixture scans as one map
    * task. The `repartition(16)` stands in for the thousands of scan
    * tasks a real archive produces (at cluster scale the repartition is
    * unnecessary and would be dropped). (2) The skew thresholds are
    * scoped to KB sizes because the detector compares COMPRESSED
    * shuffle bytes against them; the defaults (256 MB) describe real
    * shuffles.
    */
  private[graft] def withSkewAqeJoin[T](s: SparkSession, d: String)(
      f: DataFrame => T): T = {
    import s.implicits._
    // Thresholds DERIVED from the fact archive's on-disk size instead
    // of fixed KB constants: the detector compares COMPRESSED shuffle
    // bytes, and a fixed 2 KB advisory size that carves a sub-MB
    // fixture's hot partition into a handful of splits carves a 10×/
    // 100× corpus's shuffle into tens of thousands of micro-tasks —
    // the measured sf1→sf10 7.75× was mostly scheduler overhead from
    // exactly that. Dividing by a fixed fan-out keeps the POST-SPLIT
    // task count roughly scale-invariant (the hot partition is ~30% of
    // the shuffle, so ~bytes/advisory ≈ 160 splits at every SF) while
    // reproducing the historical sub-MB behavior via the floors.
    val factBytes = math.max(1L, Tables.dirBytes(s"$d/lineitem.parquet"))
    val thrB = math.max(4L << 10, factBytes / 2560)
    val advB = math.max(2L << 10, factBytes / 5120)
    val minB = math.max(1L << 10, factBytes / 10240)
    val scoped = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> s"${thrB}b",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${advB}b",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> s"${minB}b",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = scoped.map { case (k, _) => k -> s.conf.getOption(k) }
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val fact = t(s, d, "lineitem")
        .select(when($"l_orderkey" % 10 < 3, 0L).otherwise($"l_orderkey").as("k"),
          $"l_extendedprice")
        .repartition(16)
      // materialized so the join-side shuffle is a bare ENSURE_REQUIREMENTS
      // exchange: OptimizeSkewedJoin only matches SMJ(Sort(stage),
      // Sort(stage)), and the distinct's post-shuffle HashAggregate would
      // otherwise sit between the Sort and the stage and mask the skew
      val dim = Cut(fact.select($"k").distinct()
        .withColumn("grp", pmod($"k", lit(5L))), "skew-dim", s"$d/lineitem.parquet")
      val df = fact.join(dim, "k")
        .groupBy("grp")
        .agg(count(lit(1)).as("cnt"), moneySum($"l_extendedprice").as("revenue"))
        .orderBy("grp")
      f(df)
    } finally saved.foreach { case (k, ov) =>
      ov.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  private val joinSkewAqe = Q(
    "join_skew_aqe",
    (s, d) => withSkewAqeJoin(s, d)(Cut(_, "skew-join", s"$d/lineitem.parquet")),
    Some("WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0 " +
      "ELSE l_orderkey END AS k, l_extendedprice FROM lineitem) " +
      "SELECT k % 5 AS grp, count(*) AS cnt, " +
      OSql.msum("l_extendedprice") + " AS revenue " +
      "FROM f GROUP BY 1 ORDER BY 1"))

  /** ORC cell of the format matrix (parquet, JSON, gzip NDJSON, CSV,
    * ORC): events staged as ORC and read back THROUGH a predicate, so
    * the scan exercises ORC's row-group statistics pushdown — the same
    * PushedFilters machinery the parquet path pins, over the other
    * major columnar archive format a replay engine meets in the wild.
    * The oracle restates the aggregation over the parquet archive: the
    * hash match proves the ORC round trip (doubles, longs, strings) is
    * lossless.
    */
  private val scanOrc = Q(
    "scan_orc",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(String, Long, Double)].toDF("event_type", "cnt", "total_value")
      else {
        val dir = TmpDirs.dir("events-orc")
        Tables.events(s, d)
          .select($"event_id", $"user_id", $"event_type", $"value", $"ms")
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .filter($"value" >= 10.0)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), moneySum($"value").as("total_value"))
          .orderBy("event_type")
      }
    },
    Some("SELECT event_type, count(*) AS cnt, " + OSql.msum("value") +
      " AS total_value FROM events WHERE value >= 10.0 GROUP BY 1 ORDER BY 1"))

  /** GLOBAL rank at fact scale — the two-phase spelling the global-
    * window scaladocs (Windows.scala) promise, implemented as a key:
    * `Window.orderBy` without partitionBy funnels the whole relation
    * through ONE partition; this plan never does. Phase 1: range-
    * repartition by the sort key + sort within partitions — rows are
    * now globally ordered across partition boundaries, and
    * `monotonically_increasing_id` encodes (partition, local row
    * offset) for free, so the LOCAL rank is pure arithmetic on the id
    * (no window function at all — pinned in PlanSpec). Phase 2: per-
    * partition counts (P rows) roll into cumulative offsets, broadcast
    * back, and global rank = local rank + partition offset. Total cost:
    * ONE range shuffle of the fact + a P-row aggregate — the plan shape
    * a 1000-executor global rank needs. The range boundaries are
    * sampled (non-deterministic between runs), so the id table is
    * cut once ([[Cut]]) and both phases read the SAME
    * partitioning; the final rank is boundary-invariant because the
    * sort key (price, orderkey) is unique. Oracle: the plain global
    * row_number — the hash match proves the two-phase plan is a pure
    * plan change.
    */
  /** Phase 1 of [[windowRankDistributed]] before its lineage cut —
    * split out so PlanSpec can pin the range exchange (the cut
    * severs the executed plan, hiding phase 1 from the final query's
    * plan text).
    */
  private[graft] def rankIdsPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Windows.rankIds(t(s, d, "orders").select($"o_orderkey", $"o_totalprice"),
      $"o_totalprice".desc, $"o_orderkey".asc)
  }

  private val windowRankDistributed = Q(
    "window_rank_distributed",
    (s, d) => {
      import s.implicits._
      val ids = Cut(rankIdsPlan(s, d), "rank-ids", s"$d/orders.parquet")
      // cumulative offsets over the P partition counts — the broadcast
      // prefix-sum theta-join (no WindowExec even on the P-row ledger)
      val offs = Windows.prefixOffsets(
        ids.groupBy("pid").agg(count(lit(1)).as("n")), "pid")
      ids.join(broadcast(offs), "pid")
        .select($"o_orderkey", $"o_totalprice",
          ($"lrn" + $"off").cast("long").as("rnk"))
        .orderBy("rnk")
        .limit(1000)
    },
    Some("SELECT o_orderkey, o_totalprice, " +
      "CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk " +
      "FROM orders ORDER BY rnk LIMIT 1000"))

  /** Schema evolution across the archive — the real-world reader
    * concern every long-lived archive hits: the producer added a field
    * mid-stream, so early objects lack a column late objects carry.
    * The archive is staged in two "eras" (even event_ids in the v1
    * schema; odd event_ids with an appended `schema_ver` column) and
    * read back with `mergeSchema` — parquet's per-file schema
    * reconciliation surfaces the missing column as NULL for v1-era
    * rows instead of failing the scan or silently dropping the field.
    * At 100 TB mergeSchema's footer-union cost is why production
    * archives carry an explicit evolved schema in a catalog; the READ
    * semantics verified here (old rows → NULL, new rows → value) are
    * identical either way. The oracle restates the era rule over the
    * flat table — the hash match proves the evolved read is lossless
    * in both directions.
    */
  private val scanSchemaMerge = Q(
    "scan_schema_merge",
    (s, d) => {
      import s.implicits._
      val dir = TmpDirs.dir("events-drift")
      val ev = Tables.events(s, d)
        .select($"event_id", $"event_type", $"value")
      ev.filter($"event_id" % 2 === 0)
        .write.mode("overwrite").parquet(dir)
      ev.filter($"event_id" % 2 === 1)
        .withColumn("schema_ver", lit(2L))
        .write.mode("append").parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(when($"schema_ver".isNull, 1L).otherwise(0L)).cast("long").as("n_v1"),
          sum(when($"schema_ver".isNotNull, 1L).otherwise(0L)).cast("long").as("n_v2"),
          moneySum(when($"schema_ver".isNotNull, $"value")).as("v2_value"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, count(*) AS cnt, " +
      "CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1, " +
      "CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2, " +
      OSql.msum("CASE WHEN event_id % 2 = 1 THEN value END") + " AS v2_value " +
      "FROM events GROUP BY 1 ORDER BY 1"))

  /** Exact distributed percentiles. Spark's `percentile` aggregate
    * carries a per-group value→count map through partial/final
    * aggregation — O(#distinct values) state, which for a bounded
    * domain like quantities (50 distinct) is tiny at ANY corpus size,
    * so exact is the right choice here; `approx_percentile` (KLL-style
    * sketch) is the sibling for unbounded domains. Determinism: the
    * requested fractions are quarters, so the interpolation
    * `lower + (higher − lower) · frac` is EXACT binary arithmetic on
    * integer-valued doubles — both engines compute the identical bit
    * pattern, no rounding shim needed.
    */
  private val aggQuantiles = Q(
    "agg_quantiles",
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          min($"l_quantity").as("q_min"),
          expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("q"),
          max($"l_quantity").as("q_max"))
        .select($"l_returnflag", $"cnt", $"q_min",
          $"q".getItem(0).as("q25"), $"q".getItem(1).as("q50"),
          $"q".getItem(2).as("q75"), $"q_max")
        .orderBy("l_returnflag")
    },
    Some("WITH q AS (SELECT l_returnflag, count(*) AS cnt, " +
      "min(l_quantity) AS q_min, " +
      "quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS q, " +
      "max(l_quantity) AS q_max FROM lineitem GROUP BY 1) " +
      "SELECT l_returnflag, cnt, q_min, q[1] AS q25, q[2] AS q50, q[3] AS q75, q_max " +
      "FROM q ORDER BY 1"))

  /** Approximate distributed percentiles — the unbounded-domain sibling
    * `agg_quantiles`'s scaladoc names. `approx_percentile` carries a
    * bounded KLL-style sketch (state ∝ accuracy, here 1000, NOT ∝
    * #distinct values) through partial/final aggregation, so it is the
    * right choice when the domain grows with the data — prices, not
    * quantities. The sketch's raw outputs are implementation-defined
    * (DuckDB's approx_quantile would never hash-match), so the key
    * HASH-CHECKS the sketch's CONTRACT instead — the own-construction
    * gating pattern of `agg_hll_union`/`sim_ann_recall`: a second scan
    * joins the 3-row approx result back and measures each estimate's
    * TRUE RANK interval [count(<v)+1, count(≤v)] (tie-robust — a run
    * of equal values occupies a rank range, not a point); the emitted
    * boolean pins that interval to within ±2% of the target rank p·n,
    * far outside the sketch's own 1/accuracy = 0.1% guarantee, so a
    * sketch regression flips a boolean and fails the hash while the
    * oracle just states TRUE. Both scans are partial+final aggregates;
    * the rank probe is a broadcast of 3 rows.
    */
  private val aggApproxQuantile = Q(
    "agg_approx_quantile",
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").select($"l_returnflag", $"l_extendedprice")
      val approx = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          count($"l_extendedprice").as("nv"),
          expr("approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 1000)")
            .as("q"))
      def rankOk(p: Double, lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column,
          nv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        nv === 0 ||
          ((lo + 1).cast("double") <= lit(p) * nv + lit(0.02) * nv &&
            hi.cast("double") >= lit(p) * nv - lit(0.02) * nv)
      val probed = li.join(broadcast(approx), "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(max($"cnt").as("cnt"), max($"nv").as("nv"),
          sum(($"l_extendedprice" < $"q".getItem(0)).cast("long")).as("lo25"),
          sum(($"l_extendedprice" <= $"q".getItem(0)).cast("long")).as("hi25"),
          sum(($"l_extendedprice" < $"q".getItem(1)).cast("long")).as("lo50"),
          sum(($"l_extendedprice" <= $"q".getItem(1)).cast("long")).as("hi50"),
          sum(($"l_extendedprice" < $"q".getItem(2)).cast("long")).as("lo75"),
          sum(($"l_extendedprice" <= $"q".getItem(2)).cast("long")).as("hi75"))
      probed.select($"l_returnflag", $"cnt",
        rankOk(0.25, $"lo25", $"hi25", $"nv").as("q25_rank_ok"),
        rankOk(0.50, $"lo50", $"hi50", $"nv").as("q50_rank_ok"),
        rankOk(0.75, $"lo75", $"hi75", $"nv").as("q75_rank_ok"))
        .orderBy("l_returnflag")
    },
    Some("SELECT l_returnflag, count(*) AS cnt, TRUE AS q25_rank_ok, " +
      "TRUE AS q50_rank_ok, TRUE AS q75_rank_ok " +
      "FROM lineitem GROUP BY 1 ORDER BY 1"))

  /** Incremental aggregate maintenance — the materialized-view pattern
    * that makes 100 TB dashboards affordable: per-(day, event_type)
    * PARTIAL aggregates (count + exact decimal sum) are the stored
    * artifact; when a new day of raw data arrives, only ITS partials
    * are computed and the final answer is an algebraic merge of stored
    * ∪ delta — the raw history is never rescanned. Here days with
    * day%4==3 play the newly-arrived delta and the rest the "stored"
    * view state; both read one shared partial aggregate ([[Share]]);
    * the merge is a groupBy over partials whose row count
    * is days×types, not events. Correctness hinges on the partials
    * carrying ALGEBRAIC state — count and exact DECIMAL sums (both
    * engines sum decimals exactly, so merge order cannot matter); avg
    * is derived only at the end. The oracle recomputes from raw — the
    * hash match proves the incremental path is exact, not approximate.
    */
  private val aggIncremental = Q(
    "agg_incremental",
    (s, d) => {
      import s.implicits._
      val partials = Share(Tables.events(s, d)
        .groupBy(expr("ms div 86400000").as("day"), $"event_type")
        .agg(count(lit(1)).as("cnt"), sum($"value".cast(Dec)).as("sval")))
      val stored = partials.filter(!($"day" % 4 === 3))
      val delta = partials.filter($"day" % 4 === 3)
      stored.unionByName(delta)
        .groupBy("event_type")
        .agg(sum($"cnt").cast("long").as("cnt"),
          dround(sum($"sval").cast("double"), 2).as("total_value"),
          dround(sum($"sval").cast("double") / sum($"cnt"), 4).as("avg_value"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, count(*) AS cnt, " +
      OSql.msum("value") + " AS total_value, " +
      OSql.mavg("value") + " AS avg_value " +
      "FROM events GROUP BY 1 ORDER BY 1"))

  /** Small-file compaction — the table-maintenance pass every long-lived
    * 100 TB archive needs: streaming ingest (one file per trigger per
    * shard) leaves thousands of KB-scale files whose per-file open/
    * footer cost eventually dominates scans. The job lists ONLY file
    * metadata (sizes — never data) to size the output at
    * ceil(totalBytes / target), then rewrites with `coalesce(n)` — a
    * shuffle-free narrow repartition, so compaction costs one read +
    * one write and nothing else. Target here is 1 MiB to exercise the
    * sizing math at test scale; production uses 128 MiB (the parquet
    * row-group sweet spot). Returns an exact integrity summary (counts,
    * an exact id checksum, money totals) computed FROM THE COMPACTED
    * OUTPUT; the oracle computes the same summary from the original
    * archive, so the hash match proves the rewrite is lossless.
    * File-count behavior (64 fragments → few) is pinned in
    * ScaleProofSpec via [[compactRun]].
    */
  /** The 64-fragment "small-file problem" tree is FIXTURE — a pure
    * function of the archive — so like the gz archive it is an
    * [[graft.core.IndexCache]] artifact and the timed path measures the
    * compaction job itself: metadata listing + coalesce rewrite +
    * integrity summary.
    */
  private[graft] def compactRun(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    import s.implicits._
    val frag = graft.core.IndexCache.dir(s"compact-frag|$d") {
      val p = TmpDirs.dir("compact-frag")
      Tables.events(s, d).repartition(64).write.mode("overwrite").parquet(p)
      p
    }
    val out = TmpDirs.dir("compact-out")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    def dataFiles(p: String) = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .filter(_.getPath.getName.endsWith(".parquet"))
    val before = dataFiles(frag)
    val targetBytes = 1L << 20
    val nOut = math.max(1, math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
    s.read.parquet(frag).coalesce(nOut).write.mode("overwrite").parquet(out)
    val summary = s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum($"event_id").cast("long").as("sum_id"),
        moneySum($"value").as("total_value"))
      .orderBy("event_type")
    (summary, before.length, dataFiles(out).length)
  }

  private val sinkCompact = Q(
    "sink_compact",
    (s, d) => compactRun(s, d)._1,
    Some("SELECT event_type, count(*) AS cnt, " +
      "CAST(sum(event_id) AS BIGINT) AS sum_id, " +
      OSql.msum("value") + " AS total_value " +
      "FROM events GROUP BY 1 ORDER BY 1"))

  /** scan_binary — the `binaryFile` ingestion surface for opaque
    * multimodal payloads (images/audio land as bytes + metadata; see
    * multimodal_decode for the downstream path). The corpus text is
    * first landed as per-source raw files (partitionBy(source) text
    * sink — the directory layout a media archive has), then re-read
    * through the binaryFile source. The query projects ONLY path +
    * length, so the reader serves pure file-status metadata and never
    * opens file contents — the 100 TB point: manifest queries over a
    * binary lake cost a directory listing, not a read. The oracle
    * restates each source's byte count from the documents table
    * (Σ utf-8 bytes + one newline per row), proving the binary landing
    * is byte-lossless end to end.
    */
  private val scanBinary = Q(
    "scan_binary",
    (s, d) => {
      import s.implicits._
      val dir = TmpDirs.dir("docs-binary")
      Tables.t(s, d, "documents")
        .select($"source", $"text")
        .write.mode("overwrite").partitionBy("source").text(dir)
      // partition discovery turns the source=<v> dirs back into a
      // `source` column — the binary lake is partition-pruned like any
      // other table; the glob skips the sink's _SUCCESS marker.
      val bin = s.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(dir)
      // an EMPTY archive writes no source=<v> dirs, so discovery has no
      // partition column to surface — synthesize the typed column so the
      // manifest query stays schema-stable on zero files
      val withSrc =
        if (bin.columns.contains("source")) bin
        else bin.withColumn("source", lit(null).cast("string"))
      withSrc
        .select($"source", $"length")
        .groupBy("source")
        .agg(sum($"length").cast("long").as("n_bytes"))
        .orderBy("source")
    },
    Some("SELECT source, CAST(SUM(octet_length(encode(text)) + 1) AS BIGINT) AS n_bytes " +
      "FROM documents GROUP BY 1 ORDER BY 1"))

  /** scan_json_multiline — the multiLine cell of the JSON format
    * matrix: a pretty-printed JSON ARRAY file (one document spanning
    * many lines — the API-export/webhook-dump format, NOT splittable
    * line-by-line) staged deterministically from the archive head
    * (event_id < 2000, sorted so the array text is reproducible) and
    * read back with `multiLine=true`, which parses the whole document
    * per file. The per-type ledger + exact cents checksum prove the
    * array round trip lossless; the oracle restates from parquet.
    * Scale note: multiLine JSON is inherently one-task-per-FILE (the
    * document is the split unit) — the honest cost of the format, why
    * archives should prefer NDJSON; the key documents the trade, not
    * hides it.
    */
  private val scanJsonMultiline = Q(
    "scan_json_multiline",
    (s, d) => {
      import s.implicits._
      val dir = TmpDirs.dir("events-mljson")
      Tables.events(s, d)
        .filter($"event_id" < 2000)
        .select(struct($"event_id", $"event_type",
          round($"value" * 100).cast("long").as("c")).as("e"))
        .agg(to_json(sort_array(collect_list($"e"))).as("doc"))
        .coalesce(1)
        .write.mode("overwrite").text(dir)
      // explicit schema: inference over an empty archive ("[]") yields
      // a zero-column frame; schema-on-read keeps the contract stable
      s.read.option("multiLine", "true")
        .schema("c LONG, event_id LONG, event_type STRING")
        .json(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), sum($"c").as("c_sum"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, count(*) AS n_rows, " +
      "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS c_sum " +
      "FROM events WHERE event_id < 2000 GROUP BY 1 ORDER BY 1"))

  /** scan_nested_struct — the NESTED-schema surface: the archive
    * re-staged as parquet with a two-level struct (meta.detail) and an
    * array column, then queried through dot-path projection + explode.
    * Catalyst's nested-schema pruning pushes the projection INTO the
    * scan — reading meta.detail.event_type must not deserialize the
    * sibling cents field (pinned in PlanSpec) — and the generator
    * explode runs over the pruned rows. The per-(type, tag) ledger is
    * restated flat from the original parquet by the oracle, proving
    * the nested round trip lossless.
    */
  private val scanNestedStruct = Q(
    "scan_nested_struct",
    (s, d) => {
      import s.implicits._
      val dir = TmpDirs.dir("events-nested")
      Tables.events(s, d)
        .select($"event_id",
          struct($"user_id",
            struct($"event_type",
              round($"value" * 100).cast("long").as("c")).as("detail"))
            .as("meta"),
          array($"event_type",
            concat(lit("k"), (get_json_object($"props", "$.k").cast("long") % 10)
              .cast("string"))).as("tags"))
        .write.mode("overwrite").parquet(dir)
      // tag is NULL when props.k is missing/non-numeric; the engines
      // disagree on default NULL placement (Spark NULLS FIRST, DuckDB
      // NULLS LAST), so both sides spell it explicitly
      s.read.parquet(dir)
        .select($"meta.detail.event_type".as("t"), explode($"tags").as("tag"))
        .groupBy("t", "tag").agg(count(lit(1)).as("n"))
        .orderBy($"t", $"tag".asc_nulls_first)
    },
    Some("SELECT event_type AS t, tag, count(*) AS n FROM " +
      "(SELECT event_type, unnest([event_type, " +
      "'k' || CAST(CAST(props->>'$.k' AS BIGINT) % 10 AS VARCHAR)]) AS tag " +
      "FROM events) GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST"))

  /** scan_parquet_zstd — the compression-codec cell of the format
    * matrix: the archive rewritten as ZSTD parquet (the modern
    * at-scale default — better ratio than snappy at similar decode
    * cost) and read back through the same pushdown/pruning scan path;
    * ledger + exact cents checksum prove the codec round trip
    * lossless. Codec choice is a storage-layer knob — the plan is
    * identical to the snappy scan, which is the point.
    */
  private val scanParquetZstd = Q(
    "scan_parquet_zstd",
    (s, d) => {
      import s.implicits._
      val dir = TmpDirs.dir("events-zstd")
      Tables.events(s, d)
        .select($"event_id", $"event_type",
          round($"value" * 100).cast("long").as("c"))
        .write.mode("overwrite")
        .option("compression", "zstd").parquet(dir)
      s.read.parquet(dir)
        .filter($"c" >= 1000)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), sum($"c").as("c_sum"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, count(*) AS n_rows, " +
      "CAST(SUM(c) AS BIGINT) AS c_sum FROM " +
      "(SELECT event_type, CAST(round(value*100) AS BIGINT) AS c FROM events) " +
      "WHERE c >= 1000 GROUP BY 1 ORDER BY 1"))

  /** scan_kpl_deaggregate — PRODUCER-AGGREGATED record deaggregation,
    * the last A2/A3 format-fidelity cell: real Kinesis archives
    * frequently hold KPL-style aggregated records — MANY user messages
    * packed into one stream record, each sub-message length-prefixed —
    * yet every other scan treats one archived row as one message. The
    * archive stages deterministically in the real KPL frame shape
    * (batches of ≤8 messages keyed by event_id div 8; frame = the
    * 0xF3899AC2 magic + the `AggregatedRecord` PROTOBUF WIRE BODY + an
    * md5-of-body trailer, messages in event_id order, binary structure
    * text-encoded as hex). The body is genuine tag-delimited protobuf
    * wire format WITH real KPL key deduplication: repeated field-1
    * entries (`partition_key_table`, wire type 2, tag 0x0A) hold the
    * batch's DISTINCT per-message partition keys (each message keys by
    * its event_type; sorted), and each message is a field-3 `Record`
    * submessage (tag 0x1A) carrying field 1 `partition_key_index`
    * (varint, tag 0x08 — the message's 0-based index into the table,
    * NONZERO throughout the archive) and field 3 `data`
    * (length-delimited, tag 0x1A) — all lengths true LEB128 varints
    * counting BINARY bytes. Two planted MALFORMED frames ride along,
    * and the scan DEAGGREGATES with native higher-order functions:
    * frames failing the magic or the md5 integrity check are counted
    * into the dead-letter ledger and dropped (never thrown); an
    * `aggregate` fold walks the tag/varint structure into each good
    * frame's record-offset table, `transform` slices the `data`
    * payloads out, and one explode + from_json yields the message
    * stream. The rollup groups by the RESOLVED WIRE KEY (the record's
    * partition_key_index looked up in the table), so a consumer that
    * ignored nonzero indexes would shuffle counts between groups and
    * fail the hash; a pk-vs-payload mismatch tally is pinned to 0
    * besides. The oracle states COUNT +
    * CHECKSUM CONSERVATION plus the pinned dead-letter count: per-key
    * message counts, event_id sums, and exact cent sums must equal the
    * flat table's — packing and unpacking lost, duplicated, and
    * corrupted nothing, and exactly the two planted frames died.
    *
    * Scale shape: deaggregation is per-ROW arithmetic (no shuffle
    * before the final |types|-row rollup, which collapses map-side);
    * the pack stage's aggregation state is bounded by the batch size
    * (≤8 messages), never by N. Parallelism is file-split-granular
    * exactly like the reference's one-reader-per-archive-file model.
    */
  /** The KPL frame magic, as hex text — the real KPL aggregation magic
    * bytes 0xF3899AC2, in this engine's deterministic text encoding
    * (binary structure carried as hex; message payloads as raw JSON).
    */
  private[graft] val KplMagic = "F3899AC2"

  // --- protobuf wire helpers (hex-text carrier) -----------------------
  // The AggregatedRecord body is true protobuf wire format: every
  // structural byte (tags, LEB128 varints) is carried as 2 hex chars;
  // length-delimited PAYLOADS (partition key, message JSON) are carried
  // raw at 1 char/byte. All varint LENGTHS count BINARY bytes, exactly
  // as on the wire. Two-byte LEB128 covers lengths < 16384 — far above
  // the ≤8-message, ~200-byte-JSON staging envelope.

  /** SQL: LEB128-encode the int expression `x` as hex text. Two-byte
    * LEB128 tops out at 16383; a larger value would LPAD-TRUNCATE into
    * a well-formed-but-wrong frame whose md5 trailer (computed over the
    * already-corrupt body) still validates — so the encoder fails
    * LOUDLY at stage time (`assert_true`) instead of corrupting the
    * archive.
    */
  private def kplVarintEnc(x: String): String =
    s"(case when ($x) < 128 then lpad(hex($x), 2, '0') " +
      s"when ($x) < 16384 then concat(lpad(hex(128 + ($x) % 128), 2, '0'), " +
      s"lpad(hex(($x) div 128), 2, '0')) " +
      s"else cast(assert_true(($x) < 16384, 'kplVarintEnc: value exceeds " +
      s"the 2-byte LEB128 staging envelope') as string) end)"

  /** SQL: the binary byte at 1-based text offset `o` of `body`. */
  private def kplByte(o: String): String =
    s"cast(conv(substring(body, $o, 2), 16, 10) as int)"

  /** SQL: the LEB128 varint VALUE starting at text offset `o`. */
  private def kplVarintVal(o: String): String =
    s"(case when ${kplByte(o)} >= 128 then (${kplByte(o)} - 128) + " +
      s"128 * ${kplByte(s"($o) + 2")} else ${kplByte(o)} end)"

  /** SQL: the LEB128 varint BYTE width (1 or 2) at text offset `o`. */
  private def kplVarintW(o: String): String =
    s"(case when ${kplByte(o)} >= 128 then 2 else 1 end)"

  /** Stage the events archive as KPL aggregated records (see
    * `scan_kpl_deaggregate`) and return the text dir: per record,
    * magic + protobuf `AggregatedRecord` body + md5-of-body trailer,
    * messages in event_id order, ≤8 per record. The body is the real
    * wire layout INCLUDING real KPL key deduplication: each message's
    * partition key is its `event_type`, the batch's DISTINCT keys are
    * deduplicated (sorted) into repeated `partition_key_table` entries
    * (tag 0x0A ‖ varint(len) ‖ key), and each field-3 `Record`
    * submessage (tag 0x1A ‖ varint(record bytes) ‖ [tag 0x08 ‖
    * varint(partition_key_index) — the message's 0-based index INTO
    * the table] ‖ [tag 0x1A ‖ varint(len) ‖ message JSON]) records its
    * own index — batches of 8 consecutive event_ids mix ≥2 of the 5
    * event types, so NONZERO indexes occur throughout the archive and
    * a consumer that assumes index 0 mis-keys most messages. Two
    * deterministic MALFORMED frames (bad magic; bad trailer) ride
    * along whenever the archive is nonempty — the dead-letter fixture
    * every consumer must count and drop, never throw on. Shared by the
    * batch scan, the streaming replay, and the DLQ redrive of the same
    * layout — cached per source dir per JVM (IndexCache): the pack is
    * the PRODUCER's layout, written once at ingest, so the three
    * consumers must not re-encode the corpus each.
    */
  private[graft] def stageKplArchive(s: SparkSession, d: String): String =
    graft.core.IndexCache.dir(s"events-kpl|$d") { stageKplArchiveCold(s, d) }

  private def stageKplArchiveCold(s: SparkSession, d: String): String = {
    import s.implicits._
    val dir = TmpDirs.dir("events-kpl")
    val sub = graft.core.Ndjson.fields.map(f => col(f.name))
    // Record submessage bytes = tag(08) + varint(idx) (indexes ≤ the
    // ≤8-message batch width, so always 1 byte) + tag(1A) +
    // varint(jlen) + jlen payload bytes = 3 + width(jlen) + jlen.
    val recLen = "3 + (case when length(x.m) < 128 then 1 else 2 end) + length(x.m)"
    val body = Tables.events(s, d)
      // FLOOR grouping (matches the oracle's `//` for any id sign)
      .select(expr(Det.fdivExpr("event_id", "8")).as("g"), $"event_id",
        $"event_type".as("et"), to_json(struct(sub: _*)).as("m"))
      .groupBy("g")
      .agg(expr("array_sort(collect_list(struct(event_id, et, m)))").as("xs"))
      // KPL key dedup: the table holds each DISTINCT key once, sorted
      .withColumn("pks",
        expr("array_sort(array_distinct(transform(xs, x -> x.et)))"))
      .withColumn("pktable", expr("array_join(transform(pks, k -> " +
        s"concat('0A', ${kplVarintEnc("length(k)")}, k)), '')"))
      .withColumn("records", expr("array_join(transform(xs, x -> concat(" +
        s"'1A', ${kplVarintEnc(recLen)}, " +
        "'08', lpad(hex(array_position(pks, x.et) - 1), 2, '0'), " +
        s"'1A', ${kplVarintEnc("length(x.m)")}, x.m)), '')"))
    val frames = body
      .withColumn("body", concat($"pktable", $"records"))
      .select($"g", concat(lit(KplMagic), $"body", md5($"body")).as("value"))
    // the two dead-letter fixtures, derived from the first good frame:
    // a frame with alien magic and a frame whose md5 trailer lies
    val bad = frames.orderBy("g").limit(1).select(explode(array(
      concat(lit("DEADBEEF"), expr("substring(value, 9)")),
      concat(expr("substring(value, 1, length(value) - 32)"),
        lit("0" * 32)))).as("value"))
    frames.select("value").unionByName(bad)
      .write.mode("overwrite").text(dir)
    dir
  }

  /** Deaggregate a `value`-column relation of KPL-style aggregated
    * records into the parsed message struct column `e` plus the
    * message's RESOLVED partition key `pk` (its Record's
    * `partition_key_index` looked up in the frame's deduplicated
    * `partition_key_table` — nonzero indexes occur throughout the
    * archive, so a consumer that assumes index 0 mis-keys most
    * messages), silently DROPPING malformed frames (wrong magic or
    * failed md5 integrity check — the dead-letter rule;
    * [[kplFrameLedger]] counts them). Pure per-row projections (a
    * protobuf tag/varint-walking HOF fold → per-element slices →
    * explode → from_json), so the SAME definition serves the batch
    * scan and a streaming replay. The fold walks repeated
    * partition-key-table entries (tag 0x0A) and Record submessages
    * (tag 0x1A) by their declared LEB128 byte lengths and stops at the
    * body end, so frames with fewer than the 8-message staging cap
    * parse exactly.
    */
  /** The raw (msg, pk) stream of the native walk — the layer the
    * generated native-vs-HOF fuzz law compares on (payloads there are
    * arbitrary strings, not event JSON, so the comparison must happen
    * BEFORE from_json nulls them out).
    */
  private[graft] def kplDeaggRaw(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    kplFrames(df).filter(col("good"))
      .select(explode(
        graft.functions.KplExpressions.kplDeagg(s, col("body"))).as("r"))
      .select(col("r.msg").as("msg"), col("r.pk").as("pk"))
  }

  private[graft] def kplDeaggregate(df: DataFrame): DataFrame =
    // The shipped walk is the NATIVE expression (one imperative pass
    // per frame — see functions/KplExpressions.scala for the measured
    // 4.2 s → sub-second rationale); the HOF spelling below
    // ([[kplDeaggregateHof]]) is retained as the law mirror a spec
    // asserts row-identical on every staged archive.
    kplDeaggRaw(df).select(
      from_json(col("msg"), graft.core.Ndjson.recordSchema).as("e"),
      col("pk"))

  /** The pure-SQL higher-order-function spelling of [[kplDeaggregate]]
    * — semantically identical (asserted by the native-vs-HOF law in
    * ReplayTwinSpec), kept as the executable specification of the wire
    * walk: every step is declarative Spark SQL an auditor can read
    * against the protobuf layout, and it needs no registered function.
    * Not on the shipped path: interpreted HOF probes cost ~1 ms per
    * frame vs microseconds for the native expression.
    */
  private[graft] def kplDeaggregateHof(
      df: DataFrame, maxSteps: Int = 17): DataFrame =
    kplDeaggregateHofRaw(df, maxSteps).select(
      from_json(col("msg"), graft.core.Ndjson.recordSchema).as("e"),
      col("pk"))

  private[graft] def kplDeaggregateHofRaw(
      df: DataFrame, maxSteps: Int): DataFrame = {
    // one wire element step: at text offset o, read the tag byte; a
    // partition-key-table entry (0x0A) is skipped over its raw payload;
    // a Record submessage (0x1A) advances by its declared BINARY length
    // re-expanded to text chars (structural bytes 2 chars, payload
    // bytes 1), which needs the nested data length JL: text len =
    // 2·reclen − JL
    def next(o: String): String = {
      val w = kplVarintW(s"($o) + 2")
      val v = kplVarintVal(s"($o) + 2")
      val p = s"(($o) + 2 + 2 * $w)"
      val iw = kplVarintW(s"$p + 2")
      // record text advance = p + 2·reclen − datalen; substituting
      // datalen = reclen − 2 − width(pk-index varint) − width(datalen
      // varint) gives p + reclen + 2 + iw + jw — two WIDTH reads
      // (1 byte probe each) instead of a full varint VALUE read
      // (3 byte probes) per step. The iw term matters from
      // pk_index ≥ 128 (2-byte varint) — pinned by the ≥128-entry
      // frame case in ReplayTwinSpec's native-vs-HOF law.
      val jw = kplVarintW(s"($p + 4 + 2 * $iw)")
      s"(case when ${kplByte(o)} = 10 then ($o) + 2 + 2 * $w + $v " +
        s"else $p + $v + 2 + $iw + $jw end)"
    }
    // length-delimited payload slice at the element offset bound to
    // lambda variable `v` (pk-table key / record fields) — the helpers
    // are parameterized by the variable name because the pk lookup
    // nests one lambda inside another
    def entryExpr(v: String) =
      s"substring(body, ($v) + 2 + 2 * ${kplVarintW(s"($v) + 2")}, " +
        s"${kplVarintVal(s"($v) + 2")})"
    // Record payload: p → "08" ‖ varint(partition_key_index) → "1A" ‖
    // varint(jlen) → jlen raw chars
    def recParts(v: String): (String, String) = {
      val p = s"(($v) + 2 + 2 * ${kplVarintW(s"($v) + 2")})"
      val iw = kplVarintW(s"$p + 2")
      val idxExpr = kplVarintVal(s"$p + 2")
      val jloc = s"($p + 4 + 2 * $iw)"
      val msgExpr = s"substring(body, $jloc + 2 * ${kplVarintW(jloc)}, " +
        s"${kplVarintVal(jloc)})"
      (msgExpr, idxExpr)
    }
    val (msgExpr, idxExpr) = recParts("o")
    def isTag(v: String, tag: Int) =
      s"($v) <= length(body) AND ${kplByte(v)} = $tag"
    // walk the tag/varint structure into the offset table: start at 1;
    // the default ≤17 appends cover the staging envelope (≤8 pk-table
    // entries + 8 records + the end marker); the law spec raises it to
    // walk hand-built wide-table frames (pk_index ≥ 128)
    val foldExpr =
      s"aggregate(sequence(1, $maxSteps), array(1), (acc, i) -> " +
        s"case when element_at(acc, -1) > length(body) then acc " +
        s"else acc || array(${next("element_at(acc, -1)")}) end)"
    // The fold is ~12–17 chained varint reads per frame — it must run
    // ONCE per frame. Binding it as a named column and referencing it
    // above the explode does NOT guarantee that: CollapseProject
    // inlines the column into the post-Generate projection,
    // re-evaluating the whole walk once per exploded MESSAGE (~9× per
    // frame — measured 2.5 s → 23 s at sf0.1 when the pk lookup first
    // landed that way). Instead the walk AND the decoded key table are
    // LET-BOUND inside one composite expression — each is the single
    // element of a transform() input array, so each evaluates exactly
    // once per frame (the key table nests a second binding layer
    // because referencing the fold twice in one binding would evaluate
    // it twice) — and each record resolves its pk by a plain
    // element_at into the bound table, so the exploded struct is
    // self-contained and nothing upstream is re-evaluated per message.
    val pkTableExpr =
      s"transform(filter(a.offs, u -> ${isTag("u", 10)}), u -> ${entryExpr("u")})"
    val recsExpr =
      s"element_at(transform(array(named_struct('offs', $foldExpr)), a -> " +
        s"element_at(transform(array(named_struct('pks', $pkTableExpr)), b -> " +
        s"transform(filter(a.offs, o -> ${isTag("o", 26)}), " +
        // try_element_at, not element_at: an index past the key table
        // is the documented "producer bug surfaced as data" case — the
        // native walker yields a NULL pk, and under ANSI semantics a
        // plain element_at would THROW instead (caught by the generated
        // fuzz law; the staged archive never emits an out-of-table
        // index, so the archive-driven law alone couldn't see it)
        s"o -> struct($msgExpr AS msg, " +
        s"try_element_at(b.pks, $idxExpr + 1) AS pk))), 1)), 1)"
    kplFrames(df).filter(col("good"))
      .select(explode(expr(recsExpr)).as("r"))
      .select(col("r.msg").as("msg"), col("r.pk").as("pk"))
  }

  /** Frame-validity projection shared by the parser and the ledger:
    * magic match + md5(body) == trailer.
    */
  private[graft] def kplFrames(df: DataFrame): DataFrame =
    df.withColumn("body",
        expr("substring(value, 9, greatest(length(value) - 40, 0))"))
      .withColumn("good",
        expr(s"substring(value, 1, 8) = '$KplMagic' AND length(value) >= 40") &&
          md5(col("body")) === expr("substring(value, length(value) - 31, 32)"))

  /** The dead-letter ledger: (n_frames, n_dead) over a staged KPL
    * archive — counted, never thrown.
    */
  private[graft] def kplFrameLedger(df: DataFrame): DataFrame =
    kplFrames(df).agg(
      count(lit(1)).as("n_frames"),
      sum((!col("good")).cast("long")).as("n_dead_frames"))

  private val scanKplDeaggregate = Q(
    "scan_kpl_deaggregate",
    (s, d) => {
      import s.implicits._
      val raw = s.read.text(stageKplArchive(s, d))
      // the dead-letter ledger rides on every group row: the staging
      // plants exactly two malformed frames (bad magic, bad trailer)
      // whenever the archive is nonempty, and the scan must COUNT and
      // DROP them — a thrown parse or a silently swallowed frame both
      // break the hash (the oracle pins the constant 2 and the
      // conservation sums the good frames must still satisfy)
      val dead = kplFrameLedger(raw).select($"n_dead_frames")
      // group by the WIRE partition key (partition_key_index resolved
      // through the deduplicated key table), not the payload's own
      // event_type: a mis-resolved index shuffles counts between
      // groups and breaks the hash. The per-group mismatch tally
      // (pk != payload event_type), rolled up over the ≤|types| group
      // rows, is additionally pinned to the constant 0.
      val perPk = kplDeaggregate(raw)
        .groupBy($"pk".as("event_type"))
        .agg(count(lit(1)).as("n_msgs"),
          sum($"e.event_id").cast("long").as("id_checksum"),
          sum(round($"e.value" * 100).cast("long")).as("cents_checksum"),
          sum(($"pk" =!= $"e.event_type").cast("long")).as("pm"))
      val mism = perPk.agg(sum($"pm").as("n_pk_mismatch"))
      perPk.drop("pm")
        .crossJoin(broadcast(dead))
        .crossJoin(broadcast(mism))
        .orderBy("event_type")
    },
    Some("SELECT event_type, count(*) AS n_msgs, " +
      "CAST(SUM(event_id) AS BIGINT) AS id_checksum, " +
      "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) " +
      "AS cents_checksum, CAST(2 AS BIGINT) AS n_dead_frames, " +
      "CAST(0 AS BIGINT) AS n_pk_mismatch " +
      "FROM events GROUP BY 1 ORDER BY 1"))

  /** replay_dlq_redrive — the operations step AFTER dead-lettering:
    * take the frames the scan dropped (alien magic; lying md5
    * trailer), REPAIR them by re-framing the intact body under the
    * true magic and a recomputed trailer, re-validate, and
    * deaggregate only the recovered messages — the DLQ redrive every
    * production replay deployment runs once the producer bug is
    * fixed. Both planted dead letters derive from the FIRST good
    * frame (the floor event_id-div-8 group of the smallest id), so
    * the oracle restates the recovery exactly: 2 frames repaired, 2×
    * that group's messages and checksums recovered. Repair is a pure
    * projection (concat magic ‖ body ‖ md5(body)); the re-validation
    * reuses the scan's own frame predicate, so "repaired" is the same
    * contract the normal path enforces, not a parallel spelling.
    */
  private val replayDlqRedrive = Q(
    "replay_dlq_redrive",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, Long, Long, Long, Long)].toDF(
          "n_dead_frames", "n_repaired", "n_recovered_msgs",
          "recovered_id_checksum", "recovered_cents")
      else {
        val raw = s.read.text(stageKplArchive(s, d))
        val repaired = kplFrames(raw).filter(!$"good")
          .select(concat(lit(KplMagic), $"body", md5($"body")).as("value"))
        val ledger = kplFrames(raw).agg(
          sum((!$"good").cast("long")).as("n_dead_frames"))
          .crossJoin(kplFrames(repaired).agg(
            sum($"good".cast("long")).as("n_repaired")))
        val recovered = kplDeaggregate(repaired).agg(
          count(lit(1)).as("n_recovered_msgs"),
          sum($"e.event_id").cast("long").as("recovered_id_checksum"),
          sum(round($"e.value" * 100).cast("long")).as("recovered_cents"))
        ledger.crossJoin(recovered)
      }
    },
    Some("WITH g0 AS (SELECT event_id // 8 AS g, event_id, " +
      "CAST(round(value*100) AS BIGINT) AS vc FROM events), " +
      "mn AS (SELECT min(g) AS g FROM g0), " +
      "grp AS (SELECT g0.event_id, g0.vc FROM g0 JOIN mn ON g0.g = mn.g) " +
      // GROUP BY the events-count scalar: an empty archive filters the
      // row out BEFORE grouping, so the oracle yields ZERO rows exactly
      // like the Spark side's empty-guard (a bare aggregate would
      // still emit one zero row)
      "SELECT CAST(2 AS BIGINT) AS n_dead_frames, " +
      "CAST(2 AS BIGINT) AS n_repaired, " +
      "CAST(2 * count(*) AS BIGINT) AS n_recovered_msgs, " +
      "CAST(2 * SUM(event_id) AS BIGINT) AS recovered_id_checksum, " +
      "CAST(2 * SUM(vc) AS BIGINT) AS recovered_cents " +
      "FROM grp, (SELECT count(*) AS ne FROM events) t " +
      "WHERE t.ne > 0 GROUP BY t.ne"))

  // ------------------------------------------------------------------
  // agg_cms_estimate — COUNT-MIN SKETCH point estimates for the top-10
  // users, completing the sketch triad (HLL = cardinality, Misra-Gries
  // = membership above threshold, CMS = per-key frequency): a 4×256
  // counter grid, each row hashed into one bucket per depth with a
  // deterministic md5-derived hash (two hex digits → 0..255, the
  // stat_bootstrap_ci digit trick — no RNG state, identical in both
  // engines). The sketch build is the scale point: the 4× depth
  // explode collapses MAP-SIDE to ≤4·256 cells per partition, so the
  // exchange carries a ≤1024-row ledger REGARDLESS of corpus size —
  // the per-user exact groupBy (needed here only as the comparison
  // baseline) shuffles the whole user universe; the sketch never does.
  // Probes re-derive their 4 buckets and take min over depths against
  // the broadcast ledger. CMS guarantees est ≥ exact structurally
  // (every occurrence lands in all 4 probed cells); the overcount
  // column makes the collision error visible and hash-pinned.
  // ------------------------------------------------------------------

  private def cmsHashExpr(dep: String, id: String): String =
    s"(instr('0123456789abcdef', substring(md5(concat(cast($dep as string), " +
      s"':', cast($id as string))), 1, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substring(md5(concat(cast($dep as string), " +
      s"':', cast($id as string))), 2, 1)) - 1"

  private val aggCmsEstimate = Q(
    "agg_cms_estimate",
    (s, d) => {
      import s.implicits._
      val u = Tables.events(s, d)
        .filter($"user_id".isNotNull).select($"user_id")
      val cells = u
        .withColumn("dep", explode(sequence(lit(0), lit(3))))
        .withColumn("h", expr(cmsHashExpr("dep", "user_id")))
        .groupBy("dep", "h").agg(count(lit(1)).as("cnt"))
      val top = u.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy($"exact_cnt".desc, $"user_id".asc).limit(10)
      top.withColumn("dep", explode(sequence(lit(0), lit(3))))
        .withColumn("h", expr(cmsHashExpr("dep", "user_id")))
        .join(broadcast(cells), Seq("dep", "h"))
        .groupBy("user_id", "exact_cnt").agg(min($"cnt").as("cms_est"))
        .select($"user_id", $"exact_cnt", $"cms_est",
          ($"cms_est" - $"exact_cnt").as("overcount"))
        .orderBy($"exact_cnt".desc, $"user_id".asc)
    },
    Some {
      def h(dep: String, id: String): String =
        s"(strpos('0123456789abcdef', substring(md5(CAST($dep AS VARCHAR) " +
          s"|| ':' || CAST($id AS VARCHAR)), 1, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring(md5(CAST($dep AS VARCHAR) " +
          s"|| ':' || CAST($id AS VARCHAR)), 2, 1)) - 1"
      "WITH u AS (SELECT user_id FROM events WHERE user_id IS NOT NULL), " +
        "dd AS (SELECT unnest(generate_series(0, 3)) AS dep), " +
        "cells AS (SELECT dep, " + h("dep", "user_id") + " AS h, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM u CROSS JOIN dd GROUP BY 1, 2), " +
        "ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt " +
        "FROM u GROUP BY 1), " +
        "top AS (SELECT * FROM ex ORDER BY exact_cnt DESC, user_id ASC " +
        "LIMIT 10), " +
        "pr AS (SELECT top.user_id, top.exact_cnt, dd.dep, " +
        h("dd.dep", "top.user_id") + " AS h FROM top CROSS JOIN dd), " +
        "pe AS (SELECT pr.user_id, pr.exact_cnt, " +
        "CAST(MIN(cells.cnt) AS BIGINT) AS cms_est FROM pr " +
        "JOIN cells ON cells.dep = pr.dep AND cells.h = pr.h GROUP BY 1, 2) " +
        "SELECT user_id, exact_cnt, cms_est, cms_est - exact_cnt AS overcount " +
        "FROM pe ORDER BY exact_cnt DESC, user_id ASC"
    })

  // ------------------------------------------------------------------
  // agg_bloom_membership — BLOOM FILTER membership over the user
  // universe, the fourth member of the sketch family (HLL =
  // cardinality, Misra-Gries = heavy membership, CMS = frequency,
  // Bloom = set membership with one-sided error): m = 4096 bits,
  // k = 4 hashes, each hash three md5 hex digits (the CMS digit
  // trick — deterministic, zero RNG state, identical in both
  // engines). The filter build is the scale point: set bits collapse
  // to a DISTINCT ≤4096-row ledger — map-side, so the exchange
  // carries ≤m cells per partition regardless of corpus size — and
  // probes join that ledger by BROADCAST. The probe set is the
  // present universe plus 100 synthesized absent ids (max_id+1..+100):
  // zero false negatives is the Bloom guarantee and is hash-pinned
  // (n_false_neg must be 0); false positives on the absent probes
  // make the filter's one-sided error visible and hash-checked.
  // ------------------------------------------------------------------

  private def bloomHashExpr(dep: String, id: String): String = {
    val m = s"md5(concat(cast($dep as string), ':', cast($id as string)))"
    s"((instr('0123456789abcdef', substring($m, 1, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substring($m, 2, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substring($m, 3, 1)) - 1"
  }

  private val aggBloomMembership = Q(
    "agg_bloom_membership",
    (s, d) => {
      import s.implicits._
      // THREE branches (filter bits, absent-probe spine, present
      // probes) consume the distinct-user set, and two consume the
      // ≤4096-bit ledger — materialized once each instead of
      // re-running the distinct shuffle per branch (both shared)
      val u = Share(Tables.events(s, d)
        .filter($"user_id".isNotNull).select($"user_id").distinct())
      val bits = Share(u.withColumn("dep", explode(sequence(lit(0), lit(3))))
        .select(expr(bloomHashExpr("dep", "user_id")).as("bit")).distinct())
      val absent = u.agg(max($"user_id").as("mx"))
        .select(explode(sequence($"mx" + 1, $"mx" + 100)).as("probe_id"))
      val probes = u.select($"user_id".as("probe_id"), lit(1L).as("present"))
        .unionByName(absent.select($"probe_id", lit(0L).as("present")))
      val checked = probes
        .withColumn("dep", explode(sequence(lit(0), lit(3))))
        .withColumn("bit", expr(bloomHashExpr("dep", "probe_id")))
        .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("bit"),
          "left_outer")
        .groupBy($"probe_id", $"present")
        .agg(sum(coalesce($"hit", lit(0L))).as("nhits"))
        .withColumn("bpos", ($"nhits" === 4).cast("long"))
      checked.agg(
          sum($"present").as("n_present"),
          sum(lit(1) - $"present").as("n_absent"),
          sum($"present" * $"bpos").as("bloom_pos_present"),
          sum($"present" * (lit(1) - $"bpos")).as("n_false_neg"),
          sum((lit(1) - $"present") * $"bpos").as("n_false_pos"))
        .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
        .select($"n_present", $"n_absent", $"n_bits_set",
          $"bloom_pos_present", $"n_false_neg", $"n_false_pos")
    },
    Some {
      def h(dep: String, id: String): String = {
        val m = s"md5(CAST($dep AS VARCHAR) || ':' || CAST($id AS VARCHAR))"
        s"((strpos('0123456789abcdef', substring($m, 1, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring($m, 2, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring($m, 3, 1)) - 1"
      }
      "WITH u AS (SELECT DISTINCT user_id FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "dd AS (SELECT unnest(generate_series(0, 3)) AS dep), " +
        "bits AS (SELECT DISTINCT " + h("dep", "user_id") + " AS bit " +
        "FROM u CROSS JOIN dd), " +
        "ab AS (SELECT unnest(generate_series(mx + 1, mx + 100)) AS probe_id " +
        "FROM (SELECT MAX(user_id) AS mx FROM u)), " +
        "pr AS (SELECT user_id AS probe_id, 1 AS present FROM u " +
        "UNION ALL SELECT probe_id, 0 AS present FROM ab), " +
        "ck AS (SELECT pr.probe_id, pr.present, " +
        "CAST(SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS nhits FROM pr CROSS JOIN dd " +
        "LEFT JOIN bits ON bits.bit = " + h("dd.dep", "pr.probe_id") + " " +
        "GROUP BY 1, 2), " +
        "cf AS (SELECT probe_id, present, " +
        "CASE WHEN nhits = 4 THEN 1 ELSE 0 END AS bpos FROM ck) " +
        "SELECT CAST(SUM(present) AS BIGINT) AS n_present, " +
        "CAST(SUM(1 - present) AS BIGINT) AS n_absent, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set, " +
        "CAST(SUM(present * bpos) AS BIGINT) AS bloom_pos_present, " +
        "CAST(SUM(present * (1 - bpos)) AS BIGINT) AS n_false_neg, " +
        "CAST(SUM((1 - present) * bpos) AS BIGINT) AS n_false_pos FROM cf"
    })

  // ------------------------------------------------------------------
  // agg_kmv_distinct — K-MINIMUM-VALUES distinct estimate, the fifth
  // sketch-family member and the ORDER-STATISTIC route to cardinality
  // (HLL keeps register maxes; KMV keeps the k smallest hash values
  // and reads the density of the minimum gap): ids hash to a uniform
  // 24-bit value via six md5 hex digits (the CMS digit trick — zero
  // RNG state, identical text in both engines), duplicate hashes
  // collapse by a map-side DISTINCT over the BOUNDED 16.7M-value hash
  // universe, and the k = 64 smallest survive via TakeOrderedAndProject
  // (O(k) per partition — never a global sort). est = (k−1)·U div
  // h_(k) is one exact integer floor division. Unlike the HLL keys,
  // the estimate itself is REPLAYABLE (pure md5 arithmetic), so the
  // oracle hash-checks the full estimator, not just a pinned bound;
  // the ±20% flag additionally gates accuracy (worst observed 11.3%
  // at sf0.01, k = 64 ⇒ theoretical rsd ≈ 12.7%). Fewer than k
  // distinct hashes ⇒ the sketch IS the exact set — emit the exact
  // count (the estimator's small-cardinality contract).
  // ------------------------------------------------------------------

  private def kmvHashExpr(id: String): String = {
    val m = s"md5(concat('kmv:', cast($id as string)))"
    (0 until 6).map { i =>
      s"(instr('0123456789abcdef', substring($m, ${i + 1}, 1)) - 1) * " +
        s"${1L << (4 * (5 - i))}L"
    }.mkString(" + ")
  }

  private val aggKmvDistinct = Q(
    "agg_kmv_distinct",
    (s, d) => {
      import s.implicits._
      val u = Tables.events(s, d)
        .filter($"user_id".isNotNull).select($"user_id")
      val hashes = u.select(expr(kmvHashExpr("user_id")).cast("long").as("h"))
        .distinct()
      val mink = hashes.orderBy($"h".asc).limit(64)
        .agg(max($"h").as("kth"), count(lit(1)).as("nk"))
      val ex = u.agg(countDistinct($"user_id").as("n_exact"))
      mink.crossJoin(broadcast(ex))
        .select($"n_exact", $"nk".as("k_used"), $"kth",
          when($"nk" < 64, $"n_exact")
            .otherwise(expr("(63 * 16777216) div kth")).as("kmv_est"))
        .withColumn("within_20pct",
          abs($"kmv_est" - $"n_exact") * 5 <= $"n_exact")
    },
    Some {
      def h(id: String): String = {
        val m = s"md5('kmv:' || CAST($id AS VARCHAR))"
        (0 until 6).map { i =>
          s"(strpos('0123456789abcdef', substring($m, ${i + 1}, 1)) - 1) * " +
            s"${1L << (4 * (5 - i))}"
        }.mkString(" + ")
      }
      "WITH hh AS (SELECT DISTINCT " + h("user_id") + " AS h FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "tk AS (SELECT h FROM hh ORDER BY h LIMIT 64), " +
        "st AS (SELECT CAST(MAX(h) AS BIGINT) AS kth, " +
        "CAST(count(*) AS BIGINT) AS nk FROM tk), " +
        "ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "f AS (SELECT n_exact, nk AS k_used, kth, " +
        "CASE WHEN nk < 64 THEN n_exact " +
        "ELSE (63 * 16777216) // kth END AS kmv_est FROM st, ex) " +
        "SELECT n_exact, k_used, kth, kmv_est, " +
        "abs(kmv_est - n_exact) * 5 <= n_exact AS within_20pct FROM f"
    })

  // ------------------------------------------------------------------
  // agg_linear_counting — LINEAR (bitmap) COUNTING, the sixth sketch
  // and the high-accuracy low-cardinality regime HLL hands off to:
  // ids hash into an m = 4096-bucket bitmap (three md5 hex digits —
  // the Bloom key's hash, different salt), the set-bit ledger
  // collapses by map-side DISTINCT to ≤m rows REGARDLESS of corpus
  // size, and est = m·ln(m/z) off the zero-bucket count z. The ln is
  // the only float — one scalar, identical IEEE double in both
  // engines, rounded at 4dp — so the oracle replays the full
  // estimator. Accuracy is gated at ±5% (worst observed 1.35% at
  // sf0.1 where n/m ≈ 0.37; LC stays this tight while n ≲ m, exactly
  // the regime it exists for). A saturated bitmap (z = 0) yields a
  // NULL estimate and a false flag rather than an Infinity.
  // ------------------------------------------------------------------

  private val aggLinearCounting = Q(
    "agg_linear_counting",
    (s, d) => {
      import s.implicits._
      val u = Tables.events(s, d)
        .filter($"user_id".isNotNull).select($"user_id")
      val bits = u.select(expr(bloomHashExpr("'lc'", "user_id")).as("bit"))
        .distinct()
      val z = bits.agg((lit(4096L) - count(lit(1))).as("n_zero"))
      val ex = u.agg(countDistinct($"user_id").as("n_exact"))
      z.crossJoin(broadcast(ex))
        .select($"n_exact", lit(4096L).as("m_buckets"), $"n_zero",
          when($"n_zero" > 0,
            dround(lit(4096.0) * log(lit(4096.0) / $"n_zero"), 4))
            .as("lc_est"))
        .withColumn("within_5pct",
          $"lc_est".isNotNull &&
            abs($"lc_est" - $"n_exact") * 20 <= $"n_exact".cast("double"))
    },
    Some {
      val m = "md5('lc:' || CAST(user_id AS VARCHAR))"
      val h = s"((strpos('0123456789abcdef', substring($m, 1, 1)) - 1) * 16 + " +
        s"strpos('0123456789abcdef', substring($m, 2, 1)) - 1) * 16 + " +
        s"strpos('0123456789abcdef', substring($m, 3, 1)) - 1"
      "WITH bits AS (SELECT DISTINCT " + h + " AS bit FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "zz AS (SELECT 4096 - CAST(count(*) AS BIGINT) AS n_zero FROM bits), " +
        "ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "f AS (SELECT n_exact, CAST(4096 AS BIGINT) AS m_buckets, n_zero, " +
        "CASE WHEN n_zero > 0 THEN " +
        OSql.sround("4096.0 * ln(4096.0 / n_zero)", 4) +
        " END AS lc_est FROM zz, ex) " +
        "SELECT n_exact, m_buckets, n_zero, lc_est, " +
        "lc_est IS NOT NULL AND abs(lc_est - n_exact) * 20 <= " +
        "CAST(n_exact AS DOUBLE) AS within_5pct FROM f"
    })

  // ------------------------------------------------------------------
  // agg_cms_merge — COUNT-MIN SKETCH MERGEABILITY as a hash-checked
  // property, the re-aggregation contract `agg_hll_union` pins for
  // HLL applied to the frequency sketch — with the opposite and
  // equally instructive outcome: HLL union merges only to a BOUND
  // (register-width promotion breaks identity), while CMS merges
  // EXACTLY (cell-wise addition of counter grids is the linearity of
  // counting), so per-shard sketches summed together are
  // BIT-IDENTICAL to the sketch built over the whole stream, and this
  // key pins EQUALITY, not a tolerance. Shards are the event types
  // (the per-partition rollup a 100 TB ingest actually produces);
  // per-shard grids collapse map-side to ≤4·256 cells each, the merge
  // is one partial+final sum keyed by (depth, cell), and the top-10
  // probes compare min-over-depths of the direct vs merged grids.
  // Fully replayable in the oracle — both constructions re-run there.
  // ------------------------------------------------------------------

  private val aggCmsMerge = Q(
    "agg_cms_merge",
    (s, d) => {
      import s.implicits._
      val u = Tables.events(s, d)
        .filter($"user_id".isNotNull).select($"user_id", $"event_type")
      val direct = u
        .withColumn("dep", explode(sequence(lit(0), lit(3))))
        .withColumn("h", expr(cmsHashExpr("dep", "user_id")))
        .groupBy("dep", "h").agg(count(lit(1)).as("cnt"))
      val merged = u
        .withColumn("dep", explode(sequence(lit(0), lit(3))))
        .withColumn("h", expr(cmsHashExpr("dep", "user_id")))
        .groupBy("event_type", "dep", "h").agg(count(lit(1)).as("c"))
        .groupBy("dep", "h").agg(sum($"c").cast("long").as("cnt"))
      // the 10-row top table feeds BOTH probe joins — shared so the
      // exact-count corpus pass behind it runs once, not twice
      val top = Share(u.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy($"exact_cnt".desc, $"user_id".asc).limit(10))
      val probes = top
        .withColumn("dep", explode(sequence(lit(0), lit(3))))
        .withColumn("h", expr(cmsHashExpr("dep", "user_id")))
      probes.join(broadcast(direct), Seq("dep", "h"))
        .groupBy("user_id", "exact_cnt").agg(min($"cnt").as("est_direct"))
        .join(probes.join(broadcast(merged), Seq("dep", "h"))
          .groupBy("user_id").agg(min($"cnt").as("est_merged")), "user_id")
        .select($"user_id", $"exact_cnt", $"est_direct", $"est_merged",
          ($"est_direct" === $"est_merged").as("merge_exact"),
          ($"est_direct" >= $"exact_cnt").as("dominates_exact"))
        .orderBy($"exact_cnt".desc, $"user_id".asc)
    },
    Some {
      def h(dep: String, id: String): String =
        s"(strpos('0123456789abcdef', substring(md5(CAST($dep AS VARCHAR) " +
          s"|| ':' || CAST($id AS VARCHAR)), 1, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring(md5(CAST($dep AS VARCHAR) " +
          s"|| ':' || CAST($id AS VARCHAR)), 2, 1)) - 1"
      "WITH u AS (SELECT user_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "dd AS (SELECT unnest(generate_series(0, 3)) AS dep), " +
        "cells AS (SELECT dep, " + h("dep", "user_id") + " AS h, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM u CROSS JOIN dd " +
        "GROUP BY 1, 2), " +
        "shards AS (SELECT event_type, dep, " + h("dep", "user_id") +
        " AS h, CAST(count(*) AS BIGINT) AS c FROM u CROSS JOIN dd " +
        "GROUP BY 1, 2, 3), " +
        "mg AS (SELECT dep, h, CAST(SUM(c) AS BIGINT) AS cnt " +
        "FROM shards GROUP BY 1, 2), " +
        "top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt " +
        "FROM u GROUP BY 1 ORDER BY exact_cnt DESC, user_id ASC LIMIT 10), " +
        "pr AS (SELECT top.user_id, top.exact_cnt, dd.dep, " +
        h("dd.dep", "top.user_id") + " AS h FROM top CROSS JOIN dd), " +
        "ed AS (SELECT pr.user_id, pr.exact_cnt, " +
        "CAST(MIN(cells.cnt) AS BIGINT) AS est_direct FROM pr " +
        "JOIN cells ON cells.dep = pr.dep AND cells.h = pr.h " +
        "GROUP BY 1, 2), " +
        "em AS (SELECT pr.user_id, CAST(MIN(mg.cnt) AS BIGINT) " +
        "AS est_merged FROM pr JOIN mg ON mg.dep = pr.dep " +
        "AND mg.h = pr.h GROUP BY 1) " +
        "SELECT ed.user_id, ed.exact_cnt, ed.est_direct, em.est_merged, " +
        "ed.est_direct = em.est_merged AS merge_exact, " +
        "ed.est_direct >= ed.exact_cnt AS dominates_exact " +
        "FROM ed JOIN em ON em.user_id = ed.user_id " +
        "ORDER BY ed.exact_cnt DESC, ed.user_id ASC"
    })

  // ------------------------------------------------------------------
  // agg_kmv_diff — SET DIFFERENCE over the same two KMV sketches,
  // completing the theta-sketch algebra (`agg_kmv_set_ops` = union +
  // intersection; this key = A∖B and B∖A): below the union sketch's
  // θ, every retained hash belongs to exactly ONE of {only-A, only-B,
  // common}, so est_diff = (only-side-below-θ · est_union) div k —
  // the same exact-integer arithmetic, plus the PARTITION law that
  // makes the algebra trustworthy: only_a + only_b + common must
  // equal the union sketch's retained count EXACTLY (hashes are
  // distinct, θ is the k-th minimum — a partition, not an estimate).
  // Difference is honestly the highest-variance member of the algebra
  // (relative error scales with |union|/|diff|; the audiences here
  // overlap ~90%, so the ±50% gate is the right promise — observed
  // worst 29% at sf0.1, 15% at sf0.01). Below-k populations degrade
  // to the exact sets, same branch both engines. At 100 TB the two
  // sketch builds stay map-side TakeOrdered passes; the algebra is
  // ≤k-row arithmetic.
  // ------------------------------------------------------------------

  /** The k = 128 KMV sketch over one event type's big-value (≥ $90)
    * audience: a ≤128-row artifact that is a pure function of the
    * corpus, shared by `agg_kmv_diff` and `agg_kmv_set_ops` through
    * [[graft.core.IndexCache]] (build once per corpus, every consumer
    * reopens the stored sketch — the theta-sketch library economics
    * both keys' scaladocs already claim). The build itself stays the
    * map-side distinct + TakeOrdered pass.
    */
  private def kmvSketch128(s: SparkSession, d: String, ty: String): DataFrame =
    graft.core.IndexCache(s, s"kmv128-$ty|$d", {
      import s.implicits._
      Tables.events(s, d)
        .filter($"user_id".isNotNull && $"event_type" === ty &&
          round($"value" * 100).cast("long") >= 9000L)
        .select(expr(kmvHashExpr("user_id")).cast("long").as("h"))
        .distinct().orderBy($"h".asc).limit(128)
    })

  /** Exact audience counts for the two KMV keys in ONE corpus pass:
    * per-user click/error flags off a single user_id shuffle, then
    * na = Σa, nb = Σb, ni = Σa·b, nun = row count (every grouped user
    * carries at least one flag). Replaces two distinct-set scans plus
    * an intersection join (and a union distinct for set_ops) — same
    * four numbers, one scan, one shuffle.
    */
  private def kmvExactCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"user_id".isNotNull &&
        ($"event_type" === "click" || $"event_type" === "error") &&
        round($"value" * 100).cast("long") >= 9000L)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "click", 1L).otherwise(0L)).as("a"),
        max(when($"event_type" === "error", 1L).otherwise(0L)).as("b"))
      // coalesce: SUM over an empty grouped set is NULL where the old
      // count(*)-over-distinct-set spelling was 0 — both-audiences-empty
      // corpora (PropertySpec generates them) must read 0/0/0/0
      .agg(coalesce(sum($"a"), lit(0L)).cast("long").as("na"),
        coalesce(sum($"b"), lit(0L)).cast("long").as("nb"),
        coalesce(sum($"a" * $"b"), lit(0L)).cast("long").as("ni"),
        count(lit(1)).as("nun"))
  }

  private val aggKmvDiff = Q(
    "agg_kmv_diff",
    (s, d) => {
      import s.implicits._
      val (sa, sb) = (kmvSketch128(s, d, "click"), kmvSketch128(s, d, "error"))
      val un = sa.unionByName(sb).distinct().orderBy($"h".asc).limit(128)
      val st = un.agg(max($"h").as("th"), count(lit(1)).as("nu"))
      val ex = kmvExactCounts(s, d).select($"na", $"nb", $"ni")
      def below(x: DataFrame, y: DataFrame, name: String): DataFrame =
        x.join(y, Seq("h"), "left_anti").crossJoin(broadcast(st))
          .filter($"h" <= $"th").agg(count(lit(1)).as(name))
      val cm = sa.join(sb, "h").crossJoin(broadcast(st))
        .filter($"h" <= $"th").agg(count(lit(1)).as("cmn"))
      val estU = "(127 * 16777216) div th"
      broadcast(ex).crossJoin(broadcast(st))
        .crossJoin(broadcast(below(sa, sb, "oa")))
        .crossJoin(broadcast(below(sb, sa, "ob")))
        .crossJoin(broadcast(cm))
        .select($"na", $"nb",
          ($"na" - $"ni").as("diff_exact_ab"),
          ($"nb" - $"ni").as("diff_exact_ba"),
          when($"nu" === 0, lit(0L))
            .when($"nu" < 128, $"na" - $"ni")
            .otherwise(expr(s"(oa * ($estU)) div 128")).as("diff_est_ab"),
          when($"nu" === 0, lit(0L))
            .when($"nu" < 128, $"nb" - $"ni")
            .otherwise(expr(s"(ob * ($estU)) div 128")).as("diff_est_ba"),
          ($"oa" + $"ob" + $"cmn" === $"nu").as("partition_holds"))
        .withColumn("ab_within_50pct",
          abs($"diff_est_ab" - $"diff_exact_ab") * 2 <= $"diff_exact_ab")
        .withColumn("ba_within_50pct",
          abs($"diff_est_ba" - $"diff_exact_ba") * 2 <= $"diff_exact_ba")
    },
    Some {
      def h(id: String): String = {
        val m = s"md5('kmv:' || CAST($id AS VARCHAR))"
        (0 until 6).map { i =>
          s"(strpos('0123456789abcdef', substring($m, ${i + 1}, 1)) - 1) * " +
            s"${1L << (4 * (5 - i))}"
        }.mkString(" + ")
      }
      def base(ty: String): String =
        s"SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL " +
          s"AND event_type = '$ty' AND CAST(round(value*100) AS BIGINT) >= 9000"
      "WITH a AS (" + base("click") + "), b AS (" + base("error") + "), " +
        "sa AS (SELECT h FROM (SELECT DISTINCT " + h("user_id") +
        " AS h FROM a) ORDER BY h LIMIT 128), " +
        "sb AS (SELECT h FROM (SELECT DISTINCT " + h("user_id") +
        " AS h FROM b) ORDER BY h LIMIT 128), " +
        "un AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) " +
        "ORDER BY h LIMIT 128), " +
        "st AS (SELECT CAST(MAX(h) AS BIGINT) AS th, " +
        "CAST(count(*) AS BIGINT) AS nu FROM un), " +
        "ex AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS na, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM b) AS nb, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (user_id)) " +
        "AS ni), " +
        "oa AS (SELECT CAST(count(*) AS BIGINT) AS oa FROM sa, st " +
        "WHERE sa.h <= st.th AND sa.h NOT IN (SELECT h FROM sb)), " +
        "ob AS (SELECT CAST(count(*) AS BIGINT) AS ob FROM sb, st " +
        "WHERE sb.h <= st.th AND sb.h NOT IN (SELECT h FROM sa)), " +
        "cm AS (SELECT CAST(count(*) AS BIGINT) AS cmn FROM sa " +
        "JOIN sb USING (h), st WHERE sa.h <= st.th), " +
        "f AS (SELECT ex.na, ex.nb, ex.na - ex.ni AS diff_exact_ab, " +
        "ex.nb - ex.ni AS diff_exact_ba, " +
        "CASE WHEN st.nu = 0 THEN 0 WHEN st.nu < 128 THEN ex.na - ex.ni " +
        "ELSE (oa.oa * ((127 * 16777216) // st.th)) // 128 END AS diff_est_ab, " +
        "CASE WHEN st.nu = 0 THEN 0 WHEN st.nu < 128 THEN ex.nb - ex.ni " +
        "ELSE (ob.ob * ((127 * 16777216) // st.th)) // 128 END AS diff_est_ba, " +
        "oa.oa + ob.ob + cm.cmn = st.nu AS partition_holds " +
        "FROM ex, st, oa, ob, cm) " +
        "SELECT na, nb, diff_exact_ab, diff_exact_ba, diff_est_ab, " +
        "diff_est_ba, partition_holds, " +
        "abs(diff_est_ab - diff_exact_ab) * 2 <= diff_exact_ab " +
        "AS ab_within_50pct, " +
        "abs(diff_est_ba - diff_exact_ba) * 2 <= diff_exact_ba " +
        "AS ba_within_50pct FROM f"
    })

  // ------------------------------------------------------------------
  // agg_bloom_merge — BLOOM FILTER MERGEABILITY as a hash-checked
  // property, completing the sketch-merge triad (agg_hll_union =
  // bounded merge, agg_cms_merge = exact additive merge, this key =
  // exact IDEMPOTENT merge): Bloom filters over the same (m, k, hash)
  // configuration merge by bitwise OR, and because set union is
  // idempotent the OR of per-shard filters is BIT-IDENTICAL to the
  // filter built over the whole stream — even though shards OVERLAP
  // (a user active in many event types sets the same bits in many
  // shards), which is exactly the case additive CMS merge would
  // double-count and Bloom OR must not. Shards are the event types;
  // per-shard bit ledgers collapse map-side to ≤4096 rows each, the
  // OR is one distinct over the merged ledger, and the key pins ZERO
  // symmetric difference between direct and merged bit sets plus the
  // union bound Σ|shard bits| ≥ |merged bits| that makes the overlap
  // visible. Fully replayable in the oracle.
  // ------------------------------------------------------------------

  private val aggBloomMerge = Q(
    "agg_bloom_merge",
    (s, d) => {
      import s.implicits._
      val u = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select($"user_id", $"event_type").distinct()
      val direct = u.select($"user_id").distinct()
        .withColumn("dep", explode(sequence(lit(0), lit(3))))
        .select(expr(bloomHashExpr("dep", "user_id")).as("bit")).distinct()
      // bounded per-shard bit ledger (≤4096·|types| rows), shared: the
      // OR-merge and the shard stats both consume it
      val shards = Share(u
        .withColumn("dep", explode(sequence(lit(0), lit(3))))
        .select($"event_type", expr(bloomHashExpr("dep", "user_id")).as("bit"))
        .distinct())
      val merged = shards.select($"bit").distinct()
      val shardStats = shards
        .agg(countDistinct($"event_type").as("n_shards"),
          count(lit(1)).as("n_shard_bits_sum"))
      val sides = direct.withColumn("dhit", lit(1L))
        .join(merged.withColumn("mhit", lit(1L)), Seq("bit"), "full_outer")
        .agg(
          sum(coalesce($"dhit", lit(0L))).as("n_bits_direct"),
          sum(coalesce($"mhit", lit(0L))).as("n_bits_merged"),
          sum(coalesce($"dhit", lit(0L)) * (lit(1L) - coalesce($"mhit", lit(0L))))
            .as("n_only_direct"),
          sum(coalesce($"mhit", lit(0L)) * (lit(1L) - coalesce($"dhit", lit(0L))))
            .as("n_only_merged"))
      shardStats.crossJoin(sides)
        .select($"n_shards", $"n_shard_bits_sum", $"n_bits_direct",
          $"n_bits_merged", $"n_only_direct", $"n_only_merged",
          ($"n_only_direct" === 0L && $"n_only_merged" === 0L)
            .as("merge_exact"),
          ($"n_shard_bits_sum" >= $"n_bits_merged").as("union_bound_holds"))
    },
    Some {
      def h(dep: String, id: String): String = {
        val m = s"md5(CAST($dep AS VARCHAR) || ':' || CAST($id AS VARCHAR))"
        s"((strpos('0123456789abcdef', substring($m, 1, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring($m, 2, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring($m, 3, 1)) - 1"
      }
      "WITH u AS (SELECT DISTINCT user_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "dd AS (SELECT unnest(generate_series(0, 3)) AS dep), " +
        "direct AS (SELECT DISTINCT " + h("dep", "user_id") + " AS bit " +
        "FROM (SELECT DISTINCT user_id FROM u) CROSS JOIN dd), " +
        "shards AS (SELECT DISTINCT event_type, " + h("dep", "user_id") +
        " AS bit FROM u CROSS JOIN dd), " +
        "mg AS (SELECT DISTINCT bit FROM shards), " +
        "sc AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_shards, " +
        "CAST(count(*) AS BIGINT) AS n_shard_bits_sum FROM shards), " +
        "j AS (SELECT coalesce(dd2.one, 0) AS dhit, coalesce(mm.one, 0) AS mhit " +
        "FROM (SELECT bit, 1 AS one FROM direct) dd2 " +
        "FULL OUTER JOIN (SELECT bit, 1 AS one FROM mg) mm USING (bit)), " +
        "agg AS (SELECT CAST(SUM(dhit) AS BIGINT) AS n_bits_direct, " +
        "CAST(SUM(mhit) AS BIGINT) AS n_bits_merged, " +
        "CAST(SUM(dhit * (1 - mhit)) AS BIGINT) AS n_only_direct, " +
        "CAST(SUM(mhit * (1 - dhit)) AS BIGINT) AS n_only_merged FROM j) " +
        "SELECT sc.n_shards, sc.n_shard_bits_sum, agg.n_bits_direct, " +
        "agg.n_bits_merged, agg.n_only_direct, agg.n_only_merged, " +
        "agg.n_only_direct = 0 AND agg.n_only_merged = 0 AS merge_exact, " +
        "sc.n_shard_bits_sum >= agg.n_bits_merged AS union_bound_holds " +
        "FROM sc, agg"
    })

  // ------------------------------------------------------------------
  // agg_lc_union — LINEAR-COUNTING UNION as a hash-checked property,
  // the merge law for the bitmap sketch: per-shard bitmaps OR into the
  // union bitmap (idempotent, like Bloom), so the zero-bucket count —
  // and with it the m·ln(m/z) estimate — of the merged bitmap is
  // IDENTICAL to the direct build's, while the SUM of per-shard set
  // bits exceeds the merged count by exactly the shard overlap. The
  // instructive contrast this key pins: LC merges by bitmap OR, never
  // by adding per-shard ESTIMATES (overlapping shards would
  // double-count) — the same reason HLL unions registers, not
  // numbers. Shards = event types; each ledger collapses map-side to
  // ≤4096 rows; the estimate replays exactly in the oracle (one ln,
  // rounded 4dp).
  // ------------------------------------------------------------------

  private val aggLcUnion = Q(
    "agg_lc_union",
    (s, d) => {
      import s.implicits._
      val u = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select($"user_id", $"event_type").distinct()
      val direct = u.select($"user_id").distinct()
        .select(expr(bloomHashExpr("'lc'", "user_id")).as("bit")).distinct()
      val shards = u
        .select($"event_type", expr(bloomHashExpr("'lc'", "user_id")).as("bit"))
        .distinct()
      val merged = shards.select($"bit").distinct()
      def est(zCol: Column): Column =
        when(zCol > 0, dround(lit(4096.0) * log(lit(4096.0) / zCol), 4))
      val stats = shards
        .agg(countDistinct($"event_type").as("n_shards"),
          count(lit(1)).as("n_shard_bits_sum"))
        .crossJoin(direct.agg((lit(4096L) - count(lit(1))).as("z_direct")))
        .crossJoin(merged.agg((lit(4096L) - count(lit(1))).as("z_merged")))
      stats.select($"n_shards", $"n_shard_bits_sum", $"z_direct", $"z_merged",
        est($"z_direct").as("lc_est_direct"),
        est($"z_merged").as("lc_est_merged"),
        ($"z_direct" === $"z_merged").as("merge_exact"),
        ($"n_shard_bits_sum" >= lit(4096L) - $"z_merged")
          .as("union_bound_holds"))
    },
    Some {
      def h(id: String): String = {
        val m = s"md5('lc:' || CAST($id AS VARCHAR))"
        s"((strpos('0123456789abcdef', substring($m, 1, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring($m, 2, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substring($m, 3, 1)) - 1"
      }
      def est(z: String): String =
        s"CASE WHEN $z > 0 THEN " + OSql.sround(s"4096.0 * ln(4096.0 / $z)", 4) + " END"
      "WITH u AS (SELECT DISTINCT user_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "direct AS (SELECT DISTINCT " + h("user_id") + " AS bit " +
        "FROM (SELECT DISTINCT user_id FROM u)), " +
        "shards AS (SELECT DISTINCT event_type, " + h("user_id") + " AS bit FROM u), " +
        "mg AS (SELECT DISTINCT bit FROM shards), " +
        "sc AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_shards, " +
        "CAST(count(*) AS BIGINT) AS n_shard_bits_sum FROM shards), " +
        "zd AS (SELECT 4096 - CAST(count(*) AS BIGINT) AS z_direct FROM direct), " +
        "zm AS (SELECT 4096 - CAST(count(*) AS BIGINT) AS z_merged FROM mg) " +
        "SELECT sc.n_shards, sc.n_shard_bits_sum, zd.z_direct, zm.z_merged, " +
        est("zd.z_direct") + " AS lc_est_direct, " +
        est("zm.z_merged") + " AS lc_est_merged, " +
        "zd.z_direct = zm.z_merged AS merge_exact, " +
        "sc.n_shard_bits_sum >= 4096 - zm.z_merged AS union_bound_holds " +
        "FROM sc, zd, zm"
    })

  // ------------------------------------------------------------------
  // agg_kmv_set_ops — SKETCH SET ALGEBRA over two KMV sketches, the
  // theta-sketch capability that separates a sketch LIBRARY from a
  // sketch table (HLL unions; only order-statistic sketches also
  // intersect — the "how many users did BOTH campaigns reach" question
  // that exact distinct answers only by re-scanning both sides): the
  // big-click and big-error audiences (value ≥ $90) each keep their
  // k = 128 minimum hashes (the `agg_kmv_distinct` hash, shared salt —
  // sketches over the same universe MUST share the hash or the
  // intersection is meaningless), θ = the union sketch's k-th minimum,
  // est_union = (k−1)·U div θ, and est_inter = (common-below-θ ·
  // est_union) div k — every step exact integer arithmetic on the two
  // ≤k-row broadcastable sketches, fully replayable in the oracle.
  // Below-k populations degrade to the EXACT sets (the sketch IS the
  // set — both engines take the same branch on the same counts).
  // Accuracy gates pin ±25% (worst observed 12% union / 9.8%
  // intersection at sf0.1). At 100 TB the two sketch builds are
  // map-side TakeOrdered passes; everything after is k-row arithmetic.
  // ------------------------------------------------------------------

  private val aggKmvSetOps = Q(
    "agg_kmv_set_ops",
    (s, d) => {
      import s.implicits._
      val (sa, sb) = (kmvSketch128(s, d, "click"), kmvSketch128(s, d, "error"))
      val un = sa.unionByName(sb).distinct().orderBy($"h".asc).limit(128)
      val st = un.agg(max($"h").as("th"), count(lit(1)).as("nu"))
      val ex = kmvExactCounts(s, d)
      val cm = sa.join(sb, "h").crossJoin(broadcast(st))
        .filter($"h" <= $"th")
        .agg(count(lit(1)).as("cmn"))
      broadcast(ex).crossJoin(broadcast(st)).crossJoin(broadcast(cm))
        .select($"na", $"nb", $"ni".as("inter_exact"),
          $"nun".as("union_exact"),
          when($"nu" === 0, lit(0L))
            .when($"nu" < 128, $"nun")
            .otherwise(expr("(127 * 16777216) div th")).as("union_est"),
          when($"nu" === 0, lit(0L))
            .when($"nu" < 128, $"ni")
            .otherwise(expr(
              "(cmn * ((127 * 16777216) div th)) div 128")).as("inter_est"))
        .withColumn("union_within_25pct",
          abs($"union_est" - $"union_exact") * 4 <= $"union_exact")
        .withColumn("inter_within_25pct",
          abs($"inter_est" - $"inter_exact") * 4 <= $"inter_exact")
    },
    Some {
      def h(id: String): String = {
        val m = s"md5('kmv:' || CAST($id AS VARCHAR))"
        (0 until 6).map { i =>
          s"(strpos('0123456789abcdef', substring($m, ${i + 1}, 1)) - 1) * " +
            s"${1L << (4 * (5 - i))}"
        }.mkString(" + ")
      }
      def base(ty: String): String =
        s"SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL " +
          s"AND event_type = '$ty' AND CAST(round(value*100) AS BIGINT) >= 9000"
      "WITH a AS (" + base("click") + "), b AS (" + base("error") + "), " +
        "sa AS (SELECT h FROM (SELECT DISTINCT " + h("user_id") +
        " AS h FROM a) ORDER BY h LIMIT 128), " +
        "sb AS (SELECT h FROM (SELECT DISTINCT " + h("user_id") +
        " AS h FROM b) ORDER BY h LIMIT 128), " +
        "un AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) " +
        "ORDER BY h LIMIT 128), " +
        "st AS (SELECT CAST(MAX(h) AS BIGINT) AS th, " +
        "CAST(count(*) AS BIGINT) AS nu FROM un), " +
        "ex AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS na, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM b) AS nb, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (user_id)) " +
        "AS ni, (SELECT CAST(count(*) AS BIGINT) FROM " +
        "(SELECT user_id FROM a UNION SELECT user_id FROM b)) AS nun), " +
        "cm AS (SELECT CAST(count(*) AS BIGINT) AS cmn FROM sa " +
        "JOIN sb USING (h), st WHERE sa.h <= st.th), " +
        "f AS (SELECT ex.na, ex.nb, ex.ni AS inter_exact, " +
        "ex.nun AS union_exact, " +
        "CASE WHEN st.nu = 0 THEN 0 WHEN st.nu < 128 THEN ex.nun " +
        "ELSE (127 * 16777216) // st.th END AS union_est, " +
        "CASE WHEN st.nu = 0 THEN 0 WHEN st.nu < 128 THEN ex.ni " +
        "ELSE (cm.cmn * ((127 * 16777216) // st.th)) // 128 END " +
        "AS inter_est FROM ex, st, cm) " +
        "SELECT na, nb, inter_exact, union_exact, union_est, inter_est, " +
        "abs(union_est - union_exact) * 4 <= union_exact " +
        "AS union_within_25pct, " +
        "abs(inter_est - inter_exact) * 4 <= inter_exact " +
        "AS inter_within_25pct FROM f"
    })

  // ------------------------------------------------------------------
  // audit_sequence_gaps — the "did the replay drop records" audit: a
  // dense sequence-keyed stream is checked for missing id ranges. The
  // archive's event_id domain is dense, so the audited stream PLANTS
  // deterministic drops (event_id ≡ 13 mod 97 withheld — the
  // scan_json_badrecords staging precedent) and the oracle restates
  // the same rule: the hash match proves the DETECTOR reconstructs
  // exactly the planted loss. Machinery is the gap/islands idiom at
  // archive scale: distinct ids → global rank via the two-phase
  // (pid, lrn) + broadcast-offsets idiom (no single-partition
  // WindowExec) → island key id − rn (constant per contiguous run) →
  // a keyed collapse to the island ledger, whose size is the GAP
  // count, not the corpus; totals (missing = span − present,
  // gaps = islands − 1) are scalars off that ledger, and the largest
  // gap is a second two-phase rank + shifted self-join over the
  // ledger only.
  // ------------------------------------------------------------------

  private val auditSequenceGaps = Q(
    "audit_sequence_gaps",
    (s, d) => {
      import s.implicits._
      val ids = Tables.events(s, d)
        .filter(pmod($"event_id", lit(97L)) =!= 13L)
        .select($"event_id".as("id")).distinct()
      val ranked = {
        val r = Cut(Windows.rankIds(ids, $"id".asc), "gap-ids", s"$d/events.parquet")
        val offs = Windows.prefixOffsets(
          r.groupBy("pid").agg(count(lit(1)).as("n")), "pid")
        r.join(broadcast(offs), "pid")
          .select($"id", ($"lrn" + $"off").as("rn"))
      }
      val islands = ranked.withColumn("k", $"id" - $"rn")
        .groupBy("k").agg(min($"id").as("st"), max($"id").as("en"))
      val iRanked = {
        val r = Cut(Windows.rankIds(islands, $"st".asc), "gap-islands", s"$d/events.parquet")
        val offs = Windows.prefixOffsets(
          r.groupBy("pid").agg(count(lit(1)).as("n")), "pid")
        r.join(broadcast(offs), "pid")
          .select($"st", $"en", ($"lrn" + $"off").as("irn"))
      }
      val gaps = iRanked.as("a").join(iRanked.as("b"),
          $"b.irn" === $"a.irn" + 1)
        .select(($"b.st" - $"a.en" - 1).as("gap"))
      val base = ids.agg(min($"id").as("mn"), max($"id").as("mx"),
        count(lit(1)).as("n_present"))
      val gagg = gaps.agg(
        coalesce(count(lit(1)), lit(0L)).as("n_gaps"),
        coalesce(sum($"gap"), lit(0L)).cast("long").as("n_missing_g"),
        coalesce(max($"gap"), lit(0L)).as("largest_gap"))
      base.crossJoin(broadcast(gagg))
        .select($"mn", $"mx", $"n_present",
          ($"mx" - $"mn" + 1 - $"n_present").as("n_missing"),
          $"n_gaps", $"n_missing_g", $"largest_gap")
    },
    Some("WITH ids AS (SELECT DISTINCT event_id AS id FROM events " +
      "WHERE ((event_id % 97) + 97) % 97 <> 13), " +
      "r AS (SELECT id, row_number() OVER (ORDER BY id ASC) AS rn FROM ids), " +
      "isl AS (SELECT id - rn AS k, MIN(id) AS st, MAX(id) AS en " +
      "FROM r GROUP BY 1), " +
      "ir AS (SELECT st, en, row_number() OVER (ORDER BY st ASC) AS irn " +
      "FROM isl), " +
      "g AS (SELECT b.st - a.en - 1 AS gap FROM ir a " +
      "JOIN ir b ON b.irn = a.irn + 1), " +
      "ga AS (SELECT COALESCE(CAST(count(*) AS BIGINT), 0) AS n_gaps, " +
      "COALESCE(CAST(SUM(gap) AS BIGINT), 0) AS n_missing_g, " +
      "COALESCE(CAST(MAX(gap) AS BIGINT), 0) AS largest_gap FROM g), " +
      "b AS (SELECT MIN(id) AS mn, MAX(id) AS mx, " +
      "CAST(count(*) AS BIGINT) AS n_present FROM ids) " +
      "SELECT b.mn, b.mx, b.n_present, " +
      "b.mx - b.mn + 1 - b.n_present AS n_missing, " +
      "ga.n_gaps, ga.n_missing_g, ga.largest_gap FROM b, ga"))

  // ------------------------------------------------------------------
  // audit_duplicate_events — the at-least-once delivery audit, the
  // other half of the replay-integrity pair (`audit_sequence_gaps` =
  // did we DROP records; this = did we DELIVER TWICE): the audited
  // stream plants deterministic duplicates (rows with event_id ≡ 7
  // mod 101 appended a second time) and the detector reports ids seen
  // more than once, extra-row mass, the worst multiplicity, and an
  // exact id checksum of the duplicated set — one map-side count
  // collapse (the shuffle carries (id, count)), then a one-row fold.
  // The oracle restates the planted rule; the hash proves detection ≡
  // ground truth.
  // ------------------------------------------------------------------

  private val auditDuplicateEvents = Q(
    "audit_duplicate_events",
    (s, d) => {
      import s.implicits._
      val Dec38a = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = Tables.events(s, d).select($"event_id")
      val stream = e.unionAll(e.filter(pmod($"event_id", lit(101L)) === 7L))
      val cnt = stream.groupBy("event_id").agg(count(lit(1)).as("c"))
      cnt.agg(
        count(lit(1)).as("n_ids"),
        sum(($"c" > 1).cast("long")).as("n_dup_ids"),
        sum($"c" - 1).cast("long").as("n_extra_rows"),
        max($"c").as("max_multiplicity"),
        sum(when($"c" > 1, $"event_id".cast(Dec38a)).otherwise(lit(0)))
          .cast("long").as("dup_id_checksum"))
    },
    Some("WITH e AS (SELECT event_id FROM events), " +
      "st AS (SELECT event_id FROM e UNION ALL " +
      "SELECT event_id FROM e WHERE ((event_id % 101) + 101) % 101 = 7), " +
      "c AS (SELECT event_id, CAST(count(*) AS BIGINT) AS c FROM st " +
      "GROUP BY 1) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_ids, " +
      "CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ids, " +
      "CAST(SUM(c - 1) AS BIGINT) AS n_extra_rows, " +
      "CAST(MAX(c) AS BIGINT) AS max_multiplicity, " +
      "CAST(SUM(CASE WHEN c > 1 THEN CAST(event_id AS HUGEINT) ELSE 0 END) " +
      "AS BIGINT) AS dup_id_checksum FROM c"))

  // ------------------------------------------------------------------
  // scan_manifest_snapshot — the TRANSACTION-LOG table format in
  // miniature (the lakehouse pattern Delta/Iceberg/Hudi share, and
  // the layer a 100 TB archive actually lives behind): immutable data
  // files + an append-only manifest of add/remove actions; a snapshot
  // read resolves the LOG, not the directory listing. The archive is
  // staged as four immutable parquet files; the manifest adds all
  // four then REMOVES one (a compaction/delete) — the reader must
  // reconstruct the live set (last action per file wins, one tiny
  // ledger aggregate), plan exactly those paths (the driver-side file
  // list is how every real table format plans — bounded by manifest
  // size, never data size), and the tombstoned file must never be
  // scanned (plan-pinned). The oracle restates the snapshot rule over
  // the flat table: the hash proves log-resolution changed the IO,
  // not the answer.
  // ------------------------------------------------------------------

  private val scanManifestSnapshot = Q(
    "scan_manifest_snapshot",
    (s, d) => {
      import s.implicits._
      val base = TmpDirs.dir("lake")
      val ev = Tables.events(s, d)
        .select($"event_id", $"event_type",
          round($"value" * 100).cast("long").as("c"))
      (0 to 3).foreach { i =>
        ev.filter(pmod($"event_id", lit(4L)) === i.toLong)
          .write.mode("overwrite").parquet(s"$base/f$i")
      }
      val log = Seq((1L, "add", "f0"), (1L, "add", "f1"), (1L, "add", "f2"),
        (1L, "add", "f3"), (2L, "remove", "f3"))
        .toDF("seq", "action", "file")
      val live = log.groupBy("file")
        .agg(max(struct($"seq", $"action")).as("m"))
        .filter($"m.action" === "add")
        .select($"file")
      // the driver-side live-file list IS the table-format contract:
      // bounded by the manifest, never by data volume
      val paths = live.collect().map(r => s"$base/${r.getString(0)}").sorted
      s.read.parquet(paths: _*)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum($"c").cast("long").as("sum_cents"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, " +
      "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents " +
      "FROM events WHERE ((event_id % 4) + 4) % 4 <> 3 " +
      "GROUP BY 1 ORDER BY 1"))

  val qs: Seq[Q] = Seq(joinSkewSalted, joinBucketed, cdcUpsert, cdcScd2, scanCsv,
    aggHeavyHitters, joinRangeBinned, zorderCluster, aggQuantiles,
    scanTimePartitioned, scanDppJoin, windowRankDistributed, scanSchemaMerge,
    scanOrc, joinRuntimeFilter, joinSkewAqe, aggIncremental, sinkCompact,
    aggApproxQuantile, scanBinary, scanJsonMultiline, scanNestedStruct,
    scanParquetZstd, scanKplDeaggregate, replayDlqRedrive, aggCmsEstimate,
    aggBloomMembership, auditSequenceGaps, auditDuplicateEvents,
    scanManifestSnapshot, aggKmvDistinct, aggLinearCounting, aggKmvSetOps,
    aggCmsMerge, aggBloomMerge, aggLcUnion, aggKmvDiff)
}
