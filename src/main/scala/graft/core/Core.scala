package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared engine operator: the Spark implementation plus (when the
  * semantics are SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares against. Keys are the SURVEY.md §2 contract keys.
  */
final case class Q(
    key: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Table readers. One parquet dir per scale factor; tables are plain
  * parquet files so Spark's FileSourceScan gives us column pruning,
  * predicate pushdown into row groups, and split-level parallelism for
  * free — at 100 TB these become partitioned directory trees and the
  * same reader works unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, path) memo of ANALYZED base relations. Creating a
    * DataFrame over a parquet path is not free: the driver lists the
    * directory and reads a footer to infer the schema EVERY
    * `spark.read.parquet` call (~30–100 ms each) — and the engine's
    * 400+ query functions each re-open their tables per invocation, so
    * a full bench pays that metadata cost hundreds of times over for
    * corpus dirs that are immutable for the life of the run (the same
    * immutability contract [[IndexCache]]'s per-JVM memo relies on).
    * Memoizing the DataFrame reuses the resolved relation —
    * file listing + schema — exactly like registering the tables in a
    * catalog once (the guide's filesourcePartitionFileCacheSize point);
    * NO row data is cached, every query still scans parquet. Scratch
    * and per-test dirs (`graft-run-`/`graft-test-` — mutated mid-JVM by
    * design) are never memoized, so a re-staged test corpus can't be
    * served a stale file listing.
    *
    * Lifetime note (r15 ADVICE): entries are keyed by the session
    * OBJECT and never evicted, so a cached relation — and its owning
    * session — lives for the JVM. That is the intended economics for
    * the bench/verify mains (one session, cold JVM per run). A
    * long-lived host that churns through many sessions over the same
    * immutable paths would retain one DataFrame per (session, path);
    * entries for a STOPPED session are never served again unless the
    * same session object is reused after stop(), which Spark does not
    * do in this codebase (sessions here are created once per main or
    * per test suite and stopped at exit).
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def mutableDir(dir: String): Boolean =
    dir.contains("graft-run-") || dir.contains("graft-test-")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureUtcConf(spark)
    val path = s"$dir/$name.parquet"
    if (mutableDir(dir)) spark.read.parquet(path)
    else relCache.computeIfAbsent((spark, path), _ => spark.read.parquet(path))
  }

  /** On-disk bytes of a table/archive path — recursive regular-file
    * walk (a partitioned/nested layout must sum its leaves, not the
    * directory inode sizes a flat listFiles() reports). Used to derive
    * size-proportional knobs (skew thresholds, trigger caps, shard
    * counts): a fixed byte constant that is right at one SF is wrong
    * at 100× — deriving from the archive keeps task counts and epoch
    * counts roughly scale-invariant.
    */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  /** Pin the session timezone to UTC — once, at every table front
    * door. The archive contract defines all time semantics in UTC
    * (SURVEY §1.3) and every DuckDB oracle reads the naive timestamps
    * as such, but Spark's timestamp display functions (year, to_date,
    * casts) read the SESSION timezone; an externally-built non-UTC
    * session would silently shift rows across date/filter boundaries
    * in every timestamp-touching twin. Same healing contract as the
    * nanos flag: write only when the value differs, never repeatedly.
    */
  private[graft] def ensureUtcConf(spark: SparkSession): Unit =
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC") {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses by
    * default (PARQUET_TYPE_ILLEGAL). We read it as a long of nanos
    * (legacy nanosAsLong) and derive `ms` = epoch milliseconds via
    * integer division (nanos ≈ 1.7e18 exceeds double's 2^53 mantissa, so
    * a float division would corrupt it). DuckDB truncates the same
    * column to µs; epoch_ms(ts) there equals `ms` here, which is the
    * only time representation verified queries may emit (SURVEY §1.3).
    *
    * The nanosAsLong flag is session-level and belongs in the session
    * builder (see [[Sessions.config]]). The driver contract, however,
    * may invoke query functions with an externally-built session
    * (SURVEY §1), so `ensureNanosConf` heals an unset flag exactly once
    * — it only writes when the value is absent/false, never repeatedly,
    * so concurrent queries cannot race on conflicting values.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosConf(spark)
    // same analyzed-relation memo as [[t]] (the nanos heal above runs
    // before the first — schema-fixing — read of the session)
    val path = s"$dir/events.parquet"
    val raw =
      if (mutableDir(dir)) spark.read.parquet(path)
      else relCache.computeIfAbsent((spark, path), _ => spark.read.parquet(path))
    // UTC heal runs in the shared parquet front door ([[ensureUtcConf]]
    // via [[t]]); it covers msExpr's NTZ→LTZ cast on the
    // MICROS-generation schema too.
    raw.withColumn("ms", msExpr(raw.schema))
  }

  /** Epoch-millisecond expression for the archive's `ts` column, robust
    * to both generations of the events schema: parquet TIMESTAMP(NANOS)
    * read as a long of nanos (legacy nanosAsLong — see [[events]]) and
    * parquet TIMESTAMP(MICROS) read as TIMESTAMP_NTZ. The session
    * timezone is pinned to UTC ([[Sessions.config]]), so the NTZ
    * wall-clock IS the instant and the NTZ→LTZ cast is exact. Both
    * branches are integer-only (a float division of epoch nanos would
    * exceed double's 2^53 mantissa and corrupt low-order millis).
    * DuckDB's `epoch_ms(ts)` equals this in either generation, which is
    * the only time representation verified queries may emit (SURVEY
    * §1.3). Every `ts` consumer — batch or streaming — derives `ms`
    * through this one definition so a future schema change lands here.
    */
  def msExpr(schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      // FLOOR division (pmod spelling), matching DuckDB's epoch_ms —
      // which floors — for pre-epoch timestamps; a bare `div` would
      // truncate a negative nanos/micros value one ms too high.
      case org.apache.spark.sql.types.LongType =>
        expr(Det.fdivExpr("ts", "1000000"))
      case _ =>
        expr(Det.fdivExpr("unix_micros(cast(ts as timestamp_ltz))", "1000"))
    }

  /** Memoized "archive has zero rows" probe for the empty-corpus
    * guards at the streaming front doors (~20 call sites, each a
    * LocalLimit(1) scan job per invocation). Same immutability
    * contract and mutable-dir escape as [[t]]'s relation memo.
    */
  private val emptyCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Boolean]()

  def eventsEmpty(spark: SparkSession, dir: String): Boolean =
    if (mutableDir(dir)) events(spark, dir).isEmpty
    else emptyCache.computeIfAbsent((spark, dir),
      _ => Boolean.box(events(spark, dir).isEmpty))

  /** Heal the nanos-timestamp read conf (see [[events]]). Public within
    * the engine so streaming front doors that read the events parquet
    * directly (Replay, StreamJoin, StatefulSessions) can heal an
    * externally-built session before their first raw read.
    */
  private[graft] def ensureNanosConf(spark: SparkSession): Unit = {
    // every caller that needs the nanos heal is also a time consumer —
    // heal the session timezone at the same door
    ensureUtcConf(spark)
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
  }

  /** FileStreamSource wants a directory or a glob; brace-globbing the
    * file name streams a single archive file with its parent as base.
    * A directory path passes through unchanged in effect (its last
    * segment braces to itself). Hadoop glob metacharacters in the file
    * name — including the comma, which is an ALTERNATION SEPARATOR
    * inside braces and would silently match the wrong files (zero-row
    * "successful" replay) — are backslash-escaped first. One definition
    * for every streaming front door.
    */
  private def splitLast(path: String): (String, String) = {
    val slash = path.lastIndexOf('/')
    (path.substring(0, slash + 1), path.substring(slash + 1))
  }

  private def escapeName(name: String): String =
    name.replaceAll("([\\\\*?\\[\\]{}^!,])", "\\\\$1")

  /** Escape Hadoop glob metacharacters in the final path segment —
    * Spark's BATCH readers also glob their paths, so a literal
    * `[v1]`-style file name needs this before any `spark.read`.
    */
  private[graft] def escapeGlob(path: String): String = {
    val (dir, name) = splitLast(path)
    dir + escapeName(name)
  }

  private[graft] def srcGlob(path: String): String = {
    val (dir, name) = splitLast(path)
    s"$dir{${escapeName(name)}}"
  }
}

/** THE gzip-NDJSON archive record (the reference's native wire format):
  * one definition shared by the batch scan (`scan_text_gz`), the
  * streaming replay front door (`Replay.replayNdjsonGz`), both read
  * through the JSON file source, and the archive staging writers — so
  * the schema the archive is WRITTEN with and the schema it is PARSED
  * with can never drift apart (a drifted field would silently null out
  * under a PERMISSIVE parse).
  */
object Ndjson {
  import org.apache.spark.sql.types._

  /** The archive record fields, in wire order. `props` stays a raw JSON
    * string (JSON-in-JSON, parsed on demand downstream).
    */
  val fields: Seq[StructField] = Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ms", LongType), StructField("props", StringType))

  /** Parse schema for clean lines. */
  val recordSchema: StructType = StructType(fields)

  /** Parse schema with the declared corrupt-record column (a PERMISSIVE
    * parse never drops a non-blank line — malformed lines surface ONLY
    * through this column).
    */
  val corruptColumn = "_corrupt"
  val corruptSchema: StructType =
    StructType(fields :+ StructField(corruptColumn, StringType))

  /** Stage the events table as a gzip NDJSON archive (content
    * deterministically derived from the parquet archive) and return the
    * directory. Keeps Spark's source partitioning: N part files ⇒ N
    * parallel decompress tasks downstream (.gz is not splittable — the
    * reference's one-reader-per-file model).
    *
    * Cached per (label, source dir) per JVM: the archive is FIXTURE —
    * the staged bytes are a pure function of the source — so the batch
    * scan and the streaming replay that read the same label share one
    * staging write instead of re-encoding the corpus each. A caller
    * that intends to MUTATE its copy (the corrupt-archive test) uses
    * its own label and stays isolated.
    */
  /** Target shard count for the staged gz layout: .gz is not
    * splittable, so the DECODE parallelism of every later scan/replay
    * is exactly the file count — a one-file source archive (the sf0.1
    * fixture) would serialize 60k decompress+parse rows through one
    * task. Hash-partitioned on event_id (deterministic file contents,
    * unlike round-robin), capped so tiny archives don't fragment; a
    * 100 TB stager sizes this to target-MB-per-file the same way.
    */
  private val GzStageShards = 8

  def stageGz(spark: SparkSession, dir: String, label: String): String =
    IndexCache.dir(s"$label|$dir") {
      val out = TmpDirs.dir(label)
      Tables.events(spark, dir)
        .repartition(GzStageShards, col("event_id"))
        .select(to_json(struct(fields.map(f => col(f.name)): _*)).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(out)
      out
    }
}

/** All scratch space (streaming sinks, checkpoints, state dirs) lives
  * under ONE per-JVM root that a shutdown hook removes — repeated
  * Verify/Bench runs leave no orphaned /tmp/graft-* dirs. Dirs are
  * deleted at exit, not per query, because a replayed sink outlives the
  * query function that created it (the returned DataFrame may still be
  * consumed by the caller).
  */
object TmpDirs {
  /** Scratch medium selection: prefer a memory-backed filesystem
    * (`/dev/shm`, tmpfs) when it exists with comfortable headroom,
    * else the JVM default tmpdir. Scratch here is checkpoints, staged
    * archives, and replay sinks — all reaped at JVM exit — and every
    * streaming micro-batch pays offset-log/state/commit fsyncs into
    * it, so a disk-backed /tmp (ext4 on this box) charges rotational
    * latency to per-batch fixed cost that a real deployment would put
    * on fast local NVMe or object storage. Overridable
    * (SPARK_GRAFT_TMP) for boxes where /dev/shm is small or shared;
    * the 16 GiB floor keeps a loaded tmpfs from being picked over a
    * roomy disk.
    */
  private def scratchBase: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val floor = 16L << 30
    val envTmp = sys.env.get("SPARK_GRAFT_TMP").map(Paths.get(_))
    // an override pointing nowhere must fail LOUDLY, not silently land
    // scratch on tmpfs — the operator asked for a specific medium
    envTmp.filterNot(Files.isDirectory(_)).foreach { p =>
      System.err.println(s"[graft] WARN: SPARK_GRAFT_TMP='$p' is not a " +
        "directory; ignoring the override (scratch falls back to " +
        "/dev/shm or java.io.tmpdir)")
    }
    envTmp.filter(Files.isDirectory(_))
      .orElse(Some(Paths.get("/dev/shm")).filter { p =>
        try Files.isDirectory(p) && Files.isWritable(p) &&
          Files.getFileStore(p).getUsableSpace > floor
        catch { case _: Throwable => false }
      })
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
  }

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(scratchBase, "graft-run-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmrf(p)))
    p
  }

  /** Once the chosen medium drops below this headroom, NEW scratch dirs
    * land on the disk-backed JVM tmpdir instead — the one-time medium
    * pick is re-validated per allocation, so a long run of staged
    * archives degrades to disk instead of exhausting a RAM-backed
    * tmpfs mid-run (ENOSPC / OOM-killer). Checked per [[dir]] call —
    * one statfs syscall against parquet-write costs.
    */
  private val LowWater = 4L << 30

  private lazy val diskRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), "graft-run-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmrf(p)))
    p
  }

  private val pressureWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A fresh scratch directory `<root>/<prefix>-<n>` — or under the
    * disk-backed fallback root when the scratch medium is under
    * pressure (see [[LowWater]]).
    */
  def dir(prefix: String): String = {
    val base = try {
      if (java.nio.file.Files.getFileStore(root).getUsableSpace < LowWater &&
          !root.startsWith(diskRoot.getParent)) {
        if (pressureWarned.compareAndSet(false, true)) {
          System.err.println(s"[graft] WARN: scratch medium '$root' below " +
            s"${LowWater >> 30} GiB headroom; new scratch dirs fall back " +
            s"to '${diskRoot.getParent}'")
        }
        diskRoot
      } else root
    } catch { case _: Throwable => root }
    java.nio.file.Files.createTempDirectory(base, prefix + "-").toString
  }

  /** A STABLE scratch directory `<root>/<name>` — the same path every
    * call with the same name (unlike [[dir]]): the warehouse-location
    * model for PERSISTED index artifacts, where a later job must be
    * able to find the table again by name. Still reaped at JVM exit.
    */
  def stable(name: String): String = {
    val p = root.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Recreate `src`'s tree under `dst` via HARDLINKS (fall back to a
    * byte copy per file when the filesystems differ or linking is
    * unsupported). Parquet part files are immutable once written, so a
    * linked base is safe to share; the use case is copy-on-first-use
    * staging (index_append): a fresh writable view of a pristine
    * [[IndexCache]] artifact per invocation without re-writing its bytes.
    */
  private[graft] def linkOrCopyTree(src: String, dst: String): Unit = {
    import java.nio.file._
    import java.nio.file.attribute.BasicFileAttributes
    val (s, t) = (Paths.get(src), Paths.get(dst))
    Files.createDirectories(t)
    Files.walkFileTree(s, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) = {
        Files.createDirectories(t.resolve(s.relativize(d)))
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        val out = t.resolve(s.relativize(f))
        try Files.createLink(out, f)
        catch { case _: Throwable =>
          Files.copy(f, out, StandardCopyOption.REPLACE_EXISTING) }
        FileVisitResult.CONTINUE
      }
    })
  }

  private def rmrf(p: java.nio.file.Path): Unit = {
    import java.nio.file._
    import java.nio.file.attribute.BasicFileAttributes
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: java.io.IOException) = {
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
  }
}

/** The one eager materialisation: a lineage cut that runs a job before
  * the query is returned. Use it where a lazy [[Share]] cannot stand:
  *  - an iteration whose plan would otherwise grow without bound (each
  *    round reads the last round's rows, not its lineage);
  *  - a relation with sampled or positional values (range bounds,
  *    `monotonically_increasing_id`), which must be evaluated once;
  *  - a plan-shape cut, where a later rule needs a bare stage;
  *  - evaluation that must happen inside a conf or catalog scope;
  *  - a relation read both by a cut and by the query around it, or one
  *    whose readers measured slower sharing it than reading a cut.
  *
  * On archives up to 2 GiB the cut is an eager `localCheckpoint`:
  * executor-local and non-replicated, so an executor loss after the cut
  * has no recompute path. Above the gate the relation spills to scratch
  * parquet under [[TmpDirs]] and is read back (fault-tolerant, reaped at
  * JVM exit). The gate reads directory bytes, no extra job.
  */
object Cut {
  private val LocalCheckpointMaxArchiveBytes = 2L << 30

  def apply(df: DataFrame, name: String, archive: String): DataFrame =
    if (Tables.dirBytes(archive) <= LocalCheckpointMaxArchiveBytes)
      df.localCheckpoint(true)
    else {
      val p = TmpDirs.dir(name)
      df.write.mode("overwrite").parquet(p)
      df.sparkSession.read.parquet(p)
    }
}

/** Per-JVM build-once memo of DERIVED INDEX ARTIFACTS — materialized
  * relations and staged archive layouts that are pure deterministic
  * functions of an (immutable) archive dir: LSH signature tables, IVF
  * quantized components and trained assignments, gz/KPL/date-partitioned
  * encodes. Production economics are build-once/query-many: an index is
  * built when the corpus lands and amortized over every query after, so
  * recomputing it inside each of the several operators that share it
  * (the ANN family + its recall gate) mis-charges the build N×. The
  * FIRST caller in a JVM builds and pays — the cost is ledgered in
  * [[stagingLog]] — and later callers reuse the path. Keys embed the
  * source dir (plus any index parameters), so distinct corpora —
  * including per-test staged dirs — never collide. Storage lives in
  * [[TmpDirs]] scratch and is reaped at JVM exit; nothing is reused
  * across runs, so every run's staging cost is a cold build. Results
  * are bit-identical with or without a hit (the build is deterministic),
  * which is why Verify's hash gate is unaffected.
  */
object IndexCache {
  private val paths = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Always empty: artifacts are never served from a cross-run store. */
  def storeHits: Set[String] = Set.empty

  /** Per-JVM ledger of cold-build costs (key → seconds). Bench reads
    * this between queries to move staging time OUT of whichever query
    * happened to be the family's first consumer and into a dedicated
    * `index_staging` metric — the build is amortized over every later
    * consumer in production, so charging it to one query's number
    * mis-grades that query.
    */
  private val stagedSecs = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def stagingLog: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    stagedSecs.asScala.toMap
  }

  /** DataFrame-valued artifacts: the build is written once to scratch
    * parquet through [[dir]] and every caller reads it back. The read
    * relation is memoized per (session, path) like [[Tables.t]]'s, so a
    * later caller in the session infers no schema (a footer job).
    */
  def apply(s: SparkSession, key: String, build: => DataFrame): DataFrame = {
    val p = dir(key) {
      val p = TmpDirs.dir("idx")
      build.write.mode("overwrite").parquet(p)
      p
    }
    rels.computeIfAbsent((s, p), _ => s.read.parquet(p))
  }

  private val rels =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** PATH-valued artifacts — staged archive LAYOUTS (KPL frame files,
    * gzip NDJSON encodes, date-partitioned trees) — and the store under
    * [[apply]]. `build` runs on a miss and returns the directory it
    * wrote.
    *
    * NOT computeIfAbsent: a build may itself stage a nested artifact
    * (co-edges builds on co-counts), and a nested computeIfAbsent on the
    * same map throws "Recursive update". Double-checked putIfAbsent is
    * re-entrant; two CONCURRENT first callers both build, first write
    * wins and the loser's directory waits for JVM-exit reaping.
    */
  def dir(key: String)(build: => String): String = {
    val cached = paths.get(key)
    if (cached != null) cached
    else {
      val t0 = System.nanoTime()
      val built = build
      val prev = paths.putIfAbsent(key, built)
      if (prev != null) prev
      else {
        val secs = (System.nanoTime() - t0) / 1e9
        stagedSecs.put(key, secs)
        // staging cost is also visible inline for ad-hoc runs
        System.err.println(f"[graft] index '$key' staged in $secs%.2f s")
        built
      }
    }
  }
}

/** Session-build configuration shared by Verify / Bench / tests so every
  * entry point constructs an identical engine session.
  */
object Sessions {
  /** Default state-store shard count for the engine's stateful streaming
    * queries (windowed agg, stream-stream join, flatMapGroupsWithState).
    *
    * A streaming query pins its state partitioning to
    * spark.sql.shuffle.partitions AT FIRST START (it is recorded in the
    * checkpoint), and every state partition is a live state-store
    * instance paying per-batch snapshot/fsync overhead — a stream-stream
    * join runs FOUR stores per partition. The engine's batch default
    * (one partition per core) is the wrong shape for streams: state
    * overhead scales with shard count, not data. This knob is a
    * deployment parameter — size it to sustained state volume (at 100 TB
    * you raise it into the hundreds so each store's keyspace fits in
    * executor memory). The default of 4 suits up to ~10^6 state keys —
    * the bench-SF families hold ≤10^3 (hour×type windows, user ids),
    * and each halving of the shard count was once measured to reclaim
    * ~0.1–0.2 s of per-query store overhead at 32 cores, so the
    * run-to-completion shape stops paying for shards its state never
    * fills.
    */
  val StreamStateShards: Int = {
    // Validate here: a bare .toInt in object init would surface a typo'd
    // env var as an ExceptionInInitializerError on first Sessions access
    // (masking the cause), and 0/negative would fail every stateful
    // streaming query at runtime. Fall back loudly instead.
    val default = 4
    sys.env.get("SPARK_GRAFT_STREAM_SHARDS") match {
      case None => default
      case Some(raw) => raw.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(
          s"[graft] WARN: SPARK_GRAFT_STREAM_SHARDS='$raw' is not a " +
            s"positive integer; using default $default")
        default
      }
    }
  }

  /** Run `body` with spark.sql.shuffle.partitions temporarily set to
    * `n`, restoring the caller's value after. The conf is read when a
    * STREAMING query starts, so wrapping start()..awaitTermination()
    * scopes the state shard count to that query. Relies on the engine's
    * single-threaded driver contract (SURVEY §1) — a concurrent batch
    * query in the same session would observe the narrowed value.
    */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConfs(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with session confs temporarily set, restoring (or
    * unsetting) each caller value after — the generalization of
    * [[withShufflePartitions]] for streaming-scoped knobs. Same
    * single-threaded-driver caveat.
    */
  def withConfs[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Scope for ONE engine streaming query: state shards narrowed to
    * [[StreamStateShards]] and — when `noDataBatch = false` — the
    * trailing no-data micro-batch disabled.
    *
    * Spark appends a zero-row micro-batch after the last data batch to
    * advance the watermark (noDataMicroBatches, default on). That batch
    * is pure fixed cost — a full state-store load/commit cycle across
    * every shard (measured ~0.3–0.5 s per stateful query at 8 shards on
    * this box) — and it changes the RESULT only for sinks whose final
    * rows are emitted BY the watermark advance:
    *
    *  - append-mode OUTER stream-stream joins (null rows emit when the
    *    watermark proves no match can arrive) and append-mode windowed
    *    aggs (windows finalize past the watermark) NEED it — those call
    *    sites pass `noDataBatch = true`;
    *  - complete-mode aggs re-emit the same full result, dedup sinks
    *    emit on arrival (the watermark only evicts state), Update-mode
    *    session folds emit summaries that are invariant to an interval
    *    merely closing (closed + open totals are what's emitted), and
    *    inner stream-stream joins emit matches immediately — for all of
    *    these the no-data batch is dead weight and is turned off.
    *
    * At 100 TB this knob is irrelevant (one batch's fixed cost amortizes
    * over a long-lived query); it matters exactly in the run-to-
    * completion AvailableNow shape Verify/Bench execute, where every
    * key pays query startup + each micro-batch as marginal cost.
    */
  def streamScope[T](s: SparkSession, noDataBatch: Boolean = false)(body: => T): T =
    withConfs(s,
      "spark.sql.shuffle.partitions" -> StreamStateShards.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString)(body)

  /** A streaming read of a glob path makes FileStreamSink warn "Assume
    * no metadata directory" with a full stack trace (a glob has no
    * _spark_metadata dir to probe); the read succeeds. Only that logger
    * is lowered, after Spark's first log call has loaded its log4j
    * defaults — that load resets any level set before it.
    */
  private object QuietGlobProbe extends org.apache.spark.internal.Logging {
    lazy val once: Unit = {
      log
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        org.apache.logging.log4j.Level.ERROR)
    }
  }

  def config(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    QuietGlobProbe.once
    b.withExtensions(new graft.plans.GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // v2 commit algorithm renames task files inline instead of a
      // serial job-commit pass — matters for the replay sink's many
      // ≤500-record put-batch files.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      // CodeGenerator's cache is keyed by (context class loader, source
      // text), and every session — each streaming query runs in a clone —
      // gets its own artifact class loader by default. A replay drain then
      // recompiled the same ~19 generated classes with Janino (0.16–0.34 s
      // per drain on a 4-core host, plus tasks queued on the codegen
      // lock). The engine adds no artifacts, so all sessions share one
      // loader and one codegen cache.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Both of Hadoop's `file:` APIs without process forks (see
      // ForkFreeRawLocalFileSystem). The FileSystem cache is keyed by
      // scheme, authority and user, not by conf: the first `file:`
      // filesystem a JVM creates decides for every session in it.
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
  }
}

/** JSON string literal: quotes and escapes backslash, quote and ALL
  * control chars (<0x20) — a tab or CR in SQL text or a path would
  * otherwise make a consumer's json.load fail.
  */
private[graft] object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Determinism helpers (SURVEY.md §2.3). The driver hash-compares our
  * parquet dump against DuckDB, so every float that passed through an
  * order-dependent accumulation must be rounded the SAME way in both
  * engines. Two engine-agnostic tricks:
  *
  *  1. Money sums accumulate EXACTLY in decimal (Spark decimal sum and
  *     DuckDB decimal sum are both exact), then cast once to double —
  *     summation order can no longer matter.
  *  2. Rounding uses floor(x * 10^n + 0.5) / 10^n rather than round():
  *     Spark's round() goes through Java BigDecimal's shortest-repr
  *     while DuckDB rounds the scaled binary value — they disagree near
  *     .5 boundaries. floor/mul/add are IEEE-deterministic and identical
  *     in both engines.
  *
  * Known bound on the DOUBLE → DECIMAL cast itself (the `Dec`-typed
  * exact sums): Spark rounds the double's shortest decimal
  * representation (BigDecimal HALF_UP) while DuckDB rounds the scaled
  * binary value — inputs with ≥7 fractional decimal digits sitting at
  * a scale-6 .5 boundary can yield decimal operands 1e-6 apart before
  * any sum. The archive contract (SURVEY §1.3) pins value columns to
  * 2 decimals, where the boundary cannot arise; a >6-decimal source
  * would need to quantize to integers (round(x·10^k)) before casting,
  * as the cent-ledger operators already do.
  */
object Det {
  val Dec: DecimalType = DecimalType(20, 6)

  /** Deterministic half-up-ish rounding: identical bit pattern in any
    * IEEE-754 engine evaluating the same double.
    */
  def dround(c: Column, n: Int): Column = {
    val f = math.pow(10, n)
    floor(c * lit(f) + lit(0.5)) / lit(f)
  }

  /** Order-independent money sum, 2 decimals. */
  def moneySum(c: Column): Column =
    dround(sum(c.cast(Dec)).cast("double"), 2)

  /** Order-independent average (exact decimal sum / count), 4 decimals. */
  def moneyAvg(c: Column): Column =
    dround(sum(c.cast(Dec)).cast("double") / count(c), 4)

  /** FLOOR integer division as a SQL-expression string. Spark's `div`
    * truncates toward zero while the DuckDB oracles use `//` (floor),
    * so a negative dividend — e.g. a pre-epoch ms — lands one bucket
    * apart under a bare `div`. `x - pmod(x, k)` is always an exact
    * multiple of k, so the final `div` is exact floor division for
    * any sign of x (and of a column divisor k).
    */
  def fdivExpr(e: String, k: String): String =
    s"(($e) - pmod(($e), ($k))) div ($k)"
}

/** DuckDB-side spellings of the Det helpers, for oracle SQL strings. */
object OSql {
  def sround(e: String, n: Int): String =
    s"floor(($e) * 1e$n + 0.5) / 1e$n"

  def msum(e: String): String =
    sround(s"CAST(SUM(CAST($e AS DECIMAL(20,6))) AS DOUBLE)", 2)

  def mavg(e: String): String =
    sround(s"CAST(SUM(CAST($e AS DECIMAL(20,6))) AS DOUBLE) / count($e)", 4)
}
