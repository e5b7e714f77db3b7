package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._
import graft.core.{Det, Ndjson, OSql, Q, Tables, TmpDirs}

/** What one replay run did (A9 progress and failed records), returned
  * by value — the per-query progress model of Structured Streaming, so
  * two replays in one JVM never share accounting.
  *
  * @param sink the sink directory
  * @param rows rows the stream's `observe` metric counted (pull-based)
  * @param batches (batchId, numInputRows) per micro-batch in batch
  *   order, as the run's StreamingQueryListener saw them (push-based)
  * @param pacingMs ms the records/second/shard cap slept; 0 when off
  * @param sinkMs wall ms (write + pacing sleep) of the rate-capped sink
  *   across the run's epochs; 0 when the cap is off. The A7 contract is
  *   "an epoch cannot complete faster than max-shard-records / rate": a
  *   fast machine pays the difference as sleep, a loaded one in the
  *   write itself, so this — not `pacingMs` — is what the contract bounds
  * @param retried records that failed their first simulated PutRecords
  *   attempt and landed in the sink's `attempt=2` partition, as the
  *   sink write itself observed them; None when injection is off
  * @param deadLettered lines the NDJSON parse rejected and the sink
  *   dropped (a corrupt record must never become a null-keyed row in a
  *   shard); None for a parquet archive
  * @param phaseMs Σ `durationMs` per trigger phase (addBatch, getBatch,
  *   walCommit, …) over the run's progress events
  */
final case class ReplayReport(
    sink: String,
    rows: Long,
    batches: Seq[(Long, Long)],
    pacingMs: Long,
    sinkMs: Long,
    retried: Option[Long],
    deadLettered: Option[Long],
    phaseMs: Map[String, Long])

/** The reference's identity re-expressed Spark-first: replay an archived
  * event stream from object storage into a sharded streaming sink, then
  * run a watermarked event-time aggregation over the replayed stream
  * (SURVEY §2.1 stages A1–A9, §2.2 scans/sinks, §7.1 slice 4).
  *
  * Two genuine Structured Streaming queries:
  *
  *  1. `replayArchive` — `readStream` over the parquet archive with
  *     `maxFilesPerTrigger` as the optional rate limit (the
  *     archive-replay throttle), routes each record to a shard by hash
  *     of its partition key (`user_id` — the Kinesis partition-key
  *     model), and a `foreachBatch` sink writes shard-partitioned output
  *     where every record carries its ≤500-record put batch id (the
  *     PutRecords cap) in event-time order per shard. Runs with
  *     `Trigger.AvailableNow` — one single-pass drain when unthrottled
  *     (the bench path replays the archive ONCE), a bounded multi-batch
  *     catch-up when throttled. At scale the sink call becomes the real
  *     stream API; the plumbing — schema, sharding, batch shape,
  *     checkpointing, retry idempotence — is identical.
  *  2. `aggregateReplayed` — `readStream` over the replayed shards,
  *     `withWatermark(1 hour)` + tumbling 1-hour window × event_type
  *     aggregation, emitted through the memory sink in complete mode.
  *     Counts are exact and the value sum accumulates in DECIMAL, so the
  *     result is bit-identical no matter how the replay was micro-batched
  *     — which is what lets the driver hash-compare it against the SAME
  *     DuckDB oracle as the batch twin `stream_tumbling`.
  *
  * Sink retry semantics (A7): each micro-batch writes with DYNAMIC
  * partition overwrite keyed by its epoch — a retried epoch (Spark
  * re-runs a failed `foreachBatch` with the same epochId) replaces its
  * own partitions instead of appending duplicates, which is the
  * idempotence-by-batchId contract a real put-batch sink needs
  * (exercised in ReplayTwinSpec).
  *
  * Progress/error reporting (A9): the replay stream `observe`s its
  * per-batch row count; [[replayArchive]] sums the observed metric over
  * the run's progress events into the [[ReplayReport]] it returns and
  * logs one `[replay]` line per run — the reference's per-batch
  * progress log, asserted loss-free in ReplayTwinSpec.
  *
  * Ordering contract: put_seq numbers rows in event-time order WITHIN
  * one micro-batch epoch (the epoch prefix keeps batches from merging).
  * Cross-epoch event-time order is NOT claimed — a throttled replay of a
  * multi-file archive can emit an earlier event time in a later epoch,
  * exactly like a real producer re-driving PutRecords from a second
  * archive file; per-shard consumers order by (ms, event_id), not by
  * arrival. The unthrottled single-pass run is one epoch, so there the
  * order is total per shard.
  *
  * State at scale: the windowed agg keeps #openWindows × #eventTypes
  * rows of state per key range; the 1-hour watermark bounds it — state
  * for windows older than max(event time) − 1 h is evicted.
  */
object Replay {

  /** Run-local sink counters: the `foreachBatch` sink adds to them on
    * the stream's thread, [[runReplay]] reads them once the query ended.
    */
  private final class SinkTally {
    val pacingMs, sinkMs, retried = new java.util.concurrent.atomic.AtomicLong
  }

  /** Stage 1: single-pass (or rate-limited) replay of the archived
    * events into a sharded, batch-capped, epoch-idempotent sink
    * directory. Returns the run's report.
    *
    * @param maxFilesPerTrigger 0 = unthrottled single-pass drain (the
    *   bench/verify path); >0 = replay throttle, one epoch per file
    *   group (the rate-limit fidelity path, exercised in ReplayTwinSpec).
    * @param maxBytesPerTrigger 0 = off; >0 = THROUGHPUT-granular intake
    *   throttle (the file-source soft-caps each micro-batch at this many
    *   source bytes) — the knob that bounds an epoch by data volume
    *   rather than file count, since archive files are not equi-sized.
    * @param putRecordsPerShardSec 0 = off; >0 = sink-side drain-rate
    *   cap in records/second/shard — the Kinesis PutRecords model
    *   (each shard absorbs 1000 rec/s; beyond it the producer gets
    *   ProvisionedThroughputExceeded and must back off). The sink
    *   paces each epoch to its slowest shard: epoch floor =
    *   max-shard-records / rate (see [[writePutBatches]]); attained
    *   pacing is reported as `pacingMs` (A9, test-asserted).
    * @param sinkFault null = none; test seam invoked at the top of every
    *   sink epoch — lets ReplayTwinSpec inject a mid-epoch crash (a
    *   partially-landed put batch followed by an exception) and prove
    *   the retried epoch replaces the partial batch exactly-once.
    */
  def replayArchive(
      s: SparkSession,
      srcPath: String,
      nShards: Int = 4,
      maxFilesPerTrigger: Int = 0,
      stage: DataFrame => DataFrame = identity,
      resumeDirs: Option[(String, String)] = None,
      maxBytesPerTrigger: Long = 0L,
      putRecordsPerShardSec: Int = 0,
      sinkFault: (DataFrame, Long) => Unit = null,
      failFirstAttempt: Column = null): ReplayReport = {
    // heal first: the archive may be the TIMESTAMP(NANOS) events parquet
    // and this is a public front door an external session can call
    Tables.ensureNanosConf(s)
    // escapeGlob: batch readers glob their paths too — a literal
    // metacharacter in the archive file name must not be interpreted
    val schema = s.read.parquet(Tables.escapeGlob(srcPath)).schema
    val srcGlob = Tables.srcGlob(srcPath)
    val reader = s.readStream.schema(schema)
    if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    if (maxBytesPerTrigger > 0)
      reader.option("maxBytesPerTrigger", maxBytesPerTrigger)
    // Stage order mirrors the reference pipeline: parse (ms) → caller's
    // filter/transform stage (A4/A5) → partition-key routing (A6) →
    // batched sink (A7). The stage hook is the seam a deployment uses
    // for its own predicates and rewrites; Catalyst still pushes
    // eligible filters into the streaming scan.
    runReplay(s,
      stage(reader.parquet(srcGlob).withColumn("ms", Tables.msExpr(schema))),
      nShards, resumeDirs, putRecordsPerShardSec, sinkFault, failFirstAttempt)
  }

  /** The reference's NATIVE-format front door: the archive is gzip
    * NDJSON text. The streaming JSON file source decompresses by
    * extension (A2) and parses each line straight from its bytes —
    * the nested `props` payload stays a string — before the same
    * shard/sink core (A3 → A6/A7). A .gz file is never split, but Spark
    * packs whole files into about one scan task per core
    * (`FilePartition`, 4 MB `openCostInBytes`): 16 small files on 4
    * cores scan as 4 tasks of 4 files each. Blank and whitespace-only
    * lines are skipped, not records; the report's `deadLettered` counts
    * the lines the PERMISSIVE parse rejected. `resumeDirs` resumes a
    * previous run as in [[runReplay]].
    */
  def replayNdjsonGz(
      s: SparkSession, archiveDir: String, nShards: Int = 4,
      resumeDirs: Option[(String, String)] = None): ReplayReport = {
    val corrupt = col(Ndjson.corruptColumn)
    val parsed = s.readStream
      .schema(Ndjson.corruptSchema)
      .option("columnNameOfCorruptRecord", Ndjson.corruptColumn)
      .json(archiveDir)
      // A9 failed records: count lines the parse rejected, then DROP
      // them (dead-letter semantics). Without the filter a corrupt line
      // becomes an all-null row whose null partition key would land in a
      // default shard partition — silent corruption, not replay.
      .observe("parse_errors", sum(when(corrupt.isNotNull, 1L).otherwise(0L)).as("failed"))
      .filter(corrupt.isNull)
      .select(Ndjson.fields.map(f => col(f.name)): _*)
    val r = runReplay(s, parsed, nShards, resumeDirs, deadLetters = Some("parse_errors"))
    System.err.println(s"[replay] failed_records=${r.deadLettered.getOrElse(0L)}")
    r
  }

  /** [[replayNdjsonGz]]'s sink path. */
  def replayTextGz(s: SparkSession, archiveDir: String, nShards: Int = 4): String =
    replayNdjsonGz(s, archiveDir, nShards).sink

  /** Source-agnostic replay core: partition-key shard routing (A6), A9
    * progress metrics (observe + listener), and the epoch-idempotent
    * batched sink (A7). Returns the run's report.
    *
    * @param resumeDirs pass a previous run's (sink, checkpoint) pair to
    *   RESUME it: the file-source checkpoint remembers which archive
    *   files were already replayed, so only files added since are
    *   processed and the sink is extended, never duplicated — the
    *   restart-after-crash / incremental-archive contract (tested in
    *   ReplayTwinSpec).
    * @param deadLetters name of a one-column observe metric the source
    *   counts rejected records with; summed into `deadLettered`.
    */
  private def runReplay(
      s: SparkSession, source: DataFrame, nShards: Int,
      resumeDirs: Option[(String, String)] = None,
      putRecordsPerShardSec: Int = 0,
      sinkFault: (DataFrame, Long) => Unit = null,
      failFirstAttempt: Column = null,
      deadLetters: Option[String] = None): ReplayReport = {
    val tally = new SinkTally
    val (out, ckpt) = resumeDirs.getOrElse(
      (TmpDirs.dir("replay-out"), TmpDirs.dir("replay-ckpt")))
    val stream = source
      .withColumn("shard", shardOf(col("user_id"), nShards))
      // A9: per-batch progress metric, surfaced through the streaming
      // progress events (observedMetrics) and summed below.
      .observe("replay_progress", count(lit(1)).as("rows"))
    // A9 push-based progress: a StreamingQueryListener logging one line
    // per micro-batch (the reference's per-batch progress log). The
    // listener — NOT `q.recentProgress`, which Spark caps at
    // numRecentProgressUpdates (100) entries and would undercount a
    // throttled replay of a >100-file archive — is the progress source
    // of record for the run. The listener bus is SESSION-GLOBAL, so an
    // externally-built session running concurrent streaming queries
    // would leak their events into this run's accounting: every event
    // is filtered by the started query's runId. The listener registers
    // before start() (events post asynchronously; registering after
    // could miss the first batch), so the runId it must match is
    // handed over right after start() — progress/termination events
    // for the run cannot precede start() returning.
    val progressLog = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val expectedRun = new java.util.concurrent.atomic.AtomicReference[java.util.UUID](null)
    // Termination can beat expectedRun.set() for a fast AvailableNow run
    // (e.g. an empty archive): the listener records EVERY terminated
    // runId so the await below can be skipped when the event already
    // arrived — comparing only against expectedRun would miss it and
    // stall the full await timeout on every empty replay.
    val terminated = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progressLog.add(e.progress)
        if (e.progress.runId == expectedRun.get)
          System.err.println(
            s"[replay] batch=${e.progress.batchId} rows=${e.progress.numInputRows}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        terminated.add(e.runId)
        if (e.runId == expectedRun.get) done.countDown()
      }
    }
    s.streams.addListener(listener)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(
        writePutBatches(out, nShards, tally, putRecordsPerShardSec, sinkFault,
          failFirstAttempt) _)
      .start()
    expectedRun.set(q.runId)
    // On failure (e.g. an injected sink fault) the listener must still
    // detach — a leaked listener would accumulate every later query's
    // progress events into an unreachable queue for the session's life.
    try q.awaitTermination()
    catch { case e: Throwable => s.streams.removeListener(listener); throw e }
    // The listener bus delivers asynchronously but in posting order, so
    // once the termination event arrives every progress event of this
    // run has been delivered — wait (bounded) for it before detaching.
    // If the event already landed (recorded in `terminated` — possible
    // before expectedRun.set() ran), skip the wait. A timeout means a
    // slow/backed-up bus: the progress accounting below may UNDERCOUNT,
    // so say so instead of silently proceeding.
    if (!terminated.contains(q.runId) &&
        !done.await(10, java.util.concurrent.TimeUnit.SECONDS))
      System.err.println(
        "[replay] WARN: listener bus did not deliver the termination " +
          "event within 10s — progress metrics below may undercount")
    s.streams.removeListener(listener)
    val progress = progressLog.asScala.toSeq
      .filter(_.runId == q.runId).sortBy(_.batchId)
    // A9 progress: sum an observed per-batch metric over this run
    def observed(name: String): Long = progress
      .flatMap(p => Option(p.observedMetrics.get(name)))
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).sum
    val rows = observed("replay_progress")
    System.err.println(
      s"[replay] rows=$rows batches=${progress.length} sink=$out")
    ReplayReport(out, rows, progress.map(p => (p.batchId, p.numInputRows)),
      tally.pacingMs.get, tally.sinkMs.get,
      Option.when(failFirstAttempt != null)(tally.retried.get),
      deadLetters.map(observed),
      progress.flatMap(_.durationMs.asScala)
        .groupMapReduce(_._1)(_._2.longValue)(_ + _))
  }

  /** Partition-key routing (A6): the shard of a record, as an INT so
    * that `repartitionById` in [[writePutBatches]] takes it as the
    * partition id directly (a long would need a cast there, which plans
    * a second Exchange).
    */
  private def shardOf(key: Column, nShards: Int): Column =
    pmod(xxhash64(key), lit(nShards)).cast("int")

  /** The A7 put-batch sink, shared by every replay trigger mode: each
    * epoch lands in ONE write job. `repartitionById(nShards, shard)`
    * sends shard i to writer task i: one task per shard, each shard
    * whole in one task (the per-shard ordered producer model), so the
    * write runs `nShards` tasks.
    * The ≤500-record PutRecords batches are modeled as a put_seq column —
    * the real sink is an API call, not a file, so grouping puts inside
    * one file per shard keeps the batch contract verifiable in-data
    * without exploding the sink into hundreds of tiny files. Rows are
    * numbered (`rn`) in event-time order within their shard AND epoch
    * (see ordering contract above); put_seq ([[putSeq]]) is prefixed by
    * the micro-batch epoch so batches appended by successive triggers
    * can never merge into one oversized "put". The write OVERWRITES only
    * this epoch's partitions (dynamic mode) — a sink-retry of the same
    * epochId is therefore idempotent, never duplicating puts.
    *
    * Per-record put retry: `failFirstAttempt` rows land under
    * `attempt=2`, every other row (a NULL predicate included) under
    * `attempt=1`, in the same write. A deterministic predicate
    * ([[putFailureSet]] hashes event_id) gives a crash-retried epoch the
    * same split, so each attempt partition is overwritten with the same
    * rows; an append would duplicate them. put_seq is numbered before the
    * attempt is chosen, so a record's put is identical whether or not
    * its first attempt failed — the retry re-sends the same put.
    *
    * The sink accounts for itself inside that write: when the rate cap
    * or retry injection is on, an `Observation` on the written rows
    * reads `max(rn)` — `rn` restarts in every shard, so that is the
    * slowest shard's record count, the pacing floor — and the attempt-2
    * row count. The unpaced path carries no observation: a metrics node
    * between the `Window` and the write makes Spark sort the rows again
    * for the partitioned write, while without it `WriteFiles` sits
    * directly on the per-shard `Window` (one Exchange, one sort).
    */
  private def writePutBatches(out: String, nShards: Int, tally: SinkTally,
      putRecordsPerShardSec: Int = 0,
      sinkFault: (DataFrame, Long) => Unit = null,
      failFirstAttempt: Column = null)(
      batch: DataFrame, epochId: Long): Unit = {
    if (sinkFault != null) sinkFault(batch, epochId)
    val t0 = System.nanoTime()
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(col("ms"), col("event_id"))
    val rows = batch.repartitionById(nShards, col("shard"))
      .withColumn("rn", row_number().over(byShard))
      .withColumn("put_seq", putSeq(epochId, col("rn")))
      .withColumn("epoch", lit(epochId))
      .withColumn("attempt",
        if (failFirstAttempt == null) lit(1) else when(failFirstAttempt, 2).otherwise(1))
    val observed = Option.when(failFirstAttempt != null || putRecordsPerShardSec > 0)(
      Observation())
    observed.fold(rows)(rows.observe(_, max(col("rn")).as("max_shard_rows"),
        count_if(col("attempt") === 2).as("retried")))
      .drop("rn")
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "epoch", "attempt")
      .parquet(out)
    observed.map(_.get).foreach { m =>
      tally.retried.addAndGet(m("retried").asInstanceOf[Long])
      // A7 drain-rate cap: each Kinesis shard absorbs
      // putRecordsPerShardSec records/second — past it the producer sees
      // ProvisionedThroughputExceeded and backs off, so a replayed epoch
      // cannot complete faster than its SLOWEST shard's record count
      // allows. Pace to that floor: epoch duration ≥ max-shard-records /
      // rate, minus the time the write itself already took. An empty
      // epoch observes a NULL max.
      if (putRecordsPerShardSec > 0) {
        val maxShardRows = Option(m("max_shard_rows")).fold(0L)(_.asInstanceOf[Int].toLong)
        val floorMs = maxShardRows * 1000L / putRecordsPerShardSec
        val elapsedMs = (System.nanoTime() - t0) / 1000000L
        val paceMs = math.max(0L, floorMs - elapsedMs)
        if (paceMs > 0) Thread.sleep(paceMs)
        tally.pacingMs.addAndGet(paceMs)
        tally.sinkMs.addAndGet(elapsedMs + paceMs)
        System.err.println(
          s"[replay] epoch=$epochId max_shard_rows=$maxShardRows pace_ms=$paceMs")
      }
    }
  }

  /** The put batch of the `rn`-th row (1-based) of a shard in epoch
    * `epochId`: ≤500 rows per put. `floor` makes the put index a BIGINT
    * before the epoch prefix is added, so the sum never passes through a
    * double, which past epoch ~9,000 could not hold every put_seq and
    * merged neighbouring puts. The prefix reserves 1e12 put batches
    * (5e14 rows) per epoch — no realistic single micro-batch can
    * overflow into the next epoch's put_seq namespace — and ~9.2e6
    * epochs fit in a Long.
    */
  private[graft] def putSeq(epochId: Long, rn: Column): Column =
    lit(epochId * 1000000000000L) + floor((rn - 1) / 500)

  /** The LONG-RUNNING daemon shape: a `Trigger.ProcessingTime` replay
    * that keeps polling the archive for files that arrive AFTER the
    * query starts — the reference run as a tailing service instead of
    * a one-shot drain. Identical source/shard/sink core as
    * [[replayArchive]] (same schema, same put-batch contract, same
    * checkpointed file tracking — so a restart resumes, never
    * re-replays); only the trigger differs: AvailableNow drains and
    * terminates, ProcessingTime stays up and picks new archive files
    * up on the next tick. Returns the live query handle and the sink
    * path; the CALLER owns the stop decision (a daemon has no natural
    * termination) — soak-tested in ReplayTwinSpec with files written
    * after start and equality against the batch twin asserted.
    */
  private[graft] def startLiveReplay(
      s: SparkSession, archiveDir: String, nShards: Int = 4,
      tick: String = "500 milliseconds")
      : (org.apache.spark.sql.streaming.StreamingQuery, String) = {
    Tables.ensureNanosConf(s)
    val (out, ckpt) = (TmpDirs.dir("live-out"), TmpDirs.dir("live-ckpt"))
    val schema = s.read.parquet(archiveDir).schema
    val stream = s.readStream.schema(schema).parquet(archiveDir)
      .withColumn("ms", Tables.msExpr(schema))
      .withColumn("shard", shardOf(col("user_id"), nShards))
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(tick))
      .foreachBatch(writePutBatches(out, nShards, new SinkTally) _)
      .start()
    (q, out)
  }

  /** Stage 2: watermarked streaming tumbling aggregation over the
    * replayed shards; runs the stream to completion and returns the
    * final result as a batch DataFrame.
    */
  def aggregateReplayed(s: SparkSession, replayedPath: String): DataFrame = {
    import s.implicits._
    runStreamToTable(s, replayedPath) { in =>
      in.withColumn("ets", timestamp_millis($"ms"))
        .withWatermark("ets", "1 hour")
        .groupBy(window($"ets", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("cnt"), sum($"value".cast(Det.Dec)).as("tot"))
    }.select(unix_timestamp($"window.start").as("hour_start"),
        $"event_type", $"cnt",
        Det.dround($"tot".cast("double"), 2).as("total_value"))
      .orderBy("hour_start", "event_type")
  }

  /** Run a watermark-capable streaming aggregation over a replayed
    * directory to completion (complete mode, memory sink, single
    * available-now pass) and return the final table.
    */
  private[graft] def runStreamToTable(
      s: SparkSession, path: String, rawGlob: Boolean = false)(
      build: DataFrame => DataFrame): DataFrame = {
    val ckpt = TmpDirs.dir("agg-ckpt")
    val table = "replay_agg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // A directory passes through untouched — replayed sinks are
    // PARTITIONED dirs (shard=/epoch=) and a brace-glob would defeat
    // partition discovery (the schema'd stream then asserts reading
    // partition columns out of the data files). A caller-supplied glob
    // (rawGlob, e.g. the time-range dir scope) also passes through.
    // Only a single archive FILE needs the escape treatment
    // (FileStreamSource wants a dir/glob).
    val (batchPath, streamPath) =
      if (rawGlob || new java.io.File(path).isDirectory) (path, path)
      else (Tables.escapeGlob(path), Tables.srcGlob(path))
    val schema = s.read.parquet(batchPath).schema
    runAggToTable(s, build(s.readStream.schema(schema).parquet(streamPath)),
      ckpt, table)
  }

  /** Drain a streaming aggregation to a memory table (complete mode,
    * one available-now pass) — the sink half of [[runStreamToTable]],
    * shared with sources that are not parquet dirs (the evolving
    * from_json text replay).
    */
  private def runAggToTable(
      s: SparkSession, agg: DataFrame, ckpt: String, table: String): DataFrame = {
    // Complete mode re-emits the full result every batch, so the
    // trailing no-data micro-batch could only repeat the final table —
    // streamScope turns it off (state shards also scoped there).
    graft.core.Sessions.streamScope(s) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(table)
  }

  /** End-to-end replay pipeline, oracle-checked against the same SQL as
    * its batch twin `stream_tumbling` (EventTime.scala) — proving the
    * replay is loss-free and duplication-free.
    */
  private val replayStream = Q(
    "replay_stream",
    (s, d) => {
      import s.implicits._
      // An empty archive replays zero batches, so the sink dir has no
      // files to infer a schema from — short-circuit to an empty result.
      // Tables.events (not a raw read) so the nanos-timestamp heal runs
      // before anything touches the TIMESTAMP(NANOS) parquet on an
      // externally-built session.
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, String, Long, Double)]
          .toDF("hour_start", "event_type", "cnt", "total_value")
      else aggregateReplayed(s, replayArchive(s, s"$d/events.parquet").sink)
    },
    Some("SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start, " +
      "event_type, count(*) AS cnt, " + OSql.msum("value") + " AS total_value " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"))

  /** Full reference chain in one streaming pipeline: parse (A3, the
    * JSON `k` field) → filter (A4, k ≥ 50 — pushed toward the scan) →
    * transform (A5, event-type rewrite) → shard routing (A6) → batched
    * sink (A7) → watermarked windowed aggregation over the replayed
    * stream. Oracle restates the same predicate and rewrite over the
    * source table, so the hash-match proves the staged replay neither
    * lost, duplicated, nor corrupted messages.
    */
  private val replayFiltered = Q(
    "replay_filtered",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, String, Long, Long)]
          .toDF("hour_start", "event_type_u", "cnt", "sum_k")
      else {
        val out = replayArchive(s, s"$d/events.parquet", stage = df =>
          df.withColumn("k", get_json_object($"props", "$.k").cast("long"))
            .filter($"k" >= 50)
            .withColumn("event_type_u", upper($"event_type"))).sink
        runStreamToTable(s, out) { in =>
          in.withColumn("ets", timestamp_millis($"ms"))
            .withWatermark("ets", "1 hour")
            .groupBy(window($"ets", "1 hour"), $"event_type_u")
            .agg(count(lit(1)).as("cnt"), sum($"k").cast("long").as("sum_k"))
        }.select(unix_timestamp($"window.start").as("hour_start"),
            $"event_type_u", $"cnt", $"sum_k")
          .orderBy("hour_start", "event_type_u")
      }
    },
    Some("SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start, " +
      "upper(event_type) AS event_type_u, count(*) AS cnt, " +
      "CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k " +
      "FROM events WHERE CAST(props->>'$.k' AS BIGINT) >= 50 " +
      "GROUP BY 1, 2 ORDER BY 1, 2"))

  /** The THROUGHPUT-capped replay as a declared key: the same A1→A8
    * chain as `replay_stream`, but the sink drains under the Kinesis
    * PutRecords model — a records/second/shard cap (each epoch paced
    * to its slowest shard's record count; the backoff a real producer
    * performs on ProvisionedThroughputExceeded) — and intake is
    * bounded by `maxBytesPerTrigger` (throughput-granular, unlike the
    * file-granular `maxFilesPerTrigger`). The rate is set high enough
    * that pacing costs well under a second per epoch at bench scale
    * while still exercising the capped path end to end; the oracle is
    * the SAME SQL as the unthrottled replay — the hash match proves
    * rate limiting never loses, duplicates, or reorders a record's
    * accounting. ReplayTwinSpec drives the cap hard (low rate, multi-
    * epoch) and asserts the attained pacing approaches the theoretical
    * floor.
    *
    * This key ALSO runs the sink's per-record retry path live: a
    * deterministic ~1/8 of records (md5 of event_id) fail their first
    * simulated PutRecords attempt and land in the `attempt=2` partition
    * ([[writePutBatches]]) — the reference retries individual failed
    * records within a batch, not the whole batch. The unchanged oracle
    * is the proof: a retry that lost, duplicated, or renumbered a
    * record would break the hash.
    */
  /** The declared deterministic first-attempt failure set: md5 of the
    * (null-safe) event id, ~12.5% of records. coalesce twice — a NULL
    * event_id must still hash, and a NULL predicate would count the
    * record as a first-attempt success (`attempt=1`).
    */
  private[graft] val putFailureSet: Column = expr(
    "coalesce(conv(substring(md5(cast(coalesce(event_id, -1) as string)), 1, 4), 16, 10) % 8 = 0, false)")

  private val replayRateLimited = Q(
    "replay_rate_limited",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, String, Long, Double)]
          .toDF("hour_start", "event_type", "cnt", "total_value")
      else {
        // Intake cap DERIVED from the archive size (target ~8 epochs,
        // 16 MB floor): a fixed byte trigger makes epoch count — and so
        // the replay's FIXED per-micro-batch cost — data-proportional,
        // which at sf10 was the single most expensive measurement in
        // the scaling record (59.5 s, ~5.7× for 10× data). The pacing
        // semantics are unchanged: the per-epoch sleep is slowest-shard
        // records / rate, so TOTAL pacing ≈ records-per-shard / rate
        // regardless of how the records split into epochs — epoch count
        // only multiplies overhead, never the rate-limit contract. The
        // capped multi-epoch path still runs end to end: large archives
        // split into ~8 epochs; below the floor the historical 16 MB
        // epoch shape is preserved exactly.
        // Recursive regular-file walk (Tables.dirBytes): a partitioned/
        // nested archive must sum its leaves, not the directory inode
        // lengths a flat listFiles() would report — both the shard
        // count and maxBytesPerTrigger derive from this (performance-
        // only: the oracle is shard/epoch-agnostic).
        val archiveBytes = Tables.dirBytes(s"$d/events.parquet")
        // Shard count RESHARDED with archive size (one shard per
        // 8 MB of parquet, floor 4) — the Kinesis capacity model: a
        // producer that outgrows its stream's aggregate rate limit
        // adds shards rather than waiting, because the per-shard cap
        // is the service contract. With a FIXED 4 shards the total
        // pacing sleep (records-per-shard / rate) grows linearly in
        // data — at the 10× corpus the sleep alone was 50 of the
        // key's 54 s. Resharding keeps the per-shard rate-limit
        // semantics — each epoch still paces to its slowest shard —
        // while total pacing stays bounded by the shard scaling, and
        // the result is shard-agnostic (the oracle is unchanged).
        val shards = math.max(4L,
          (archiveBytes + (8L << 20) - 1) / (8L << 20)).toInt
        aggregateReplayed(s, replayArchive(s, s"$d/events.parquet",
          nShards = shards,
          maxBytesPerTrigger = math.max(16L * 1024 * 1024, archiveBytes / 8 + 1),
          putRecordsPerShardSec = 50000,
          failFirstAttempt = putFailureSet).sink)
      }
    },
    Some("SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start, " +
      "event_type, count(*) AS cnt, " + OSql.msum("value") + " AS total_value " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"))

  /** replay_fanout_consistent — ONE replay stream fanned out to TWO
    * sinks in the same foreachBatch, with cross-sink consistency as a
    * hash-checked output. This is the dual-destination topology a real
    * replay deployment runs (land the archive to cold storage AND put
    * it to the live stream), and its correctness contract is exactly
    * what this key pins: both sinks see the SAME epochs (one batch
    * compute, persisted, written twice — never two racing computations
    * of a non-deterministic batch), each write is epoch-idempotent
    * (mode=overwrite into an epoch= partition, the house put-batch
    * discipline — a retried epoch replaces itself in BOTH sinks), and
    * the final report carries the symmetric-difference row count
    * between the sinks, pinned 0 by the oracle. The per-type ledger
    * off sink A re-states the source exactly, proving the fan-out is
    * also loss-free end to end.
    */
  private val replayFanoutConsistent = Q(
    "replay_fanout_consistent",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(String, Long, Double, Long)]
          .toDF("event_type", "cnt", "total_value", "n_sink_mismatch")
      else {
        Tables.ensureNanosConf(s)
        // FileStreamSource wants a dir/glob; brace-glob the archive file
        // (the runStreamToTable discipline)
        val raw = s.read.parquet(Tables.escapeGlob(s"$d/events.parquet"))
        val schema = raw.schema
        val dirA = TmpDirs.dir("fanout-a")
        val dirB = TmpDirs.dir("fanout-b")
        val ckpt = TmpDirs.dir("fanout-ckpt")
        val src = s.readStream.schema(schema)
          .parquet(Tables.srcGlob(s"$d/events.parquet"))
          .select(col("event_id"), col("event_type"),
            Tables.msExpr(schema).as("ms"),
            round(col("value") * 100).cast("long").as("cents"))
        graft.core.Sessions.streamScope(s) {
          val q = src.writeStream
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
              // one compute, two writes: persist the batch so sink B
              // re-reads the SAME rows sink A wrote, not a recomputation
              batch.persist()
              try {
                batch.write.mode("overwrite").parquet(s"$dirA/epoch=$epoch")
                batch.write.mode("overwrite").parquet(s"$dirB/epoch=$epoch")
              } finally { batch.unpersist(); () }
            }
            .start()
          q.awaitTermination()
        }
        def sink(dir: String): DataFrame =
          s.read.option("basePath", dir).parquet(s"$dir/epoch=*")
            .select($"event_id", $"event_type", $"ms", $"cents")
        val (a, b) = (sink(dirA), sink(dirB))
        // multiset symmetric difference as ONE keyed aggregate:
        // |A∖B| + |B∖A| = Σ_row |countA − countB| = Σ_key |Σ ±1|
        // over the union of A (+1) and B (−1). One shuffle, no join;
        // groupBy groups NULL keys together exactly like the original
        // exceptAll spelling (r15 ADVICE: the full_outer equi-join it
        // briefly used was not null-safe). Same verified quantity
        // (pinned 0 by the oracle).
        val cols = Seq("event_id", "event_type", "ms", "cents")
        val mism = a.withColumn("w", lit(1L))
          .unionByName(b.withColumn("w", lit(-1L)))
          .groupBy(cols.map(col): _*).agg(sum($"w").as("d"))
          .agg(coalesce(sum(abs($"d")), lit(0L))
            .cast("long").as("n_sink_mismatch"))
        a.groupBy("event_type").agg(
            count(lit(1)).as("cnt"),
            Det.dround(sum($"cents".cast(Det.Dec)).cast("double") / 100, 2)
              .as("total_value"))
          .crossJoin(broadcast(mism))
          .orderBy("event_type")
      }
    },
    Some("SELECT event_type, count(*) AS cnt, " +
      OSql.sround("CAST(SUM(CAST(CAST(round(value*100) AS BIGINT) " +
        "AS HUGEINT)) AS DOUBLE) / 100", 2) + " AS total_value, " +
      "CAST(0 AS BIGINT) AS n_sink_mismatch FROM events " +
      "GROUP BY 1 ORDER BY 1"))

  /** End-to-end replay in the reference's NATIVE archive format (the
    * full A1→A8 chain): events staged as gzip NDJSON (A1), streamed
    * through decompress + parse (A2/A3) into the sharded batched sink
    * (A6/A7), then the watermarked windowed aggregation over the
    * replayed stream (A8). Same oracle as replay_stream/stream_tumbling
    * — the hash match proves the text-format path is loss-free,
    * dup-free, and value-exact (the JSON writer and reader round-trip
    * doubles; sums accumulate in DECIMAL).
    */
  private val replayTextArchive = Q(
    "replay_text_gz",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, String, Long, Double)]
          .toDF("hour_start", "event_type", "cnt", "total_value")
      else aggregateReplayed(s, replayTextGz(s, Ndjson.stageGz(s, d, "events-ndjson-gz")))
    },
    Some("SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start, " +
      "event_type, count(*) AS cnt, " + OSql.msum("value") + " AS total_value " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"))

  /** Live sliding-window run — completes the streaming window matrix
    * (tumbling: `replay_stream`; session: `stream_session_state` /
    * native session_window; sliding: THIS). A real `readStream` over
    * the archive with a 1-hour watermark and a 1h × 15min sliding
    * window — each event lands in exactly 4 open windows, so streaming
    * state holds ≤ 4 × #eventTypes windows per active hour, evicted as
    * the watermark passes. Counts are exact, so the result is
    * bit-identical no matter how the stream was micro-batched — same
    * DuckDB oracle as the batch twin `stream_sliding`.
    */
  private val replaySliding = Q(
    "replay_sliding",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, String, Long)].toDF("win_start", "event_type", "cnt")
      else runStreamToTable(s, s"$d/events.parquet") { in =>
        in.withColumn("ets", timestamp_millis(Tables.msExpr(in.schema)))
          .withWatermark("ets", "1 hour")
          .groupBy(window($"ets", "1 hour", "15 minutes"), $"event_type")
          .agg(count(lit(1)).as("cnt"))
      }.select(unix_timestamp($"window.start").as("win_start"), $"event_type", $"cnt")
        .orderBy("win_start", "event_type")
    },
    // identical oracle to the batch twin stream_sliding (EventTime.scala)
    Some("WITH e AS (SELECT epoch_ms(ts)//1000 AS t, event_type FROM events), " +
      "k AS (SELECT unnest([0,1,2,3]) AS k) " +
      // FLOOR-aligned window starts (t − posmod(t, 900)), not the //
      // truncation, which diverges from Spark's TimeWindow on
      // pre-epoch (negative) event times
      "SELECT CAST((t - ((t % 900) + 900) % 900) - k * 900 AS BIGINT) AS win_start, " +
      "event_type, count(*) AS cnt " +
      "FROM e CROSS JOIN k GROUP BY 1, 2 ORDER BY 1, 2"))

  /** TRUE streaming dedup — `dropDuplicatesWithinWatermark`, the
    * operator that turns an at-least-once replay into exactly-once
    * delivery (the batch twin `stream_dedup` states the semantics; this
    * runs them as a live stream). The archive is staged AT-LEAST-ONCE —
    * every event written twice, the second copy in later files, so a
    * throttled run re-delivers each event in a LATER micro-batch — and
    * the stream drops re-deliveries on the unique event_id. State at
    * scale: one entry per key seen within the watermark horizon, evicted
    * once the watermark passes (vs. plain dropDuplicates whose state
    * grows forever) — the delay only needs to cover the sink's maximum
    * redelivery lag, not the archive span. Duplicates are exact copies,
    * so whichever arrival is kept the row content is identical —
    * micro-batching cannot change the result, which is what lets the
    * driver hash-compare against the batch oracle (the original event
    * set). Exercised throttled + twin-asserted in ReplayTwinSpec.
    */
  /** The staged at-least-once (doubled) archive of an sf dir, an
    * [[graft.core.IndexCache]] artifact: FIXTURE, not operator, so
    * `stream_dedup_watermark`'s timed path measures the dedup, not two
    * parquet writes, and the build is ledgered as staging. Two
    * sequential writes, so the duplicate copy lands in files the file
    * source orders after the originals (mod-time order).
    */
  private[graft] def stageDupArchive(s: SparkSession, d: String): String =
    graft.core.IndexCache.dir(s"dup-archive|$d") {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type", $"ms")
      val dir = TmpDirs.dir("dup-archive")
      ev.write.mode("overwrite").parquet(dir)
      ev.write.mode("append").parquet(dir)
      dir
    }

  private[graft] def dedupWatermarked(
      s: SparkSession, d: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    import s.implicits._
    val dir = stageDupArchive(s, d)
    val out = TmpDirs.dir("dedup-out")
    val ckpt = TmpDirs.dir("dedup-ckpt")
    val reader = s.readStream.schema(s.read.parquet(dir).schema)
    if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    val deduped = reader.parquet(dir)
      .withColumn("ets", timestamp_millis($"ms"))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    // dedup emits rows the batch they arrive (the watermark only evicts
    // state), so the trailing no-data batch is dead weight — off.
    graft.core.Sessions.streamScope(s) {
      val q = deduped.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(out)
      .select($"event_id", $"user_id", $"event_type", $"ms")
      .orderBy("event_id")
  }

  private val streamDedupWatermark = Q(
    "stream_dedup_watermark",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, Long, String, Long)]
          .toDF("event_id", "user_id", "event_type", "ms")
      else dedupWatermarked(s, d)
    },
    Some("SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms " +
      "FROM events ORDER BY event_id"))

  /** Time-scoped STREAMING replay — A1's defining behavior run live
    * (the batch twin is `scan_time_partitioned`): the reference lists
    * only the archive keys under the requested `YYYY/MM/DD` prefixes
    * and replays those. Spark-natively, the replay stream's source path
    * IS the scoped listing — a brace-glob over exactly the in-range
    * `dt=` day directories of the partitioned archive tree, so the
    * FileStreamSource never lists, opens, or checkpoints a byte of the
    * out-of-range days. At 100 TB "replay last week" costs one week's
    * listing + IO out of years of archive. The oracle restates the
    * predicate over the flat events table; since the stream applies NO
    * row filter, the hash match proves the directory scoping alone
    * delivered exactly the in-range rows.
    */
  private val replayTimeRange = Q(
    "replay_time_range",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(String, String, Long, Double)]
          .toDF("dt", "event_type", "cnt", "total_value")
      else {
        val tree = graft.ops.ScaleOps.stageTimePartitioned(s, d)
        val days = (8 to 14).map(i => f"$i%02d").mkString(",")
        runStreamToTable(s, s"$tree/dt=2024-01-{$days}", rawGlob = true) { in =>
          in.groupBy(
              date_format(timestamp_millis($"ms"), "yyyy-MM-dd").as("dt"),
              $"event_type")
            .agg(count(lit(1)).as("cnt"), Det.moneySum($"value").as("total_value"))
        }.orderBy("dt", "event_type")
      }
    },
    // same oracle as the batch twin scan_time_partitioned
    Some("SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, count(*) AS cnt, " +
      OSql.msum("value") + " AS total_value FROM events " +
      "WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14' " +
      "GROUP BY 1, 2 ORDER BY 1, 2"))

  /** BACKFILL + LIVE-TAIL union — the lambda-architecture cutover every
    * long-lived replay deployment performs: history up to a cutover day
    * is served by a partition-pruned BATCH scan (days 01–20 of the
    * archive tree, 20 of 30 dirs listed), the tail from the cutover on
    * by a STREAMING replay scoped to exactly the remaining day dirs
    * (brace glob — the FileStreamSource never lists a pre-cutover
    * byte), and the two legs meet in one rollup. The seam is the bug
    * surface: a day double-counted or dropped at the cutover is
    * invisible to either leg alone, so the oracle is the plain
    * aggregate over the WHOLE archive — the hash match proves the seam
    * is exact. Both legs carry EXACT partials across the union (counts
    * + unrounded DECIMAL sums; rounding only after the final merge),
    * because per-leg rounded values would not re-aggregate — the same
    * partial-then-finalize discipline `agg_incremental` pins. At 100 TB
    * each leg keeps its native economics: the backfill reads columnar
    * history at scan speed, the tail replays incrementally with
    * checkpointed progress.
    */
  private val replayBackfill = Q(
    "replay_backfill",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(String, Long, Double)]
          .toDF("event_type", "cnt", "total_value")
      else {
        val tree = graft.ops.ScaleOps.stageTimePartitioned(s, d)
        val partial = (df: DataFrame) => df.groupBy($"event_type")
          .agg(count(lit(1)).as("cnt"),
            sum($"value".cast(Det.Dec)).as("vsum"))
        val hist = partial(
          s.read.parquet(tree).filter($"dt" < "2024-01-21"))
        // an archive that ends before the cutover has no tail dirs —
        // the streaming leg's source glob would match nothing and the
        // schema read would fail the whole query; serve history-only
        // instead (the real deployment state before the stream starts)
        val tailDays = (21 to 30).map(i => f"$i%02d")
          .filter(dd => new java.io.File(s"$tree/dt=2024-01-$dd").isDirectory)
        val live =
          if (tailDays.isEmpty) hist.limit(0)
          else runStreamToTable(
            s, s"$tree/dt=2024-01-{${tailDays.mkString(",")}}", rawGlob = true)(partial)
        hist.unionByName(live)
          .groupBy($"event_type")
          .agg(sum($"cnt").cast("long").as("cnt"),
            Det.dround(sum($"vsum").cast("double"), 2).as("total_value"))
          .orderBy("event_type")
      }
    },
    Some("SELECT event_type, count(*) AS cnt, " + OSql.msum("value") +
      " AS total_value FROM events GROUP BY 1 ORDER BY 1"))

  /** Streaming SCHEMA EVOLUTION — the long-lived-deployment reality
    * the batch side already models (`scan_schema_merge`): the producer
    * added a field mid-archive, so early objects lack a column late
    * objects carry. The archive stages as NDJSON in two eras — even
    * event_ids serialized with the v1 record schema, odd event_ids
    * appended LATER (younger files, so the file source replays them in
    * later batches) with an extra `rev` field — and ONE `from_json`
    * stream with the EVOLVED schema replays both halves: PERMISSIVE
    * parsing surfaces the missing field as NULL for v1-era rows
    * instead of failing the scan or forking the pipeline per era. The
    * per-type ledger separates era populations and sums the new
    * field; the oracle restates both eras from the source table, so
    * the hash match proves the evolving replay neither lost rows nor
    * misfiled them across schema generations.
    */
  private[graft] def replaySchemaEvolveAgg(
      s: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val ev = Tables.events(s, d)
    val dir = TmpDirs.dir("events-evolve")
    val v1cols = Ndjson.fields.map(f => col(f.name))
    // Era assignment is TOTAL: pmod(coalesce(event_id, 0), 2) sends a
    // NULL event_id into the v1 era instead of silently dropping the
    // row (a bare `event_id % 2 === 0` filter is NULL for NULL ids, so
    // BOTH era filters would discard it while the oracle's count(*)
    // still sees it — a lost-row seam).
    def era(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(coalesce(c, lit(0L)), lit(2L))
    ev.filter(era($"event_id") === 0)
      .select(to_json(struct(v1cols: _*)).as("value"))
      .write.mode("overwrite").text(dir)
    ev.filter(era($"event_id") === 1)
      .withColumn("rev", round($"value" * 100).cast("long"))
      .select(to_json(struct(v1cols :+ col("rev"): _*)).as("value"))
      .write.mode("append").text(dir)
    val evolved = StructType(Ndjson.fields :+ StructField("rev", LongType))
    val rdr = s.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
    maxFilesPerTrigger.foreach(n => rdr.option("maxFilesPerTrigger", n))
    val in = rdr.text(dir)
      .select(from_json($"value", evolved).as("e"))
      .select($"e.event_type", $"e.rev", $"e.event_id")
    // Classify eras by the SAME parity rule after the parse, not by
    // `rev IS NULL`: to_json drops null fields, so a v2 row whose
    // value (hence rev) is NULL serializes WITHOUT rev and would be
    // misfiled into n_v1 by a rev-presence test while the oracle
    // counts it by parity into n_v2.
    runAggToTable(s,
      in.groupBy($"event_type").agg(
        count(lit(1)).as("cnt"),
        sum((era($"event_id") === 0).cast("long")).as("n_v1"),
        sum((era($"event_id") === 1).cast("long")).as("n_v2"),
        coalesce(sum($"rev"), lit(0L)).as("rev_sum")),
      TmpDirs.dir("evolve-ckpt"),
      "evolve_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .orderBy("event_type")
  }

  private val replaySchemaEvolve = Q(
    "replay_schema_evolve",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(String, Long, Long, Long, Long)]
          .toDF("event_type", "cnt", "n_v1", "n_v2", "rev_sum")
      else replaySchemaEvolveAgg(s, d)
    },
    // abs(coalesce(event_id, 0) % 2) restates the Spark side's total
    // pmod era rule (DuckDB % keeps the dividend's sign; abs folds a
    // negative odd id onto parity 1 exactly as pmod does)
    Some("SELECT event_type, count(*) AS cnt, " +
      "CAST(SUM(CASE WHEN abs(coalesce(event_id, 0) % 2) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1, " +
      "CAST(SUM(CASE WHEN abs(coalesce(event_id, 0) % 2) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2, " +
      "CAST(COALESCE(SUM(CASE WHEN abs(coalesce(event_id, 0) % 2) = 1 " +
      "THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS rev_sum " +
      "FROM events GROUP BY 1 ORDER BY 1"))

  /** Streaming replay of a PRODUCER-AGGREGATED archive — the live
    * sibling of `scan_kpl_deaggregate`, and the closest model of what
    * a Kinesis replay actually reads: KPL-style aggregated records
    * (many length-prefixed messages per stream record) deaggregated
    * IN-STREAM by the same pure-projection fold the batch scan uses,
    * then the standard watermarked hourly aggregation. The oracle is
    * the SAME SQL as the flat `replay_stream` — the hash match proves
    * pack → stream → deaggregate → window lost, duplicated, and
    * corrupted nothing, independent of micro-batching.
    */
  private[graft] def replayKplAgg(
      s: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dir = graft.ops.ScaleOps.stageKplArchive(s, d)
    val rdr = s.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
    maxFilesPerTrigger.foreach(n => rdr.option("maxFilesPerTrigger", n))
    val in = graft.ops.ScaleOps.kplDeaggregate(rdr.text(dir))
    runAggToTable(s,
      in.select($"e.event_type", $"e.value", $"e.ms")
        .withColumn("ets", timestamp_millis($"ms"))
        .withWatermark("ets", "1 hour")
        .groupBy(window($"ets", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("cnt"), sum($"value".cast(Det.Dec)).as("tot")),
      TmpDirs.dir("kpl-ckpt"),
      "kpl_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .select(unix_timestamp($"window.start").as("hour_start"),
        $"event_type", $"cnt",
        Det.dround($"tot".cast("double"), 2).as("total_value"))
      .orderBy("hour_start", "event_type")
  }

  private val replayKpl = Q(
    "replay_kpl",
    (s, d) => {
      import s.implicits._
      if (Tables.eventsEmpty(s, d))
        Seq.empty[(Long, String, Long, Double)]
          .toDF("hour_start", "event_type", "cnt", "total_value")
      else replayKplAgg(s, d)
    },
    Some("SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start, " +
      "event_type, count(*) AS cnt, " + OSql.msum("value") + " AS total_value " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"))

  val qs: Seq[Q] =
    Seq(replayStream, replayFiltered, replayTextArchive, replaySliding,
      streamDedupWatermark, replayTimeRange, replayBackfill,
      replayRateLimited, replaySchemaEvolve, replayKpl,
      replayFanoutConsistent)
}
