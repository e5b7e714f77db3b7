package graft

import graft.streaming.Replay

/** Streaming-twin verification (SURVEY §5.2 item 4; VERDICT r2 item 1):
  * the Structured Streaming replay pipeline must be loss-free, dup-free
  * and produce EXACTLY the batch twin's result, independent of how the
  * stream was micro-batched.
  */
class ReplayTwinSpec extends SparkSpec {

  test("replay_stream result is identical to its batch twin stream_tumbling") {
    val streaming = run("replay_stream").collect().map(_.toSeq)
    val batch = run("stream_tumbling").collect().map(_.toSeq)
    assert(streaming.length === batch.length)
    assert(streaming.toSeq === batch.toSeq)
  }

  test("native-format gzip NDJSON replay equals the batch twin too") {
    val streaming = run("replay_text_gz").collect().map(_.toSeq)
    val batch = run("stream_tumbling").collect().map(_.toSeq)
    assert(streaming.toSeq === batch.toSeq)
  }

  test("text replay counts and dead-letters malformed lines (A9 failed records)") {
    import org.apache.spark.sql.functions._
    // own label: this test MUTATES its staged copy
    val arch = graft.core.Ndjson.stageGz(spark, sf, "corrupt-archive")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(arch, "garbage.txt"),
      "not json at all\n{\n{\"event_id\": oops}\n".getBytes("UTF-8"))
    val r = Replay.replayNdjsonGz(spark, arch)
    val good = spark.read.parquet(s"$sf/events.parquet").count()
    assert(r.deadLettered === Some(3L))
    val sunk = spark.read.parquet(r.sink)
    assert(sunk.count() === good)
    assert(sunk.filter(col("user_id").isNull).isEmpty)
  }

  test("blank and whitespace-only NDJSON lines are skipped, never null-keyed sink rows") {
    import org.apache.spark.sql.functions._
    // own label: this test MUTATES its staged copy
    val arch = graft.core.Ndjson.stageGz(spark, sf, "blank-line-archive")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(arch, "garbage.txt"),
      "not json at all\n\n{\n   \t \n{\"event_id\": oops}\n".getBytes("UTF-8"))
    val r = Replay.replayNdjsonGz(spark, arch)
    val good = spark.read.parquet(s"$sf/events.parquet").count()
    assert(r.deadLettered === Some(3L), "only the malformed lines are dead-lettered")
    val sunk = spark.read.parquet(r.sink)
    assert(sunk.count() === good)
    assert(r.rows === good)
    assert(sunk.filter(col("user_id").isNull).isEmpty)
  }

  test("a second NDJSON drain in one session compiles no generated class") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val arch = graft.core.Ndjson.stageGz(spark, sf, "events-ndjson-gz")
    val first = Replay.replayNdjsonGz(spark, arch)
    val before = CodeGenerator.compileTime
    val second = Replay.replayNdjsonGz(spark, arch)
    assert(CodeGenerator.compileTime === before,
      "each streaming query's session must share the codegen cache")
    assert(second.rows === first.rows && first.rows > 0L)
  }

  test("DLQ redrive recovers exactly the first frame's messages, twice") {
    import spark.implicits._
    // ids 0..9: frame g=0 holds ids 0..7 (Σid 28), g=1 holds 8,9. Both
    // planted dead letters derive from frame 0, so repair recovers
    // 2×8 messages with checksums 2×28 and 2×(8×$1 in cents).
    val ns = (ms: Long) => ms * 1000000L
    val dir = stageTables("events" -> (0 until 10).map(i =>
      (i.toLong, ns(1000L + i), i.toLong, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = run("replay_dlq_redrive", dir).collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((2L, 2L)))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((16L, 56L, 1600L)))
    // empty archive: no staged frames, no dead letters — zero rows
    val empty = stageTables("events" ->
      Seq.empty[(Long, Long, Long, String, Double, String)]
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(run("replay_dlq_redrive", empty).isEmpty)
  }

  test("stateful-session stream (flatMapGroupsWithState) equals its batch twin") {
    val streaming = run("stream_session_state").collect().map(_.toSeq)
    val batch = run("stream_session").collect().map(_.toSeq)
    assert(streaming.toSeq === batch.toSeq)
  }

  test("stream-stream interval join equals its batch range-join twin") {
    import org.apache.spark.sql.functions._
    val streaming = run("stream_join_interval").collect().map(_.toSeq)
    val ev = graft.core.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ms").as("c_ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ms").as("p_ms"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("p_ms") >= col("c_ms") && col("p_ms") <= col("c_ms") + 1800000L)
      .groupBy((expr("c_ms div 3600000") * 3600L).as("hour_start"))
      .agg(count(lit(1)).as("cnt"),
        graft.core.Det.dround(sum(col("p_ms") - col("c_ms")).cast("double") / count(lit(1)), 4)
          .as("avg_delay_ms"))
      .orderBy("hour_start")
      .collect().map(_.toSeq)
    assert(streaming.nonEmpty)
    assert(streaming.toSeq === batch.toSeq)
  }

  test("live sliding-window stream equals its batch twin stream_sliding") {
    val streaming = run("replay_sliding").collect().map(_.toSeq)
    val batch = run("stream_sliding").collect().map(_.toSeq)
    assert(streaming.nonEmpty)
    assert(streaming.toSeq === batch.toSeq)
  }

  test("watermarked streaming dedup drops at-least-once redeliveries, throttled and not") {
    import org.apache.spark.sql.functions._
    val original = graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ms"))
      .orderBy("event_id").collect().map(_.toSeq)
    // single-pass: both copies in one micro-batch — in-batch dedup
    val single = run("stream_dedup_watermark").collect().map(_.toSeq)
    assert(single.toSeq === original.toSeq)
    // throttled: one file per micro-batch, so the duplicate copy is
    // re-delivered in LATER batches and must be dropped by state (or as
    // watermark-late — either way it is a duplicate of an emitted row)
    val throttled = graft.streaming.Replay
      .dedupWatermarked(spark, sf, maxFilesPerTrigger = 1)
      .collect().map(_.toSeq)
    assert(throttled.toSeq === original.toSeq)
  }

  /** Stage the events archive as `n` files split by `splitter` (written
    * sequentially so file mod-time order == write order) and return the
    * dir — the controlled multi-epoch replay input.
    */
  private def stageSplit(n: Int)(
      splitter: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): String = {
    val dir = graft.core.TmpDirs.dir("sess-et-archive")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    (0 until n).foreach { i =>
      splitter(ev, i).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5) // distinct mod-times keep source file order stable
    }
    dir
  }

  test("event-time-timeout sessions: time-ordered throttled replay (timeouts fire) equals the batch twin") {
    import org.apache.spark.sql.functions._
    // 3 files split by event-time range — in-order delivery, so the
    // 1-hour delay drops nothing and between batches the advancing
    // watermark CLOSES old sessions via the event-time timeout
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val Array(q1, q2) = ev.select(graft.core.Tables.msExpr(ev.schema).as("ms"))
      .stat.approxQuantile("ms", Array(0.33, 0.66), 0.0).map(_.toLong)
    val dir = stageSplit(3) { (df, i) =>
      val ms = graft.core.Tables.msExpr(df.schema)
      i match {
        case 0 => df.filter(ms <= q1)
        case 1 => df.filter(ms > q1 && ms <= q2)
        case 2 => df.filter(ms > q2)
      }
    }
    val streamed = graft.streaming.StatefulSessions
      .runEventTime(spark, dir, delay = "1 hour", maxFilesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = run("stream_session").collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("event-time-timeout sessions: SHUFFLED multi-batch replay (out-of-order) equals the batch twin") {
    import org.apache.spark.sql.functions._
    // rows scattered across 3 files with no time affinity — every batch
    // interleaves the whole archive span; the wide delay admits all of
    // it and the interval-merge state must reassemble exact sessions
    val dir = stageSplit(3) { (df, i) =>
      df.filter(pmod(xxhash64(col("event_id")), lit(3)) === i)
    }
    val streamed = graft.streaming.StatefulSessions
      .runEventTime(spark, dir, delay = "3650 days", maxFilesPerTrigger = 1)
      .collect().map(_.toSeq)
    val batch = run("stream_session").collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("time-scoped streaming replay equals the partition-pruned batch scan") {
    val streamed = run("replay_time_range").collect().map(_.toSeq)
    val batch = run("scan_time_partitioned").collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("replay sink respects the shard layout and the 500-record put-batch cap") {
    import org.apache.spark.sql.functions._
    val report = Replay.replayArchive(spark, s"$sf/events.parquet", nShards = 4)
    val out = report.sink
    val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
    assert(files.nonEmpty && files.forall(f => (0 until 4).exists(i => f.getName == s"shard=$i")))
    val replayedDf = spark.read.parquet(out)
    // every (shard, put_seq) put batch holds ≤ 500 records
    val oversized = replayedDf.groupBy("shard", "put_seq").count()
      .filter(col("count") > 500)
    assert(oversized.isEmpty)
    // the unthrottled run is ONE AvailableNow epoch, so put batches are
    // event-time ordered per shard across the whole sink: a batch's max
    // ms never exceeds the next batch's min ms
    assert(replayedDf.select("epoch").distinct().count() === 1)
    val bounds = replayedDf.groupBy("shard", "put_seq")
      .agg(min("ms").as("lo"), max("ms").as("hi"))
      .collect().groupBy(_.getInt(0))
    bounds.values.foreach { rows =>
      val ordered = rows.sortBy(_.getLong(1))
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) <= b.getLong(2))
        case _ => ()
      }
    }
    // replay is loss-free and dup-free, and the A9 observed progress
    // metric agrees with what actually landed in the sink
    val source = spark.read.parquet(s"$sf/events.parquet").count()
    assert(replayedDf.count() === source)
    assert(report.rows === source)
    // the push-based A9 listener saw the same rows as the observe metric
    assert(report.batches.map(_._2).sum === source)
    // a parquet archive has no parse step, so nothing is dead-lettered
    assert(report.deadLettered === None)
    // shard routing is a pure function of the partition key
    val byKey = replayedDf
      .select("user_id", "shard").distinct()
      .groupBy("user_id").count()
      .filter(col("count") > 1)
    assert(byKey.isEmpty)
  }

  test("the sink writes shard i from writer task i, through one shuffle Exchange") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val aqe = new AdaptiveSparkPlanHelper {}
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (aqe.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val partNo = raw"part-(\d+)-".r
    spark.listenerManager.register(listener)
    try Seq(2, 4, 8).foreach { n =>
      val out = new java.io.File(
        Replay.replayArchive(spark, s"$sf/events.parquet", nShards = n).sink)
      // parquet names each file after the task that wrote it: part-<task>-…
      val tasks = out.listFiles().filter(_.getName.startsWith("shard=")).toSeq.map { d =>
        val files = org.apache.commons.io.FileUtils
          .listFiles(d, Array("parquet"), true).asScala.toSeq
        d.getName.stripPrefix("shard=").toInt ->
          files.map(f => partNo.findFirstMatchIn(f.getName).get.group(1).toInt).toSet
      }.toMap
      assert(tasks.keySet === (0 until n).toSet, s"nShards=$n")
      tasks.foreach { case (shard, ts) =>
        assert(ts === Set(shard), s"nShards=$n: shard=$shard written by tasks $ts")
      }
    } finally spark.listenerManager.unregister(listener)
    eventually(timeout(10.seconds)) { assert(writes.size === 3) }
    writes.asScala.foreach { p =>
      assert(aqe.collect(p) { case e: ShuffleExchangeLike => e }.size === 1, p.treeString)
      // the unpaced write sorts once, under its Window: nothing re-sorts
      // the numbered rows for the partitioned write
      assert(aqe.find(p)(_.isInstanceOf[WindowExec]).isDefined, p.treeString)
      assert(aqe.collect(p) {
        case s: SortExec if aqe.find(s.child)(_.isInstanceOf[WindowExec]).isDefined => s
      }.isEmpty, p.treeString)
    }
  }

  test("a capped, retry-injected sink epoch runs the same jobs as a plain one") {
    // the same 2-file archive at one file per epoch on both sides, so the
    // epoch split is the same; the sink's pacing floor and retry count
    // must come out of its one write, not out of side jobs
    val archive = graft.core.TmpDirs.dir("jobs-archive")
    spark.read.parquet(s"$sf/events.parquet").repartition(2)
      .write.mode("overwrite").parquet(archive)
    val p = graft.core.Profile(spark)
    try {
      def replay(name: String)(run: => graft.streaming.ReplayReport) = {
        var r: graft.streaming.ReplayReport = null
        val (b, a) = p.run(name) { r = run; spark.emptyDataFrame }
        (r, () => p.of(name, b, a).buildJobs)
      }
      val (plain, plainJobs) = replay("plain")(
        Replay.replayArchive(spark, archive, nShards = 4, maxFilesPerTrigger = 1))
      val (capped, cappedJobs) = replay("capped")(
        Replay.replayArchive(spark, archive, nShards = 4, maxFilesPerTrigger = 1,
          putRecordsPerShardSec = 1000000, failFirstAttempt = Replay.putFailureSet))
      p.drain()
      assert(capped.batches.map(_._2) === plain.batches.map(_._2))
      assert(capped.retried.exists(_ > 0))
      assert(plainJobs() > 0L)
      assert(cappedJobs() === plainJobs(),
        s"over ${plain.batches.size} epochs")
    } finally p.close()
  }

  test("put_seq holds at most 500 rows per put at any epoch a Long can prefix") {
    import org.apache.spark.sql.functions._
    Seq(9008L, 9000000L).foreach { epoch =>
      val got = spark.range(1, 2001).select(col("id").cast("int").as("rn"))
        .select(col("rn"), Replay.putSeq(epoch, col("rn")).as("put_seq"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      got.foreach { case (rn, seq) =>
        assert(seq === epoch * 1000000000000L + (rn - 1) / 500, s"epoch=$epoch rn=$rn")
      }
      assert(got.groupBy(_._2).values.map(_.length).max <= 500, s"epoch=$epoch")
    }
  }

  test("an NDJSON drain forks no process for its sink or checkpoint") {
    import scala.jdk.CollectionConverters._
    val arch = graft.core.Ndjson.stageGz(spark, sf, "events-ndjson-gz")
    val (sink, ckpt) = (graft.core.TmpDirs.dir("fork-sink"), graft.core.TmpDirs.dir("fork-ckpt"))
    val dirs = Seq(sink, ckpt).flatMap(d => Seq(d, new java.io.File(d).getCanonicalPath))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val r = try Replay.replayNdjsonGz(spark, arch, resumeDirs = Some((sink, ckpt)))
      finally rec.stop()
    val jfr = java.nio.file.Files.createTempFile("drain-forks", ".jfr")
    try {
      rec.dump(jfr)
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(c => dirs.exists(c.contains))
      assert(r.rows > 0L)
      assert(forks.size === 0, s"e.g. ${forks.take(3).mkString("; ")}")
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(jfr) }
  }

  test("two concurrent replays in one session each report their own run") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    // archives of different sizes: a report that took in the other
    // run's progress events could not match its own archive's count
    val src = spark.read.parquet(s"$sf/events.parquet")
    val small = graft.core.TmpDirs.dir("race-small")
    src.filter(col("event_id") % 3 === 0).write.mode("overwrite").parquet(small)
    val big = graft.core.TmpDirs.dir("race-big")
    src.repartition(3).write.mode("overwrite").parquet(big)
    val counts = Seq(small, big).map(d => spark.read.parquet(d).count())
    assert(counts.distinct.size === 2)
    // both threads start their replay together; one file per epoch keeps
    // each run going for several micro-batches so the two overlap
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val reports = try pool.invokeAll(Seq(small, big).map { d =>
        val c: java.util.concurrent.Callable[graft.streaming.ReplayReport] = () => {
          barrier.await()
          Replay.replayArchive(spark, d, nShards = 4, maxFilesPerTrigger = 1)
        }
        c
      }.asJava).asScala.map(_.get).toSeq
      finally pool.shutdown()
    reports.zip(counts).foreach { case (r, n) =>
      assert(r.rows === n)
      assert(r.batches.map(_._2).sum === n)
      assert(spark.read.parquet(r.sink).count() === n)
    }
  }

  test("throttled streaming CDC apply (multi-epoch bucket-scoped merge) equals the batch MERGE") {
    import org.apache.spark.sql.functions._
    // one file per micro-batch: updates and deletes land in LATER
    // epochs than the snapshot and must merge incrementally — the
    // bucket-scoped dynamic-overwrite path, not a single-batch rewrite
    val streamed = graft.streaming.CdcApply
      .applyChangelog(spark, sf, maxFilesPerTrigger = 1)
      .groupBy("status")
      .agg(count(lit(1)).as("cnt"),
        graft.core.Det.moneySum(col("price")).as("total_price"))
      .orderBy("status").collect().map(_.toSeq)
    val batch = run("cdc_upsert").collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("ProcessingTime-trigger soak: live replay picks up files arriving after start") {
    import org.apache.spark.sql.functions._
    // the long-running daemon shape: the query starts against a partial
    // archive and must replay files written AFTER start on later ticks
    val staged = graft.core.TmpDirs.dir("live-staging")
    spark.read.parquet(s"$sf/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(staged)
    val parts = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length === 3)
    val arch = new java.io.File(graft.core.TmpDirs.dir("live-archive"))
    def reveal(f: java.io.File): Unit =
      java.nio.file.Files.copy(f.toPath, new java.io.File(arch, f.getName).toPath)
    reveal(parts(0))
    val (q, out) = Replay.startLiveReplay(spark, arch.getPath)
    def sunkCount(): Long =
      try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
    def awaitCount(target: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sunkCount() < target && System.nanoTime() < deadline) Thread.sleep(200)
      assert(sunkCount() === target, s"live replay did not reach $target rows in 60s")
    }
    try {
      val leg1 = spark.read.parquet(parts(0).getPath).count()
      awaitCount(leg1)
      // the archive GROWS while the query is live — the next ticks must
      // replay exactly the new files, never re-replaying old ones
      reveal(parts(1)); reveal(parts(2))
      val total = spark.read.parquet(s"$sf/events.parquet").count()
      awaitCount(total)
    } finally q.stop()
    val sunk = spark.read.parquet(out)
    // loss-free, dup-free, multi-epoch, and the put contract holds live
    assert(sunk.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    assert(sunk.select("epoch").distinct().count() >= 2)
    assert(sunk.groupBy("shard", "put_seq").count().filter(col("count") > 500).isEmpty)
    // content equality with the batch archive (the twin assertion)
    assert(sunk.select("event_id", "user_id", "event_type", "ms")
      .orderBy("event_id").collect().map(_.toSeq).toSeq ===
      graft.core.Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ms"))
        .orderBy("event_id").collect().map(_.toSeq).toSeq)
  }

  test("replay of an archive file with glob metacharacters in its name is lossless") {
    // a comma is an alternation separator inside Hadoop brace globs —
    // unescaped, `{events,2024.parquet}` matches zero files and the
    // replay would "succeed" with 0 rows (silent data loss)
    val dir = graft.core.TmpDirs.dir("glob-archive")
    val weird = new java.io.File(dir, "events,2024[v1].parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), weird.toPath)
    val out = Replay.replayArchive(spark, weird.getPath).sink
    assert(spark.read.parquet(out).count() ===
      spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("replay resumes from its checkpoint: a grown archive replays only the new files, no dups") {
    import org.apache.spark.sql.functions._
    // stage a 3-part archive, but reveal only part 1 to the first run
    val full = graft.core.TmpDirs.dir("resume-staging")
    spark.read.parquet(s"$sf/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(full)
    val parts = new java.io.File(full).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length === 3)
    val arch = new java.io.File(graft.core.TmpDirs.dir("resume-archive"))
    def reveal(f: java.io.File): Unit =
      java.nio.file.Files.copy(f.toPath, new java.io.File(arch, f.getName).toPath)
    reveal(parts(0))
    val out = graft.core.TmpDirs.dir("resume-out")
    val ckpt = graft.core.TmpDirs.dir("resume-ckpt")
    val dirs = Some((out, ckpt))
    val leg1Rows =
      Replay.replayArchive(spark, arch.getPath, nShards = 4, resumeDirs = dirs).rows
    val afterLeg1 = spark.read.parquet(out).count()
    assert(afterLeg1 > 0 && afterLeg1 === leg1Rows)
    // the "crashed process restarts after the archive grew" leg: same
    // checkpoint + sink, two new files — only they must replay
    reveal(parts(1)); reveal(parts(2))
    val leg2 = Replay.replayArchive(spark, arch.getPath, nShards = 4, resumeDirs = dirs)
    assert(leg2.rows === spark.read.parquet(full).count() - leg1Rows,
      "second leg must process exactly the two new files")
    val sunk = spark.read.parquet(out)
    // loss-free AND dup-free across the restart
    assert(sunk.count() === spark.read.parquet(full).count())
    assert(sunk.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    // the resumed run continues the epoch sequence instead of restarting it
    assert(sunk.select("epoch").distinct().count() >= 2)
  }

  test("throttled multi-epoch replay: loss-free, epoch-scoped ordering, idempotent epoch retry") {
    import org.apache.spark.sql.functions._
    // A multi-file archive + maxFilesPerTrigger=1 forces a multi-epoch
    // run — the rate-limited replay path.
    val src = spark.read.parquet(s"$sf/events.parquet")
    val archive = graft.core.TmpDirs.dir("twin-archive")
    src.repartition(3).write.mode("overwrite").parquet(archive)
    val report = Replay.replayArchive(spark, archive, nShards = 4, maxFilesPerTrigger = 1)
    val out = report.sink
    val replayed = spark.read.parquet(out)
    assert(replayed.select("epoch").distinct().count() > 1)
    // loss-free across epochs, and A9 progress saw every row
    assert(replayed.count() === src.count())
    assert(report.rows === src.count())
    // multi-epoch run: the A9 listener logged one entry per micro-batch
    // and collectively saw every row
    assert(report.batches.map(_._2).sum === src.count())
    assert(report.batches.count(_._2 > 0) > 1)
    // put cap holds per epoch-prefixed put_seq
    assert(replayed.groupBy("shard", "put_seq").count().filter(col("count") > 500).isEmpty)
    // ordering contract is scoped to (epoch, shard): within one epoch a
    // put batch's max ms never exceeds the next batch's min ms.
    // Cross-epoch order is deliberately NOT asserted (see Replay scaladoc).
    val bounds = replayed.groupBy("epoch", "shard", "put_seq")
      .agg(min("ms").as("lo"), max("ms").as("hi"))
      .collect().groupBy(r => (r.getInt(0), r.getInt(1)))
    bounds.values.foreach { rows =>
      rows.sortBy(_.getLong(2)).sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(4) <= b.getLong(3))
        case _ => ()
      }
    }
    // sink retry idempotence: Spark re-runs a failed foreachBatch with
    // the SAME epochId; the dynamic-overwrite-by-epoch write replaces
    // that epoch's partitions instead of appending duplicate puts.
    val total = replayed.count()
    val ep0 = replayed.filter(col("epoch") === 0).localCheckpoint(true)
    ep0.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "epoch", "attempt").parquet(out)
    assert(spark.read.parquet(out).count() === total)
  }

  test("resharding mid-replay: a resumed leg at 16 shards keeps per-era routing consistent with the 8-shard era") {
    import org.apache.spark.sql.functions._
    // the live-sink counterpart of the sink_reshard key: leg 1 replays
    // part of the archive at 8 shards; the stream is then reshard-split
    // and leg 2 RESUMES (same checkpoint+sink) at 16. Within each era
    // the router must be exactly pmod(hash, n_era), and because 16 is a
    // multiple of 8 every era-2 record of a user lands in a shard whose
    // mod-8 parent is the user's era-1 shard — the split lineage a
    // per-key consumer relies on.
    val full = graft.core.TmpDirs.dir("reshard-staging")
    spark.read.parquet(s"$sf/events.parquet").repartition(2)
      .write.mode("overwrite").parquet(full)
    val parts = new java.io.File(full).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val arch = new java.io.File(graft.core.TmpDirs.dir("reshard-archive"))
    def reveal(f: java.io.File): Unit =
      java.nio.file.Files.copy(f.toPath, new java.io.File(arch, f.getName).toPath)
    reveal(parts(0))
    val out = graft.core.TmpDirs.dir("reshard-out")
    val ckpt = graft.core.TmpDirs.dir("reshard-ckpt")
    val dirs = Some((out, ckpt))
    Replay.replayArchive(spark, arch.getPath, nShards = 8, resumeDirs = dirs)
    val maxEp1 = spark.read.parquet(out)
      .agg(max(col("epoch").cast("long"))).collect()(0).getLong(0)
    reveal(parts(1))
    Replay.replayArchive(spark, arch.getPath, nShards = 16, resumeDirs = dirs)
    val sunk = spark.read.parquet(out)
      .withColumn("era", when(col("epoch") <= maxEp1, 1L).otherwise(2L))
    // loss-free across the reshard
    assert(sunk.count() === spark.read.parquet(full).count())
    assert(sunk.filter(col("era") === 2).count() > 0, "leg 2 must have replayed")
    // era-exact routing: every row sits in pmod(hash, its era's count)
    assert(sunk.filter(col("era") === 1 &&
      col("shard") =!= pmod(xxhash64(col("user_id")), lit(8))).isEmpty)
    assert(sunk.filter(col("era") === 2 &&
      col("shard") =!= pmod(xxhash64(col("user_id")), lit(16))).isEmpty)
    // split lineage: a user's era-2 shard mod 8 IS their era-1 shard
    // (8 | 16), so consumers of old shard s read exactly {s, s+8} after
    val byUser = sunk.groupBy("user_id")
      .agg(max(when(col("era") === 1, col("shard"))).as("s8"),
        max(when(col("era") === 2, col("shard") % 8)).as("s16p"))
      .filter(col("s8").isNotNull && col("s16p").isNotNull)
    assert(byUser.filter(col("s8") =!= col("s16p")).isEmpty,
      "era-2 parent shard must equal the era-1 shard for every user")
  }

  test("A7 drain-rate cap: records/sec/shard pacing bounds the replay; bytes-per-trigger bounds epochs") {
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet(s"$sf/events.parquet")
    val n = src.count()
    val archive = graft.core.TmpDirs.dir("rate-archive")
    src.repartition(2).write.mode("overwrite").parquet(archive)
    // unthrottled control: the cap off ⇒ zero pacing recorded
    assert(Replay.replayArchive(spark, archive, nShards = 4).pacingMs === 0L)
    // rate low enough that pacing dominates sink write time: per shard
    // ≈ n/4 records at 25 rec/s/shard ⇒ every epoch must last
    // ≥ max-shard-records/25 s, write time included.
    // maxBytesPerTrigger (throughput-granular intake, vs the file-
    // granular maxFilesPerTrigger) splits the 2-file archive into ≥2
    // epochs, so pacing provably accumulates ACROSS epochs.
    val bytesCap = new java.io.File(archive).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).min
    val capped = Replay.replayArchive(spark, archive, nShards = 4,
      maxBytesPerTrigger = bytesCap, putRecordsPerShardSec = 25)
    val sunk = spark.read.parquet(capped.sink)
    assert(sunk.select("epoch").distinct().count() > 1,
      "bytes-per-trigger must split the archive into multiple epochs")
    // loss-free and dup-free under both throttles
    assert(sunk.count() === n)
    assert(sunk.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    // The A7 contract is on epoch DURATION, not on sleep: an epoch may
    // not finish faster than max-shard-records / rate. Per-epoch maxima
    // are ≥ the per-epoch mean n_e/4, so summed durations must reach
    // the whole-run floor (n/4)/rate regardless of how much of each
    // epoch the write itself absorbed — machine-speed-independent.
    val floorMs = (n / 4) * 1000L / 25
    assert(capped.sinkMs >= floorMs,
      s"rate-capped sink ran ${capped.sinkMs}ms; the drain " +
        s"cap requires >= ${floorMs}ms")
    // and at this rate the floor is far above any realistic write time,
    // so the sleep path itself must have fired
    assert(capped.pacingMs > 0L,
      "the pacing sleep never fired at a rate the write cannot absorb")
  }

  test("mid-epoch sink crash: the retried epoch replaces the partial put batch exactly-once") {
    import org.apache.spark.sql.functions._
    // 2-file archive throttled to one file per epoch. The first attempt
    // of epoch 1 lands HALF its puts (the mid-batch crash of a real
    // PutRecords loop — some batches of the 500-record chunking already
    // succeeded) and then dies. The restarted run re-runs epoch 1 under
    // the SAME epochId, and the dynamic-overwrite-by-epoch sink must
    // replace the partial partitions — exactly-once, not at-least-once.
    val src = spark.read.parquet(s"$sf/events.parquet")
    val archive = graft.core.TmpDirs.dir("fault-archive")
    src.repartition(2).write.mode("overwrite").parquet(archive)
    val out = graft.core.TmpDirs.dir("fault-out")
    val ckpt = graft.core.TmpDirs.dir("fault-ckpt")
    val dirs = Some((out, ckpt))
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val fault: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, epoch) =>
      if (epoch == 1L && armed.getAndSet(false)) {
        // the partial landing: half the records, in sink layout, appended
        batch.filter(col("event_id") % 2 === 0)
          .withColumn("put_seq", lit(epoch * 1000000000000L))
          .withColumn("epoch", lit(epoch))
          .withColumn("attempt", lit(1))
          .write.mode("append").partitionBy("shard", "epoch", "attempt").parquet(out)
        throw new RuntimeException("injected mid-epoch sink crash")
      }
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replay.replayArchive(spark, archive, nShards = 4,
        maxFilesPerTrigger = 1, resumeDirs = dirs, sinkFault = fault)
    }
    assert((failed.getMessage + Option(failed.getCause).mkString)
      .contains("injected mid-epoch sink crash"))
    // the crash left a PARTIAL epoch 1 on disk — the at-least-once state
    val partial = spark.read.parquet(out)
    assert(partial.filter(col("epoch") === 1).count() > 0)
    assert(partial.count() < src.count())
    // restart with the same checkpoint+sink: epoch 1 retries, overwrite
    Replay.replayArchive(spark, archive, nShards = 4,
      maxFilesPerTrigger = 1, resumeDirs = dirs)
    val sunk = spark.read.parquet(out)
    assert(sunk.count() === src.count(), "retried epoch must land exactly-once")
    assert(sunk.groupBy("event_id").count().filter(col("count") > 1).isEmpty,
      "no record may survive twice across the partial write + retry")
    // the put-batch contract still holds after the replaced epoch
    assert(sunk.groupBy("shard", "put_seq").count().filter(col("count") > 500).isEmpty)
  }

  test("ReplayCli maps the reference flag surface onto the replay chain; sink equals replay_stream's") {
    import org.apache.spark.sql.functions._
    val sink = graft.core.TmpDirs.dir("cli-sink")
    val cfg = ReplayCli.parseArgs(Seq(
      "--source", s"$sf/events.parquet", "--sink", sink,
      "--shards", "4", "--records-per-sec", "100000"))
    val out = ReplayCli.run(spark, cfg).sink
    assert(out === sink, "the CLI must honor --sink")
    val cli = spark.read.parquet(out)
    val ref = spark.read.parquet(
      Replay.replayArchive(spark, s"$sf/events.parquet", nShards = 4).sink)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "shard", "epoch", "put_seq")
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(cli) === canon(ref),
      "a flag-driven CLI replay must land the identical sink content")
    // --from/--to scope the replay to the event-time range, like the
    // replay_time_range key
    val src = spark.read.parquet(s"$sf/events.parquet")
    val ms = src.withColumn("ms", graft.core.Tables.msExpr(src.schema)).select("ms")
    val (lo, hi) = {
      val b = ms.agg(min("ms"), max("ms")).head
      (b.getLong(0), b.getLong(1))
    }
    val mid = lo + (hi - lo) / 2
    val scoped = ReplayCli.run(spark, ReplayCli.parseArgs(Seq(
      "--source", s"$sf/events.parquet", "--from", lo.toString, "--to", mid.toString))).sink
    val expected = ms.filter(col("ms") >= lo && col("ms") < mid).count()
    assert(spark.read.parquet(scoped).count() === expected)
    // flag parsing: ISO dates read as UTC; unknown flags refuse loudly
    assert(ReplayCli.parseTs("1970-01-02") === 86400000L)
    assert(ReplayCli.parseTs("1970-01-01T01:00:00") === 3600000L)
    assert(ReplayCli.parseTs("12345") === 12345L)
    intercept[IllegalArgumentException] {
      ReplayCli.parseArgs(Seq("--source", "x", "--bogus", "1"))
    }
  }

  test("ReplayCli prints its report as one valid JSON line, sink path escaped") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // a --sink dir whose name carries a quote and a tab
    val sink = new java.io.File(graft.core.TmpDirs.dir("cli-json"), "q\"t\tx").getPath
    val line = ReplayCli.json(ReplayCli.run(spark, ReplayCli.parseArgs(Seq(
      "--source", s"$sf/events.parquet", "--sink", sink))))
    assert(!line.contains('\n') && !line.contains('\t') && line.contains("q\\\"t\\tx"), line)
    val js = mapper.readTree(line)
    assert(js.get("sink").asText() === sink)
    assert(js.get("rows").asLong() === spark.read.parquet(s"$sf/events.parquet").count())
    assert(js.get("retried_records").isNull && js.get("dead_lettered").isNull)
    assert(js.get("phase_ms").has("addBatch"))
    // the NDJSON door: dead_lettered counts the injected bad lines
    val arch = graft.core.Ndjson.stageGz(spark, sf, "cli-corrupt-archive")
    java.nio.file.Files.write(java.nio.file.Paths.get(arch, "garbage.txt"),
      "not json\n{\"event_id\": oops}\n".getBytes("UTF-8"))
    val gz = mapper.readTree(ReplayCli.json(ReplayCli.run(spark, ReplayCli.parseArgs(Seq(
      "--source", arch, "--format", "ndjson-gz")))))
    assert(gz.get("dead_lettered").asLong() === 2L)
  }

  test("ReplayCli --format ndjson-gz honours --sink and resumes it with only the new file's rows") {
    import org.apache.spark.sql.functions._
    val staged = new java.io.File(graft.core.Ndjson.stageGz(spark, sf, "cli-gz-archive"))
    val gz = staged.listFiles().filter(_.getName.endsWith(".gz")).sortBy(_.getName)
    assert(gz.length >= 2)
    // a mutable copy of the archive holding all but its last file
    val arch = new java.io.File(graft.core.TmpDirs.dir("cli-gz-resume"))
    gz.init.foreach(f => java.nio.file.Files.copy(f.toPath, arch.toPath.resolve(f.getName)))
    val sink = graft.core.TmpDirs.dir("cli-gz-sink")
    def replay() = ReplayCli.run(spark, ReplayCli.parseArgs(Seq(
      "--source", arch.getPath, "--format", "ndjson-gz", "--sink", sink)))
    val first = replay()
    assert(first.sink === sink, "the ndjson-gz CLI must honour --sink")
    val lastRows = spark.read.text(gz.last.getPath).count()
    val all = spark.read.parquet(s"$sf/events.parquet").count()
    assert(lastRows > 0L && first.rows === all - lastRows)
    java.nio.file.Files.copy(gz.last.toPath, arch.toPath.resolve(gz.last.getName))
    val second = replay()
    assert(second.sink === sink)
    assert(second.rows === lastRows, "a resumed run lands only the added file's rows")
    val sunk = spark.read.parquet(sink)
    assert(sunk.count() === all)
    assert(sunk.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    // flags the NDJSON door does not wire refuse loudly
    intercept[IllegalArgumentException] {
      ReplayCli.run(spark, ReplayCli.parseArgs(Seq(
        "--source", arch.getPath, "--format", "ndjson-gz", "--records-per-sec", "100")))
    }
  }

  test("CLI --transform-regex rewrites in-stream exactly like the batch transform (A5)") {
    import org.apache.spark.sql.functions._
    // the same regexp_replace machinery the declared transform_rewrite
    // key verifies (space→underscore), here applied per-message to the
    // payload column INSIDE the streaming replay — the reference's A5
    // per-record transform stage
    val out = ReplayCli.run(spark, ReplayCli.parseArgs(Seq(
      "--source", s"$sf/events.parquet", "--shards", "4",
      "--transform-regex", "\": \"", "--transform-repl", "\":_\"",
      "--transform-col", "props"))).sink
    val cli = spark.read.parquet(out)
      .select("event_id", "props").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch twin: the identical expression over the identical archive
    val src = graft.core.Tables.events(spark, sf)
      .select(col("event_id"),
        regexp_replace(col("props"), "\": \"", "\":_\"").as("props"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cli.size === src.size)
    assert(cli === src, "in-stream A5 rewrite must equal the batch twin")
    assert(cli.values.forall(!_.contains("\": \"")),
      "no message may escape the rewrite")
    // flag validation: a regex without its replacement refuses loudly
    intercept[IllegalArgumentException] {
      ReplayCli.parseArgs(Seq("--source", "x", "--transform-regex", "a"))
    }
  }

  test("per-record put retry: injected first-attempt failures land exactly-once, output unchanged") {
    import org.apache.spark.sql.functions._
    // leg 1: clean run — no injection, everything lands on attempt 1
    val outPlain = Replay.replayArchive(spark, s"$sf/events.parquet", nShards = 4)
    val plain = spark.read.parquet(outPlain.sink)
    assert(outPlain.retried === None, "injection off must report no retry count")
    // leg 2: ~1/8 of records fail their first simulated PutRecords
    // attempt and must land via the retry wave
    val outInj = Replay.replayArchive(spark, s"$sf/events.parquet", nShards = 4,
      failFirstAttempt = Replay.putFailureSet)
    val injected = spark.read.parquet(outInj.sink)
    assert(outInj.retried.exists(_ > 0), "the failure set must be non-empty at sf0.001")
    assert(outInj.retried === Some(injected.filter(col("attempt") === 2).count()))
    // the law: retrying ONLY the failed records changes nothing the
    // consumer can see — same records, same shards, same put batches
    val cols = Seq("event_id", "shard", "epoch", "put_seq", "ms").map(col)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(injected) === canon(plain))
  }

  test("a NULL first-attempt predicate lands its row once, under attempt=1") {
    import org.apache.spark.sql.functions._
    // a third of the rows get a NULL predicate, a third fail attempt 1
    val third = col("event_id") % 3
    val src = spark.read.parquet(s"$sf/events.parquet")
    val r = Replay.replayArchive(spark, s"$sf/events.parquet", nShards = 4,
      failFirstAttempt = when(third =!= 0, third === 1))
    val sunk = spark.read.parquet(r.sink)
    // every source row exactly once: same count, same multiset of ids
    assert(sunk.count() === src.count())
    assert(sunk.select("event_id").exceptAll(src.select("event_id")).isEmpty)
    val nullRows = sunk.filter(third === 0)
    assert(nullRows.count() === src.filter(third === 0).count())
    assert(nullRows.filter(col("attempt") =!= 1).isEmpty)
    assert(r.retried === Some(src.filter(third === 1).count()))
    assert(r.retried === Some(sunk.filter(col("attempt") === 2).count()))
  }

  test("throttled packed-archive replay (1 file/epoch) equals the unthrottled run") {
    // aggregated records split across micro-batches: the in-stream
    // deaggregation must be batch-boundary-invariant
    val throttled = Replay.replayKplAgg(spark, sf, maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    val single = run("replay_kpl").collect().map(_.toSeq)
    assert(throttled.toSeq === single.toSeq)
    val batch = run("stream_tumbling").collect().map(_.toSeq)
    assert(throttled.toSeq === batch.toSeq,
      "packed, throttled replay must still equal the batch twin")
  }

  test("KPL frames carry the true AggregatedRecord protobuf wire layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // an INDEPENDENT Scala wire walker (tag/LEB128 rules only — shares
    // nothing with the SQL parser): any structural drift between the
    // staging encoder and the protobuf spec fails here, not just
    // self-consistency between encoder and decoder
    def hexByte(s: String, o: Int): Int =
      Integer.parseInt(s.substring(o, o + 2), 16)
    def leb(s: String, o: Int): (Int, Int) = { // (value, hex width)
      val b0 = hexByte(s, o)
      if (b0 >= 128) ((b0 - 128) + 128 * hexByte(s, o + 2), 4) else (b0, 2)
    }
    val ns = (ms: Long) => ms * 1000000L
    val rows = Seq(
      (0L, ns(1000L), 1L, "a", 1.50, "{}"),
      (1L, ns(2000L), 2L, "b", 2.25, s"""{"pad": "${"y" * 150}"}"""))
    val dir = stageTables("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val staged = graft.ops.ScaleOps.stageKplArchive(spark, dir)
    val good = graft.ops.ScaleOps.kplFrames(spark.read.text(staged))
      .filter($"good").select("body").as[String].collect()
    assert(good.length === 1, "ids 0,1 pack into ONE group-0 frame")
    val body = good(0)
    // repeated field 1: the partition_key_table — the batch's DISTINCT
    // per-message keys (= event types), deduplicated and sorted, one
    // tag-0x0A length-delimited entry each
    var o = 0
    val pkTable = Seq.newBuilder[String]
    while (o < body.length && hexByte(body, o) == 0x0A) {
      val (pkLen, pkW) = leb(body, o + 2)
      pkTable += body.substring(o + 2 + pkW, o + 2 + pkW + pkLen)
      o = o + 2 + pkW + pkLen
    }
    val pks = pkTable.result()
    assert(pks === Seq("a", "b"),
      "distinct message keys dedup into a sorted multi-entry table")
    // then repeated field-3 Record submessages, each carrying its OWN
    // 0-based index into the table
    val msgs = Seq.newBuilder[String]
    val idxs = Seq.newBuilder[Int]
    while (o < body.length) {
      assert(hexByte(body, o) === 0x1A, s"Record tag expected at $o")
      val (recLen, recW) = leb(body, o + 2)
      val p = o + 2 + recW
      assert(hexByte(body, p) === 0x08, "partition_key_index tag")
      val (pkIdx, idxW) = leb(body, p + 2)
      assert(pkIdx >= 0 && pkIdx < pks.length, "index points into the table")
      idxs += pkIdx
      assert(hexByte(body, p + 2 + idxW) === 0x1A, "data tag")
      val (jLen, jW) = leb(body, p + 4 + idxW)
      // the declared Record length counts BINARY bytes of its content
      assert(recLen === 1 + idxW / 2 + 1 + jW / 2 + jLen,
        "LEB128 record length must equal the submessage byte count")
      val js = p + 4 + idxW + jW
      msgs += body.substring(js, js + jLen)
      o = js + jLen
    }
    val got = msgs.result()
    assert(got.length === 2)
    assert(got(0).contains("\"event_id\":0") && got(1).contains("\"event_id\":1"))
    assert(idxs.result() === Seq(0, 1),
      "the type-'b' message must carry a NONZERO partition_key_index")
    assert(got(1).contains("y" * 150), "a >128-byte payload rides a 2-byte LEB128")
    // and the engine's own SQL walker recovers exactly the same
    // payloads AND resolves each index back through the table
    val sqlOut = graft.ops.ScaleOps
      .kplDeaggregate(spark.read.text(staged))
      .select($"e.event_id", $"pk").as[(Long, String)].collect().sorted
    assert(sqlOut.toSeq === Seq((0L, "a"), (1L, "b")),
      "the SQL walker must honor nonzero partition_key_index")
  }

  test("native kpl_deagg expression equals the HOF wire-walk spelling row for row") {
    // the shipped walk is the native Catalyst expression (KplDeagg);
    // the declarative HOF fold is retained as its executable spec —
    // both must decode the SAME (event_id, pk) stream from the real
    // staged archive (sf fixture: multi-frame, mixed keys, the two
    // planted dead letters upstream of both)
    import spark.implicits._
    val raw = spark.read.text(graft.ops.ScaleOps.stageKplArchive(spark, sf))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"e.event_id", $"pk", $"e.value")
        .as[(Long, String, Double)].collect().sorted.toSeq
    val native = canon(graft.ops.ScaleOps.kplDeaggregate(raw))
    val hof = canon(graft.ops.ScaleOps.kplDeaggregateHof(raw))
    assert(native.nonEmpty)
    assert(native === hof)
  }

  test("native-vs-HOF law holds for a 129-key table (pk_index >= 128 rides a 2-byte varint)") {
    // The staging envelope packs <=8 messages per frame, so archive
    // indexes are always 1-byte — this HAND-BUILT frame (independent
    // encoder: tag/LEB128 rules only) carries a 129-entry key table
    // and a record whose partition_key_index = 128 needs the 2-byte
    // LEB128 path. The HOF law mirror's record advance must carry the
    // iw (index-varint width) term for this frame: the former
    // `p + v + 3 + jw` spelling assumed iw = 1 and misparses here.
    import spark.implicits._
    def hv(v: Int): String = // hex LEB128, 1 or 2 bytes
      if (v < 128) f"$v%02X"
      else f"${(v & 0x7f) | 0x80}%02X${v >> 7}%02X"
    def key(i: Int): String = f"key$i%03d"
    val entries = (0 to 128).map(i => "0A" + hv(6) + key(i)).mkString
    def rec(idx: Int, msg: String): String = {
      val iw = if (idx < 128) 1 else 2
      val jw = if (msg.length < 128) 1 else 2
      val recLen = 1 + iw + 1 + jw + msg.length
      "1A" + hv(recLen) + "08" + hv(idx) + "1A" + hv(msg.length) + msg
    }
    val m0 = """{"event_id":0,"user_id":1,"event_type":"key000","value":1.5,"ms":1000,"props":"{}"}"""
    val m1 = """{"event_id":1,"user_id":2,"event_type":"key128","value":2.5,"ms":2000,"props":"{}"}"""
    val body = entries + rec(0, m0) + rec(128, m1)
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val raw = Seq(graft.ops.ScaleOps.KplMagic + body + md5hex).toDF("value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"e.event_id", $"pk").as[(Long, String)].collect().sorted.toSeq
    val native = canon(graft.ops.ScaleOps.kplDeaggregate(raw))
    // 129 table entries + 2 records need a wider walk than the ≤17
    // staging-envelope default
    val hof = canon(graft.ops.ScaleOps.kplDeaggregateHof(raw, maxSteps = 140))
    assert(native === Seq((0L, "key000"), (1L, "key128")),
      "the 2-byte index must resolve through the wide table")
    assert(native === hof)
  }

  test("kpl_deagg stops gracefully on md5-passing corrupt frames — never a throw") {
    // the documented contract: a structurally inconsistent frame stops
    // the walk with the records decoded so far. Drive the native
    // expression directly with bodies that used to reach substring
    // with a negative length (non-hex char in a 2-byte varint's second
    // byte) or read past the end (2-byte jlen at the frame edge).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val e = graft.functions.KplDeagg(BoundReference(0, StringType, nullable = true))
    def walk(body: String) =
      e.eval(InternalRow(UTF8String.fromString(body)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // pk-entry len varint "80ZZ": second byte non-hex → negative len
    assert(walk("0A80ZZabcdef").numElements() === 0)
    // record whose jlen varint's first byte promises a second byte
    // that sits past the end of the frame
    assert(walk("1A" + "06" + "08" + "00" + "1A" + "80").numElements() === 0)
    // and a clean 1-entry frame still decodes around them
    val good = "0A" + "01" + "k" + "1A" + "06" + "08" + "00" + "1A" + "02" + "{}"
    assert(walk(good).numElements() === 1)
  }

  test("throttled schema-evolving replay processes eras in separate epochs, same result") {
    // era files land in different micro-batches under the 1-file
    // throttle — the evolving from_json must file v1/v2 rows
    // identically to the single-pass run
    val throttled = Replay
      .replaySchemaEvolveAgg(spark, sf, maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq)
    val single = run("replay_schema_evolve").collect().map(_.toSeq)
    assert(throttled.toSeq === single.toSeq)
  }
}
