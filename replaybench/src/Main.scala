package replaybench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.core.{IndexCache, Sessions}
import graft.streaming.Replay

/** One benchmark run: build a session, prepare the seeded inputs, time
  * set-up, then drive one workload through the program's public front
  * doors for the requested number of seconds. Writes one JSON result
  * object to `--out`. See README.md for the workloads and metrics.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: Path, out: Path, hashes: Path, recordHashes: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(m("--workload"), m("--seed").toLong, m("--seconds").toInt, m("--trace") == "1",
      Paths.get(m("--data")), Paths.get(m("--out")), Paths.get(m("--hashes")),
      m.get("--record-hashes").contains("1"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Wall-time cap on a measured phase, so that failing steps cannot
    * keep a run going past its deadline.
    */
  val MeasureCapNs: Long = 90L * 1000000000L

  def newSession(): SparkSession = {
    val s = Sessions.config(SparkSession.builder().master(s"local[$cores]"), cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w: Workload = o.workload match {
      case "replay_gz_drain" => new GzDrain
      case "surface_mix" => new SurfaceMix(o.hashes, o.recordHashes)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = newSession()
    val firstSession = (System.currentTimeMillis() - jvmStart) / 1000.0
    // Inputs are cached (the seeded ones by seed); generating them is
    // reported as gen_s, apart from set-up.
    val g0 = System.nanoTime()
    w.prepareFixed(spark, o.data)
    var genS = secs(g0)

    // Set-up three times: the first includes JVM start; each later one
    // is a fresh session after stopping the previous. Each ends with the
    // workload's warm-up. setup_s is the median.
    val setups = ArrayBuffer.empty[Double]
    var t0 = System.nanoTime()
    w.warmup(spark)
    setups += firstSession + secs(t0)
    for (_ <- 1 until 3) {
      spark.stop()
      t0 = System.nanoTime()
      spark = newSession()
      w.warmup(spark)
      setups += secs(t0)
    }
    val g1 = System.nanoTime()
    w.prepare(spark, o.data, o.seed)
    genS += secs(g1)

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val rnd = new java.util.Random(o.seed)
    val res = w.measure(spark, o.seconds, rnd, tracer)

    // live heap: the lowest of three reads, each after a full GC and a
    // pause for Spark's context cleaner to drop what the GC released
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
    val e2e = res.e2e + ("setup_s" -> median(setups.toSeq)) + ("heap_live_mb" -> heapMb)
    val metrics = if (o.trace) res.layers else e2e
    val info = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "gen_s" -> genS, "setups_s" -> setups.toSeq, "end_to_end" -> e2e,
      "failed_share" -> res.failed.toDouble / math.max(1, res.attempted),
      "failures" -> res.failures.take(20), "notes" -> res.notes)
    val json = Json.obj(Map(
      "correct" -> (res.failed == 0), "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units.of(k)) },
      "info" -> info))
    Files.writeString(o.out, json)
    spark.stop()
  }
}

/** Outcome of a workload's measured phase. */
final case class Result(attempted: Int, failed: Int, failures: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double], notes: Map[String, Any])

trait Workload {
  /** Seed-independent inputs: the warm-up archive or the surface data. */
  def prepareFixed(spark: SparkSession, data: Path): Unit
  def prepare(spark: SparkSession, data: Path, seed: Long): Unit
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Int, rnd: java.util.Random,
      tracer: Option[Tracer]): Result
}

/** Attaches the per-layer listeners around one traced step. */
final class Tracer(spark: SparkSession) {
  val exec = new ExecTap
  val plan = new PlanTap
  def traced[T](body: => T): T = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    try body
    finally {
      exec.drain(spark)
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(plan)
    }
  }

  /** Per-step scheduler/executor counters under `exec.*`. */
  def execMetrics(phases: Seq[String], wallMs: Double): Map[String, Double] = {
    val as = phases.map(exec.get)
    def s(f: ExecTap#Acc => Long) = as.map(f).sum.toDouble
    val run = s(_.runMs)
    Map("exec.jobs" -> s(_.jobs), "exec.stages" -> s(_.stages), "exec.tasks" -> s(_.tasks),
      "exec.executor_run_ms" -> run, "exec.executor_cpu_ms" -> s(_.cpuMs),
      "exec.jvm_gc_ms" -> s(_.gcMs), "exec.input_bytes" -> s(_.inB),
      "exec.output_bytes" -> s(_.outB), "exec.shuffle_read_bytes" -> s(_.shrB),
      "exec.shuffle_write_bytes" -> s(_.shwB), "exec.spill_bytes" -> s(_.spillB),
      "exec.busy_ratio" -> (if (wallMs > 0) run / (wallMs * Main.cores) else 0.0))
  }
}

object Tracer {
  def tag(spark: SparkSession, phase: String): Unit =
    spark.sparkContext.setLocalProperty(Taps.Tag, phase)

  /** Median of each named per-step metric over the steps that have it. */
  def medians(steps: Seq[Map[String, Double]]): Map[String, Double] =
    steps.flatMap(_.keys).distinct.map(k => k -> Main.median(steps.flatMap(_.get(k)))).toMap
}

/** `replay_gz_drain`: each step is one unthrottled
  * `Replay.replayTextGz` drain of a seeded gzip-NDJSON archive into a
  * fresh sink and checkpoint, checked and then deleted.
  */
final class GzDrain extends Workload {
  val Shards = 4
  /** Drains after the cold one that are checked but not measured: the
    * JIT is still compiling the parse and write paths during them.
    */
  val Settle = 4
  var archive: Path = _
  var expect: Gen.Expect = _
  var warmArchive: Path = _

  def prepareFixed(spark: SparkSession, data: Path): Unit =
    warmArchive = Cache.gz(data, 0L, files = 2, perFile = 2000)._1
  def prepare(spark: SparkSession, data: Path, seed: Long): Unit = {
    val (a, e) = Cache.gz(data, seed, files = 16, perFile = 12500)
    archive = a; expect = e
  }

  def drain(spark: SparkSession, dir: Path): String =
    Replay.replayTextGz(spark, dir.toString, Shards)

  def warmup(spark: SparkSession): Unit = ReplayCheck.cleanup(drain(spark, warmArchive))

  def measure(spark: SparkSession, seconds: Int, rnd: java.util.Random,
      tracer: Option[Tracer]): Result = {
    val progress = new ProgressTap
    spark.streams.addListener(progress)
    val failures = ArrayBuffer.empty[String]
    val drainS, settleS = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Map[String, Double]]
    val plainMs, tracedMs = ArrayBuffer.empty[Double]
    var (coldS, checkS) = (0.0, 0.0)
    var attempted, failed = 0
    // the first drain is the cold pass; after the settling drains,
    // measured drains follow until they add up to `seconds` (at least
    // five); checks are not counted
    val deadline = System.nanoTime() + Main.MeasureCapNs
    while ((drainS.size < 5 || drainS.sum < seconds) && System.nanoTime() < deadline) {
      val i = attempted
      attempted += 1
      val traceThis = tracer.isDefined && i > Settle && i % 2 == 0
      Tracer.tag(spark, s"d$i")
      val s0 = System.nanoTime()
      val outOpt = try {
        Some(if (traceThis) tracer.get.traced(drain(spark, archive)) else drain(spark, archive))
      } catch { case e: Throwable => failures += s"drain $i threw: $e"; failed += 1; None }
      val ms = (System.nanoTime() - s0) / 1e6
      Tracer.tag(spark, null)
      val events = progress.take()
      outOpt.foreach { out =>
        val deadLettered = events.flatMap(p => Option(p.observedMetrics.get("parse_errors")))
          .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).sum
        val c0 = System.nanoTime()
        val chk = ReplayCheck.run(spark, out, expect, deadLettered)
        checkS += Main.secs(c0)
        if (chk.failures.nonEmpty) {
          failures ++= chk.failures.map(f => s"drain $i: $f"); failed += 1
        } else if (i == 0) coldS = ms / 1000
        else if (i <= Settle) settleS += ms / 1000
        else {
          drainS += ms / 1000
          if (tracer.isDefined) (if (traceThis) tracedMs else plainMs) += ms
          if (traceThis) traced += traceMetrics(tracer.get, s"d$i", ms, events, chk)
        }
        ReplayCheck.cleanup(out)
      }
    }
    val warm = drainS.toSeq
    val e2e = Map(
      "records_per_s" -> (if (warm.isEmpty) 0.0 else expect.records * warm.size / warm.sum),
      "keys_per_s" -> (if (warm.isEmpty) 0.0 else warm.size / warm.sum),
      "key_ms_p50" -> Main.quantile(warm.map(_ * 1000), 0.5),
      "cold_pass_s" -> (coldS + settleS.sum))
    val layers = Units.layerDefaults ++ Tracer.medians(traced.toSeq) ++ Map(
      "trace.overhead_frac" -> (if (plainMs.isEmpty || tracedMs.isEmpty) 0.0
        else Main.median(tracedMs.toSeq) / Main.median(plainMs.toSeq) - 1))
    Result(attempted, failed, failures.toSeq, e2e, layers,
      Map("drains" -> attempted, "records" -> expect.records, "cold_ms" -> coldS * 1000,
        "malformed" -> expect.malformed, "check_s" -> checkS, "settle_ms" -> settleS.map(_ * 1000),
        "drain_ms" -> warm.map(_ * 1000), "key_ms_p90" -> Main.quantile(warm.map(_ * 1000), 0.9)))
  }

  private def traceMetrics(t: Tracer, phase: String, drainMs: Double,
      events: Seq[StreamingQueryProgress], chk: ReplayCheck.Outcome): Map[String, Double] = {
    val trig = events.map(p => Taps.phaseMs(p, "triggerExecution")).sum.toDouble
    val names = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    val phases = names.map(n => s"replay.trigger.${n}_ms" -> events.map(p => Taps.phaseMs(p, n)).sum.toDouble)
    val exec = t.execMetrics(Seq(phase), drainMs)
    Map("replay.drain_ms" -> drainMs, "replay.lifecycle_ms" -> (drainMs - trig),
      "replay.epochs" -> events.size.toDouble,
      "replay.jobs_per_epoch" -> exec("exec.jobs") / math.max(1, events.size),
      "replay.input_rows" -> events.map(_.numInputRows).sum.toDouble,
      "trace.accounted_frac" -> ((drainMs - trig) + phases.map(_._2).sum) / drainMs) ++
      phases ++ chk.layer ++ exec
  }
}

/** Output checks on one drain's sink, read after the timed step. */
object ReplayCheck {
  final case class Outcome(failures: Seq[String], layer: Map[String, Double])

  private def num(r: org.apache.spark.sql.Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue

  def run(spark: SparkSession, out: String, e: Gen.Expect, deadLettered: Long): Outcome = {
    val f = ArrayBuffer.empty[String]
    // One scan, four groupings: put batches, users, event ids, shards.
    // Event ids stay below 2^21, so long sums of ids and squares are exact.
    val g = spark.sql(s"""
      SELECT g, count(*) AS groups, max(n) AS max_n, sum(n) AS n, sum(s) AS s, sum(q) AS q,
             sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END) AS split
      FROM (SELECT CASE WHEN grouping(put_seq) = 0 THEN 'put' WHEN grouping(user_id) = 0 THEN 'user'
                        WHEN grouping(event_id) = 0 THEN 'id' ELSE 'shard' END AS g,
                   count(*) AS n, sum(event_id) AS s, sum(event_id * event_id) AS q,
                   min(shard) AS lo, max(shard) AS hi
            FROM parquet.`${out.replace("`", "``")}`
            GROUP BY GROUPING SETS ((shard, epoch, put_seq), (user_id), (event_id), (shard)))
      GROUP BY g""").collect().map(r => r.getString(0) -> r).toMap
    def v(set: String, col: String): Long = g.get(set).map(r => num(r, r.fieldIndex(col))).getOrElse(0L)
    val rows = v("put", "n")
    if (rows != e.records) f += s"sink rows $rows != expected ${e.records}"
    if (BigInt(v("put", "s")) != e.idSum || BigInt(v("put", "q")) != e.idSqSum)
      f += "event_id multiset differs from the generated archive"
    if (rows - v("id", "groups") != 0) f += s"${rows - v("id", "groups")} event_ids landed more than once"
    if (deadLettered != e.malformed) f += s"dead-lettered $deadLettered != injected ${e.malformed}"
    if (v("put", "max_n") > 500) f += s"a put batch holds ${v("put", "max_n")} > 500 rows"
    if (v("user", "split") != 0) f += s"${v("user", "split")} user_ids landed in more than one shard"
    val (files, bytes) = Util.dirBytes(Paths.get(out))
    Outcome(f.toSeq, Map(
      "replay.sink_rows" -> rows.toDouble,
      "replay.dead_lettered" -> deadLettered.toDouble,
      "replay.put_batches" -> v("put", "groups").toDouble,
      "replay.max_put_batch_rows" -> v("put", "max_n").toDouble,
      "replay.shard_skew" -> (if (rows == 0) 0.0 else v("shard", "max_n") * v("shard", "groups").toDouble / rows),
      "replay.sink_files" -> files.toDouble, "replay.sink_bytes" -> bytes.toDouble))
  }

  /** Delete a drain's sink and its checkpoint (a `replay-ckpt-*`
    * sibling under the program's scratch root).
    */
  def cleanup(out: String): Unit = {
    val sink = Paths.get(out)
    val s = Files.list(sink.getParent)
    try s.filter(_.getFileName.toString.startsWith("replay-ckpt-")).forEach(p => Util.rmrf(p))
    finally s.close()
    Util.rmrf(sink)
  }
}

/** Seeded inputs, cached by generator parameters and seed, verified by
  * content hash on reuse.
  */
object Cache {
  private val Version = "g2"

  /** `dir` as built by `gen`, reused while its content hash matches the
    * one recorded beside it; `gen`'s lines are recorded with the hash.
    */
  private def cached(dir: Path)(gen: => Seq[String]): Seq[String] = {
    if (Files.exists(meta(dir)) && Files.exists(dir)) {
      val l = Files.readAllLines(meta(dir)).asScala.toSeq
      if (l.head == Util.treeHash(dir)) return l.tail
    }
    Util.rmrf(dir)
    val lines = gen
    Files.writeString(meta(dir), (Util.treeHash(dir) +: lines).mkString("\n"))
    lines
  }

  private def meta(dir: Path): Path = dir.resolveSibling(dir.getFileName.toString + ".meta")

  def gz(data: Path, seed: Long, files: Int, perFile: Int): (Path, Gen.Expect) = {
    val dir = data.resolve(s"$Version-gz-f$files-n$perFile-s$seed")
    prune(data, keep = dir)
    val l = cached(dir) {
      val e = Gen.gzArchive(dir, seed, files, perFile, users = 100000, badShare = 0.005)
      Seq(e.records, e.malformed, e.idSum, e.idSqSum).map(_.toString)
    }
    (dir, Gen.Expect(l(0).toLong, l(1).toLong, BigInt(l(2)), BigInt(l(3))))
  }

  /** Bound the cache: drop what an older generator version left and
    * all but the six newest seeded archives.
    */
  private def prune(data: Path, keep: Path): Unit = {
    val ls = Files.list(data)
    val all = try ls.iterator.asScala.toSeq finally ls.close()
    val (current, stale) = all.partition(_.getFileName.toString.startsWith(s"$Version-"))
    stale.foreach(Util.rmrf)
    current.filter { d =>
      val n = d.getFileName.toString
      d != keep && Files.isDirectory(d) && n.startsWith(s"$Version-gz-") && !n.endsWith("-s0")
    }.sortBy(d => -Files.getLastModifiedTime(d).toMillis).drop(6)
      .foreach { d => Util.rmrf(d); Files.deleteIfExists(meta(d)) }
  }

  def surface(spark: SparkSession, data: Path): Path = {
    val dir = data.resolve(s"$Version-surface")
    cached(dir) { Gen.surface(spark, dir); Nil }
    dir
  }
}

/** One timed key call of `surface_mix`. */
final case class Step(key: String, ms: Double, rows: Long, fp: String,
    layer: Map[String, Double])

/** `surface_mix`: a fixed list of declared keys from `SparkEntry.queries`
  * in three strata, timed as build plus a full-result fingerprint action.
  * A cold pass (cold index store) runs first, then warm passes; the seed
  * sets the order of each pass.
  */
final class SurfaceMix(hashFile: Path, record: Boolean) extends Workload {
  val keys: Seq[String] = Units.surfaceKeys
  val strata: Seq[(String, Seq[String])] = Units.surfaceStrata
  val WarmupKey = "join_inner_hash"
  var dir: String = _

  def prepareFixed(spark: SparkSession, data: Path): Unit =
    dir = Cache.surface(spark, data).toString
  def prepare(spark: SparkSession, data: Path, seed: Long): Unit = ()

  def warmup(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    fingerprint(SparkEntry.queries(WarmupKey)(spark, dir)).collect()
  }

  /** Row count and an order-independent hash of every full result row. */
  def fingerprint(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*)))
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))

  def runKey(spark: SparkSession, key: String, i: Int, tracer: Option[Tracer]): Step = {
    val fn = SparkEntry.queries(key)
    def body(): (Step, DataFrame) = {
      Tracer.tag(spark, s"k$i:build")
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      Tracer.tag(spark, s"k$i:action")
      val fpDf = fingerprint(df)
      val r = fpDf.collect()(0)
      val t2 = System.nanoTime()
      Tracer.tag(spark, null)
      (Step(key, (t2 - t0) / 1e6, r.getLong(0), s"${r.getLong(0)}:${r.getDecimal(1)}",
        Map("surface.build_ms" -> (t1 - t0) / 1e6)), fpDf)
    }
    tracer match {
      case None => body()._1
      case Some(t) =>
        val (st, fpDf) = t.traced(body())
        // physical optimization and planning run lazily inside the
        // action's SQL execution, so they are moved from exec to plan
        val qe = fpDf.queryExecution
        val ph = qe.tracker.phases
        def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        val inExec = phase("optimization") + phase("planning")
        val sqlMs = Option(t.plan.done.get(qe)).map(_.longValue / 1e6 - inExec).getOrElse(0.0)
        st.copy(layer = st.layer ++ Map(
          "surface.build_jobs" -> t.exec.get(s"k$i:build").jobs.toDouble,
          "surface.plan_ms" -> (phase("analysis") + inExec),
          "surface.exec_ms" -> sqlMs) ++
          t.execMetrics(Seq(s"k$i:build", s"k$i:action"), st.ms))
    }
  }

  def measure(spark: SparkSession, seconds: Int, rnd: java.util.Random,
      tracer: Option[Tracer]): Result = {
    val stored: Map[String, String] =
      if (record || !Files.exists(hashFile)) Map.empty else Json.flatStrings(Files.readString(hashFile))
    val failures = ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.Map.empty[String, String]
    var attempted, failed = 0
    def pass(traceThis: Boolean): Seq[Step] = {
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(keys)
      order.flatMap { k =>
        attempted += 1
        val res = try {
          val st = runKey(spark, k, attempted, if (traceThis) tracer else None)
          val want = if (record) seen.getOrElseUpdate(k, st.fp) else stored.getOrElse(k, "<none>")
          if (st.fp != want) { failures += s"$k: result ${st.fp} != stored $want"; None }
          else Some(st)
        } catch { case e: Throwable => failures += s"$k threw: $e"; None }
        if (res.isEmpty) failed += 1
        res
      }
    }
    val staged0 = IndexCache.stagingLog
    val c0 = System.nanoTime()
    val cold = pass(traceThis = false)
    val coldS = Main.secs(c0)
    val staged = IndexCache.stagingLog -- staged0.keys
    val storeHits = IndexCache.storeHits.size
    // a warm store makes the cold pass a warm one: count it as one
    // failed check of that pass
    if (storeHits > 0) {
      failures += s"$storeHits index artifacts came from a warm store"; failed += 1
    }
    val warm = ArrayBuffer.empty[(Seq[Step], Boolean)]
    // warm passes until their key times add up to `seconds` (at least three)
    val deadline = System.nanoTime() + Main.MeasureCapNs
    while ((warm.size < 3 || warm.flatMap(_._1).map(_.ms).sum < seconds * 1000.0) &&
        System.nanoTime() < deadline) {
      val traceThis = tracer.isDefined && warm.size % 2 == 0
      warm += ((pass(traceThis), traceThis))
    }
    val perKey = keys.map(k => k -> Main.median(warm.flatMap(_._1).filter(_.key == k).map(_.ms).toSeq)).toMap
    val rows = keys.map(k => warm.flatMap(_._1).find(_.key == k).map(_.rows).getOrElse(0L)).sum
    val medians = perKey.values.toSeq
    val totalS = medians.sum / 1000
    val e2e = Map(
      "records_per_s" -> rows / totalS,
      "keys_per_s" -> keys.size / totalS,
      "key_ms_p50" -> Main.quantile(medians, 0.5),
      "cold_pass_s" -> coldS)
    val tracedSteps = warm.filter(_._2).flatMap(_._1).toSeq
    val plainSteps = warm.filterNot(_._2).flatMap(_._1).toSeq
    def keyTotal(ss: Seq[Step]) = keys.map(k => Main.median(ss.filter(_.key == k).map(_.ms))).sum
    val layers = if (tracer.isEmpty) Map.empty[String, Double] else {
      val byKey = tracedSteps.groupBy(_.key)
      val sumAll = (f: Step => Double) => tracedSteps.map(f).sum
      Units.layerDefaults ++ Tracer.medians(tracedSteps.map(_.layer)) ++
        keys.map(k => s"surface.key.${k}_ms" -> Main.median(byKey.getOrElse(k, Nil).map(_.ms))).toMap ++
        strata.map { case (n, ks) =>
          s"surface.$n.key_ms_p50" -> Main.median(ks.map(k => Main.median(byKey.getOrElse(k, Nil).map(_.ms))))
        }.toMap ++ Map(
        "trace.accounted_frac" -> sumAll(s => s.layer("surface.build_ms") + s.layer("surface.plan_ms") +
          s.layer("surface.exec_ms")) / sumAll(_.ms),
        "trace.overhead_frac" -> (if (plainSteps.isEmpty) 0.0 else keyTotal(tracedSteps) / keyTotal(plainSteps) - 1),
        "core.index_builds" -> staged.size.toDouble,
        "core.index_build_s" -> staged.values.sum,
        "core.index_store_hits" -> storeHits.toDouble)
    }
    if (record) Files.writeString(hashFile, Json.obj(seen.toMap) + "\n")
    Result(attempted, failed, failures.toSeq, e2e, layers,
      Map("passes" -> (1 + warm.size), "index_builds" -> staged.size,
        "index_build_s" -> staged.values.sum, "key_ms_p90" -> Main.quantile(medians, 0.9),
        "cold_ms" -> cold.map(st => st.key -> st.ms).toMap, "warm_ms" -> perKey,
        "pass_ms" -> warm.map(_._1.map(_.ms).sum)))
  }
}
