package graft.core

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One profiling tap: a SparkListener (jobs, stages, tasks, executor
  * time, shuffle and spill bytes), a QueryExecutionListener (analysis,
  * optimization and planning ms from `qe.tracker.phases`) and a
  * StreamingQueryListener (query lifecycles and Σ `durationMs` per
  * trigger phase), accumulated per tagged phase.
  *
  * The caller tags a phase with [[run]], which sets a job local
  * property; streaming query threads inherit it from the thread that
  * starts them. A finished SQL execution is charged to the phase whose
  * tag was current when its last planning phase started (the caller
  * is single-threaded). Read totals with [[of]] after one [[drain]].
  * Bench and Explain install it; the engine's own entry points never do.
  */
final class Profile private (s: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Profile._
  private final class Acc {
    var jobs, stages, tasks, runMs, shuffleRead, shuffleWrite, spill, planMs, lifecycles = 0L
    val triggerMs = scala.collection.mutable.Map.empty[String, Long]
  }
  private val acc = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val runTag = new ConcurrentHashMap[java.util.UUID, String]()
  private val compileNs = new ConcurrentHashMap[String, Long]()
  /** (epoch ms, tag) in the order the caller set them. */
  @volatile private var windows = Vector.empty[(Long, String)]
  @volatile private var marker = (-1, new CountDownLatch(1))
  private val started, terminated = new java.util.concurrent.atomic.AtomicLong

  private def bucket(tag: String): Acc = acc.computeIfAbsent(tag, _ => new Acc)
  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tag))).getOrElse(Untagged)

  private def phase(tag: String): Unit = {
    s.sparkContext.setLocalProperty(Tag, tag)
    windows :+= (System.currentTimeMillis() -> Option(tag).getOrElse(Untagged))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = tagOf(e.properties)
    if (t == Drain) marker = (e.jobId, marker._2)
    e.stageIds.foreach(stageTag.put(_, t))
    val a = bucket(t); a.synchronized { a.jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == marker._1) marker._2.countDown()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val a = bucket(tagOf(e.properties)); a.synchronized { a.stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = bucket(Option(stageTag.get(e.stageId)).getOrElse(Untagged))
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val at = ph.values.map(_.startTimeMs).max
      val t = windows.takeWhile(_._1 <= at).lastOption.fold(Untagged)(_._2)
      val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      val a = bucket(t); a.synchronized { a.planMs += ms }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streams = new StreamingQueryListener {
    // delivered synchronously on the query's own thread, which
    // inherited the starting thread's tag
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val t = Option(s.sparkContext.getLocalProperty(Tag)).getOrElse(Untagged)
      runTag.put(e.runId, t)
      started.incrementAndGet()
      val a = bucket(t); a.synchronized { a.lifecycles += 1 }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val a = bucket(Option(runTag.get(e.progress.runId)).getOrElse(Untagged))
      a.synchronized {
        e.progress.durationMs.forEach((k, v) =>
          a.triggerMs(k) = a.triggerMs.getOrElse(k, 0L) + v.longValue)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      terminated.incrementAndGet(); ()
    }
  }

  /** Build a DataFrame under `<name>:build`, then count it under
    * `<name>:exec`. Returns the build and action wall ms. The Janino
    * compile time spent meanwhile is recorded for [[of]]; it is a
    * JVM-wide counter, so it charges any compile of a concurrent caller
    * here too.
    */
  def run(name: String)(build: => DataFrame): (Double, Double) = {
    val c0 = CodeGenerator.compileTime
    try {
      phase(s"$name:build")
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      phase(s"$name:exec")
      df.count()
      ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    } finally {
      phase(null)
      compileNs.put(name, CodeGenerator.compileTime - c0)
    }
  }

  /** Wait until every event posted so far has been delivered: one
    * marker job drains the shared listener queue, and each started
    * streaming query's termination event (posted after its progress
    * events) drains the streams queue.
    */
  def drain(): Unit = {
    marker = (-1, new CountDownLatch(1))
    phase(Drain)
    try s.sparkContext.parallelize(Seq(1), 1).count() finally phase(null)
    marker._2.await(30, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 30000000000L
    while (terminated.get < started.get && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** The profile of one [[run]], from its build and action tags. */
  def of(name: String, buildMs: Double, actionMs: Double): KeyProfile = {
    val b = bucket(s"$name:build")
    val e = bucket(s"$name:exec")
    def both(f: Acc => Long) = f(b) + f(e)
    KeyProfile(buildMs, b.jobs, e.planMs, actionMs - e.planMs,
      compileNs.getOrDefault(name, 0L) / 1e6, both(_.jobs),
      both(_.stages), both(_.tasks), both(_.runMs), both(_.shuffleRead),
      both(_.shuffleWrite), both(_.spill), both(_.lifecycles),
      (b.triggerMs.toSeq ++ e.triggerMs.toSeq).groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** Remove the tap from the session. */
  def close(): Unit = {
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
    s.streams.removeListener(streams)
  }
}

/** One key's layer profile. `jobs` … `spill_bytes` cover build and
  * action together; `build_jobs` is the build's share. `plan_ms` is the
  * action's analysis, optimization and planning; `exec_ms` is the rest
  * of the action's wall time. `compile_ms` is the generated-code compile
  * time across build and action, wherever it ran (driver or task
  * threads); it overlaps the other layers rather than adding to them.
  */
final case class KeyProfile(buildMs: Double, buildJobs: Long, planMs: Long,
    execMs: Double, compileMs: Double, jobs: Long, stages: Long, tasks: Long,
    executorRunMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, lifecycles: Long, triggerMs: Map[String, Long]) {
  private def r(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
  def json: String =
    s"""{"build_ms":${r(buildMs)},"build_jobs":$buildJobs,"plan_ms":$planMs,""" +
      s""""exec_ms":${r(execMs)},"compile_ms":${r(compileMs)},""" +
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""executor_run_ms":$executorRunMs,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes""" +
      (if (lifecycles == 0) "}"
      else s""","lifecycles":$lifecycles,"trigger_phase_ms":""" + triggerMs.toSeq.sorted
        .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}}"))
}

object Profile {
  private val Tag = "graft.profile.phase"
  private val Untagged = "untagged"
  private val Drain = "profile.drain"

  /** Register a new tap on every bus of `s`. */
  def apply(s: SparkSession): Profile = {
    val p = new Profile(s)
    s.sparkContext.addSparkListener(p)
    s.listenerManager.register(p)
    s.streams.addListener(p.streams)
    p
  }
}
