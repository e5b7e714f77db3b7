package replaybench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor counters per tagged phase. The caller tags
  * its thread with [[Taps.Tag]]; jobs carry the tag in their properties
  * (streaming threads inherit it from the thread that starts them), and
  * stages and tasks are attributed through their job.
  */
final class ExecTap extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, runMs, cpuMs, gcMs, inB, outB, shrB, shwB, spillB = 0L
  }
  private val acc = new ConcurrentHashMap[String, Acc]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobPhase = new ConcurrentHashMap[Int, String]()
  @volatile private var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))

  private def of(phase: String): Acc = acc.computeIfAbsent(phase, _ => new Acc)
  private def tag(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Taps.Tag))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val ph = tag(e.properties)
    e.stageIds.foreach(stagePhase.put(_, ph))
    jobPhase.put(e.jobId, ph)
    val a = of(ph); a.synchronized { a.jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobPhase.remove(e.jobId) == marker._1) marker._2.countDown()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val a = of(tag(e.properties)); a.synchronized { a.stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = of(Option(stagePhase.get(e.stageId)).getOrElse("untagged"))
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuMs += m.executorCpuTime / 1000000L
        a.gcMs += m.jvmGCTime; a.inB += m.inputMetrics.bytesRead
        a.outB += m.outputMetrics.bytesWritten
        a.shrB += m.shuffleReadMetrics.totalBytesRead
        a.shwB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def get(phase: String): Acc = Option(acc.get(phase)).getOrElse(new Acc)

  /** Block until every event posted before this call is delivered: run
    * a tagged job and wait for its end event (the shared listener queue
    * is FIFO).
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val name = s"marker-${System.nanoTime()}"
    marker = (name, new CountDownLatch(1))
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Taps.Tag)
    sc.setLocalProperty(Taps.Tag, name)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Taps.Tag, prev)
    marker._2.await(30, TimeUnit.SECONDS)
  }
}

/** Progress events of every streaming query, in arrival order. The
  * replay reads its dead-letter count and trigger phases from them.
  */
final class ProgressTap extends StreamingQueryListener {
  import StreamingQueryListener._
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  /** The events received since the last call. */
  def take(): Seq[StreamingQueryProgress] =
    Iterator.continually(events.poll()).takeWhile(_ != null).toList
}

/** Planning phases and execution time of each finished SQL action. */
final class PlanTap extends QueryExecutionListener {
  val done = new ConcurrentHashMap[QueryExecution, java.lang.Long]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.put(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Taps {
  val Tag = "replaybench.phase"

  def phaseMs(p: StreamingQueryProgress, name: String): Long =
    Option(p.durationMs.get(name)).map(_.longValue).getOrElse(0L)
}
