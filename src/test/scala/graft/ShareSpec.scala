package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import graft.core.{Profile, Share, SharedStrategy}

/** [[Share]]: a relation read by several branches of one query is one
  * lazy plan node — no job at build time, one evaluation per query
  * through exchange reuse, the same rows as the unshared relation, and
  * no dependence on how the session was built.
  */
class ShareSpec extends SparkSpec {

  /** A (lang, w) word-count ledger over the documents, and a query that
    * reads it twice: a per-lang vocabulary size joined back onto the
    * ledger on a USING key (the self-join shape of the bigram keys).
    * The rollup reads no count, so column pruning plans the two readers
    * of an unshared ledger differently.
    */
  private def ledger(s: SparkSession): DataFrame =
    s.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))

  private def query(led: DataFrame): DataFrame = {
    val ctx = led.groupBy("lang").agg(count(lit(1)).as("v"))
    led.join(ctx, Seq("lang")).select("lang", "w", "c", "v")
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("a self-join through Share analyses, and building it fires no job") {
    val led = ledger(spark)
    val p = Profile(spark)
    try {
      val (buildMs, actionMs) = p.run("share") {
        val df = query(Share(led))
        df.queryExecution.assertAnalyzed()
        df.queryExecution.executedPlan
        df
      }
      p.drain()
      assert(p.of("share", buildMs, actionMs).buildJobs === 0)
    } finally p.close()
  }

  test("the shared ledger's scan stage runs once, its other reader a ReusedExchange") {
    // stages that read the parquet input, counted by a listener on the
    // same bus Profile drains
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.inputMetrics.recordsRead > 0) scans.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val p = Profile(spark)
    def scanStages(df: DataFrame): Int = {
      p.drain(); scans.set(0)
      df.collect()
      p.drain(); scans.get
    }
    try {
      val shared = query(Share(ledger(spark)))
      assert(scanStages(shared) === 1)
      assert(nodes(shared.queryExecution.executedPlan)
        .exists(_.isInstanceOf[ReusedExchangeExec]),
        shared.queryExecution.executedPlan.toString)
      // the unshared query prunes its two readers differently, so each
      // scans the corpus
      assert(scanStages(query(ledger(spark))) === 2)
    } finally {
      p.close()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("rows through Share equal the unshared relation's") {
    val led = ledger(spark)
    val want = sorted(query(led))
    assert(want.nonEmpty)
    assert(sorted(query(Share(led))) === want)
    assert(sorted(Share(led)) === sorted(led))
  }

  test("Share works on a plain session built without GraftExtensions") {
    // a new session over the running SparkContext, built by a bare
    // builder: no GraftExtensions, no engine confs
    val plain = org.apache.spark.sql.classic.SparkSession.builder().create()
    try {
      assert(!plain.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("dot_f")), "no engine extensions")
      assert(!plain.experimental.extraStrategies.contains(SharedStrategy))
      val df = query(Share(ledger(plain)))
      assert(plain.experimental.extraStrategies.contains(SharedStrategy))
      assert(sorted(df) === sorted(query(ledger(spark))))
    } finally {
      // never stop `plain`: it shares the suite's SparkContext
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
