package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.core.{IndexCache, TmpDirs}

/** Laws for the per-JVM build-once memo: a second call with the same key
  * is a hit — no rebuild, the same path and rows, one ledger entry — and
  * a build may stage a nested artifact. Keys carry a fresh UUID so no
  * other suite in the JVM can have built them first.
  */
class IndexCacheSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(label: String) = s"$label|${java.util.UUID.randomUUID()}"

  private def newEntries(before: Map[String, Double]) =
    IndexCache.stagingLog -- before.keys

  test("dir builds once per key: a hit returns the same path and ledgers nothing new") {
    val key = fresh("memo-dir")
    val builds = new AtomicInteger()
    def build(): String = { builds.incrementAndGet(); TmpDirs.dir("memo-dir") }
    val before = IndexCache.stagingLog
    val first = IndexCache.dir(key)(build())
    val ledgered = newEntries(before)
    val second = IndexCache.dir(key)(build())
    assert(builds.get === 1)
    assert(second === first)
    assert(ledgered.keySet === Set(key))
    assert(newEntries(before) === ledgered, "a hit must not re-ledger the build")
  }

  test("apply builds once per key: a hit reads the same rows and ledgers nothing new") {
    val key = fresh("memo-df")
    val builds = new AtomicInteger()
    def build() = { builds.incrementAndGet(); (1 to 5).toDF("x") }
    val before = IndexCache.stagingLog
    val first = IndexCache(spark, key, build()).as[Int].collect().sorted
    val ledgered = newEntries(before)
    val second = IndexCache(spark, key, build()).as[Int].collect().sorted
    assert(builds.get === 1)
    assert(first.toSeq === (1 to 5))
    assert(second.toSeq === first.toSeq)
    assert(ledgered.keySet === Set(key))
    assert(newEntries(before) === ledgered, "a hit must not re-ledger the build")
  }

  test("a build that stages a nested key completes, and both keys are memoized") {
    val (outer, inner) = (fresh("memo-outer"), fresh("memo-inner"))
    val innerBuilds = new AtomicInteger()
    def nested() = IndexCache(spark, inner, {
      innerBuilds.incrementAndGet(); (1 to 3).toDF("x")
    })
    val before = IndexCache.stagingLog
    val rows = IndexCache(spark, outer, nested().selectExpr("x * 10 AS x"))
      .as[Int].collect().sorted
    assert(rows.toSeq === Seq(10, 20, 30))
    assert(newEntries(before).keySet === Set(outer, inner))
    assert(nested().as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    assert(innerBuilds.get === 1)
  }
}
