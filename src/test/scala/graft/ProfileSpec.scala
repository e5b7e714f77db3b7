package graft

import graft.core.{KeyProfile, Profile}

/** The layer profile Bench and Explain record: build jobs, action jobs,
  * and the streaming split, read through [[Profile]] on the test corpus.
  */
class ProfileSpec extends SparkSpec {

  /** Each key once under its own tags; profiles read after one drain. */
  private lazy val profiles: Map[String, (KeyProfile, Double)] = {
    // the first read of a table in the JVM infers its parquet schema
    // with one job; Tables memoizes the relation, as in a Bench run
    run("agg_pricing_summary")
    val p = Profile(spark)
    try {
      val keys = Seq("agg_pricing_summary", "graph_local_clustering", "replay_filtered")
      val runs = keys.map(k => k -> p.run(k)(run(k)))
      p.drain()
      runs.map { case (k, (b, a)) => k -> (p.of(k, b, a), b + a) }.toMap
    } finally p.close()
  }

  test("a lazy key fires no job while its DataFrame is built") {
    val (lazyKey, _) = profiles("agg_pricing_summary")
    assert(lazyKey.buildJobs === 0L)
    assert(lazyKey.jobs > 0L, "the action's jobs are counted")
    assert(lazyKey.planMs >= 0L && lazyKey.lifecycles === 0L)
  }

  test("an eager checkpoint counts under build, the action's jobs under exec") {
    val (lcc, _) = profiles("graph_local_clustering")
    assert(lcc.buildJobs > 0L, "the degree ledger and oriented edges are cut in the build")
    assert(lcc.jobs > lcc.buildJobs, "the count's jobs must land under the exec tag")
    assert(lcc.tasks >= lcc.stages && lcc.stages >= lcc.jobs - lcc.buildJobs)
  }

  test("a two-query streaming key reports both lifecycles and its trigger split") {
    val (rf, wallMs) = profiles("replay_filtered")
    assert(rf.lifecycles === 2L)
    val trigger = rf.triggerMs.getOrElse("triggerExecution", 0L)
    assert(trigger > 0L, rf.triggerMs)
    assert(rf.triggerMs.contains("addBatch"))
    // lifecycle_ms = wall − Σ triggerExecution is never negative
    assert(trigger <= wallMs, s"Σ triggerExecution $trigger ms exceeds the key's wall $wallMs ms")
  }

  test("each key's profile carries its compile time, within the key's wall time") {
    profiles.foreach { case (k, (p, wallMs)) =>
      assert(p.json.contains("\"compile_ms\":"), k)
      assert(p.compileMs >= 0.0 && p.compileMs <= wallMs,
        s"$k: compile ${p.compileMs} ms exceeds the key's wall $wallMs ms")
    }
  }
}
