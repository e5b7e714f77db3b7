package replaybench

/** Metric names and units. The lists here and BENCHMARK.json's
  * `end_to_end` and `per_layer` lists must agree; run.py checks it.
  */
object Units {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s", "keys_per_s" -> "1/s", "key_ms_p50" -> "ms", "cold_pass_s" -> "s",
    "heap_live_mb" -> "MB")

  /** `surface_mix` keys by stratum: job-latency-bound, heavier compute
    * and shuffle, `IndexCache` artifact consumers.
    */
  val surfaceStrata: Seq[(String, Seq[String])] = Seq(
    "small" -> Seq("set_intersect", "agg_pricing_summary", "eval_regression_metrics"),
    "heavy" -> Seq("join_skew_aqe", "stat_bootstrap_ci"),
    "artifact" -> Seq("dedup_ngram_jaccard", "text_bigram_kneser_ney"))
  val surfaceKeys: Seq[String] = surfaceStrata.flatMap(_._2)

  val perLayer: Seq[(String, String)] = Seq(
    "replay.drain_ms" -> "ms", "replay.lifecycle_ms" -> "ms", "replay.epochs" -> "count",
    "replay.jobs_per_epoch" -> "count") ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .map(n => s"replay.trigger.${n}_ms" -> "ms") ++ Seq(
    "replay.input_rows" -> "count", "replay.sink_rows" -> "count", "replay.dead_lettered" -> "count",
"replay.put_batches" -> "count",
    "replay.max_put_batch_rows" -> "count", "replay.shard_skew" -> "ratio",
    "replay.sink_files" -> "count", "replay.sink_bytes" -> "B",
    "surface.build_ms" -> "ms", "surface.build_jobs" -> "count", "surface.plan_ms" -> "ms",
    "surface.exec_ms" -> "ms") ++
    surfaceStrata.map { case (n, _) => s"surface.$n.key_ms_p50" -> "ms" } ++
    surfaceKeys.map(k => s"surface.key.${k}_ms" -> "ms") ++ Seq(
    "core.index_builds" -> "count", "core.index_build_s" -> "s", "core.index_store_hits" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.executor_run_ms" -> "ms", "exec.executor_cpu_ms" -> "ms", "exec.jvm_gc_ms" -> "ms",
    "exec.input_bytes" -> "B", "exec.output_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B", "exec.busy_ratio" -> "ratio",
    "trace.overhead_frac" -> "ratio", "trace.accounted_frac" -> "ratio")

  private val all = (endToEnd ++ perLayer).toMap
  def of(name: String): String = all.getOrElse(name, "count")

  /** A layer the workload does not load reports 0. */
  val layerDefaults: Map[String, Double] = perLayer.map(_._1 -> 0.0).toMap
}

/** Minimal JSON writer (and a flat string-map reader for the stored
  * result hashes).
  */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def flatStrings(s: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
}
