package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Json
import graft.streaming.{Replay, ReplayReport}

/** The standalone replay CLI — the reference's own shape (a command
  * with bucket/prefix, time-range, stream, and rate flags) mapped onto
  * the engine's A1→A9 replay chain. The reference drains an object-
  * store archive into a Kinesis stream; this main drains a file-lake
  * archive into the sharded, batch-capped, epoch-idempotent sink the
  * engine models Kinesis with ([[Replay.replayArchive]] /
  * [[Replay.replayNdjsonGz]]), then prints the run's [[ReplayReport]]
  * as one JSON line ([[json]]) — the A9 progress surface as a
  * script-consumable record.
  *
  * Flags (reference surface → here):
  *   --source PATH        archive to replay: a parquet file/dir, or an
  *                        NDJSON-gzip dir with --format ndjson-gz
  *                        (bucket+prefix → lake path)
  *   --sink DIR           sink directory (default: managed scratch)
  *   --shards N           stream shard count (default 4)
  *   --from TS, --to TS   event-time range, inclusive/exclusive — epoch
  *                        millis or ISO-8601 date/datetime, UTC
  *   --filter EXPR        SQL predicate applied in-stream (A4)
  *   --transform-regex P, --transform-repl R, --transform-col C
  *                        per-message rewrite applied in-stream AFTER
  *                        the filter (A5): column C (default `props`,
  *                        the payload field) gets regexp_replace(C, P,
  *                        R) — the same machinery the declared
  *                        `transform_rewrite` key verifies
  *   --records-per-sec N  PutRecords drain cap per shard per second
  *   --max-files-per-trigger N, --max-bytes-per-trigger N
  *                        intake throttles (epoch granularity)
  *   --retry-injection    simulate per-record first-attempt put
  *                        failures (retried within the batch)
  *
  * With --format ndjson-gz only --sink and --shards apply; the other
  * flags are refused.
  *
  * The time-range flags filter on the same derived `ms` every verified
  * query uses, so a CLI replay of [from, to) equals the
  * `replay_time_range` key's scoped run by construction.
  */
object ReplayCli {
  final case class Config(
      source: String = "",
      sink: Option[String] = None,
      shards: Int = 4,
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None,
      filter: Option[String] = None,
      recordsPerSec: Int = 0,
      maxFilesPerTrigger: Int = 0,
      maxBytesPerTrigger: Long = 0L,
      format: String = "parquet",
      retryInjection: Boolean = false,
      transformRegex: Option[String] = None,
      transformRepl: Option[String] = None,
      transformCol: String = "props")

  /** Epoch millis from a flag value: raw millis, an ISO date, or an
    * ISO date-time — always read as UTC (the archive contract).
    */
  private[graft] def parseTs(v: String): Long =
    v.toLongOption.getOrElse {
      val ldt =
        if (v.contains("T"))
          java.time.LocalDateTime.parse(v)
        else java.time.LocalDate.parse(v).atStartOfDay()
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  private[graft] def parseArgs(args: Seq[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "--source" :: v :: t => loop(t, c.copy(source = v))
      case "--sink" :: v :: t => loop(t, c.copy(sink = Some(v)))
      case "--shards" :: v :: t => loop(t, c.copy(shards = v.toInt))
      case "--from" :: v :: t => loop(t, c.copy(fromMs = Some(parseTs(v))))
      case "--to" :: v :: t => loop(t, c.copy(toMs = Some(parseTs(v))))
      case "--filter" :: v :: t => loop(t, c.copy(filter = Some(v)))
      case "--transform-regex" :: v :: t =>
        loop(t, c.copy(transformRegex = Some(v)))
      case "--transform-repl" :: v :: t =>
        loop(t, c.copy(transformRepl = Some(v)))
      case "--transform-col" :: v :: t => loop(t, c.copy(transformCol = v))
      case "--records-per-sec" :: v :: t => loop(t, c.copy(recordsPerSec = v.toInt))
      case "--max-files-per-trigger" :: v :: t =>
        loop(t, c.copy(maxFilesPerTrigger = v.toInt))
      case "--max-bytes-per-trigger" :: v :: t =>
        loop(t, c.copy(maxBytesPerTrigger = v.toLong))
      case "--format" :: v :: t => loop(t, c.copy(format = v))
      case "--retry-injection" :: t => loop(t, c.copy(retryInjection = true))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown flag: $other")
    }
    val c = loop(args.toList, Config())
    require(c.source.nonEmpty, "--source is required")
    require(c.format == "parquet" || c.format == "ndjson-gz",
      s"--format must be parquet or ndjson-gz, got '${c.format}'")
    require(c.transformRegex.isDefined == c.transformRepl.isDefined,
      "--transform-regex and --transform-repl go together")
    c
  }

  /** The A4/A5 stage assembled from the time-range, predicate, and
    * transform flags — applied IN-STREAM, where Catalyst still pushes
    * eligible conjuncts toward the source scan. Order mirrors the
    * reference pipeline: filter first (fewer rows rewritten), then the
    * per-message transform.
    */
  private def stageOf(c: Config): DataFrame => DataFrame = { df =>
    val timed = (c.fromMs, c.toMs) match {
      case (Some(a), Some(b)) => df.filter(col("ms") >= a && col("ms") < b)
      case (Some(a), None) => df.filter(col("ms") >= a)
      case (None, Some(b)) => df.filter(col("ms") < b)
      case _ => df
    }
    val filtered = c.filter.fold(timed)(p => timed.filter(expr(p)))
    (c.transformRegex, c.transformRepl) match {
      case (Some(p), Some(r)) => filtered.withColumn(
        c.transformCol, regexp_replace(col(c.transformCol), p, r))
      case _ => filtered
    }
  }

  /** Run one replay per the parsed flags; returns its report. The
    * testable core — `main` adds only session construction and the
    * printed summary.
    */
  private[graft] def run(s: SparkSession, c: Config): ReplayReport = {
    val resume = c.sink.map(dir =>
      (dir, graft.core.TmpDirs.stable(
        "cli-ckpt-" + java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12))))
    val fail = if (c.retryInjection) Replay.putFailureSet else null
    c.format match {
      case "ndjson-gz" =>
        // the NDJSON front door parses its fixed record schema; range,
        // predicate, transform and throttle flags are not wired for it
        // (the reference prefixes-then-streams raw objects the same way)
        require(c.fromMs.isEmpty && c.toMs.isEmpty && c.filter.isEmpty &&
          c.transformRegex.isEmpty && c.recordsPerSec == 0 &&
          c.maxFilesPerTrigger == 0 && c.maxBytesPerTrigger == 0 && !c.retryInjection,
          "--from/--to/--filter/--transform-*/--records-per-sec/" +
            "--max-files-per-trigger/--max-bytes-per-trigger/--retry-injection " +
            "require --format parquet")
        Replay.replayNdjsonGz(s, c.source, c.shards, resume)
      case _ =>
        Replay.replayArchive(s, c.source, c.shards,
          maxFilesPerTrigger = c.maxFilesPerTrigger,
          stage = stageOf(c),
          resumeDirs = resume,
          maxBytesPerTrigger = c.maxBytesPerTrigger,
          putRecordsPerShardSec = c.recordsPerSec,
          failFirstAttempt = fail)
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args.toIndexedSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.config(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(json(run(spark, c)))
    spark.stop()
  }

  /** The printed summary: every report field, `null` where one does
    * not apply. `batches` counts the micro-batches that carried rows;
    * `batch_rows` lists [batchId, rows] for every one.
    */
  private[graft] def json(r: ReplayReport): String = {
    def opt(v: Option[Long]) = v.fold("null")(_.toString)
    val batchRows = r.batches.map { case (b, n) => s"[$b,$n]" }.mkString("[", ",", "]")
    val phases = r.phaseMs.toSeq.sorted
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"rows":${r.rows},"batches":${r.batches.count(_._2 > 0)},""" +
      s""""batch_rows":$batchRows,"pacing_ms":${r.pacingMs},"sink_ms":${r.sinkMs},""" +
      s""""retried_records":${opt(r.retried)},"dead_lettered":${opt(r.deadLettered)},""" +
      s""""phase_ms":$phases,"sink":${Json.str(r.sink)}}"""
  }
}
