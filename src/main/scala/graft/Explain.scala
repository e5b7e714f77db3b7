package graft
import org.apache.spark.sql.SparkSession

/** Plan-inspection utility: prints the formatted physical plan of one
  * named query from SparkEntry. Usage:
  *   runMain graft.Explain <queryKey> [sfDir] [profile]
  * With `profile` it runs the key cold, then warm (the warm run is what
  * Bench, which warms the session first, sees), and prints each run's
  * layer profile ([[graft.core.KeyProfile]], generated-code
  * `compile_ms` included) as one JSON line. The plan printed is then
  * the warm run's DataFrame, executed once more so AQE finalises it
  * (reused exchanges show); the key is built twice, not three times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = args.drop(1).find(_ != "profile").getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.config(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(key)
    val profile = Option.when(args.contains("profile"))(graft.core.Profile(spark))
    var last: Option[org.apache.spark.sql.DataFrame] = None
    val runs = profile.toSeq.flatMap(p => Seq("cold", "warm").map(run =>
      run -> p.run(run) { val df = fn(spark, sfDir); last = Some(df); df }))
    last.foreach(_.collect())
    last.getOrElse(fn(spark, sfDir)).explain("formatted")
    profile.foreach { p =>
      p.drain()
      runs.foreach { case (run, (buildMs, actionMs)) =>
        println(s"""{"key":${graft.core.Json.str(key)},"run":"$run","profile":""" +
          p.of(run, buildMs, actionMs).json + "}")
      }
    }
    spark.stop()
  }
}
