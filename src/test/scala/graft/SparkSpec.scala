package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate keeps total test time bounded), plus helpers to stage
  * adversarial synthetic tables in a temp dir shaped like a driver
  * sf-dir, so tests exercise the REAL `SparkEntry.queries` functions on
  * crafted edge-case input.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.Sessions
    .config(SparkSession.builder().master("local[4]"), "4")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** Write the given tables as `<dir>/<name>.parquet` in a fresh
    * [[SparkSpec.stageDir]] and return the dir. */
  def stageTables(tables: (String, DataFrame)*): String = {
    val dir = SparkSpec.stageDir()
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  def run(key: String, dir: String = sf): DataFrame =
    SparkEntry.queries(key)(spark, dir)
}

object SparkSpec {
  /** One per-JVM root for every staged test corpus, deleted at JVM exit.
    * Its name puts `graft-test-` in every staged path, which is what
    * marks a dir as mutable for `Tables`' relation memo.
    */
  private lazy val stageRoot: java.nio.file.Path = {
    val p = Files.createTempDirectory("graft-test-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))
    p
  }

  /** A fresh empty dir under the per-JVM staging root. */
  def stageDir(): String = Files.createTempDirectory(stageRoot, "sf").toString
}
