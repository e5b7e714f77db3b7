package graft

import org.apache.spark.sql.functions._
import graft.functions.GramAggregate

/** Laws for the native gram_sum aggregate (r16: replaces the
  * double-posexplode spelling inside embedding_gram /
  * embedding_pca_top1). Every law compares gram_sum against the OLD
  * exploded SQL spelling run on the same input — the equivalence the
  * rewrite rests on — including the edge shapes the fixture corpus
  * never produces: ragged dimensions, null elements, null arrays, and
  * per-cell sums that overflow a long.
  */
class GramAggregateSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-r16 spelling: double posexplode + SUM(DECIMAL(38,0)),
    * upper triangle, digits rendering. */
  private def exploded(df: org.apache.spark.sql.DataFrame) =
    df.select($"q", posexplode($"q").as(Seq("i0", "qi")))
      .select($"i0", $"qi", posexplode($"q").as(Seq("j0", "qj")))
      .filter($"j0" >= $"i0")
      .groupBy($"i0", $"j0")
      .agg(sum(($"qi" * $"qj")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("gd"))
      .select($"i0".cast("long").as("i0"), $"j0".cast("long").as("j0"),
        $"gd".cast("string").as("g"))

  private def viaGram(df: org.apache.spark.sql.DataFrame) =
    df.agg(GramAggregate.gramSum(spark, $"q").as("cells"))
      .select(explode($"cells").as("c"))
      .select($"c.i".cast("long").as("i0"), $"c.j".cast("long").as("j0"),
        $"c.g".as("g"))

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> Option(r.getString(2))).toMap

  test("gram_sum matches the exploded spelling on ragged arrays with null elements") {
    val rows: Seq[Seq[java.lang.Long]] = Seq(
      Seq[java.lang.Long](3L, -2L, 5L),
      Seq[java.lang.Long](1L, null, 4L, 7L),   // ragged + null element
      Seq[java.lang.Long](2L),                 // shorter than the rest
      null,                                    // null array contributes nothing
      Seq[java.lang.Long]())                   // empty array contributes nothing
    val df = rows.toDF("q")
    assert(asMap(viaGram(df)) === asMap(exploded(df)))
    // the ragged row is the only one covering position 3: cells (0,3),
    // (1,3), (2,3), (3,3) exist; (1,3) pairs the null element with a
    // non-null one — null sum, key present
    val m = asMap(viaGram(df))
    assert(m.contains((1L, 3L)) && m((1L, 3L)).isEmpty,
      "a touched cell whose every product is null must yield a NULL sum")
    assert(m((0L, 3L)) === Some((1L * 7L).toString))
  }

  test("gram_sum sums exceeding Long.MaxValue stay exact (decimal-sum mirror)") {
    // 4,000 rows of q = [3e9]: per-cell products 9e18 ≈ Long.Max, so
    // the pending-long lane must flush to BigInteger repeatedly; the
    // exact total 3.6e22 does not fit a long
    val df = Seq.fill(4000)(Seq(3000000000L)).toDF("q")
    val got = asMap(viaGram(df))
    val want = BigInt(3000000000L) * BigInt(3000000000L) * 4000
    assert(got === Map((0L, 0L) -> Some(want.toString)))
    assert(asMap(exploded(df)) === got)
  }

  test("gram_sum is partition-order independent (partial/merge path)") {
    val base = (1 to 997).map(k =>
      Seq(k.toLong, (k % 7).toLong - 3L, (k % 11).toLong))
    val one = viaGram(base.toDF("q").coalesce(1))
    val many = viaGram(base.toDF("q").repartition(13))
    assert(asMap(one) === asMap(many))
    assert(asMap(many) === asMap(exploded(base.toDF("q"))))
  }

  test("gram_sum over array<string> fails at analysis, before any job runs") {
    GramAggregate.register(spark)
    Seq(Seq("a", "b")).toDF("q").createOrReplaceTempView("gram_misuse")
    // spark.sql only analyzes: the throw comes before any action exists
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT gram_sum(q) FROM gram_misuse"))
    assert(e.getMessage.contains("gram_sum"), e.getMessage)
  }
}
