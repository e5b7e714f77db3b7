package replaybench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The replay archives are written by this
  * benchmark's own writers (not the program's stagers), so a change to
  * the program cannot change the inputs it is measured on. Every
  * generator is a pure function of its parameters and seed; outputs are
  * cached under a directory named by those parameters and verified by
  * a content hash on reuse.
  */
object Gen {
  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  val BaseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z

  /** What the replay checks need to know about an archive. */
  final case class Expect(
      records: Long,       // clean records that must land in the sink
      malformed: Long,     // malformed lines that must be dead-lettered
      idSum: BigInt,       // sum of landed event_id
      idSqSum: BigInt)     // sum of landed event_id squared

  final case class Event(id: Long, user: Long, etype: String, value: Double,
      ms: Long, props: String)

  /** One event of the replay corpus: `user_id` skewed toward low ids
    * (rank ~ users * u^2.5), a `props` payload of about 120 bytes.
    */
  def event(rnd: java.util.Random, id: Long, users: Int): Event = {
    val user = (users * math.pow(rnd.nextDouble(), 2.5)).toLong
    val sb = new StringBuilder(120)
    sb.append("{\"k\": ").append(rnd.nextInt(100)).append(", \"note\": \"")
    var i = 0
    while (i < 92) { sb.append(('a' + rnd.nextInt(26)).toChar); i += 1 }
    sb.append("\"}")
    Event(id, user, EventTypes(rnd.nextInt(EventTypes.length)),
      rnd.nextInt(100000) / 100.0, BaseMs + id * 250L + rnd.nextInt(250), sb.toString)
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** NDJSON wire line with the program's declared record fields
    * (`Ndjson.fields`), in their order.
    */
  def ndjson(e: Event): String = graft.core.Ndjson.fields.map { f =>
    jsonStr(f.name) + ":" + (f.name match {
      case "event_id" => e.id.toString
      case "user_id" => e.user.toString
      case "event_type" => jsonStr(e.etype)
      case "value" => e.value.toString
      case "ms" => e.ms.toString
      case "props" => jsonStr(e.props)
    })
  }.mkString("{", ",", "}")

  /** Gzip-NDJSON archive: `files` .gz files of `perFile` lines; each line
    * is malformed (a truncated record) with probability `badShare`.
    */
  def gzArchive(dir: Path, seed: Long, files: Int, perFile: Int, users: Int,
      badShare: Double): Expect = {
    Files.createDirectories(dir)
    val parts = (0 until files).map { f => java.util.concurrent.CompletableFuture.supplyAsync { () =>
      val rnd = new java.util.Random(seed * 1000003L + f)
      var (clean, bad) = (0L, 0L)
      var (sum, sq) = (BigInt(0), BigInt(0))
      val out = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(Files.newOutputStream(dir.resolve(f"part-$f%04d.json.gz")), 1 << 16), UTF_8), 1 << 16)
      try {
        var i = 0
        while (i < perFile) {
          val e = event(rnd, f.toLong * perFile + i, users)
          val line = ndjson(e)
          if (rnd.nextDouble() < badShare) {
            out.write(line, 0, line.length / 2); bad += 1
          } else {
            out.write(line); clean += 1; sum += e.id; sq += BigInt(e.id) * e.id
          }
          out.write('\n')
          i += 1
        }
      } finally out.close()
      (clean, bad, sum, sq)
    }}.map(_.join())
    Expect(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum, parts.map(_._4).sum)
  }

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val Vocab = ("the fast key order sort table scan merge join hash row batch customer " +
    "column filter small slow vector line data agg value stream window spark a group part big " +
    "query").split(" ")

  /** The fixed operator-surface dataset: the star schema plus events,
    * documents and embeddings, in the table layout the program's
    * `Tables` front doors read (`<dir>/<name>.parquet`). Fixed seed: the
    * stored result hashes are computed over exactly these rows.
    */
  def surface(spark: SparkSession, dir: Path): Unit = {
    val rnd = new java.util.Random(42L)
    def r2(d: Double) = math.round(d * 100) / 100.0
    def day(from: Long, span: Int) = new java.sql.Timestamp((from + rnd.nextInt(span)) * 86400000L)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })

    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Array("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until 1500).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble() * 11000 - 1000), segments(rnd.nextInt(5)))))
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), r2(rnd.nextDouble() * 10000))))
    val adj = Array("small", "red", "large", "blue", "green", "steel")
    val noun = Array("ring", "widget", "bolt", "gear", "panel", "valve")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until 2000).map(i => Row(i.toLong, s"${adj(rnd.nextInt(6))} ${noun(rnd.nextInt(6))}",
        s"Brand#${1 + rnd.nextInt(25)}", types(rnd.nextInt(6)), 1 + rnd.nextInt(50),
        r2(900 + (i % 1000) / 10.0))))
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val status = Array("F", "O", "P")
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until 15000).map(i => Row(i.toLong, rnd.nextInt(1500).toLong, status(rnd.nextInt(3)),
        r2(1000 + rnd.nextDouble() * 500000), day(9131, 2404), prio(rnd.nextInt(5)))))
    val flags = Array("A", "N", "R")
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      (0 until 60000).map { _ =>
        val q = 1 + rnd.nextInt(50)
        Row(rnd.nextInt(15000).toLong, rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong,
          1 + rnd.nextInt(7), q.toDouble, r2(q * (900 + rnd.nextDouble() * 1200)),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, flags(rnd.nextInt(3)),
          if (rnd.nextBoolean()) "F" else "O", day(9131, 2500))
      })
    write("events", EventsSchema,
      (0 until 10000).map { i =>
        val ms = BaseMs + i * 259L * 1000 / 10 + rnd.nextInt(20000)
        Row(i.toLong, new java.sql.Timestamp(ms), rnd.nextInt(150).toLong,
          EventTypes(rnd.nextInt(5)), r2(rnd.nextDouble() * 200), s"""{"k": ${rnd.nextInt(100)}}""")
      })
    val langs = Array("en", "en", "en", "es", "de", "fr", "zh")
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until 500).map { i =>
        val text =
          if (i > 20 && rnd.nextInt(20) == 0) docs(rnd.nextInt(docs.size)) + " dup"
          else Seq.fill(10 + rnd.nextInt(70))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        docs += text
        Row(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
      })
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    write("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until 500).map { i =>
        val label = rnd.nextInt(10)
        val v = centers(label).map(_ + rnd.nextGaussian() * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

object Util {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** SHA-256 over the sorted relative names and bytes of a tree. */
  def treeHash(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try {
      s.filter(Files.isRegularFile(_)).sorted().forEach { f =>
        md.update(root.relativize(f).toString.getBytes(UTF_8))
        md.update(Files.readAllBytes(f))
      }
    } finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def dirBytes(root: Path): (Long, Long) = {
    val s = Files.walk(root)
    try {
      val fs = s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[Path])
      (fs.length.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }
}
