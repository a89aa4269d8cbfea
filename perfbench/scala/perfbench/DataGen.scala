package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic input tables with the engine's TPC-H-style schemas:
  * `customer`, `orders`, `lineitem` and `events` feed the load fixture
  * (and `lineitem` the sentinel plan), `documents` the store families.
  * Every table is a pure function of `DataSeed`, so a set is written once
  * per checkout and reused by every run; the run seed only shapes what a
  * workload does with it. */
object DataGen {
  val DataSeed = 42L
  val Version = "v3"

  val Rows: Map[String, Int] = Map(
    "customer" -> 1500, "orders" -> 3000, "lineitem" -> 12000, "events" -> 3000,
    "documents" -> 1500)

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "the", "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "spark", "part",
    "group", "big", "sort", "query", "fast")

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(base: LocalDateTime, r: Random, span: Int): LocalDateTime =
    base.plusDays(r.nextInt(span).toLong)

  /** Document text: uniform draws from a small vocabulary, with a share
    * of near-duplicates and copied passages so the dedup, winnow and
    * span stores have real matches to find. */
  def documents(n: Int, seed: Long): IndexedSeq[String] = {
    val r = new Random(seed)
    val out = new Array[String](n)
    for (i <- 0 until n) {
      val u = r.nextDouble()
      out(i) =
        if (i > 10 && u < 0.08) {
          val words = out(r.nextInt(i)).split(" ")
          for (_ <- 0 until 3) words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.size))
          (words :+ "dup").mkString(" ")
        } else {
          val len = 10 + r.nextInt(90)
          val words = Array.fill(len)(Vocab(r.nextInt(Vocab.size)))
          if (i > 10 && u < 0.14) {
            val src = out(r.nextInt(i)).split(" ")
            val k = math.min(12, src.length)
            val from = r.nextInt(src.length - k + 1)
            val at = r.nextInt(len)
            (words.take(at) ++ src.slice(from, from + k) ++ words.drop(at)).mkString(" ")
          } else words.mkString(" ")
        }
    }
    out.toIndexedSeq
  }

  private def tables: Seq[(String, StructType, Seq[Row])] = {
    val r = new Random(DataSeed)
    val base = LocalDateTime.of(1995, 1, 1, 0, 0)
    val customer = (0 until Rows("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(r, -999, 9999), Segments(r.nextInt(Segments.size))))
    val orders = (0 until Rows("orders")).map(i => Row(i.toLong,
      r.nextInt(Rows("customer")).toLong, Seq("F", "O", "P")(r.nextInt(3)),
      money(r, 1000, 500000), day(base, r, 2400), Priorities(r.nextInt(Priorities.size))))
    val lineitem = (0 until Rows("lineitem")).map(_ => Row(
      r.nextInt(Rows("orders")).toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong,
      1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
      Seq("F", "O")(r.nextInt(2)), day(base.plusDays(1), r, 2500)))
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000000L
    val step = 30L * 86400L * 1000000000L / Rows("events")
    var ts = t0
    val events = (0 until Rows("events")).map { i =>
      ts += (r.nextDouble() * 2 * step).toLong
      Row(i.toLong, ts, r.nextInt(150).toLong, EventTypes(r.nextInt(EventTypes.size)),
        money(r, 0.01, 490), s"""{"k": ${r.nextInt(100)}}""")
    }
    val docs = documents(Rows("documents"), DataSeed + 1).zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(r.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    Seq(
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), orders),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), lineitem),
      // ts as int64 epoch nanos: the engine's table reader converts it
      ("events", st("event_id" -> LongType, "ts" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), docs))
  }

  /** Write the bench tables under `dir` unless a complete set is there.
    * The load tables are also written as CSV lines (header first), which
    * each run reorders by its seed into the load fixture. */
  def ensure(spark: SparkSession, dir: Path): Path = {
    val done = dir.resolve("_COMPLETE")
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      for ((name, schema, rows) <- tables) {
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
        if (LoadTables.contains(name)) {
          val tsCol = schema.fieldNames.indexOf("ts")
          val lines = rows.map(_.toSeq.zipWithIndex.map { case (v, i) =>
            if (i == tsCol) oracleTs(v.asInstanceOf[Long]) else csvField(v)
          }.mkString(","))
          Files.write(dir.resolve(s"$name.csv"),
            (schema.fieldNames.mkString(",") +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
        }
      }
      Files.write(done, Version.getBytes(UTF_8))
    }
    dir
  }

  // --- the load workload's source tree --------------------------------

  val Months = Seq("jan", "feb", "mar")
  val LoadTables = Seq("customer", "events", "lineitem", "orders")
  private val Mon = Seq("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG",
    "SEP", "OCT", "NOV", "DEC")

  /** An event time in the reference's Oracle export format, which the
    * hook parses back with `parse_timestamp()`. */
  def oracleTs(nanos: Long): String = {
    val t = LocalDateTime.ofInstant(Instant.ofEpochSecond(nanos / 1000000000L), ZoneOffset.UTC)
    val h12 = if (t.getHour % 12 == 0) 12 else t.getHour % 12
    f"${t.getDayOfMonth}%02d-${Mon(t.getMonthValue - 1)}-${t.getYear % 100}%02d " +
      f"$h12%02d.${t.getMinute}%02d.${t.getSecond}%02d.${nanos % 1000000000L}%09d " +
      (if (t.getHour < 12) "AM" else "PM") + " +00:00"
  }

  private def csvField(v: Any): String = v match {
    case null => ""
    case s: String if s.exists(c => c == ',' || c == '"') => "\"" + s.replace("\"", "\"\"") + "\""
    case ldt: LocalDateTime => ldt.toString.replace('T', ' ')
    case other => other.toString
  }

  final case class Fixture(
      sources: Path, hooks: Path, files: Int, bytes: Long,
      rows: Map[String, Long])

  /** The load source tree for `seed`: each table's rows in a seeded
    * order, split into month siblings `<table>_<mon>.csv`, one zip per
    * month, a `_sample` decoy the exclude regex must drop, and the
    * post-load hook script. */
  def loadFixture(data: Path, root: Path, seed: Long): Fixture = {
    val sources = root.resolve("sources")
    val hooks = root.resolve("hooks")
    val staged = root.resolve("staged")
    Files.createDirectories(sources)
    Files.createDirectories(hooks)
    val r = new Random(seed)
    var bytes = 0L
    val rows = LoadTables.map { t =>
      val all = new String(Files.readAllBytes(data.resolve(s"$t.csv")), UTF_8)
        .split("\n").toIndexedSeq
      val lines = r.shuffle(all.tail)
      val per = (lines.size + Months.size - 1) / Months.size
      for ((m, k) <- Months.zipWithIndex) {
        val body = (all.head +: lines.slice(k * per, (k + 1) * per)).mkString("", "\n", "\n")
        val f = staged.resolve(m).resolve(s"${t}_$m.csv")
        Files.createDirectories(f.getParent)
        Files.write(f, body.getBytes(UTF_8))
        bytes += body.length
      }
      t -> lines.size.toLong
    }.toMap
    // decoy: a sample export that the exclude regex must keep out
    val decoy = staged.resolve(Months.head).resolve(s"orders_${Months.head}_sample.csv")
    Files.write(decoy, "o_orderkey\n1\n2\n".getBytes(UTF_8))
    for (m <- Months) zipDir(staged.resolve(m), sources.resolve(s"$m.zip"))
    deleteTree(staged)
    Files.write(hooks.resolve("post_load.sql"), HookSql.getBytes(UTF_8))
    Fixture(sources, hooks, LoadTables.size * Months.size, bytes, rows)
  }

  /** Post-load hook: typed, cleaned aggregates over two combined tables,
    * cached eagerly so the statements do their work inside the load. */
  val HookSql: String =
    """-- post-load hook: cast the all-text imports and aggregate
      |CACHE TABLE hook_events_daily AS
      |SELECT CAST(parse_timestamp(ts) AS DATE) AS day,
      |       strip(event_type) AS event_type,
      |       count(*) AS n,
      |       sum(CAST(strip(value) AS DECIMAL(18, 2))) AS total
      |FROM events
      |GROUP BY 1, 2;
      |
      |CACHE TABLE hook_orders_status AS
      |SELECT strip(o_orderstatus) AS status,
      |       count(*) AS n,
      |       sum(CAST(strip(o_totalprice) AS DECIMAL(18, 2))) AS total
      |FROM orders
      |GROUP BY 1;
      |""".stripMargin

  private def zipDir(dir: Path, zip: Path): Unit = {
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    try
      Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString).foreach { f =>
        out.putNextEntry(new java.util.zip.ZipEntry(f.getFileName.toString))
        out.write(Files.readAllBytes(f))
        out.closeEntry()
      }
    finally out.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
