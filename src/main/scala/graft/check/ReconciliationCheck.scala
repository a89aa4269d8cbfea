package graft.check

import java.net.URI
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Count reconciliation (SURVEY §2.1 S7/S8, §2.4 A1/A3, main.py:250-306):
  * compare source CSV line counts against loaded table counts, report a
  * per-table delta ledger, and flag fatally when the summed absolute delta
  * exceeds the tolerance (reference: 100 rows, which absorbs header lines
  * since `wc -l` counts them — semantics preserved deliberately,
  * SURVEY §7.4.3).
  */
object ReconciliationCheck {
  private val log = LoggerFactory.getLogger(getClass)

  val DefaultTolerance = 100L

  /** Distributed `wc -l` (S7): one Spark job over all files, counting
    * lines per file — `spark.read.text` is splittable, so this scales to
    * arbitrarily large CSVs without a driver loop. The standalone counter
    * (`cli.CsvCount --fast`) uses it; the pipeline folds the same count
    * into `fusedCounts`. */
  def csvLineCounts(spark: SparkSession, files: Seq[Path]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    spark.read.textFile(files.map(_.toString): _*)
      .select(input_file_name().as("file"))
      .groupBy("file").count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
  }

  /** Raw line counts per CSV file (keyed like `csvLineCounts`) and row
    * counts per loaded table, as the pipeline's steps 4+5 need them. */
  final case class Counts(files: Map[String, Long], tables: Map[String, Long])

  /** Steps 4+5 in one query: the distributed `wc -l` of every file and a
    * row count of every table, tagged by kind and folded into a single
    * `groupBy(kind, key).count()` (one scan stage, at most two jobs under
    * AQE) instead of one text scan plus one `count()` per table. Nothing
    * runs when there are neither files nor tables. */
  def fusedCounts(spark: SparkSession, files: Seq[Path], tables: Map[String, DataFrame]): Counts = {
    val lines = if (files.isEmpty) Nil else Seq(
      spark.read.textFile(files.map(_.toString): _*)
        .select(lit("file").as("kind"), input_file_name().as("key")))
    val rows = tables.toSeq.map { case (name, df) =>
      df.select(lit("table").as("kind"), lit(name).as("key"))
    }
    val counts = (lines ++ rows).reduceOption(_.unionAll(_)).toSeq
      .flatMap(_.groupBy("kind", "key").count().collect())
      .groupMap(_.getString(0))(r => r.getString(1) -> r.getLong(2))
    Counts(counts.getOrElse("file", Nil).toMap, counts.getOrElse("table", Nil).toMap)
  }

  /** The pipeline's reconciliation: `fusedCounts`, file counts summed per
    * table group, checked against the row counts. A group without a loaded
    * table (`--disable-import`, a partial load) counts 0 rows, mirroring
    * the reference's check-only mode, which reports the delta instead of
    * crashing. */
  def reconcile(
      spark: SparkSession,
      groups: Map[String, Seq[Path]],
      tables: Map[String, DataFrame],
      tolerance: Long = DefaultTolerance): Report = {
    val counts = fusedCounts(spark, groups.values.flatten.toSeq, tables)
    val lines = counts.files.map { case (file, n) => fileKey(file) -> n }
    val csvByTable = groups.map { case (name, members) =>
      name -> members.map(f => lines.getOrElse(fileKey(f.toUri.toString), 0L)).sum
    }
    check(csvByTable, groups.keys.map(n => n -> counts.tables.getOrElse(n, 0L)).toMap, tolerance)
  }

  /** The decoded path a file URI names, so both spellings of one file
    * meet: `input_file_name()` percent-encodes ASCII specials but leaves
    * non-ASCII characters raw (`t%20é.csv`), while `Path.toUri` encodes
    * them as UTF-8 bytes (`t%20%C3%A9.csv`). */
  def fileKey(uri: String): String = new URI(uri).getPath

  /** Precise mode (S8, reference csvcount.py:13-23): count CSV *records*
    * (a quoted field may span lines) rather than raw lines. multiLine
    * parsing is not block-splittable, so this is the slower, exact
    * variant — the reference draws the same line/record distinction
    * between its wc and csv.reader branches. Counts include the header
    * row (csv.reader parity: it counts every row). */
  def preciseCsvCounts(spark: SparkSession, files: Seq[Path]): Map[String, Long] =
    files.map { f =>
      f.toString -> spark.read
        .option("header", "false")
        .option("multiLine", "true")
        .option("encoding", graft.ingest.CsvTableReader.detectEncoding(f))
        .csv(f.toString)
        .count()
    }.toMap

  final case class TableDelta(table: String, csvCount: Long, dbCount: Long) {
    def delta: Long = math.abs(csvCount - dbCount)
  }

  final case class Report(tables: Seq[TableDelta], tolerance: Long) {
    def totalDelta: Long = tables.map(_.delta).sum
    def fatal: Boolean = totalDelta > tolerance
    def render: String = {
      val header = f"${"table"}%-24s ${"csv"}%12s ${"db"}%12s ${"delta"}%8s"
      val rows = tables.map(t => f"${t.table}%-24s ${t.csvCount}%12d ${t.dbCount}%12d ${t.delta}%8d")
      (header +: rows :+ f"${"TOTAL"}%-24s ${""}%12s ${""}%12s ${totalDelta}%8d").mkString("\n")
    }
  }

  /** Join csv-side counts (summed across sibling files per table) against
    * table counts — the reference's dict-join (main.py:274-299) expressed
    * over maps; both sides are tiny (one row per table). */
  def check(
      csvCountsByTable: Map[String, Long],
      dbCounts: Map[String, Long],
      tolerance: Long = DefaultTolerance): Report = {
    val tables = (csvCountsByTable.keySet ++ dbCounts.keySet).toSeq.sorted.map { t =>
      TableDelta(t, csvCountsByTable.getOrElse(t, 0L), dbCounts.getOrElse(t, 0L))
    }
    val report = Report(tables, tolerance)
    if (report.fatal)
      log.error(s"reconciliation FAILED: total delta ${report.totalDelta} > $tolerance\n${report.render}")
    else log.info(s"reconciliation ok: total delta ${report.totalDelta}\n${report.render}")
    report
  }

  /** Same check as a DataFrame (the relational expression used by
    * q_reconciliation): full-outer join on table name with abs delta. */
  def checkDf(spark: SparkSession, csv: DataFrame, db: DataFrame): DataFrame = {
    // expected columns: (tbl, cnt) on both sides
    csv.withColumnRenamed("cnt", "csv_cnt")
      .join(db.withColumnRenamed("cnt", "db_cnt"), Seq("tbl"), "full_outer")
      .select(col("tbl"),
        coalesce(col("csv_cnt"), lit(0L)).as("csv_cnt"),
        coalesce(col("db_cnt"), lit(0L)).as("db_cnt"),
        abs(coalesce(col("csv_cnt"), lit(0L)) - coalesce(col("db_cnt"), lit(0L))).as("delta"))
  }
}
