package graft.ingest

import java.io.{BufferedInputStream, BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path}
import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Schema-on-read CSV ingestion (SURVEY §2.1 S4) with pgfutter semantics
  * (reference README.md:51-53, 91-92):
  *
  *  - schema from the header row, every column `StringType`
  *    (`inferSchema=false` — typed views are a post-load concern, P3);
  *  - column names sanitized the way pgfutter derives Postgres identifiers
  *    (lowercase, non-word → '_');
  *  - encoding detected from a driver-side sample (reference uses chardet,
  *    utils.py:13-15) — BOM sniff + UTF-8 validity heuristic here, since
  *    the container has no chardet equivalent.
  *
  * `read` plans without running a Spark job. The header comes from the
  * driver: the first non-blank line of `files.head` (read through the same
  * stream as the encoding sniff) goes through the calls Spark's CSV source
  * makes on the line it infers from, so quoting and `makeSafeHeader`
  * naming (empty cell → `_c<i>`, case-insensitive duplicate → `<name><i>`)
  * are Spark's. The files are then read with that explicit schema; letting
  * Spark infer it instead costs one `take(1)` job per call. With several
  * files, the first one is the header authority (Spark's own inference
  * would take the first line of the largest file).
  *
  * The read itself is one distributed, splittable `FileSourceScanExec` per
  * table group — Spark parallelizes by HDFS-style splits, so a single huge
  * CSV still fans out across executors.
  */
object CsvTableReader {

  private val SampleBytes = 8192

  def read(spark: SparkSession, files: Seq[Path]): DataFrame = {
    require(files.nonEmpty, "no csv files for table")
    val (encoding, header) = sniff(files.head)
    val options = Map(
      "header" -> "true",
      "inferSchema" -> "false",
      "encoding" -> encoding,
      // pgfutter/pg COPY semantics: an unquoted empty field is NULL, a
      // quoted "" stays '' (mapping it to NULL is a post-load concern,
      // strip()). NUL as the null token does both, and unlike a null token
      // it leaves an empty header cell a string, which Spark's header
      // check needs; a Postgres text value cannot hold NUL anyway
      "nullValue" -> "\u0000")
    val df = spark.read.options(options)
      .schema(headerSchema(spark, options, header))
      .csv(files.map(_.toString): _*)
    df.toDF(df.columns.map(sanitize).toIndexedSeq: _*)
  }

  /** The all-text schema Spark's CSV source infers from `header` under
    * `options`: its parser settings split the line and `makeSafeHeader`
    * names the columns. The source runs the same two calls after a
    * `take(1)` job that fetches the line. */
  private def headerSchema(
      spark: SparkSession, options: Map[String, String], header: Option[String]): StructType = {
    val conf = spark.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    StructType(header.toSeq.flatMap { line =>
      val cells = new CsvParser(parsed.asParserSettings).parseLine(line)
      CSVUtils.makeSafeHeader(cells, conf.caseSensitiveAnalysis, parsed).map(StructField(_, StringType))
    })
  }

  /** pgfutter-style identifier sanitization: lowercase, spaces and
    * non-word chars to '_'. */
  def sanitize(name: String): String =
    name.trim.toLowerCase.replaceAll("[^\\w]", "_")

  /** Minimal encoding sniff: UTF-8/UTF-16 BOMs, else assume UTF-8 (valid
    * for the reference corpus; ISO-8859-1 fallback if the sample doesn't
    * decode). */
  def detectEncoding(file: Path): String = {
    val in = Files.newInputStream(file)
    try encodingOf(in.readNBytes(SampleBytes)) finally in.close()
  }

  /** The encoding and the header line of `file`, from one open stream. The
    * header is the first line Spark's CSV reader does not skip as blank
    * (its filter trims spaces only), with a leading BOM dropped the way
    * Hadoop's line reader drops it. */
  private def sniff(file: Path): (String, Option[String]) = {
    val in = new BufferedInputStream(Files.newInputStream(file), SampleBytes)
    try {
      in.mark(SampleBytes)
      val sample = in.readNBytes(SampleBytes)
      in.reset()
      val encoding = encodingOf(sample)
      val lines = new BufferedReader(new InputStreamReader(in, encoding))
      val first = Option(lines.readLine()).map(_.stripPrefix("\uFEFF"))
      val header = (first.iterator ++ Iterator.continually(lines.readLine()).takeWhile(_ != null))
        .find(_.exists(_ != ' '))
      (encoding, header)
    } finally in.close()
  }

  private def encodingOf(sample: Array[Byte]): String =
    if (sample.length >= 3 && sample(0) == 0xEF.toByte && sample(1) == 0xBB.toByte && sample(2) == 0xBF.toByte) "UTF-8"
    else if (sample.length >= 2 && sample(0) == 0xFF.toByte && sample(1) == 0xFE.toByte) "UTF-16LE"
    else if (sample.length >= 2 && sample(0) == 0xFE.toByte && sample(1) == 0xFF.toByte) "UTF-16BE"
    else {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      try { dec.decode(java.nio.ByteBuffer.wrap(sample)); "UTF-8" }
      catch { case _: java.nio.charset.CharacterCodingException => "ISO-8859-1" }
    }
}
