package graft.ingest

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Header edge cases: each file's header line, as Spark's CSV source
  * would infer it, in the encoding the sniff detects. */
object IngestSpec {
  val HeaderCorpus: Seq[(String, Array[Byte])] = Seq(
    "bom" -> (Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "Id,Name\n1,a\n2,b\n".getBytes("UTF-8")),
    "crlf" -> "id,name\r\n1,a\r\n2,b\r\n".getBytes("UTF-8"),
    "blank_lead" -> "\n  \n\nid,name\n1,a\n".getBytes("UTF-8"),
    "quoted" -> "\"a,b\",\"say \"\"hi\"\"\",c\n1,\"x,y\",3\n".getBytes("UTF-8"),
    "empty_cell" -> "a,,c\n1,2,3\n".getBytes("UTF-8"),
    "dup_case" -> "Name,name,NAME,x\n1,2,3,4\n".getBytes("UTF-8"),
    "latin1" -> "café,größe\nthé,1\n".getBytes("ISO-8859-1"),
    "header_only" -> "a,b\n".getBytes("UTF-8"),
    "empty" -> Array.empty[Byte])
}

class IngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkZip(dir: Path, name: String, entries: Map[String, String]): Path = {
    val z = dir.resolve(name)
    val out = new ZipOutputStream(Files.newOutputStream(z))
    entries.foreach { case (n, content) =>
      out.putNextEntry(new ZipEntry(n))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    out.close()
    z
  }

  test("unzip extracts to stem-named dir; skips existing unless all") {
    val dir = Files.createTempDirectory("unzip")
    val z = mkZip(dir, "x_y_z.zip", Map("data.csv" -> "a,b\n1,2\n"))
    val r1 = Unzipper.unzipAll(Seq(z))
    assert(r1.head.dest === dir.resolve("x_y_z"))
    assert(!r1.head.skipped && r1.head.entries === 1)
    assert(Files.exists(dir.resolve("x_y_z/data.csv")))
    // second run: skipped (idempotent, reference main.py:153-168)
    val r2 = Unzipper.unzipAll(Seq(z))
    assert(r2.head.skipped)
    // --all forces re-extract
    val r3 = Unzipper.unzipAll(Seq(z), all = true)
    assert(!r3.head.skipped)
  }

  test("zip-slip entries are rejected") {
    val dir = Files.createTempDirectory("slip")
    val z = mkZip(dir, "evil.zip", Map("../escape.txt" -> "nope"))
    assertThrows[IllegalArgumentException] {
      Unzipper.extract(z, dir.resolve("evil"))
    }
  }

  test("csv read: header schema, all columns StringType, sanitized names") {
    val dir = Files.createTempDirectory("csv")
    val f = dir.resolve("animals_1.csv")
    Files.write(f, "Name,Origin Country,height\nGrizzly,\"North America\",220\n".getBytes("UTF-8"))
    val df = CsvTableReader.read(spark, Seq(f))
    assert(df.schema.fields.map(_.name).toSeq === Seq("name", "origin_country", "height"))
    assert(df.schema.fields.forall(_.dataType == StringType))
    val row = df.collect().head
    assert(row.getString(0) === "Grizzly")
    assert(row.getString(1) === "North America")
    assert(row.getString(2) === "220") // text, not int — pgfutter semantics
  }

  test("driver-side header: columns and rows match Spark's own header inference, no jobs") {
    val dir = Files.createTempDirectory("hdr")
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("\u0001"))
    for ((name, bytes) <- IngestSpec.HeaderCorpus) {
      val f = dir.resolve(s"$name.csv")
      Files.write(f, bytes)
      val (df, jobs) = JobCounter(spark.sparkContext)(CsvTableReader.read(spark, Seq(f)))
      assert(jobs === 0, s"$name: read started $jobs jobs")
      // Spark's own header inference, in the detected encoding
      val inferred = spark.read.option("header", "true")
        .option("encoding", CsvTableReader.detectEncoding(f))
        .csv(f.toString)
      val expected = inferred.toDF(inferred.columns.map(CsvTableReader.sanitize).toIndexedSeq: _*)
      assert(df.columns.toSeq === expected.columns.toSeq, name)
      assert(df.schema.fields.forall(_.dataType == StringType), name)
      assert(rows(df) === rows(expected), name)
    }
  }

  test("csv read: unquoted empty field is NULL, quoted empty field stays ''") {
    val f = Files.createTempDirectory("nulls").resolve("t.csv")
    Files.write(f, "a,b,c\n,\"\",x\n".getBytes("UTF-8"))
    val row = CsvTableReader.read(spark, Seq(f)).collect().head
    assert(row.isNullAt(0))
    assert(row.getString(1) === "")
    assert(row.getString(2) === "x")
  }

  test("multi-file read unions positionally like LIKE-INCLUDING-ALL") {
    val dir = Files.createTempDirectory("csv2")
    val f1 = dir.resolve("animals_1.csv")
    val f2 = dir.resolve("animals_2.csv")
    Files.write(f1, "name,origin,height\nGrizzly,NA,220\n".getBytes("UTF-8"))
    Files.write(f2, "name,origin,height\nGiraffe,Africa,600\n".getBytes("UTF-8"))
    val df = CsvTableReader.read(spark, Seq(f1, f2))
    assert(df.count() === 2)
  }

  test("distributed zip ingestion: executor-side decompress to all-text table") {
    val dir = Files.createTempDirectory("zipcsv")
    mkZip(dir, "animals_a.zip", Map(
      "animals_1.csv" -> "name,origin,height\nGrizzly,NA,220\nGiraffe,Africa,600\n"))
    mkZip(dir, "animals_b.zip", Map(
      "animals_2.csv" -> "name,origin,height\nWallabie,Australia,180\n",
      "notes.txt" -> "not a csv, ignored"))
    val df = ZipCsvReader.read(spark, dir.toString)
    assert(df.schema.fields.map(_.name).toSeq === Seq("name", "origin", "height"))
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() === 3)
    val names = df.collect().map(_.getString(0)).sorted
    assert(names.toSeq === Seq("Giraffe", "Grizzly", "Wallabie"))
  }

  test("gzip-compressed CSV reads transparently (another source format)") {
    val dir = Files.createTempDirectory("gz")
    val f = dir.resolve("animals_1.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    out.write("name,origin,height\nGrizzly,NA,220\n".getBytes("UTF-8"))
    out.close()
    val df = spark.read.option("header", "true").option("inferSchema", "false")
      .csv(f.toString)
    assert(df.columns.toSeq === Seq("name", "origin", "height"))
    assert(df.count() === 1)
  }

  test("json-lines source reads with explicit all-text discipline") {
    val dir = Files.createTempDirectory("jsonl")
    val f = dir.resolve("animals.jsonl")
    Files.write(f,
      """{"name":"Grizzly","origin":"NA","height":"220"}
        |{"name":"Giraffe","origin":"Africa","height":"600"}""".stripMargin.getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(
      Seq("name", "origin", "height").map(
        org.apache.spark.sql.types.StructField(_, StringType, nullable = true)))
    val df = spark.read.schema(schema).json(f.toString)
    assert(df.count() === 2)
    assert(df.schema.fields.forall(_.dataType == StringType))
  }

  test("encoding detection: BOM and fallback") {
    val dir = Files.createTempDirectory("enc")
    val bom = dir.resolve("bom.csv")
    Files.write(bom, Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ "a,b\n".getBytes("UTF-8"))
    assert(CsvTableReader.detectEncoding(bom) === "UTF-8")
    val latin = dir.resolve("latin.csv")
    Files.write(latin, "café".getBytes("ISO-8859-1"))
    assert(CsvTableReader.detectEncoding(latin) === "ISO-8859-1")
  }

  test("encoding detection: a UTF-8 character cut by the sample's end is still UTF-8") {
    val f = Files.createTempDirectory("enc_cut").resolve("cut.csv")
    // the 8,192-byte sample ends after the first byte of 'é'
    val value = "x" * (8191 - "txt\n".length) + "é"
    Files.write(f, s"txt\n$value\n".getBytes("UTF-8"))
    assert(CsvTableReader.detectEncoding(f) === "UTF-8")
    val rows = CsvTableReader.read(spark, Seq(f)).collect().map(_.getString(0))
    assert(rows.length === 1)
    assert(rows.head.getBytes("UTF-8").sameElements(value.getBytes("UTF-8")))
    // a sample that is the whole file and ends mid-character is not UTF-8
    val short = f.resolveSibling("short.csv")
    Files.write(short, "txt\n".getBytes("UTF-8") ++ "é".getBytes("UTF-8").take(1))
    assert(CsvTableReader.detectEncoding(short) === "ISO-8859-1")
  }
}
