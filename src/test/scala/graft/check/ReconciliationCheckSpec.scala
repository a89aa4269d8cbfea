package graft.check

import java.nio.file.Files
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.discover.{Slug, SourceScanner}
import graft.pipeline.{Loader, LoaderConfig}

class ReconciliationCheckSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("distributed line counts per file") {
    val dir = Files.createTempDirectory("wc")
    val f1 = dir.resolve("a.csv"); Files.write(f1, "h\n1\n2\n".getBytes)
    val f2 = dir.resolve("b.csv"); Files.write(f2, "h\n1\n".getBytes)
    val counts = ReconciliationCheck.csvLineCounts(spark, Seq(f1, f2))
    // header included, like wc -l (SURVEY §7.4.3)
    assert(counts.values.toSeq.sorted === Seq(2L, 3L))
  }

  test("precise counts parse quoted embedded newlines as one record") {
    val dir = Files.createTempDirectory("precise")
    val f = dir.resolve("q.csv")
    // 1 header + 2 records, one containing a quoted newline → 4 raw lines
    Files.write(f, "id,note\n1,\"line one\nline two\"\n2,plain\n".getBytes)
    val precise = ReconciliationCheck.preciseCsvCounts(spark, Seq(f))
    assert(precise.values.toSeq === Seq(3L)) // header + 2 records
    val fast = ReconciliationCheck.csvLineCounts(spark, Seq(f))
    assert(fast.values.toSeq === Seq(4L)) // raw lines, wc -l parity
  }

  test("fused counts equal csvLineCounts plus a per-table count()") {
    val dir = Files.createTempDirectory("fused")
    Files.write(dir.resolve("animals_1.csv"), "name,height\nGrizzly,220\nGiraffe,600\n".getBytes)
    // no trailing newline: wc -l would say 1, the line count says 2
    Files.write(dir.resolve("animals_2.csv"), "name,height\nWallabie,180".getBytes)
    Files.write(dir.resolve("plants_1.csv"), "name\nfern\nmoss\noak\n".getBytes)
    val csvs = SourceScanner.discoverCsvs(Seq(dir))
    val groups = SourceScanner.groupByTable(csvs)
    val lines = ReconciliationCheck.csvLineCounts(spark, csvs)
    assert(lines.values.toSeq.sorted === Seq(2L, 3L, 4L))

    val configs = Seq(
      "combined" -> LoaderConfig(sources = Seq(dir), combineTables = true),
      "members" -> LoaderConfig(sources = Seq(dir)),
      "disableImport" -> LoaderConfig(sources = Seq(dir), disableImport = true))
    for ((label, cfg) <- configs) {
      val result = new Loader(spark, cfg).load()
      val tables: Map[String, DataFrame] = groups.flatMap { case (name, members) =>
        result.combined.get(name)
          .orElse(members.flatMap(m => result.tables.get(Slug.rawStem(m))).reduceOption(_.unionAll(_)))
          .map(name -> _)
      }
      val fused = ReconciliationCheck.fusedCounts(spark, csvs, tables)
      assert(fused.files === lines, label)
      assert(fused.tables === tables.map { case (n, df) => n -> df.count() }, label)
      // the report the loader builds from them
      val expected = groups.toSeq.map { case (name, members) =>
        ReconciliationCheck.TableDelta(name, members.map(f => lines(f.toUri.toString)).sum,
          tables.get(name).fold(0L)(_.count()))
      }
      assert(result.report.get.tables === expected, label)
    }
  }

  test("fused counts over zero CSVs run no query") {
    val (counts, jobs) = JobCounter(spark.sparkContext)(
      ReconciliationCheck.fusedCounts(spark, Seq.empty, Map.empty))
    assert(counts === ReconciliationCheck.Counts(Map.empty, Map.empty))
    assert(jobs === 0)
    val empty = Files.createTempDirectory("nocsv")
    val (result, loadJobs) = JobCounter(spark.sparkContext)(
      new Loader(spark, LoaderConfig(sources = Seq(empty), combineTables = true)).load())
    assert(result.report.get.tables.isEmpty)
    assert(loadJobs === 0)
  }

  test("delta ledger and fatal threshold") {
    val r = ReconciliationCheck.check(
      Map("a" -> 100L, "b" -> 200L),
      Map("a" -> 98L, "b" -> 200L, "c" -> 5L))
    assert(r.tables.map(_.table) === Seq("a", "b", "c"))
    assert(r.totalDelta === 7L)
    assert(!r.fatal)
    val fatal = ReconciliationCheck.check(Map("a" -> 500L), Map("a" -> 0L))
    assert(fatal.fatal) // 500 > 100
  }

  test("relational form: full-outer join with abs delta") {
    import spark.implicits._
    val csv = Seq(("a", 10L), ("b", 5L)).toDF("tbl", "cnt")
    val db = Seq(("a", 8L), ("c", 1L)).toDF("tbl", "cnt")
    val out = ReconciliationCheck.checkDf(spark, csv, db)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set(("a", 10L, 8L, 2L), ("b", 5L, 0L, 5L), ("c", 0L, 1L, 1L)))
  }
}
