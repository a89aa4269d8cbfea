package graft.pipeline

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.combine.TableCombiner
import graft.ingest.IngestSpec

/** A positional combine read as one multi-file CSV relation equals the
  * positional union of its members' per-file reads; every group the
  * one-scan read does not apply to keeps the union and its rules. */
class OneScanCombineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val corpus = IngestSpec.HeaderCorpus.toMap ++ Map(
    "four" -> "p,q,r,s\n5,6,7,8\n,\"\",x,y\n".getBytes("UTF-8"))

  /** `t_1.csv`, `t_2.csv`, … holding `members` in order, loaded with
    * combine on. */
  private def load(members: Seq[String], byName: Boolean = false): LoadResult = {
    val dir = Files.createTempDirectory("onescan")
    members.zipWithIndex.foreach { case (m, i) => Files.write(dir.resolve(s"t_${i + 1}.csv"), corpus(m)) }
    new Loader(spark, LoaderConfig(sources = Seq(dir), combineTables = true,
      combineByName = byName, disableCheck = true)).load()
  }

  private def fileRelations(df: DataFrame): Int =
    df.queryExecution.analyzed.collectLeaves().count(_.isInstanceOf[LogicalRelation])

  private def union(r: LoadResult, n: Int): DataFrame =
    TableCombiner.combine((1 to n).map(i => r.tables(s"t_$i")))

  private def assertSameFrame(actual: DataFrame, expected: DataFrame, clue: String): Unit = {
    assert(actual.columns.toSeq === expected.columns.toSeq, clue)
    assert(actual.count() === expected.count(), clue)
    assert(actual.exceptAll(expected).isEmpty, clue)
    assert(expected.exceptAll(actual).isEmpty, clue)
  }

  test("one scan equals the positional union over the header corpus") {
    val pairs = Seq(
      Seq("crlf", "bom"),            // BOM on a non-first member
      Seq("bom", "crlf"),            // CRLF endings on a non-first member
      Seq("crlf", "blank_lead"),     // blank lines before a member's header
      Seq("empty_cell", "quoted"),   // a quoted header on a non-first member
      Seq("quoted", "empty_cell"),
      Seq("dup_case", "four"),       // dup_case naming wins over the second's
      Seq("four", "dup_case"),
      Seq("crlf", "header_only"),    // a header-only member
      Seq("header_only", "crlf", "blank_lead"))
    for (members <- pairs) {
      val clue = members.mkString("+")
      val r = load(members)
      val combined = r.combined("t")
      assert(fileRelations(combined) === 1, clue)
      assertSameFrame(combined, union(r, members.size), clue)
      // the first member's header names the columns
      assert(combined.columns.toSeq === r.tables("t_1").columns.toSeq, clue)
    }
  }

  test("mixed encodings take the union, each member in its own encoding") {
    val r = load(Seq("latin1", "crlf"))
    val combined = r.combined("t")
    assert(fileRelations(combined) === 2)
    assertSameFrame(combined, union(r, 2), "latin1+crlf")
    assert(combined.collect().map(_.getString(0)).sorted.toSeq === Seq("1", "2", "thé"))
  }

  test("an arity mismatch fails with the union's message") {
    val e = intercept[IllegalArgumentException](load(Seq("crlf", "quoted")))
    assert(e.getMessage.contains("member 1 has 3 columns, first member has 2"))
  }

  test("combineByName takes the union") {
    val r = load(Seq("crlf", "bom"), byName = true)
    assert(fileRelations(r.combined("t")) === 2)
    assertSameFrame(r.combined("t"),
      r.tables("t_1").unionByName(r.tables("t_2"), allowMissingColumns = true), "byName")
  }

  test("a combined name equal to a member stem returns no table") {
    val dir = Files.createTempDirectory("collide")
    Seq("t.csv", "t_1.csv").foreach(n => Files.write(dir.resolve(n), corpus("crlf")))
    val r = new Loader(spark, LoaderConfig(sources = Seq(dir), combineTables = true,
      disableCheck = true)).load()
    assert(r.tables.keySet === Set("t", "t_1"))
    assert(r.combined.isEmpty)
  }
}
