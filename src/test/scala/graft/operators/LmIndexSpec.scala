package graft.operators

import java.nio.file.Files

import graft.{QueryRegistry, SparkTestSession, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LmIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Double, Long)] =
    df.collect().map(r => (
      r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("n_bigrams")),
      r.getLong(r.fieldIndex("sum_c12")),
      r.getLong(r.fieldIndex("sum_c1")),
      r.getDouble(r.fieldIndex("fit_score")),
      r.getLong(r.fieldIndex("n_hapax")))).toSet

  test("indexed lane is row-identical to the inline q_lm_bigram") {
    val inline = QueryRegistry.byName("q_lm_bigram").run(spark, sfDir)
    val indexed = QueryRegistry.byName("q_lm_bigram_indexed").run(spark, sfDir)
    assert(rows(indexed) === rows(inline))
    assert(rows(indexed).nonEmpty)
  }

  test("appendToModel ≡ full rebuild — exact, counts are additive") {
    val docs = Tables.table(spark, sfDir, "documents")
    val a = docs.filter(col("doc_id") % 10 < 7)
    val b = docs.filter(col("doc_id") % 10 >= 7)

    val appended = Files.createTempDirectory("graft-lm-app").toString + "/m"
    LmIndex.buildModel(spark, a, appended)
    LmIndex.appendToModel(spark, appended, b)
    val rebuilt = Files.createTempDirectory("graft-lm-reb").toString + "/m"
    LmIndex.buildModel(spark, docs, rebuilt)

    assert(rows(LmIndex.scoreDocs(spark, docs, appended)) ===
      rows(LmIndex.scoreDocs(spark, docs, rebuilt)))
    val epochs = new java.io.File(s"$appended/pairs.parquet").listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).sorted
    assert(epochs.toSeq === Seq("epoch=0", "epoch=1"))
  }

  test("scores are served from the model, not retrained from the corpus") {
    // build a model from a throwaway parquet, score a fixed eval set,
    // garble the source corpus, re-score: identical ⇒ corpus unread
    val tmp = Files.createTempDirectory("graft-lm-tamper").toString
    val src = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "c c a b"))
      .toDF("doc_id", "text")
    src.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val modelDir = s"$tmp/m"
    LmIndex.buildModel(spark, spark.read.parquet(s"$tmp/documents.parquet"), modelDir)
    val eval = Seq((10L, "a b c"), (11L, "b a c c")).toDF("doc_id", "text")
    val before = rows(LmIndex.scoreDocs(spark, eval, modelDir))
    assert(before.nonEmpty)
    Seq((1L, "x y x y"), (2L, "x y z"), (3L, "z z x y"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(rows(LmIndex.scoreDocs(spark, eval, modelDir)) === before)
  }

  test("streamed model maintenance equals a one-shot build; replays are no-ops") {
    implicit val sql = spark.sqlContext
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "c c a b"), (4L, "b c b c a"))
    val modelDir = Files.createTempDirectory("graft-lm-stream").toString + "/m"
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.lmModelMaintenanceStream(
      spark, input.toDF().toDF("doc_id", "text"), modelDir)
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2), docs(1)) // doc 2 re-delivered — must be skipped
      q.processAllAvailable()
      input.addData(docs(3))
      q.processAllAvailable()
    } finally q.stop()

    val batchDir = Files.createTempDirectory("graft-lm-batch").toString + "/m"
    LmIndex.buildModel(spark, docs.toDF("doc_id", "text"), batchDir)
    val eval = Seq((10L, "a b c"), (11L, "c a b c")).toDF("doc_id", "text")
    assert(rows(LmIndex.scoreDocs(spark, eval, modelDir)) ===
      rows(LmIndex.scoreDocs(spark, eval, batchDir)))

    // replaying an applied batch adds no epoch
    def epochs = new java.io.File(s"$modelDir/pairs.parquet").listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).toSet
    val before = epochs
    graft.streaming.DocStream.processLmModelBatch(
      spark, modelDir, Seq(docs(2)).toDF("doc_id", "text"))
    assert(epochs === before)
  }

  test("v1 store (no prefix.parquet): prefix fallback, catch-up append and " +
      "compact with and without a pending deletion serve the one-shot totals") {
    val corpus = Seq(
      (1L, "a b c a b"), (2L, "a b a b"), (3L, "x y z"), (4L, "a c a b"))
      .toDF("doc_id", "text")
    val base = Files.createTempDirectory("graft-lm-v1").toString
    def totals(d: String) = (
      LmIndex.pairTotals(spark, d).collect().map(_.toSeq).toSet,
      LmIndex.prefixTotals(spark, d).collect().map(_.toSeq).toSet)
    def oneShot(name: String, docs: org.apache.spark.sql.DataFrame) = {
      val d = s"$base/$name"
      LmIndex.buildModel(spark, docs, d)
      totals(d)
    }
    def dropPrefix(d: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$d/prefix.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      assert(!new java.io.File(s"$d/prefix.parquet").exists())
    }
    def epochs(d: String, t: String) = new java.io.File(s"$d/$t").listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).sorted.toSeq
    val a = corpus.filter(col("doc_id") <= 2L)
    val b = corpus.filter(col("doc_id") > 2L)
    val wantA = oneShot("ref-a", a)
    val wantAll = oneShot("ref-all", corpus)
    assert(wantA !== wantAll)

    // read fallback: prefix totals re-aggregated from the pairs
    val v1 = s"$base/v1"
    LmIndex.buildModel(spark, a, v1)
    dropPrefix(v1)
    assert(totals(v1) === wantA)
    // append: the catch-up epoch, then the batch's own epoch
    LmIndex.appendToModel(spark, v1, b)
    assert(epochs(v1, "prefix.parquet") === Seq("epoch=0", "epoch=1"))
    assert(totals(v1) === wantAll)

    // compact of a v1 store without pending deletions
    dropPrefix(v1)
    LmIndex.compact(spark, v1)
    assert(epochs(v1, "pairs.parquet") === Seq("epoch=0"))
    assert(epochs(v1, "prefix.parquet") === Seq("epoch=0"))
    assert(totals(v1) === wantAll)

    // compact of a v1 store with a pending deletion
    val wantNo2 = oneShot("ref-no2", corpus.filter(col("doc_id") =!= 2L))
    val v1d = s"$base/v1d"
    LmIndex.buildModel(spark, corpus, v1d)
    dropPrefix(v1d)
    LmIndex.deleteFromModel(spark, v1d, corpus.filter(col("doc_id") === 2L))
    assert(totals(v1d) === wantNo2)
    LmIndex.compact(spark, v1d)
    assert(!new java.io.File(s"$v1d/dels.parquet").exists())
    assert(epochs(v1d, "prefix.parquet") === Seq("epoch=0"))
    assert(totals(v1d) === wantNo2)
  }
}
