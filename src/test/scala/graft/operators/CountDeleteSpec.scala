package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Deletion for the count-model families ([[NegEpochs]]): the additive
  * arithmetic run in reverse. Per family: immediate serve-path parity
  * with a rebuild that never saw the doc, replayed-takedown no-op,
  * shadowed re-append, and the deletion-applying compact (whole-store
  * swap) after which re-insertion is a normal append. Every family also
  * runs the append crash window of the [[EpochLedger]] protocol. */
class CountDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  // --- LmIndex ------------------------------------------------------------

  private def lmCorpus = Seq(
    (1L, "a b c a b"),
    (2L, "a b a b"),
    (3L, "x y z")).toDF("doc_id", "text")

  private def lmScores(d: String, docs: DataFrame) =
    LmIndex.scoreDocs(spark, docs, d).collect().map(_.toSeq).toSet

  test("LmIndex: delete nets the victim's counts out, bit-parity with rebuild") {
    val base = tmp("graft-lmdel")
    val full = s"$base/full"
    LmIndex.buildModel(spark, lmCorpus, full)
    val rebuilt = s"$base/rebuilt"
    LmIndex.buildModel(spark, lmCorpus.filter(col("doc_id") =!= 2L), rebuilt)
    val probe = Seq((10L, "a b a"), (11L, "x y")).toDF("doc_id", "text")

    LmIndex.deleteFromModel(spark, full, lmCorpus.filter(col("doc_id") === 2L))
    // immediate: scores AND resident ledger match the never-saw-it store
    assert(lmScores(full, probe) === lmScores(rebuilt, probe))
    assert(LmIndex.residentDocIds(spark, full).collect().map(_.getLong(0)).toSet
      === Set(1L, 3L))
    // replayed takedown is a no-op (victims already deleted)
    LmIndex.deleteFromModel(spark, full, lmCorpus.filter(col("doc_id") === 2L))
    assert(lmScores(full, probe) === lmScores(rebuilt, probe))
    // a re-appended victim stays dead until the deletion-applying compact
    LmIndex.appendToModel(spark, full, lmCorpus.filter(col("doc_id") === 2L))
    assert(lmScores(full, probe) === lmScores(rebuilt, probe))
    // the apply: whole-store swap retires the deletion state
    LmIndex.compact(spark, full)
    assert(lmScores(full, probe) === lmScores(rebuilt, probe))
    assert(!new java.io.File(s"$full/dels.parquet").exists())
    assert(!new java.io.File(s"$full/neg-pairs.parquet").exists())
    // after the durable apply, re-insertion is a normal append
    LmIndex.appendToModel(spark, full, lmCorpus.filter(col("doc_id") === 2L))
    val restored = s"$base/restored"
    LmIndex.buildModel(spark, lmCorpus, restored)
    assert(lmScores(full, probe) === lmScores(restored, probe))
  }

  test("LmIndex: an intra-batch DUPLICATE victim row subtracts once (the " +
      "at-least-once request stream can carry a doc twice in one batch)") {
    val base = tmp("graft-lmdup")
    val full = s"$base/full"
    LmIndex.buildModel(spark, lmCorpus, full)
    val rebuilt = s"$base/rebuilt"
    LmIndex.buildModel(spark, lmCorpus.filter(col("doc_id") =!= 2L), rebuilt)
    val dup = lmCorpus.filter(col("doc_id") === 2L)
      .unionByName(lmCorpus.filter(col("doc_id") === 2L))
    LmIndex.deleteFromModel(spark, full, dup)
    val probe = Seq((10L, "a b a")).toDF("doc_id", "text")
    assert(lmScores(full, probe) === lmScores(rebuilt, probe))
  }

  // --- ClassifyIndex -------------------------------------------------------

  test("ClassifyIndex: delete nets the victim's train counts out, parity with rebuild") {
    val base = tmp("graft-clfdel")
    // ClassifyOps train/holdout split is doc_id-hash based; use the real
    // fixture corpus so both splits are populated
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val victims = docs.filter(col("doc_id") < 50L)
    val full = s"$base/full"
    ClassifyIndex.buildModel(spark, docs, full)
    val rebuilt = s"$base/rebuilt"
    ClassifyIndex.buildModel(spark, docs.filter(col("doc_id") >= 50L), rebuilt)
    def counts(d: String) = ClassifyIndex.modelCounts(spark, d)
      .collect().map(_.toSeq).toSet
    ClassifyIndex.deleteFromModel(spark, full, victims)
    assert(counts(full) === counts(rebuilt))
    assert(ClassifyIndex.residentDocIds(spark, full)
      .filter(col("doc_id") < 50L).count() === 0L)
    ClassifyIndex.compact(spark, full)
    assert(counts(full) === counts(rebuilt))
    assert(!new java.io.File(s"$full/dels.parquet").exists())
    // scoring parity end to end on the surviving store
    val probe = docs.filter(col("doc_id") >= 50L)
    val a = ClassifyIndex.scoreDocs(spark, probe, full).collect().map(_.toSeq).toSet
    val b = ClassifyIndex.scoreDocs(spark, probe, rebuilt).collect().map(_.toSeq).toSet
    assert(a === b && a.nonEmpty)
  }

  // --- DsirIndex ------------------------------------------------------------

  test("DsirIndex: delete nets the victim's bucket counters out, parity with rebuild") {
    val base = tmp("graft-dsirdel")
    val docs = Seq(
      (1L, "alpha beta alpha", "en"),
      (2L, "gamma delta", "de"),
      (3L, "alpha gamma", "en")).toDF("doc_id", "text", "lang")
    val full = s"$base/full"
    DsirIndex.buildIndex(spark, docs, full)
    val rebuilt = s"$base/rebuilt"
    DsirIndex.buildIndex(spark, docs.filter(col("doc_id") =!= 3L), rebuilt)
    def totals(d: String) = DsirIndex.bucketTotals(spark, d)
      .collect().map(_.toSeq).toSet
    DsirIndex.deleteFromIndex(spark, full, docs.filter(col("doc_id") === 3L))
    assert(totals(full) === totals(rebuilt))
    // served votes match the never-saw-it store
    val probe = Seq((10L, "alpha gamma")).toDF("doc_id", "text")
    def score(d: String) = DsirIndex.scoreDocs(spark, probe, d)
      .collect().map(_.toSeq).toSet
    assert(score(full) === score(rebuilt))
    // shadowed re-append, then the durable apply, then normal re-insert
    DsirIndex.appendToIndex(spark, full, docs.filter(col("doc_id") === 3L))
    assert(totals(full) === totals(rebuilt))
    DsirIndex.compact(spark, full)
    assert(totals(full) === totals(rebuilt))
    assert(!new java.io.File(s"$full/dels.parquet").exists())
    DsirIndex.appendToIndex(spark, full, docs.filter(col("doc_id") === 3L))
    val restored = s"$base/restored"
    DsirIndex.buildIndex(spark, docs, restored)
    assert(totals(full) === totals(restored))
  }

  // --- append crash window, every count family ------------------------------

  /** One count family as the crash-window case drives it: its counter
    * tables, a corpus whose doc 3 is the appended batch, its public
    * lifecycle, and its served totals. */
  private case class CountFamily(
      name: String, counterTables: Seq[String], corpus: () => DataFrame,
      build: (DataFrame, String) => Unit,
      append: (String, DataFrame) => Unit,
      compact: String => Unit,
      resident: String => DataFrame,
      totals: String => Set[Seq[Any]])

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  // doc_id % 5 != 0: all three in the classifier's train split
  private def clfDocs = Seq(
    (1L, "en", "alpha beta alpha"),
    (2L, "de", "gamma delta"),
    (3L, "en", "alpha epsilon")).toDF("doc_id", "lang", "text")

  private def dsirDocs = Seq(
    (1L, "alpha beta alpha", "en"),
    (2L, "gamma delta", "de"),
    (3L, "epsilon zeta", "en")).toDF("doc_id", "text", "lang")

  // r1..r8 occurs once in the resident corpus and once in the batch (a
  // duplicate only when the batch lands); c0 r1..r7 occurs only in the
  // batch (a duplicate only if the batch lands twice)
  private def spanDocs = Seq(
    (1L, "r1 r2 r3 r4 r5 r6 r7 r8 a1 a2"),
    (2L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b1 b2 b3 b4 b5 b6 b7 b8 b9"),
    (3L, "c0 r1 r2 r3 r4 r5 r6 r7 r8 c1")).toDF("doc_id", "text")

  private val countFamilies = Seq(
    CountFamily("LmIndex", Seq("pairs.parquet", "prefix.parquet"), () => lmCorpus,
      (docs, d) => LmIndex.buildModel(spark, docs, d),
      (d, b) => LmIndex.appendToModel(spark, d, b),
      d => LmIndex.compact(spark, d),
      d => LmIndex.residentDocIds(spark, d),
      d => rowSet(LmIndex.pairTotals(spark, d)) ++ rowSet(LmIndex.prefixTotals(spark, d))),
    CountFamily("SpanIndex", Seq("grams.parquet"), () => spanDocs,
      (docs, d) => SpanIndex.buildIndex(spark, docs, d),
      (d, b) => SpanIndex.appendToIndex(spark, d, b),
      d => SpanIndex.compact(spark, d),
      d => SpanIndex.residentDocIds(spark, d),
      d => rowSet(SpanIndex.dupGrams(spark, d))),
    CountFamily("ClassifyIndex", Seq("counts.parquet"), () => clfDocs,
      (docs, d) => ClassifyIndex.buildModel(spark, docs, d),
      (d, b) => ClassifyIndex.appendToModel(spark, d, b),
      d => ClassifyIndex.compact(spark, d),
      d => ClassifyIndex.residentDocIds(spark, d),
      d => rowSet(ClassifyIndex.modelCounts(spark, d))),
    CountFamily("DsirIndex", Seq("buckets.parquet"), () => dsirDocs,
      (docs, d) => DsirIndex.buildIndex(spark, docs, d),
      (d, b) => DsirIndex.appendToIndex(spark, d, b),
      d => DsirIndex.compact(spark, d),
      d => DsirIndex.residentDocIds(spark, d),
      d => rowSet(DsirIndex.bucketTotals(spark, d))))

  for (f <- countFamilies)
    test(s"${f.name}: append crash window (counters without their ledger twin) " +
        "neither skews reads nor double-counts on replay; a compact in the " +
        "window reconciles the residue instead of folding it") {
      val base = tmp(s"graft-crash-${f.name}")
      val idx = s"$base/idx"
      val batch = f.corpus().filter(col("doc_id") === 3L)
      f.build(f.corpus().filter(col("doc_id") =!= 3L), idx)
      val before = f.totals(idx)
      val residentBefore = rowSet(f.resident(idx))
      f.append(idx, batch)
      // simulate the crash BETWEEN the counter renames and the ledger
      // rename: counter epoch=1 committed, docs epoch=1 absent
      val ledger = new org.apache.hadoop.fs.Path(s"$idx/docs.parquet/epoch=1")
      ledger.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ledger, true)
      for (t <- f.counterTables)
        assert(new java.io.File(s"$idx/$t/epoch=1").exists(), s"$t residue")
      // reads skip the uncommitted residue
      assert(f.totals(idx) === before)
      assert(rowSet(f.resident(idx)) === residentBefore)
      // a compact in the window must NOT fold the residue into epoch=0
      f.compact(idx)
      assert(f.totals(idx) === before)
      // the replayed batch lands exactly once
      f.append(idx, batch)
      val oneShot = s"$base/oneshot"
      f.build(f.corpus(), oneShot)
      assert(f.totals(oneShot) !== before, "the batch must move the served counts")
      assert(f.totals(idx) === f.totals(oneShot))
      assert(rowSet(f.resident(idx)) === rowSet(f.resident(oneShot)))
    }
}
