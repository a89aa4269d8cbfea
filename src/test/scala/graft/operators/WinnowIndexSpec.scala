package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{QueryRegistry, SparkTestSession}

/** The persisted-index discipline for the winnowed-fingerprint family:
  * append ≡ rebuild (including a match pair straddling the build/append
  * boundary, a fingerprint crossing the READ-time df-cap because of
  * appended texts, and a recurring text whose representative MIN-merges
  * across epochs), crashed-staging invisibility, streamed ≡ one-shot,
  * compaction identity, and indexed ≡ inline equality. */
class WinnowIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def collectMatches(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_shared"), r.getAs[Long]("overlap_permille")))
      .toSet

  // 50 texts share a 15-token prefix run — each pair of them matches.
  // Appending 3 more such texts pushes the common fingerprints' df to 53,
  // over the cap of 50: the whole clique must VANISH at read time.
  private val common =
    (1 to 15).map(i => s"cm$i").mkString(" ")
  private val cliqueInitial: Seq[(Long, String)] =
    (10L to 59L).map(i => i -> s"$common uq${i}a uq${i}b")
  private val cliqueAppend: Seq[(Long, String)] =
    (60L to 62L).map(i => i -> s"$common uq${i}a uq${i}b")

  // an independent pair on a DIFFERENT run — survives the cap crossing
  private val survRun = (1 to 20).map(i => s"sv$i").mkString(" ")
  private val survivors: Seq[(Long, String)] = Seq(
    200L -> s"$survRun pa pb", 201L -> s"$survRun qa qb")

  // a pair whose two texts straddle the build/append boundary
  private val stRun = (1 to 20).map(i => s"st$i").mkString(" ")
  private val straddleOld = 300L -> s"$stRun xa xb"
  private val straddleNew = 301L -> s"$stRun ya yb"

  // the same text under two doc_ids, one per epoch: rep must MIN-merge
  private val repRun = (1 to 20).map(i => s"rp$i").mkString(" ")
  private val repText = s"$repRun za zb"
  private val repOld = 400L -> repText
  private val repPartner = 500L -> s"$repRun wa wb"
  private val repNew = 5L -> repText

  private val initial = cliqueInitial ++ survivors ++ Seq(straddleOld, repOld, repPartner)
  private val appended = cliqueAppend ++ Seq(straddleNew, repNew)

  test("append ≡ rebuild: straddle pair, df-cap crossing, rep min-merge") {
    val full = docsDf(initial ++ appended)
    val rebuilt = tmpDir("graft-winnow-rebuild")
    val grown = tmpDir("graft-winnow-grown")
    WinnowIndex.buildIndex(spark, full, rebuilt)
    WinnowIndex.buildIndex(spark, docsDf(initial), grown)

    // BEFORE the append: the 50-text clique is under the cap and reported
    val before = collectMatches(WinnowIndex.matchesFromIndex(spark, grown))
    assert(before.exists(m => m._1 === 10L && m._2 === 11L), "clique pair pre-append")
    assert(before.exists(m => m._1 === 200L && m._2 === 201L))
    assert(before.exists(m => m._1 === 400L && m._2 === 500L))
    assert(!before.exists(m => m._2 === 301L), "straddle partner not yet present")

    WinnowIndex.appendToIndex(spark, grown, docsDf(appended))
    val a = collectMatches(WinnowIndex.matchesFromIndex(spark, rebuilt))
    val b = collectMatches(WinnowIndex.matchesFromIndex(spark, grown))
    assert(a === b)

    // df-cap crossed at read time: every clique pair is gone
    assert(!b.exists(m => m._1 >= 10L && m._1 <= 62L && m._2 <= 62L),
      "capped clique must vanish")
    // the independent pair survives (cap is per-fingerprint)
    assert(b.exists(m => m._1 === 200L && m._2 === 201L))
    // the straddling pair is found only via the epoch merge
    assert(b.exists(m => m._1 === 300L && m._2 === 301L))
    // the recurring text's representative MIN-merged to the newer, lower id
    assert(b.exists(m => m._1 === 5L && m._2 === 500L))
    assert(!b.exists(m => m._1 === 400L || m._2 === 400L),
      "old representative replaced by min-merge")
  }

  test("membership ledger accumulates across epochs") {
    val dir = tmpDir("graft-winnow-ledger")
    WinnowIndex.buildIndex(spark, docsDf(Seq(straddleOld, repOld)), dir)
    WinnowIndex.appendToIndex(spark, dir, docsDf(Seq(straddleNew)))
    val ids = WinnowIndex.residentDocIds(spark, dir).collect().map(_.getLong(0)).toSet
    assert(ids === Set(300L, 301L, 400L))
  }

  test("crashed staging dirs are invisible to readers") {
    val dir = tmpDir("graft-winnow-crash")
    WinnowIndex.buildIndex(spark, docsDf(survivors ++ Seq(straddleOld, straddleNew)), dir)
    val before = collectMatches(WinnowIndex.matchesFromIndex(spark, dir))
    val junk = new java.io.File(s"$dir/fps.parquet/.epoch-99.tmp")
    assert(junk.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(junk.toString, "part-junk.parquet"),
      Array[Byte](1, 2, 3))
    val after = collectMatches(WinnowIndex.matchesFromIndex(spark, dir))
    assert(after === before)
  }

  test("streamed maintenance equals a one-shot build; replays are no-ops") {
    implicit val sql = spark.sqlContext
    val all = survivors ++ Seq(straddleOld, repOld, repPartner, straddleNew, repNew)
    val indexDir = tmpDir("graft-winnow-stream") + "/i"
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.winnowIndexMaintenanceStream(
      spark, input.toDF().toDF("doc_id", "text"), indexDir)
    try {
      input.addData(survivors(0), straddleOld, repOld)
      q.processAllAvailable()
      input.addData(survivors(1), repPartner, survivors(0)) // re-delivery skipped
      q.processAllAvailable()
      input.addData(straddleNew, repNew)
      q.processAllAvailable()
    } finally q.stop()

    val batchDir = tmpDir("graft-winnow-batch") + "/i"
    WinnowIndex.buildIndex(spark, docsDf(all), batchDir)
    assert(collectMatches(WinnowIndex.matchesFromIndex(spark, indexDir)) ===
      collectMatches(WinnowIndex.matchesFromIndex(spark, batchDir)))

    def epochs = new java.io.File(s"$indexDir/fps.parquet").listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).toSet
    val before = epochs
    graft.streaming.DocStream.processWinnowIndexBatch(
      spark, indexDir, docsDf(Seq(survivors(1))))
    assert(epochs === before)
  }

  test("matchBatch reports exactly the full pairs touching the batch") {
    val dir = tmpDir("graft-winnow-incr")
    WinnowIndex.buildIndex(spark, docsDf(initial), dir)
    val got = collectMatches(
      WinnowIndex.matchBatch(spark, dir, docsDf(appended)))
    // full-recompute reference, restricted to pairs touching a batch rep
    val full = tmpDir("graft-winnow-incr-full")
    WinnowIndex.buildIndex(spark, docsDf(initial ++ appended), full)
    val fullAll = collectMatches(WinnowIndex.matchesFromIndex(spark, full))
    // batch reps after min-merge: 301 (straddleNew), 5 (repNew's text)
    val expected = fullAll.filter(m => Set(m._1, m._2).exists(Set(301L, 5L)))
    assert(got === expected)
    // the straddle pair and the re-repped pair, and nothing resident-only
    assert(got.map(m => (m._1, m._2)) === Set((300L, 301L), (5L, 500L)))
    assert(!got.exists(m => m._1 === 200L), "resident-resident pair excluded")
  }

  test("winnowMatchStream reports each pair once, when its later endpoint arrives") {
    implicit val sql = spark.sqlContext
    val indexDir = tmpDir("graft-winnow-mstream") + "/i"
    val matchesDir = tmpDir("graft-winnow-mstream") + "/m"
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.winnowMatchStream(
      spark, input.toDF().toDF("doc_id", "text"), indexDir, matchesDir)
    try {
      input.addData(survivors(0), straddleOld) // no pairs yet
      q.processAllAvailable()
      input.addData(survivors(1), survivors(0)) // re-delivery ignored
      q.processAllAvailable()
      input.addData(straddleNew, repOld, repPartner) // cross-batch + in-batch
      q.processAllAvailable()
    } finally q.stop()
    val reported = collectMatches(spark.read.parquet(matchesDir))
    assert(reported.map(m => (m._1, m._2)) ===
      Set((200L, 201L), (300L, 301L), (400L, 500L)))
    // cumulative eager log == the one-shot report on the final store here
    // (no cap crossing in this fixture)
    assert(reported === collectMatches(WinnowIndex.matchesFromIndex(spark, indexDir)))
  }

  test("re-arrived identical text under a new doc_id reports nothing new") {
    implicit val sql = spark.sqlContext
    val indexDir = tmpDir("graft-winnow-rearrive") + "/i"
    val matchesDir = tmpDir("graft-winnow-rearrive") + "/m"
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.winnowMatchStream(
      spark, input.toDF().toDF("doc_id", "text"), indexDir, matchesDir)
    try {
      input.addData(repOld, repPartner)
      q.processAllAvailable()
      input.addData(repNew) // same text as repOld, NEW (lower) doc_id
      q.processAllAvailable()
    } finally q.stop()
    // (400, 500) was reported when repPartner arrived; repNew's text is
    // already fingerprinted, so its pairs are NOT re-reported under the
    // min-merged rep 5, and the store keeps serving rep 400
    val reported = collectMatches(spark.read.parquet(matchesDir))
    assert(reported.map(m => (m._1, m._2)) === Set((400L, 500L)))
    assert(collectMatches(WinnowIndex.matchesFromIndex(spark, indexDir))
      .map(m => (m._1, m._2)) === Set((400L, 500L)))
    // doc 5 was never folded, and replaying it stays a no-op
    graft.streaming.DocStream.processWinnowMatchBatch(
      spark, indexDir, matchesDir, docsDf(Seq(repNew)))
    assert(collectMatches(spark.read.parquet(matchesDir))
      .map(m => (m._1, m._2)) === Set((400L, 500L)))
  }

  test("compaction preserves reads and collapses to one epoch") {
    val dir = tmpDir("graft-winnow-compact")
    WinnowIndex.buildIndex(spark, docsDf(Seq(straddleOld, repOld, repPartner)), dir)
    WinnowIndex.appendToIndex(spark, dir, docsDf(Seq(straddleNew)))
    WinnowIndex.appendToIndex(spark, dir, docsDf(Seq(repNew)))
    val before = collectMatches(WinnowIndex.matchesFromIndex(spark, dir))
    WinnowIndex.compact(spark, dir)
    assert(collectMatches(WinnowIndex.matchesFromIndex(spark, dir)) === before)
    val epochs = new java.io.File(s"$dir/fps.parquet").listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).toSet
    assert(epochs === Set("epoch=0"))
    val ids = WinnowIndex.residentDocIds(spark, dir).collect().map(_.getLong(0)).toSet
    assert(ids === Set(300L, 301L, 400L, 500L, 5L))
  }

  test("a pre-v3 (members-less) store fails loudly on append/delete/compact " +
      "instead of silently folding legacy texts away; the in-flight crash " +
      "window and its replay repair stay tolerated") {
    // legacy store: multi-epoch fps with NO member rows at all
    val legacy = tmpDir("graft-winnow-legacy") + "/idx"
    WinnowIndex.buildIndex(spark, docsDf(survivors), legacy)
    WinnowIndex.appendToIndex(spark, legacy, docsDf(Seq(straddleOld, straddleNew)))
    val membersDir = new org.apache.hadoop.fs.Path(s"$legacy/members.parquet")
    val fs = membersDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(membersDir, true)
    for (op <- Seq[() => Unit](
        () => WinnowIndex.appendToIndex(spark, legacy, docsDf(Seq(repOld))),
        () => WinnowIndex.deleteFromIndex(spark, legacy,
          Seq(200L).toDF("doc_id")),
        () => WinnowIndex.compact(spark, legacy))) {
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage.contains("pre-v3") &&
        ex.getMessage.contains("buildIndex"))
    }

    // the SINGLE-EPOCH legacy store: fps+docs committed, members never
    // existed — the tail exemption must NOT let it through (its docs twin
    // is committed, so it is not a crash window); deletion would brick
    // reads on the missing members join
    val single = tmpDir("graft-winnow-single") + "/idx"
    WinnowIndex.buildIndex(spark, docsDf(survivors), single)
    fs.delete(new org.apache.hadoop.fs.Path(s"$single/members.parquet"), true)
    val exS = intercept[IllegalStateException] {
      WinnowIndex.deleteFromIndex(spark, single, Seq(200L).toDF("doc_id"))
    }
    assert(exS.getMessage.contains("pre-v3"))

    // the crash window: fps epoch published, members+docs renames lost —
    // the TAIL orphan is tolerated, the replayed batch repairs it, and
    // afterwards the non-tail orphan counts as covered
    val crashed = tmpDir("graft-winnow-crash") + "/idx"
    WinnowIndex.buildIndex(spark, docsDf(survivors), crashed)
    WinnowIndex.appendToIndex(spark, crashed, docsDf(Seq(straddleOld, straddleNew)))
    for (t <- Seq("members", "docs")) {
      val p = new org.apache.hadoop.fs.Path(s"$crashed/$t.parquet/epoch=1")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // the at-least-once replay (the stream's resident anti-join re-offers
    // the batch: its docs never committed) — must NOT be refused
    WinnowIndex.appendToIndex(spark, crashed, docsDf(Seq(straddleOld, straddleNew)))
    // the replay reconciles the residue and rewrites epoch=1, so build the
    // layout an OLDER replay left by hand: it numbered past the orphan,
    // landing the batch as epoch=2 in every table and leaving fps epoch=1
    // without its members twin
    val cfs = new org.apache.hadoop.fs.Path(crashed).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("members", "docs"))
      assert(cfs.rename(new org.apache.hadoop.fs.Path(s"$crashed/$t.parquet/epoch=1"),
        new org.apache.hadoop.fs.Path(s"$crashed/$t.parquet/epoch=2")))
    org.apache.hadoop.fs.FileUtil.copy(cfs,
      new org.apache.hadoop.fs.Path(s"$crashed/fps.parquet/epoch=1"), cfs,
      new org.apache.hadoop.fs.Path(s"$crashed/fps.parquet/epoch=2"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(WinnowIndex.membersTwinStatus(spark, crashed) === (("crash_window", Seq(1))))
    // now epoch=1 is a non-tail orphan, but its tids are covered — every
    // mutation path stays open and the compacted store equals a rebuild
    WinnowIndex.compact(spark, crashed)
    val rebuilt = tmpDir("graft-winnow-crash-rb") + "/idx"
    WinnowIndex.buildIndex(spark,
      docsDf(survivors ++ Seq(straddleOld, straddleNew)), rebuilt)
    assert(collectMatches(WinnowIndex.matchesFromIndex(spark, crashed))
      === collectMatches(WinnowIndex.matchesFromIndex(spark, rebuilt)))
  }

  test("residentTids skips a batch whose ledger rename was lost, so its " +
      "replay through the match stream is not dropped as known text") {
    val dir = tmpDir("graft-winnow-tids") + "/idx"
    WinnowIndex.buildIndex(spark, docsDf(Seq(straddleOld)), dir)
    val before = WinnowIndex.residentTids(spark, dir).collect().toSet
    WinnowIndex.appendToIndex(spark, dir, docsDf(Seq(straddleNew)))
    val ledger = new org.apache.hadoop.fs.Path(s"$dir/docs.parquet/epoch=1")
    ledger.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ledger, true)
    assert(WinnowIndex.residentTids(spark, dir).collect().toSet === before)
    val matchesDir = tmpDir("graft-winnow-tids-m") + "/matches"
    graft.streaming.DocStream.processWinnowMatchBatch(
      spark, dir, matchesDir, docsDf(Seq(straddleNew)))
    assert(collectMatches(spark.read.parquet(matchesDir)).map(m => (m._1, m._2)) ===
      Set((300L, 301L)))
  }

  test("q_winnow_matches_indexed ≡ inline q_winnow_matches on a parquet corpus") {
    val dir = tmpDir("graft-winnow-parity")
    docsDf(survivors ++ Seq(straddleOld, straddleNew, repOld, repPartner))
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val inline = collectMatches(QueryRegistry.byName("q_winnow_matches").run(spark, dir))
    val indexed = collectMatches(
      QueryRegistry.byName("q_winnow_matches_indexed").run(spark, dir))
    assert(indexed === inline)
    assert(inline.nonEmpty)
  }

  test("pair enumeration emits no self-pair when one (gh, rep) posting is duplicated") {
    // rep 7 is posted twice on both grams: sorted, its two copies are
    // adjacent, and without the ra <> rb guard they pair with each other
    val capped = Seq((1L, 7L, 5L), (1L, 7L, 5L), (1L, 8L, 5L),
      (2L, 7L, 5L), (2L, 7L, 5L), (2L, 8L, 5L)).toDF("gh", "rep", "nfp")
    val pairs = WinnowOps.pairsFrom(capped).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.forall { case (a, b) => a != b }, pairs.mkString(", "))
    assert(pairs.toSet === Set((7L, 8L)))
  }
}
