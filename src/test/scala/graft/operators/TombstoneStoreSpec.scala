package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The [[TombstoneStore]] families under the [[EpochLedger]] commit
  * protocol: every family runs the append crash window (tables published,
  * ledger rename lost), and the replay must land the batch exactly once —
  * served rows equal to a one-shot build, no table epoch the ledger
  * lacks, and a compact that keeps the rows. Also pins the Eval write
  * invariant its single-epoch read relies on. */
class TombstoneStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  // two 20-token runs: 1, 3 and 5 share one, 2 and 4 the other, so the
  // winnow matches straddle the build/append boundary; doc_ids ascend
  // per source, so in-order batches pack like the one-shot scan
  private val run1 = (1 to 20).map(i => s"r$i").mkString(" ")
  private val run2 = (1 to 20).map(i => s"s$i").mkString(" ")
  private def corpus = Seq(
    (1L, "s0", s"$run1 a1 a2"),
    (2L, "s1", s"$run2 b1 b2 b3"),
    (3L, "s0", s"$run1 c1"),
    (4L, "s1", s"$run2 d1 d2 d3 d4"),
    (5L, "s0", s"$run1 e1 e2 e3")).toDF("doc_id", "source", "text")

  private def docs(lo: Long, hi: Long) =
    corpus.filter(col("doc_id") >= lo && col("doc_id") <= hi)

  /** One tombstone family as the crash-window case drives it: its
    * non-ledger tables, its public lifecycle, and its served rows. */
  private case class Family(
      name: String, tables: Seq[String],
      build: (DataFrame, String) => Unit,
      append: (String, DataFrame) => Unit,
      compact: String => Unit,
      served: String => Set[Seq[Any]])

  private val families = Seq(
    Family("PackIndex", Seq("manifest.parquet", "base.parquet"),
      (d, dir) => PackIndex.buildIndex(spark, d, dir),
      (dir, b) => PackIndex.appendToIndex(spark, dir, b),
      dir => PackIndex.compact(spark, dir),
      dir => rowSet(PackIndex.chunksFromIndex(spark, dir))),
    Family("EvalIndex", Seq("shingles.parquet"),
      (d, dir) => EvalIndex.buildIndex(spark, d, dir),
      (dir, b) => EvalIndex.appendToIndex(spark, dir, b),
      dir => EvalIndex.compact(spark, dir),
      dir => rowSet(EvalIndex.docShingles(spark, dir))),
    Family("WinnowIndex", Seq("members.parquet", "fps.parquet"),
      (d, dir) => WinnowIndex.buildIndex(spark, d, dir),
      (dir, b) => WinnowIndex.appendToIndex(spark, dir, b),
      dir => WinnowIndex.compact(spark, dir),
      dir => rowSet(WinnowIndex.matchesFromIndex(spark, dir))),
    Family("SearchIndex", Seq("postings.parquet", "term_df.parquet"),
      (d, dir) => SearchIndex.buildIndex(spark, d, dir),
      (dir, b) => SearchIndex.appendToIndex(spark, dir, b),
      dir => SearchIndex.compact(spark, dir),
      dir => rowSet(SearchIndex.bm25FromIndex(spark, dir, Seq("r1", "s1", "c1"), 10))))

  for (f <- families)
    test(s"${f.name}: append crash window (tables without their ledger twin) " +
        "— the replay reconciles the residue, serves the one-shot rows, " +
        "commits every table epoch, and compacts to the same rows") {
      val base = tmp(s"graft-tscrash-${f.name}")
      val idx = s"$base/idx"
      f.build(docs(1L, 2L), idx)
      f.append(idx, docs(3L, 4L))
      // the crash BETWEEN the table renames and the ledger rename
      val ledger = new org.apache.hadoop.fs.Path(s"$idx/docs.parquet/epoch=1")
      ledger.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ledger, true)
      for (t <- f.tables)
        assert(new java.io.File(s"$idx/$t/epoch=1").exists(), s"$t residue")
      // the at-least-once replay, then one more batch
      f.append(idx, docs(3L, 4L))
      f.append(idx, docs(5L, 5L))

      val oneShot = s"$base/oneshot"
      f.build(corpus, oneShot)
      val want = f.served(oneShot)
      assert(want.nonEmpty)
      assert(f.served(idx) === want)
      val committed = EpochLedger.epochs(spark, s"$idx/docs.parquet").toSet
      assert(committed === Set(0, 1, 2))
      for (t <- f.tables)
        assert(EpochLedger.epochs(spark, s"$idx/$t").toSet.subsetOf(committed),
          s"$t holds an epoch the ledger lacks")
      f.compact(idx)
      assert(f.served(idx) === want)
    }

  for (f <- families)
    test(s"${f.name}: between the crash and the replay, reads serve the " +
        "pre-append store and fsck reports the residue; the replay clears it") {
      val idx = tmp(s"graft-tsresidue-${f.name}") + "/idx"
      f.build(docs(1L, 2L), idx)
      val before = f.served(idx)
      f.append(idx, docs(3L, 4L))
      assert(f.served(idx) !== before)
      val ledger = new org.apache.hadoop.fs.Path(s"$idx/docs.parquet/epoch=1")
      ledger.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ledger, true)
      assert(f.served(idx) === before)
      val orphans = IndexFsck.fsck(spark, idx).filter(_.check == "table_orphans")
      assert(orphans.map(_.status) === Seq("warn"))
      for (t <- f.tables) assert(orphans.head.detail.contains(s"$t/epoch=1"))
      f.append(idx, docs(3L, 4L))
      assert(!IndexFsck.fsck(spark, idx).exists(_.check == "table_orphans"))
    }

  test("EvalIndex: a build batch carrying a doc twice serves no duplicate " +
      "docShingles rows (the single-epoch read holds by construction)") {
    val dir = tmp("graft-evaldup") + "/idx"
    val twice = Seq((1L, "a b c d"), (1L, "a b c d"), (2L, "p q r s"))
      .toDF("doc_id", "text")
    EvalIndex.buildIndex(spark, twice, dir)
    val rows = EvalIndex.docShingles(spark, dir).collect().map(_.toSeq).toSeq
    assert(rows.length === rows.distinct.length)
    assert(rows.toSet === Set(Seq(1L, "a b c"), Seq(1L, "b c d"),
      Seq(2L, "p q r"), Seq(2L, "q r s")))
  }
}
