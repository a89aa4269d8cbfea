package graft.operators

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.hadoop.fs.Path
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, TaskPool}

/** The store write path with its epoch tables staged concurrently
  * ([[EpochLedger.writeEpoch]] over [[TaskPool]]) and the store reads
  * planned without schema-inference jobs ([[StoreRead]]): a failed
  * stage renames nothing and leaves nothing running, the replay lands
  * once, the serve paths plan with zero jobs, and the footer schema is
  * the one `spark.read.parquet` infers. */
class ConcurrentPublishSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def exists(p: String): Boolean = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  private val boom = udf((x: Long) => {
    if (x >= 0) throw new IllegalStateException("staging write failed")
    x
  })
  private val slow = udf((x: Long) => { Thread.sleep(1500); x })

  private val layout = Seq(EpochTable("a.parquet", Nil),
    EpochTable("b.parquet", Nil), EpochTable(EpochLedger.Ledger, Nil))

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(col("id").as("doc_id"))

  private def count(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t").count()

  test("TaskPool waits for every task after a failure, rethrows the first " +
      "in task order, and runs tasks under the caller's job group and " +
      "description") {
    val sc = spark.sparkContext
    val finished = new AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      TaskPool.inParallel(sc, 3)(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(800); finished.set(true) },
        () => throw new IllegalArgumentException("second")))
    }
    assert(finished.get(), "returned before a running task finished")
    assert(ex.getMessage === "first")
    assert(ex.getSuppressed.map(_.getMessage).toSeq === Seq("second"))

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    sc.setJobGroup("pool-group", "pool description")
    try TaskPool.inParallel(sc, 2)(Seq.fill(4)(() => {
      seen.add((sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("spark.job.description")))
      ()
    }))
    finally sc.clearJobGroup()
    assert(seen.size === 4)
    seen.forEach(p => assert(p === (("pool-group", "pool description"))))
  }

  for (pos <- layout.indices)
    test(s"a staging frame failing at position $pos renames no table and " +
        "leaves the ledger unchanged; the replay lands the batch once") {
      val dir = tmp(s"graft-stagefail-$pos") + "/store"
      EpochLedger.build(spark, dir, "spec", layout)(Seq.fill(3)(rows(1, 2)))
      val frames = layout.indices.map(i =>
        if (i == pos) rows(3, 4).select(boom(col("doc_id")).as("doc_id"))
        else rows(3, 4))
      intercept[Exception](EpochLedger.append(spark, dir, "spec", layout)(frames))
      for (t <- layout)
        assert(EpochLedger.epochs(spark, s"$dir/${t.name}") === Seq(0),
          s"${t.name} published an epoch of the failed batch")
      assert(count(dir, EpochLedger.Ledger) === 2)

      EpochLedger.append(spark, dir, "spec", layout)(Seq.fill(3)(rows(3, 4)))
      for (t <- layout) {
        assert(EpochLedger.epochs(spark, s"$dir/${t.name}").toSet === Set(0, 1))
        assert(count(dir, t.name) === 4, s"${t.name} rows")
      }
    }

  test("a failed epoch returns only after every staging write has finished") {
    val dir = tmp("graft-stagewait") + "/store"
    EpochLedger.build(spark, dir, "spec", layout)(Seq.fill(3)(rows(1, 2)))
    intercept[Exception](EpochLedger.append(spark, dir, "spec", layout)(Seq(
      rows(3, 4).select(boom(col("doc_id")).as("doc_id")),
      rows(3, 4).select(slow(col("doc_id")).as("doc_id")),
      rows(3, 4))))
    // the slow table's write committed its (invisible) staging dir before
    // the call returned; nothing of the epoch was renamed
    assert(exists(s"$dir/b.parquet/.epoch-1.tmp/_SUCCESS"))
    assert(exists(s"$dir/${EpochLedger.Ledger}/.epoch-1.tmp/_SUCCESS"))
    for (t <- layout)
      assert(EpochLedger.epochs(spark, s"$dir/${t.name}") === Seq(0))
  }

  // one 20-token run shared by every second doc, so the span and winnow
  // serves have duplicates to report
  private val run = (1 to 20).map(i => s"w$i").mkString(" ")
  private def docs(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, if (i % 2 == 0) s"$run t$i" else s"doc$i alpha beta gamma"))
      .toDF("doc_id", "text")

  test("planning bm25FromIndex, dupGrams and matchesFromIndex on a " +
      "multi-epoch store starts no Spark job") {
    val base = tmp("graft-planjobs")
    val (s, p, w) = (s"$base/search", s"$base/span", s"$base/winnow")
    SearchIndex.buildIndex(spark, docs(1, 6), s)
    SpanIndex.buildIndex(spark, docs(1, 6), p)
    WinnowIndex.buildIndex(spark, docs(1, 6), w)
    SearchIndex.appendToIndex(spark, s, docs(7, 10))
    SpanIndex.appendToIndex(spark, p, docs(7, 10))
    WinnowIndex.appendToIndex(spark, w, docs(7, 10))
    val (plans, jobs) = JobCounter(spark.sparkContext)(Seq(
      SearchIndex.bm25FromIndex(spark, s, Seq("w1", "alpha", "t8"), 5),
      SpanIndex.dupGrams(spark, p),
      WinnowIndex.matchesFromIndex(spark, w)))
    assert(jobs === 0)
    assert(plans.forall(_.count() > 0))
  }

  test("each postings epoch holds one parquet file per tbucket") {
    val dir = tmp("graft-tbucketfiles") + "/search"
    SearchIndex.buildIndex(spark, docs(1, 6), dir)
    SearchIndex.appendToIndex(spark, dir, docs(7, 10))
    for (e <- Seq(0, 1)) {
      val buckets = new java.io.File(s"$dir/postings.parquet/epoch=$e").listFiles()
        .filter(_.getName.startsWith("tbucket="))
      assert(buckets.nonEmpty)
      for (b <- buckets)
        assert(b.listFiles().count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")) === 1, s"epoch=$e/${b.getName}")
    }
  }

  test("the driver-side tbucket equals pmod(xxhash64(term), 64)") {
    val terms = Seq("", "a", "spark", "window", "merge", "ünïcödé", "日本語",
      "w17", "x" * 300, " ", "doc-1_2")
    val want = terms.toDF("term")
      .select(col("term"), pmod(xxhash64(col("term")), lit(64L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (t <- terms) assert(SearchIndex.tbucketOf(t) === want(t), t)
  }

  private def sameSchema(dir: String): Unit = {
    val (df, jobs) = JobCounter(spark.sparkContext)(StoreRead.table(spark, dir))
    assert(jobs === 0)
    assert(df.schema === spark.read.parquet(dir).schema)
  }

  test("the footer schema equals spark.read.parquet's for a partitioned " +
      "table, a table with staging residue, and a v1 docs ledger") {
    val dir = tmp("graft-footer") + "/search"
    SearchIndex.buildIndex(spark, docs(1, 6), dir)
    SearchIndex.appendToIndex(spark, dir, docs(7, 10))
    sameSchema(s"$dir/postings.parquet")
    assert(StoreRead.table(spark, s"$dir/postings.parquet").columns.toSeq ===
      Seq("doc_id", "term", "tf", "epoch", "tbucket"))

    // staging residue of another shape sorts first and must be skipped
    Seq(("x", 1.5)).toDF("other", "shape").write
      .parquet(s"$dir/term_df.parquet/.epoch-2.tmp")
    sameSchema(s"$dir/term_df.parquet")
    assert(!StoreRead.table(spark, s"$dir/term_df.parquet").columns.contains("other"))

    // a v1 ledger: doc_id only, in every epoch
    val v1 = tmp("graft-footer-v1") + "/docs.parquet"
    for (e <- Seq(0, 1)) rows(e * 10, e * 10 + 2).write.parquet(s"$v1/epoch=$e")
    sameSchema(v1)
    assert(StoreRead.table(spark, v1).columns.toSeq === Seq("doc_id", "epoch"))
  }
}
