package graft.operators

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

/** Spark compiles each distinct generated class once and keeps it in a
  * JVM-wide LRU (`spark.sql.codegen.cache.maxEntries`). One store cycle —
  * build, append, serve, delete, compact and serve again over
  * SearchIndex, SpanIndex and WinnowIndex, the benchmark's churn mix —
  * uses more classes than Spark's default cap of 100, so with the default
  * every cycle evicts and recompiles most of them. With the cap from
  * [[Tables.RequiredConf]] a second cycle of the same shape on fresh data
  * compiles (almost) nothing. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val MaxEntries = "spark.sql.codegen.cache.maxEntries"

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** `n` documents from `base`: every text carries the search terms, and
    * documents pair up on a shared 20-token run so the Span and Winnow
    * serves have duplicates to report. */
  private def docs(base: Long, n: Int): DataFrame =
    (0 until n).map { i =>
      val id = base + i
      val run = (1 to 20).map(t => s"r${base + i / 2}w$t").mkString(" ")
      id -> s"spark window merge $run tail${id}a tail${id}b"
    }.toDF("doc_id", "text")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One churn cycle on a fresh store set under `root`; returns the
    * number of classes compiled while it ran. */
  private def cycle(root: String, base: Long): Long = {
    val search = s"$root/search"
    val span = s"$root/span"
    val winnow = s"$root/winnow"
    val initial = docs(base, 40)
    val batch = docs(base + 100, 20)
    val victims = docs(base, 6)
    def serve(): Unit = {
      noop(SearchIndex.bm25FromIndex(spark, search, Seq("spark", "window", "merge"), 20))
      noop(SpanIndex.dupGrams(spark, span))
      noop(WinnowIndex.matchesFromIndex(spark, winnow))
    }
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SearchIndex.buildIndex(spark, initial, search)
    SpanIndex.buildIndex(spark, initial, span)
    WinnowIndex.buildIndex(spark, initial, winnow)
    SearchIndex.appendToIndex(spark, search, batch)
    SpanIndex.appendToIndex(spark, span, batch)
    WinnowIndex.appendToIndex(spark, winnow, batch)
    serve()
    SearchIndex.deleteFromIndex(spark, search, victims.select(col("doc_id")))
    SpanIndex.deleteFromIndex(spark, span, victims)
    WinnowIndex.deleteFromIndex(spark, winnow, victims.select(col("doc_id")))
    SearchIndex.compact(spark, search)
    SpanIndex.compact(spark, span)
    WinnowIndex.compact(spark, winnow)
    serve()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session carries the codegen cache cap from Tables.RequiredConf") {
    assert(Tables.RequiredConf.contains(MaxEntries))
    assert(spark.conf.get(MaxEntries) === Tables.RequiredConf(MaxEntries))
  }

  test("a second store cycle on fresh data reuses the first cycle's " +
      "generated classes (under a quarter recompiled)") {
    // start from an empty cache, so the first cycle compiles its whole
    // working set whichever suites ran in this JVM before
    // (the cache and its class are private to Spark, hence reflection)
    val getCache = CodeGenerator.getClass.getDeclaredMethod("cache")
    getCache.setAccessible(true)
    val cache = getCache.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = cycle(tmp("graft-codegen-warm"), 1000L)
    val second = cycle(tmp("graft-codegen-reuse"), 5000L)
    info(s"first cycle compiled $first classes, second $second")
    assert(first > 100, s"the cycle compiled $first classes: no more than " +
      "Spark's default cap, so it would not show an undersized cache")
    // the second cycle still compiles 8–14 classes (3–5%): AQE numbers
    // the whole-stage codegen stages as it re-plans, which follows the
    // order its shuffle stages finish, and the number is part of the
    // generated class's source. Evicted classes show as ~95% (288 of
    // 298 at Spark's default cap)
    assert(second * 4 < first,
      s"second cycle compiled $second classes, first $first")
  }
}
