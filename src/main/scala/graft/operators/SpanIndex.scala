package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-substring detection over a PERSISTED gram-count index — the
  * production twin of the inline `q_substring_dedup` (which re-counts
  * every corpus window on every query): at 100 TB the W-token window
  * statistics are built ONCE, maintained by O(batch) appends as the
  * corpus grows, and scoring re-enumerates only the scored documents'
  * own windows — never re-aggregates the corpus. Fifth member of the
  * persisted-index family ([[IncrementalDedup]] shingles, [[ClusterIndex]],
  * [[AnnIndex]] bands, [[LmIndex]] bigram counts), and like the LM model
  * its payload is ADDITIVE — readers sum counts across epochs BEFORE the
  * ≥2 duplicate filter, so a window whose occurrences straddle two
  * batches is still flagged, and `append ≡ rebuild` holds by arithmetic.
  *
  * Layout under `indexDir` (a [[CountStore]]: epoch-partitioned,
  * single-writer, dot-prefixed staging, one rename per table per
  * publish — a crashed writer leaves only an invisible tmp):
  *  - `grams.parquet/epoch=K`: (gh1, gh2, cnt) — copy-weighted window
  *    counts of the epoch's documents (16-byte double-poly gram identity)
  *  - `docs.parquet/epoch=K`:  (doc_id) — membership ledger, the
  *    streaming lane's replay-safe anti-join target
  */
object SpanIndex {

  private val Grams = CountTable("grams.parquet", Seq("gh1", "gh2"), Seq("cnt"))
  private val store =
    new CountStore("span", Seq(Grams), docs => Seq(SpanDedup.gramCounts(docs)))

  /** Build (overwrite) the index as epoch 0. */
  def buildIndex(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    store.build(spark, docs, indexDir)

  /** Fold a batch of new documents into the index: O(batch) work — the
    * batch's own window counts land as a fresh epoch. Readers sum across
    * epochs before the duplicate filter, so the result is EXACTLY the
    * rebuild (addition is the whole merge). Caller dedupes batches
    * against [[residentDocIds]]. */
  def appendToIndex(spark: SparkSession, indexDir: String, batch: DataFrame): Unit =
    store.append(spark, indexDir, batch)

  /** Doc_ids already folded into the index (the streaming anti-join
    * target) — pending deletions excluded. */
  def residentDocIds(spark: SparkSession, indexDir: String): DataFrame =
    store.residentDocIds(spark, indexDir)

  /** Takedown: subtract the victim documents' own copy-weighted window
    * counts as a negative epoch ([[NegEpochs]]); needs the doc ROWS, the
    * gram table is not doc-attributed. A window duplicated ONLY because
    * of the victim drops below the ≥2 filter immediately — the score a
    * rebuild without the doc produces. */
  def deleteFromIndex(spark: SparkSession, indexDir: String, docRows: DataFrame): Unit =
    store.delete(spark, indexDir, docRows)

  /** Fold all epochs into one ([[CountStore.compact]]). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)

  /** The duplicated-gram set served by the index: counts summed across
    * ALL epochs (net of committed deletions), then filtered — never
    * per-epoch. */
  def dupGrams(spark: SparkSession, indexDir: String): DataFrame =
    store.totals(spark, indexDir, Grams)
      .filter(col("cnt") >= 2)
      .select(col("gh1"), col("gh2"))

  /** Span-stat the given documents against the persisted index: the
    * q_substring_dedup output shape, with the corpus-wide count shuffle
    * replaced by an index read. */
  def scoreDocs(spark: SparkSession, docs: DataFrame, indexDir: String): DataFrame =
    SpanDedup.spansAgainst(docs, dupGrams(spark, indexDir))

  // --- q_substring_dedup_indexed: the persisted lane on the oracle gate --
  // Index built lazily on first use, keyed by the documents parquet's
  // identity — repeat runs (the production cadence) pay only scoring.
  // Built from and scoring the same corpus, so it rides
  // q_substring_dedup's oracle unchanged.
  private def indexDirFor(dir: String): String = {
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "span-v1"))
    StoreRoot.dir(s"graft-span-index-$key")
  }

  private def qSpanIndexed(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = indexDirFor(dir)
    if (!StoreRoot.exists(spark, s"$indexDir/grams.parquet"))
      buildIndex(spark, Tables.table(spark, dir, "documents"), indexDir)
    scoreDocs(spark, Tables.table(spark, dir, "documents"), indexDir)
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_substring_dedup_indexed", qSpanIndexed, Some(SpanDedup.oracleSql)))
}
