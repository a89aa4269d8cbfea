package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bag-of-words classification over a PERSISTED model — the production
  * twin of the inline `q_classify_freq` (which re-trains on every query):
  * at 100 TB the token×class counts are trained ONCE, maintained by
  * O(batch) appends as labeled data arrives, and inference reads the
  * model — never re-aggregates the training corpus. Sixth member of the
  * persisted-index family, and like the LM/span families its state is a
  * single ADDITIVE counts table: class totals and the vocabulary size
  * (the smoothing denominators) derive from it at read time, so
  * `append ≡ rebuild` holds by arithmetic with no cap corrections.
  *
  * Layout under `modelDir` (a [[CountStore]]):
  *  - `counts.parquet/epoch=K`: (word, lang, c) — train-split token
  *    counts of the epoch's documents
  *  - `docs.parquet/epoch=K`:  (doc_id) — membership ledger (ALL docs of
  *    the batch, so replayed batches are no-ops even if they carried only
  *    holdout docs)
  */
object ClassifyIndex {

  private val Counts = CountTable("counts.parquet", Seq("word", "lang"), Seq("c"))
  private val store =
    new CountStore("classify", Seq(Counts), docs => Seq(ClassifyOps.trainCounts(docs)))

  /** Train (overwrite) the model as epoch 0. */
  def buildModel(spark: SparkSession, docs: DataFrame, modelDir: String): Unit =
    store.build(spark, docs, modelDir)

  /** Fold a batch of labeled documents into the model: O(batch) work;
    * readers sum counts across epochs, so the result is EXACTLY the
    * rebuild. Caller dedupes batches against [[residentDocIds]]. */
  def appendToModel(spark: SparkSession, modelDir: String, batch: DataFrame): Unit =
    store.append(spark, modelDir, batch)

  /** Doc_ids already folded into the model — pending deletions excluded. */
  def residentDocIds(spark: SparkSession, modelDir: String): DataFrame =
    store.residentDocIds(spark, modelDir)

  /** Takedown: subtract the victim documents' own train-split token
    * counts as a negative epoch ([[NegEpochs]]); needs the doc ROWS, the
    * counter table is not doc-attributed. A holdout-split victim
    * contributes zero counts but still leaves the ledger. O(victims). */
  def deleteFromModel(spark: SparkSession, modelDir: String, docRows: DataFrame): Unit =
    store.delete(spark, modelDir, docRows)

  /** Fold all epochs into one ([[CountStore.compact]]). */
  def compact(spark: SparkSession, modelDir: String): Unit =
    store.compact(spark, modelDir)

  /** The served counts table: summed across ALL epochs, net of committed
    * deletions — every smoothing denominator downstream derives from
    * this one aggregate. */
  def modelCounts(spark: SparkSession, modelDir: String): DataFrame =
    store.totals(spark, modelDir, Counts)

  /** Classify the holdout split of `docs` against the persisted model:
    * the q_classify_freq output shape, training corpus never re-read. */
  def scoreDocs(spark: SparkSession, docs: DataFrame, modelDir: String): DataFrame =
    ClassifyOps.scoreAgainst(docs, modelCounts(spark, modelDir))

  // --- q_classify_freq_indexed: the persisted lane on the oracle gate ---
  private def modelDirFor(dir: String): String = {
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "clf-v1"))
    StoreRoot.dir(s"graft-clf-model-$key")
  }

  /** Build-if-absent against the corpus at `dir`; returns the model dir.
    * Shared by the scoring lane and the indexed curation funnel
    * ([[CurationFunnel]]). */
  private[operators] def ensureModel(spark: SparkSession, dir: String): String = {
    val modelDir = modelDirFor(dir)
    if (!StoreRoot.exists(spark, s"$modelDir/counts.parquet"))
      buildModel(spark, Tables.table(spark, dir, "documents"), modelDir)
    modelDir
  }

  private def qClassifyIndexed(spark: SparkSession, dir: String): DataFrame =
    scoreDocs(spark, Tables.table(spark, dir, "documents"),
      ensureModel(spark, dir))

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_classify_freq_indexed", qClassifyIndexed, Some(ClassifyOps.oracleSql)))
}
