package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted eval-shingle vocabulary — the decontamination twin of the
  * model stores: at 100 TB the eval suites are a curated, slowly-growing
  * artifact, and re-shingling them on every decontamination pass (the
  * inline `q_decontaminate` shape) re-reads the eval corpus per run.
  * This store shingles each eval document ONCE at ingest and serves the
  * distinct leak vocabulary to every cleaning pass. Twelfth member of
  * the persisted-index family.
  *
  * State is a plain row set (distinct shingles per epoch): append is
  * O(batch) over NEW eval docs only (ledger anti-join), the read-merge
  * is `distinct`, duplicate epochs are invariant by construction, and
  * compaction folds to one epoch ([[TombstoneStore]]). The
  * shingle definition is [[TextOps.evalShinglesOf]] — the SAME builder
  * the inline lane uses, so "what counts as a leak" cannot drift
  * between the batch, indexed, and streaming lanes.
  *
  * Layout under `indexDir` (a [[TombstoneStore]]):
  *  - `shingles.parquet/epoch=K`: (doc_id, shingle) — the epoch's
  *    distinct doc-attributed shingles
  *  - `docs.parquet/epoch=K`:     (doc_id) — replay-safe ledger
  */
object EvalIndex {

  private val store = new TombstoneStore("eval", Seq(
    // v2: shingles carry their contributing doc_id, so a takedown can
    // remove exactly one eval doc's contribution while shingles other
    // eval docs still carry survive (the read distinct()s them away)
    TombstoneTable("shingles.parquet", Nil, Fold.Rows),
    TombstoneTable(EpochLedger.Ledger, Nil, Fold.Rows)),
    // written (doc_id, shingle)-unique, so the single-epoch read in
    // [[docShingles]] holds by construction even for a batch that
    // carries a doc twice
    docs => Seq(TextOps.evalDocShinglesOf(docs).distinct(),
      docs.select(col("doc_id")).distinct()))

  /** Build (overwrite) the vocabulary as epoch 0. */
  def buildIndex(spark: SparkSession, evalDocs: DataFrame, indexDir: String): Unit =
    store.build(spark, evalDocs, indexDir)

  /** Fold a batch of new eval documents in — O(batch); caller dedupes
    * against [[residentDocIds]]. */
  def appendToIndex(spark: SparkSession, indexDir: String, batch: DataFrame): Unit =
    store.append(spark, indexDir, batch)

  /** Eval doc_ids already folded in (the streaming anti-join target) —
    * tombstoned docs stay here until compaction, the family's shadowing
    * semantics (a deleted eval doc re-arriving stays dead). */
  def residentDocIds(spark: SparkSession, indexDir: String): DataFrame =
    store.residentDocIds(spark, indexDir)

  /** Takedown: tombstone the eval doc — O(ids). Its shingle rows vanish
    * from the served vocabulary immediately, but a shingle ANOTHER eval
    * doc also carries survives the doc-attributed anti-join — exactly
    * the vocabulary a rebuild without the doc produces. */
  def deleteFromIndex(spark: SparkSession, indexDir: String, ids: DataFrame): Unit =
    store.delete(spark, indexDir, ids)

  /** Doc-attributed served rows (doc_id, shingle) — committed epochs
    * only ([[StoreRead.committed]]), tombstone-excluded,
    * distinct read-merge, so duplicate epochs and the compaction publish
    * window change nothing. Serves the contamination lane's per-doc
    * totals (round 17) without re-shingling the eval texts per run;
    * [[shingles]] is its projection. */
  def docShingles(spark: SparkSession, indexDir: String): DataFrame = {
    val live = s"$indexDir/shingles.parquet"
    val rows = StoreRead.committed(spark, indexDir, "shingles.parquet")
      .select(col("doc_id"), col("shingle"))
    // single-epoch fast path (round 17, §2.4): each epoch's rows are
    // (doc_id, shingle)-unique by the write invariant (the frame is
    // written distinct; compact folds to one epoch), so with no
    // pending tombstones the dedup-distinct — which exists to absorb
    // double-appended crash-window epochs — would shuffle the whole
    // store to change nothing
    if (!Tombstones.pending(spark, indexDir) &&
      IndexPolicy.epochCount(spark, live) <= 1)
      rows
    else
      Tombstones.minus(spark, indexDir, rows, "doc_id").distinct()
  }

  /** The served leak vocabulary. */
  def shingles(spark: SparkSession, indexDir: String): DataFrame =
    docShingles(spark, indexDir).select(col("shingle")).distinct()

  /** Fold all epochs into one ([[TombstoneStore.compact]]). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)

  // --- q_decontaminate_indexed: the persisted-vocabulary lane ------------
  private def indexDirFor(dir: String): String = {
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "eval-v2"))
    StoreRoot.dir(s"graft-eval-index-$key")
  }

  /** Build-if-absent from the corpus's test split; returns the dir. */
  private[operators] def ensureIndex(spark: SparkSession, dir: String): String = {
    val indexDir = indexDirFor(dir)
    if (!StoreRoot.exists(spark, s"$indexDir/shingles.parquet"))
      buildIndex(spark,
        Tables.table(spark, dir, "documents")
          .filter(TextOps.splitBucket >= 90).select(col("doc_id"), col("text")),
        indexDir)
    indexDir
  }

  /** Identical output to `q_decontaminate` (same split, same shingle
    * builder, same cleaning body) — rides its oracle, the `_indexed`
    * twin discipline. */
  private def qDecontaminateIndexed(spark: SparkSession, dir: String): DataFrame =
    TextOps.cleanAgainst(
      Tables.table(spark, dir, "documents")
        .filter(TextOps.splitBucket < 80).select(col("doc_id"), col("text")),
      shingles(spark, ensureIndex(spark, dir)))

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_decontaminate_indexed", qDecontaminateIndexed,
      Some(TextOps.qDecontaminateOracle)))
}
