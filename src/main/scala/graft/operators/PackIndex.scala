package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted pack manifest — sequence packing ([[PackingOps]]) as a
  * maintainable store, for the continuous-training cadence: documents
  * keep arriving, and the loader needs every new document's absolute
  * token offset and window span WITHOUT re-scanning the corpus. Tenth
  * member of the persisted-index family, and arithmetically the
  * simplest: the only cross-batch state is ONE additive counter per
  * source (tokens packed so far), because prefix sums associate —
  * `batch offsets + resident base ≡ one-shot scan` exactly when batches
  * arrive in (source, doc_id) order.
  *
  * Pack-order semantics are AS-OF ARRIVAL (the loader's real contract —
  * a stream cannot pack around documents it hasn't seen): batches
  * arriving in doc_id order reproduce the one-shot [[PackingOps]]
  * manifest bit for bit (spec-pinned); an out-of-order batch packs at
  * the stream's current tail, which is what a production packer does,
  * and is documented rather than hidden — the one-shot q_pack_chunks
  * over the final corpus is the batch reference with its own (doc_id)
  * order, exactly the [[graft.streaming.EmbedStream]] SemDeDup
  * eager-semantics discipline.
  *
  * Layout under `indexDir` (a [[TombstoneStore]]: epoch-partitioned,
  * dot-prefixed staging, one rename per table per publish):
  *  - `manifest.parquet/epoch=K`: (doc_id, source, n_toks, start_tok,
  *    end_tok) — the batch's absolute offsets
  *  - `base.parquet/epoch=K`:     (source, btot) — the batch's per-source
  *    token totals (additive; resident base = Σ across epochs)
  *  - `docs.parquet/epoch=K`:     (doc_id) — replay-safe membership ledger
  */
object PackIndex {

  /** Training window length — [[PackingOps.WinTokens]], the single
    * source of truth for the pack arithmetic. */
  private def WinTokens: Long = PackingOps.WinTokensVal

  private val store = new TombstoneStore("pack", Seq(
    TombstoneTable("manifest.parquet", Nil, Fold.Rows),
    // base keeps counting tombstoned tokens — see [[deleteFromIndex]]
    TombstoneTable("base.parquet", Nil, Fold.SumBy("source", "btot")),
    TombstoneTable(EpochLedger.Ledger, Nil, Fold.Rows)),
    manifest => {
      val m = manifest.persist()
      Seq(m, m.groupBy(col("source")).agg(sum(col("n_toks")).as("btot")),
        m.select(col("doc_id")).distinct())
    })

  /** Build (overwrite) the manifest as epoch 0 — the one-shot
    * [[PackingOps.offsets]] scan. */
  def buildIndex(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    store.build(spark, PackingOps.offsets(docs), indexDir)

  /** Fold a batch of new documents in: the batch runs its OWN two-level
    * scan (O(batch)) and shifts by the resident per-source base — one
    * broadcast join, never a corpus re-scan. The base is read after the
    * append reconciled crash residue away, so a replayed batch shifts
    * once. Caller dedupes batches against [[residentDocIds]]. */
  def appendToIndex(spark: SparkSession, indexDir: String, batch: DataFrame): Unit =
    store.append(spark, indexDir, {
      val base = StoreRead.table(spark, s"$indexDir/base.parquet")
        .groupBy(col("source")).agg(sum(col("btot")).as("base"))
      PackingOps.offsets(batch)
        .join(broadcast(base), Seq("source"), "left")
        .select(col("doc_id"), col("source"), col("n_toks"),
          (col("start_tok") + coalesce(col("base"), lit(0L))).as("start_tok"),
          (col("end_tok") + coalesce(col("base"), lit(0L))).as("end_tok"))
    })

  /** Doc_ids already packed (the streaming anti-join target) —
    * tombstoned docs stay here until compaction, the family's shadowing
    * semantics (a deleted doc re-arriving stays dead). */
  def residentDocIds(spark: SparkSession, indexDir: String): DataFrame =
    store.residentDocIds(spark, indexDir)

  /** Takedown: MANIFEST HOLES. The tombstoned documents' windows vanish
    * from every read immediately (the training loader skips the hole);
    * later documents' absolute offsets are deliberately UNCHANGED — the
    * pack positions are already consumed downstream, and re-basing them
    * would re-shuffle every shard after the hole. The per-source `base`
    * totals therefore keep counting retired tokens: base is the STREAM
    * TAIL POSITION, not the resident token sum, and deletion makes the
    * two diverge by exactly the holes' n_toks. O(ids). */
  def deleteFromIndex(spark: SparkSession, indexDir: String, ids: DataFrame): Unit =
    store.delete(spark, indexDir, ids)

  /** Fold all epochs into one ([[TombstoneStore.compact]]) — manifests
    * union (offsets are absolute, rows dedupe), base totals sum;
    * tombstoned docs fold out of the manifest and the ledger (base keeps
    * the tail position — see [[deleteFromIndex]]). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    store.compact(spark, indexDir)

  /** The served per-document manifest: the q_pack_chunks shape (window
    * spans derived from the stored absolute offsets), committed epochs
    * only, tombstone-excluded. */
  def chunksFromIndex(spark: SparkSession, indexDir: String): DataFrame =
    Tombstones.minus(spark, indexDir,
      StoreRead.committed(spark, indexDir, "manifest.parquet"), "doc_id")
      .select(col("doc_id"), col("source"), col("n_toks"), col("start_tok"),
        expr(s"start_tok div ${WinTokens}L").as("first_win"),
        expr(s"(end_tok - 1) div ${WinTokens}L").as("last_win"))
      .withColumn("n_wins", col("last_win") - col("first_win") + 1L)
      .dropDuplicates("doc_id")

  // --- q_pack_chunks_indexed: the production-cadence serving lane -------
  // Family convention: store memoized by corpus identity, built on first
  // use; repeat invocations read the manifest instead of re-running the
  // corpus prefix scan. Output is row-identical to q_pack_chunks (the
  // store's epoch 0 IS that one-shot scan), so it rides the same oracle.
  private def indexDirFor(dir: String): String = {
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "pack-v1"))
    StoreRoot.dir(s"graft-pack-index-$key")
  }

  /** Build-if-absent against the corpus at `dir`; returns the index dir.
    * Shared with the pack-at-ingest stream for catalog consistency. */
  private[graft] def ensureIndex(spark: SparkSession, dir: String): String = {
    val indexDir = indexDirFor(dir)
    if (!StoreRoot.exists(spark, s"$indexDir/manifest.parquet"))
      buildIndex(spark,
        Tables.table(spark, dir, "documents").select("doc_id", "source", "text"),
        indexDir)
    indexDir
  }

  private def qPackChunksIndexed(spark: SparkSession, dir: String): DataFrame =
    chunksFromIndex(spark, ensureIndex(spark, dir))

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_pack_chunks_indexed", qPackChunksIndexed,
      Some(PackingOps.qPackChunksOracle)))
}
