package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One counter table of a [[CountStore]]: its directory name under the
  * store, its grouping keys, and its ADDITIVE counter columns. */
private[operators] final case class CountTable(
    name: String, keys: Seq[String], counters: Seq[String])

/** The one lifecycle of the persisted COUNT-MODEL stores ([[SpanIndex]]
  * gram counts, [[DsirIndex]] bucket counters, [[LmIndex]] bigram and
  * prefix counts, [[ClassifyIndex]] token counts). A family declares
  * only its data — a name (lock tags), its counter tables, and one
  * function from a document batch to that batch's counter frames, in
  * table order — and the store owns everything else:
  *
  *  - build/append write the counters of a batch as a fresh epoch
  *    through the write path it shares with [[TombstoneStore]]
  *    ([[EpochLedger.build]]/[[EpochLedger.append]]): counters FIRST and
  *    the `docs.parquet` ledger LAST — the ledger rename is the commit
  *    point, the next epoch derives from the ledger, and orphaned
  *    counter residue is reconciled away before the write;
  *  - an append anti-joins the deletion ledger first ([[NegEpochs]]
  *    shadow semantics: a doc with a pending deletion stays dead);
  *  - delete writes the victims' own counts as a negative epoch
  *    ([[NegEpochs.writeDeletion]]) — the counter tables are not
  *    doc-attributed, so it needs the doc ROWS;
  *  - compact applies pending deletions with a whole-store swap
  *    ([[NegEpochs.applyWithSwap]]); otherwise it drops orphans and folds
  *    every counter table (sum per counter) BEFORE the ledger (distinct)
  *    via [[EpochCompact]];
  *  - totals sum a table's COMMITTED epochs net of committed deletions
  *    ([[NegEpochs.netTotals]], single-epoch skip included).
  *
  * Counters sum across epochs at read time, so `append ≡ rebuild` holds
  * by integer addition. The batch function may persist an intermediate
  * its frames share (LM's one pair-count pass feeds both of its tables);
  * every returned frame is unpersisted once its epoch is published.
  *
  * The doc-keyed row stores (Eval, Pack, Winnow, Search) are
  * [[TombstoneStore]]s: their deletions are tombstones, not negative
  * epochs. Two epoch-partitioned count families keep their own
  * lifecycle, because their merges are not a per-counter sum:
  *  - [[SketchIndex]]: a pruning bottom-K sample merge, a count table
  *    merged through an XOR digest of the counted doc_ids, and an epoch
  *    number derived from the table listing, not from the ledger;
  *  - [[TokenizerIndex]]: a frozen merge table (one epoch, replaced only
  *    by retrain) beside additive stats, and no deletion path.
  */
private[operators] final class CountStore(
    family: String, tables: Seq[CountTable],
    counts: DataFrame => Seq[DataFrame]) {

  private def ledger(dir: String) = s"$dir/${EpochLedger.Ledger}"
  private def tableDirs(dir: String) = tables.map(t => s"$dir/${t.name}")
  private val layout =
    (tables.map(_.name) :+ EpochLedger.Ledger).map(EpochTable(_, Nil))

  private def batchCounts(docs: DataFrame): Seq[(String, DataFrame)] =
    tables.map(_.name).zip(counts(docs))

  private def frames(docs: DataFrame): Seq[DataFrame] =
    counts(docs) :+ docs.select(col("doc_id")).distinct()

  /** Build (overwrite) the store as epoch 0. */
  def build(spark: SparkSession, docs: DataFrame, dir: String): Unit =
    EpochLedger.build(spark, dir, family, layout)(frames(docs))

  /** Fold a batch in as a fresh epoch — O(batch). Caller dedupes the
    * batch against [[residentDocIds]]. */
  def append(spark: SparkSession, dir: String, batch: DataFrame): Unit =
    EpochLedger.append(spark, dir, family, layout)(
      frames(NegEpochs.minus(spark, dir, batch)))

  /** Doc_ids already folded in (the streaming anti-join target) —
    * pending deletions excluded. */
  def residentDocIds(spark: SparkSession, dir: String): DataFrame =
    NegEpochs.minus(spark, dir,
      StoreRead.table(spark, ledger(dir)).select(col("doc_id")).distinct())

  /** Takedown: subtract the victims' own counts as a negative epoch —
    * O(victims); a replayed takedown is a no-op. */
  def delete(spark: SparkSession, dir: String, docRows: DataFrame): Unit =
    StoreLock.withLock(spark, dir, s"$family-delete") {
      val v = NegEpochs.victims(spark, dir, docRows,
        spark.read.parquet(ledger(dir))).persist()
      try {
        if (!v.isEmpty) {
          val counters = batchCounts(v)
          try NegEpochs.writeDeletion(spark, dir, counters, v.select(col("doc_id")))
          finally counters.foreach(_._2.unpersist())
        }
      } finally { v.unpersist(); () }
    }

  /** Fold all epochs into one — exactly the merge every read performs.
    * Pending deletions are applied with a whole-store swap instead: the
    * staged store serves pos−neg with the deletion state gone, the only
    * cross-table-atomic way to retire negative epochs (a per-table fold
    * could crash between subtracting and clearing and subtract twice on
    * the re-run). */
  def compact(spark: SparkSession, dir: String): Unit =
    StoreLock.withLock(spark, dir, s"$family-compact") {
      if (NegEpochs.pending(spark, dir)) {
        val nets = tables.map(t => t.name -> totals(spark, dir, t).persist())
        val rd = residentDocIds(spark, dir).persist()
        try NegEpochs.applyWithSwap(spark, dir) { tmp =>
          for ((tab, df) <- nets) df.write.parquet(s"$tmp/$tab/epoch=0")
          rd.write.parquet(s"$tmp/docs.parquet/epoch=0")
        } finally { nets.foreach(_._2.unpersist()); rd.unpersist(); () }
      } else {
        // orphaned counter residue must NOT fold into the committed
        // epoch=0 (it would stop being partition-prunable and the
        // replayed batch would then double-count)
        EpochLedger.dropOrphans(spark, ledger(dir), tableDirs(dir))
        for (t <- tables) {
          val sums = t.counters.map(c => sum(col(c)).as(c))
          EpochCompact.compactTable(spark, s"$dir/${t.name}",
            _.groupBy(t.keys.map(col): _*).agg(sums.head, sums.tail: _*))
        }
        EpochCompact.compactTable(spark, ledger(dir), _.distinct())
      }
    }

  /** One table's served counts: summed across COMMITTED epochs
    * (uncommitted crash residue is partition-pruned out), net of
    * committed deletions. */
  def totals(spark: SparkSession, dir: String, t: CountTable): DataFrame =
    NegEpochs.netTotals(spark, dir, t.name, t.keys, t.counters,
      StoreRead.committed(spark, dir, t.name))
}
