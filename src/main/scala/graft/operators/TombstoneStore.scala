package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** How [[TombstoneStore.compact]] folds one table's epochs into `epoch=0`. */
private[operators] sealed trait Fold

private[operators] object Fold {
  /** Doc-keyed rows: the distinct epoch union minus the snapshot's
    * tombstoned doc_ids — forced even at one epoch while tombstones are
    * pending. */
  case object Rows extends Fold

  /** An additive per-`key` counter that deletions leave alone (Pack's
    * stream-tail base): summed, never forced. */
  final case class SumBy(key: String, counter: String) extends Fold

  /** Rows re-derived from the epoch union and the store's already-folded
    * tables (Winnow's fps from its folded members) — forced like
    * [[Rows]]. */
  final case class Derived(
      fold: (SparkSession, String) => DataFrame => DataFrame) extends Fold
}

/** One table of a [[TombstoneStore]]: its directory name, the columns its
  * epoch dirs are partitioned by, and how compact folds it. */
private[operators] final case class TombstoneTable(
    name: String, partitionBy: Seq[String], fold: Fold)

/** The one lifecycle of the doc-keyed TOMBSTONE stores ([[EvalIndex]]
  * shingles, [[PackIndex]] manifests, [[WinnowIndex]] fingerprints,
  * [[SearchIndex]] postings). A family declares only its data — a name
  * (lock tags), its tables in publish order with the `docs.parquet`
  * ledger last, and one function from a document batch to one frame per
  * table — and the store owns everything else:
  *
  *  - build/append publish a batch as a fresh epoch through the write
  *    path shared with [[CountStore]] ([[EpochLedger.build]],
  *    [[EpochLedger.append]]): the ledger rename commits the epoch, the
  *    next epoch derives from the ledger, crash residue is reconciled
  *    away, and the frames are computed only after that reconcile;
  *  - resident ids are the ledger's distinct doc_ids — tombstoned docs
  *    are deliberately NOT subtracted, the family's shadowing semantics
  *    (a deleted doc re-arriving before the compact stays dead);
  *  - delete is an O(ids) tombstone epoch ([[Tombstones.delete]]);
  *  - compact, under the store lock: drop orphans, freeze a
  *    [[Tombstones.snapshot]], fold every table in declared order (the
  *    ledger last, see [[EpochLedger]]) by its [[Fold]], then retire
  *    exactly the snapshot's tombstone epochs.
  *
  * Kept apart:
  *  - [[SearchIndex]]'s compact: `term_df` is derived from the FOLDED
  *    postings and cannot be folded per epoch (a per-epoch df sum keeps
  *    deleted docs), it must be rewritten whenever the postings fold ran
  *    and backfilled on stores written before it existed, and the
  *    postings fold keeps the `tbucket` layout;
  *  - [[PqIndex]]: a frozen codebook written at build beside the epochs,
  *    and a `vec_id` ledger (`ids.parquet`);
  *  - [[AnnIndex]]: no ledger, and a publish-then-delete compact whose
  *    reads tolerate old and consolidated epochs coexisting;
  *  - [[IvfIndex]]: cell-partitioned vectors, and a retrain that
  *    rewrites them.
  */
private[operators] final class TombstoneStore(
    family: String, tables: Seq[TombstoneTable],
    frames: DataFrame => Seq[DataFrame]) {

  private val layout = tables.map(t => EpochTable(t.name, t.partitionBy))
  private def ledger(dir: String) = s"$dir/${EpochLedger.Ledger}"

  /** Build (overwrite) the store as epoch 0. */
  def build(spark: SparkSession, docs: DataFrame, dir: String): Unit =
    EpochLedger.build(spark, dir, family, layout)(frames(docs))

  /** Fold a batch in as a fresh epoch — O(batch). `batch` is evaluated
    * after the reconcile, so it may read the store. Caller dedupes the
    * batch against [[residentDocIds]]. */
  def append(spark: SparkSession, dir: String, batch: => DataFrame): Unit =
    EpochLedger.append(spark, dir, family, layout)(frames(batch))

  /** Doc_ids already folded in (the streaming anti-join target) —
    * tombstoned docs stay until the compact. */
  def residentDocIds(spark: SparkSession, dir: String): DataFrame =
    StoreRead.table(spark, ledger(dir)).select(col("doc_id")).distinct()

  /** Takedown: tombstone the docs — O(ids). */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    Tombstones.delete(spark, dir, ids, "doc_id")

  /** Fold all epochs into one — the read-merge, made durable; tombstoned
    * docs fold out, then the SNAPSHOT's tombstone epochs retire (a
    * takedown racing the compact stays pending). */
  def compact(spark: SparkSession, dir: String): Unit =
    StoreLock.withLock(spark, dir, s"$family-compact") {
      // uncommitted residue must not fold into the committed epoch=0
      EpochLedger.dropOrphans(spark, ledger(dir), layout.init.map(t => s"$dir/${t.name}"))
      val ts = Tombstones.snapshot(spark, dir)
      for (t <- tables) {
        val path = s"$dir/${t.name}"
        t.fold match {
          case Fold.Rows => EpochCompact.compactTable(spark, path,
            raw => ts.minus(spark, raw.distinct(), "doc_id"), ts.nonEmpty)
          case Fold.SumBy(key, c) => EpochCompact.compactTable(spark, path,
            _.groupBy(col(key)).agg(sum(col(c)).as(c)))
          case Fold.Derived(fold) => EpochCompact.compactTable(spark, path,
            fold(spark, dir), ts.nonEmpty)
        }
      }
      ts.clear(spark)
    }
}
