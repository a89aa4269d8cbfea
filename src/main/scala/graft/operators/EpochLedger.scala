package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.TaskPool

/** A table's place in an epoch write: its directory under the store and
  * the columns its epoch dirs are partitioned by (on-disk layout —
  * [[SearchIndex]]'s `tbucket`). */
private[operators] final case class EpochTable(name: String, partitionBy: Seq[String])

/** Crash-safe epoch commit for the stores whose tables commit through a
  * `docs.parquet` ledger — the count models through [[CountStore]] and
  * the tombstone families (Eval, Pack, Winnow, Search) through
  * [[TombstoneStore]], which share ONE write path here ([[build]],
  * [[append]], [[writeEpoch]]); [[TokenizerIndex]] stats+docs and the
  * [[NegEpochs]] deletion ledger follow the same rules by hand. Each
  * append stages all of its tables concurrently, then publishes one
  * rename per table and the ledger's last, and the window between the
  * renames used to break replay idempotence — the tables
  * committed but the ledger didn't, so the documented replay anti-join
  * re-appended the same batch and DOUBLE-COUNTED the additive counters
  * (and shifted Pack's offsets twice: its append reads the resident
  * per-source base).
  *
  * The discipline, shared so the stores can't drift apart:
  *
  *  - the LEDGER rename is the commit point: table epochs first,
  *    ledger epoch last — staging is concurrent, the renames are
  *    ordered and start only once every table is staged;
  *  - the next epoch number derives from the LEDGER, not a table
  *    ([[reconciledNext]]);
  *  - a table epoch ≥ the ledger-derived next is the residue of a
  *    crash between the renames — [[reconciledNext]] deletes it
  *    before the rewrite, so the replayed batch lands exactly once;
  *  - reads of the tables skip uncommitted epochs by filtering the
  *    epoch partition column to ≤ the ledger max ([[committedMax]],
  *    [[StoreRead.committed]]) — the residue is never served, even
  *    before the repairing replay arrives;
  *  - compaction drops orphans ([[dropOrphans]]) and must fold every
  *    table before the ledger (all fold to `epoch=0` via
  *    [[EpochCompact]]'s swap): a crash between the folds then leaves
  *    table epochs ≤ ledger epochs, which the rules above already
  *    tolerate. Folding the ledger first would let the next append's
  *    reconcile mistake a folded table for crash residue and destroy it.
  */
private[operators] object EpochLedger {

  /** Published epoch numbers of one table dir. */
  def epochs(spark: SparkSession, tableDir: String): Seq[Int] = {
    val p = new Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toInt).toSeq
  }

  /** The ledger-derived next epoch; deletes any orphaned counter epoch
    * ≥ it (the crash residue) so the replayed batch lands once. */
  def reconciledNext(
      spark: SparkSession, ledgerDir: String, counterDirs: Seq[String]): Int = {
    val next = epochs(spark, ledgerDir).foldLeft(-1)(math.max) + 1
    for (cd <- counterDirs; e <- epochs(spark, cd) if e >= next) {
      val p = new Path(cd, s"epoch=$e")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    next
  }

  /** Highest COMMITTED epoch — counter-table reads filter their epoch
    * partition column to ≤ this, skipping uncommitted residue. */
  def committedMax(spark: SparkSession, ledgerDir: String): Int =
    epochs(spark, ledgerDir).foldLeft(-1)(math.max)

  /** Delete orphaned counter epochs without claiming the next number —
    * a COMPACT must run this before folding: [[EpochCompact]] reads ALL
    * epochs, and folding an uncommitted residue epoch into the
    * committed epoch=0 would launder the double-count the protocol
    * exists to prevent (the residue stops being partition-prunable and
    * the replayed batch then lands a second time). */
  def dropOrphans(
      spark: SparkSession, ledgerDir: String, counterDirs: Seq[String]): Unit = {
    reconciledNext(spark, ledgerDir, counterDirs)
    ()
  }

  /** The commit-point table of every ledger-committed store. */
  val Ledger = "docs.parquet"

  /** Publish one epoch in two phases. STAGE: every table's frame is
    * written into its dot-prefixed `.epoch-K.tmp` dir at the same time
    * ([[graft.TaskPool]], one thread per table), and the call waits for
    * every write — also after one failed — so a failed epoch leaves no
    * write running and renames nothing. RENAME: each staged dir then
    * replaces `epoch=K` in `tables` order, the [[Ledger]] LAST (its
    * rename commits the epoch). Every frame is unpersisted once the
    * epoch is published, so a frames function may persist what its
    * frames share. */
  def writeEpoch(
      spark: SparkSession, dir: String, epoch: Int,
      tables: Seq[EpochTable], frames: Seq[DataFrame]): Unit = {
    require(tables.lastOption.exists(_.name == Ledger), s"$Ledger must publish last")
    val staging = s".epoch-$epoch.tmp"
    try {
      TaskPool.inParallel(spark.sparkContext, tables.size)(
        tables.zip(frames).map { case (t, df) => () =>
          AtomicPublish.stage(spark, s"$dir/${t.name}", staging) { tmp =>
            df.write.mode("overwrite").partitionBy(t.partitionBy: _*)
              .parquet(tmp.toString)
          }
        })
      for (t <- tables)
        AtomicPublish.rename(spark, s"$dir/${t.name}", staging, s"epoch=$epoch")
    } finally frames.foreach(_.unpersist())
  }

  /** Build (overwrite) the store as epoch 0 under the store lock. */
  def build(
      spark: SparkSession, dir: String, family: String, tables: Seq[EpochTable])(
      frames: => Seq[DataFrame]): Unit =
    StoreLock.withLock(spark, dir, s"$family-build") {
      val root = new Path(dir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
      writeEpoch(spark, dir, 0, tables, frames)
    }

  /** Append a batch as the ledger-derived next epoch. Crash residue is
    * reconciled away FIRST and `frames` computed only after, so a frame
    * that reads the store (Pack's resident base) never sees residue. */
  def append(
      spark: SparkSession, dir: String, family: String, tables: Seq[EpochTable])(
      frames: => Seq[DataFrame]): Unit =
    StoreLock.withLock(spark, dir, s"$family-append") {
      val next = reconciledNext(
        spark, s"$dir/$Ledger", tables.init.map(t => s"$dir/${t.name}"))
      writeEpoch(spark, dir, next, tables, frames)
    }
}
