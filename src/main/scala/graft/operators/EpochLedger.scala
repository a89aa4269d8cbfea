package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Crash-safe epoch commit for the counter+ledger table PAIRS — the
  * count models through [[CountStore]] (which owns their whole
  * lifecycle), [[TokenizerIndex]] stats+docs, and the [[NegEpochs]]
  * deletion ledger: each append publishes one rename per counter table
  * and then the ledger's, and the window between them used to break
  * replay idempotence — the counters committed but the ledger
  * didn't, so the documented replay anti-join re-appended the same batch
  * and DOUBLE-COUNTED the additive counters (set-valued stores are
  * replay-idempotent by dedup; counters are not).
  *
  * The discipline, shared so the stores can't drift apart:
  *
  *  - the LEDGER rename is the commit point: counters epoch first,
  *    ledger epoch second;
  *  - the next epoch number derives from the LEDGER, not the counter
  *    table ([[reconciledNext]]);
  *  - a counter epoch ≥ the ledger-derived next is the residue of a
  *    crash between the two renames — [[reconciledNext]] deletes it
  *    before the rewrite, so the replayed batch lands exactly once;
  *  - reads of the counter table skip uncommitted epochs by filtering
  *    the epoch partition column to ≤ the ledger max
  *    ([[committedMax]]) — the residue never reaches served arithmetic
  *    even before the repairing replay arrives;
  *  - compaction must fold the COUNTER table before the ledger (both
  *    fold to `epoch=0` via [[EpochCompact]]'s swap): a crash between
  *    the two folds then leaves counter epochs ≤ ledger epochs, which
  *    the rules above already tolerate. Folding the ledger first would
  *    let the next append's reconcile mistake the folded counter table
  *    for crash residue and destroy it.
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
}
