package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The persisted-index family's deletion discipline, extracted from the
  * per-family copies (the [[AtomicPublish]] lesson applied to
  * tombstones: two hand-rolled epoch/read/clear sequences — IvfIndex
  * and SearchIndex — were already drifting toward a third and fourth).
  *
  * One table per store, `indexDir/tombstones.parquet/epoch=K`, holding
  * the deleted keys under the store's own key column. Contract shared
  * by every family:
  *
  *  - [[delete]] is O(ids): one staged epoch, one rename — never a
  *    store rewrite;
  *  - every read path calls [[minus]], so deleted keys vanish from
  *    results immediately;
  *  - compact folds the tombstoned rows out of the store's tables and
  *    then calls [[Snapshot.clear]] — publish-before-delete, so a crash
  *    in between leaves tombstones shadowing already-removed rows, a
  *    harmless no-op the next compact clears. The doc-keyed families
  *    (Eval, Pack, Winnow) run it as [[TombstoneStore.compact]], and
  *    [[SearchIndex]], [[PqIndex]], [[AnnIndex]] and [[IvfIndex]] keep
  *    their own (the reasons are in the [[TombstoneStore]] scaladoc);
  *  - [[pending]] tells the compact to run even at one epoch (the
  *    EpochCompact no-op must not retire unapplied tombstones);
  *  - within a tombstone's lifetime a re-appended key stays dead;
  *    after the durable compact, re-insertion is a normal append.
  */
object Tombstones {

  private def dirOf(indexDir: String) = new Path(indexDir, "tombstones.parquet")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append an O(ids) tombstone epoch of `ids`'s `keyCol` values.
    *
    * Epoch numbering is read-modify-write, so the write runs under the
    * store's [[StoreLock]]: two concurrent deletes (a takedown stream
    * racing a maintenance-loop delete) would otherwise both scan
    * max-epoch and the second `stageAndRename` would silently REPLACE
    * the first's epoch — a lost deletion. The lock serializes them;
    * waiters that outlast the timeout fail loudly. */
  def delete(
      spark: SparkSession, indexDir: String, ids: DataFrame, keyCol: String): Unit =
    StoreLock.withLock(spark, indexDir, "tombstone-delete") {
      val ts = dirOf(indexDir)
      val fs = fsOf(spark, ts)
      val next =
        if (!fs.exists(ts)) 0
        else fs.listStatus(ts).map(_.getPath.getName)
          .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toInt)
          .foldLeft(-1)(math.max) + 1
      AtomicPublish.stageAndRename(
        spark, ts.toString, s".epoch-$next.tmp", s"epoch=$next") { tmp =>
        ids.select(col(keyCol)).distinct()
          .write.mode("overwrite").parquet(tmp.toString)
      }
    }

  /** The current tombstone set, if any. */
  def ids(
      spark: SparkSession, indexDir: String, keyCol: String): Option[DataFrame] = {
    val ts = dirOf(indexDir)
    val fs = fsOf(spark, ts)
    if (fs.exists(ts) && fs.listStatus(ts).exists(_.getPath.getName.startsWith("epoch=")))
      Some(StoreRead.table(spark, ts.toString).select(col(keyCol)).distinct())
    else None
  }

  /** Anti-join `df` (carrying `keyCol`) against the tombstone set —
    * the read-path half of deletion. */
  def minus(
      spark: SparkSession, indexDir: String, df: DataFrame, keyCol: String): DataFrame =
    ids(spark, indexDir, keyCol).fold(df)(ts => df.join(ts, Seq(keyCol), "left_anti"))

  /** Unapplied deletions exist — the family's compact must run even at
    * one epoch. */
  def pending(spark: SparkSession, indexDir: String): Boolean = {
    val ts = dirOf(indexDir)
    val fs = fsOf(spark, ts)
    fs.exists(ts) && fs.listStatus(ts).exists(_.getPath.getName.startsWith("epoch="))
  }

  /** A compact-scoped view of the tombstone table with the epoch set
    * FROZEN at construction. The compact folds out exactly this set and
    * [[Snapshot.clear]] retires exactly this set — a tombstone epoch
    * written between the compact's fold-read and its clear (takedowns
    * via `deleteFromIndex` may race the maintenance loop) is neither
    * folded nor destroyed; it stays pending and forces the next compact,
    * which applies it then. Before this, `clear` deleted the whole
    * table, silently dropping any concurrently-written epoch and
    * resurrecting the supposedly taken-down key. */
  final case class Snapshot(indexDir: String, epochs: Seq[String]) {
    def nonEmpty: Boolean = epochs.nonEmpty
    private def paths = epochs.map(e => s"${dirOf(indexDir)}/$e")

    /** Distinct tombstoned keys of the frozen epoch set. */
    def ids(spark: SparkSession, keyCol: String): Option[DataFrame] =
      if (epochs.isEmpty) None
      else Some(spark.read.parquet(paths: _*).select(col(keyCol)).distinct())

    /** Anti-join `df` against the frozen epoch set's keys. */
    def minus(spark: SparkSession, df: DataFrame, keyCol: String): DataFrame =
      ids(spark, keyCol).fold(df)(ts => df.join(ts, Seq(keyCol), "left_anti"))

    /** Retire the frozen epochs after the compact made their deletions
      * durable; the table dir itself goes only once no later-arriving
      * epoch remains. */
    def clear(spark: SparkSession): Unit = {
      val ts = dirOf(indexDir)
      val fs = fsOf(spark, ts)
      epochs.foreach(e => fs.delete(new Path(ts, e), true))
      if (fs.exists(ts) &&
          !fs.listStatus(ts).exists(_.getPath.getName.startsWith("epoch=")))
        fs.delete(ts, true)
      ()
    }
  }

  /** Freeze the current epoch set. Compacts MUST read/fold/clear through
    * the snapshot, never the live table (see [[Snapshot]]). */
  def snapshot(spark: SparkSession, indexDir: String): Snapshot = {
    val ts = dirOf(indexDir)
    val fs = fsOf(spark, ts)
    val eps =
      if (!fs.exists(ts)) Seq.empty[String]
      else fs.listStatus(ts).map(_.getPath.getName)
        .filter(_.startsWith("epoch=")).toSeq.sorted
    Snapshot(indexDir, eps)
  }
}
