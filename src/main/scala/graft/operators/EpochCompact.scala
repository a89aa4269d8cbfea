package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Epoch compaction for the ADDITIVE persisted-index tables (the count
  * models' counter tables through [[CountStore.compact]], the tombstone
  * families' tables through [[TombstoneStore.compact]], plus the
  * per-family folds of [[PqIndex]], [[SketchIndex]] and
  * [[TokenizerIndex]]): a streaming-maintenance cadence accretes
  * one epoch dir per micro-batch, and every read re-merges all of them —
  * compaction folds the union into ONE `epoch=0` table whose
  * summed/deduplicated content is byte-equivalent to what readers were
  * already computing.
  *
  * Unlike [[AnnIndex]]'s publish-before-delete (whose reads tolerate old
  * and consolidated epochs COEXISTING because rescore dedups), additive
  * counts would double under coexistence, so the whole table directory is
  * replaced with the [[ClusterIndex]] two-rename swap: stage the
  * consolidated table completely, `live → bak`, `tmp → live` (rolled back
  * if the second rename fails), delete bak. Single-writer contract, same
  * as every maintenance path in the family; a crash between the renames
  * leaves the full table in `<table>.compact-bak` for operator recovery,
  * never a half-written live dir. Re-running compact afterwards is a
  * no-op by construction (one epoch in, one epoch out, same content —
  * spec-pinned idempotence).
  */
object EpochCompact {

  /** Consolidate every epoch of `tableDir` into one `epoch=0` via
    * `consolidate` (a sum/distinct over the epoch-union). No-op when the
    * table already has ≤1 epoch — unless `force` (a family with pending
    * tombstones must fold even a single epoch before retiring them). */
  def compactTable(
      spark: SparkSession, tableDir: String,
      consolidate: DataFrame => DataFrame,
      force: Boolean = false): Unit = {
    val live = new Path(tableDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live)) return
    val epochs = fs.listStatus(live).map(_.getPath.getName)
      .filter(_.startsWith("epoch="))
    if (epochs.length <= 1 && !force) return
    val merged = consolidate(spark.read.parquet(tableDir).drop("epoch"))
    AtomicPublish.swapDir(spark, tableDir) { tmp =>
      merged.write.parquet(s"$tmp/epoch=0")
    }
  }
}
