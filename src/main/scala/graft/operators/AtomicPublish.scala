package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The persisted-index family's THREE publish disciplines, extracted from
  * the per-family copies (round-8 verdict item: nine hand-rolled rename
  * sequences drift independently; one helper can't). All three share the
  * invariants every family was built on: dot-prefixed staging dirs are
  * invisible to readers (partition discovery skips them), a reader sees
  * whole published dirs or nothing, and one writer at a time per store
  * (epoch numbering is read-modify-write) — that writer may stage tables
  * from several threads, but renames from one.
  *
  *  - [[stageAndRename]]: write invisible, delete the old live name, one
  *    rename to publish. The per-epoch append path: the live name never
  *    exists half-written; a crash before the rename leaves only staging
  *    residue that the next attempt deletes. Its halves ([[stage]],
  *    [[rename]]) are public so a multi-table epoch can stage every
  *    table CONCURRENTLY and then rename them in a fixed order
  *    ([[EpochLedger.writeEpoch]]).
  *  - [[publishThenDelete]]: write the consolidated copy invisible,
  *    publish it as a FRESH name, only then delete the inputs. The
  *    compaction path for stores whose reads tolerate old + consolidated
  *    COEXISTING (row-set semantics + read-time dedup): consolidated data
  *    is never the only copy while invisible.
  *  - [[swapDir]]: stage a complete replacement dir, `live → bak`,
  *    `tmp → live` (rolled back if the second rename fails), delete bak.
  *    For stores whose reads would DOUBLE under coexistence (additive
  *    counts): a crash between the renames leaves the full store in
  *    `<bak>` for operator recovery, never a half-written live dir.
  */
object AtomicPublish {

  /** The op tokens the swap publish paths actually emit as
    * `<name>.<op>-tmp` / `<name>.<op>-bak` siblings ([[swapDir]] callers:
    * apply/compact/retrain/delete, the shingle-graph append swaps, and
    * the sink-side upsert/compaction merges — `graft.sink.Upsert`).
    * [[IndexFsck]]'s residue scanner recognizes EXACTLY these — an
    * operator's manual `store.old-bak` copy must never pattern-match as
    * gc-able residue. A new swap suffix must be registered here or fsck
    * will neither report nor gc its leftovers. */
  val SwapOps: Seq[String] =
    Seq("apply", "compact", "retrain", "append", "delete", "merge")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write via `write` into `parentDir/tmpName` (must be dot-prefixed —
    * enforced), then replace `parentDir/liveName` with it ([[stage]],
    * then [[rename]]). */
  def stageAndRename(
      spark: SparkSession, parentDir: String, tmpName: String, liveName: String)(
      write: Path => Unit): Unit = {
    stage(spark, parentDir, tmpName)(write)
    rename(spark, parentDir, tmpName, liveName)
  }

  /** The invisible half of [[stageAndRename]]: clear `parentDir/tmpName`
    * (must be dot-prefixed — enforced) and write it via `write`. Touches
    * no live name, so a writer may stage several tables at once and
    * rename them afterwards ([[EpochLedger.writeEpoch]]). */
  def stage(spark: SparkSession, parentDir: String, tmpName: String)(
      write: Path => Unit): Unit = {
    require(tmpName.startsWith("."), s"staging name must be dot-prefixed: $tmpName")
    val tmp = new Path(parentDir, tmpName)
    fsOf(spark, tmp).delete(tmp, true)
    write(tmp)
  }

  /** The publishing half of [[stageAndRename]]: replace
    * `parentDir/liveName` with the staged `parentDir/tmpName`. FENCED:
    * when the calling writer holds a store lease over `liveName`,
    * ownership is re-verified immediately before the destructive
    * live-name delete ([[StoreLock.fence]]) — a hold lost to a takeover
    * refuses here with the live store intact instead of clobbering the
    * new owner's work. */
  def rename(
      spark: SparkSession, parentDir: String, tmpName: String, liveName: String): Unit = {
    val tmp = new Path(parentDir, tmpName)
    val live = new Path(parentDir, liveName)
    val fs = fsOf(spark, tmp)
    StoreLock.fence(spark.sparkContext.hadoopConfiguration, live)
    fs.delete(live, true)
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"publish failed: $tmp -> $live")
  }

  /** Write via `write` into `parentDir/stagingName`, publish it as
    * `parentDir/freshName`, then delete `olds`. Reads must tolerate olds
    * and the fresh copy coexisting (the window between publish and
    * delete). */
  def publishThenDelete(
      spark: SparkSession, parentDir: String, stagingName: String,
      freshName: String, olds: Seq[Path])(write: Path => Unit): Unit = {
    stageAndRename(spark, parentDir, stagingName, freshName)(write)
    val fs = fsOf(spark, new Path(parentDir))
    // re-fence before the second destructive phase: the olds are live
    // published epochs until this delete, and the hold could have been
    // lost between the (fenced) publish above and here
    StoreLock.fence(spark.sparkContext.hadoopConfiguration, new Path(parentDir))
    olds.foreach(p => fs.delete(p, true))
  }

  /** Stage a complete replacement for `liveDir` (written via `write`),
    * then swap it in with two renames and a rollback; `bakSuffix` names
    * the crash-recovery copy. `beforeSwap` runs after staging and
    * immediately before the `live → bak` rename — a validity re-check
    * hook ([[NegEpochs.applyWithSwap]]'s concurrent-deletion backstop);
    * if it throws, the staged dir is discarded and the live dir is
    * untouched. */
  def swapDir(
      spark: SparkSession, liveDir: String,
      tmpSuffix: String = ".compact-tmp", bakSuffix: String = ".compact-bak",
      beforeSwap: () => Unit = () => ())(
      write: Path => Unit): Unit = {
    val live = new Path(liveDir)
    val fs = fsOf(spark, live)
    val tmp = new Path(live.getParent, live.getName + tmpSuffix)
    val bak = new Path(live.getParent, live.getName + bakSuffix)
    fs.delete(tmp, true)
    write(tmp)
    try beforeSwap()
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    // fence immediately before the destructive sequence (bak delete +
    // live→bak rename): a lost hold refuses with live untouched and the
    // staged tmp discarded as residue
    try StoreLock.fence(spark.sparkContext.hadoopConfiguration, live)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    fs.delete(bak, true)
    if (!fs.rename(live, bak))
      throw new java.io.IOException(s"swap failed: $live -> $bak")
    if (!fs.rename(tmp, live)) {
      fs.rename(bak, live)
      throw new java.io.IOException(s"swap failed: $tmp -> $live")
    }
    fs.delete(bak, true)
    ()
  }
}
