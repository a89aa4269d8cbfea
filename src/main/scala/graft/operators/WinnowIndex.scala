package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MOSS-style match detection over a PERSISTED winnowed-fingerprint store
  * — the production twin of the inline `q_winnow_matches` (which
  * re-selects every text's fingerprints per query): at 100 TB the
  * fingerprint sets are selected ONCE per text, maintained by O(batch)
  * appends, and the match report is a join over the stored 8-byte hashes.
  * Eighth member of the persisted-index family.
  *
  * State is effectively additive under the family's read-merge rules:
  *  - fingerprint rows (tid, rep, nfp, gh) dedupe by (tid, gh) — a text
  *    re-arriving in a later epoch contributes the identical set;
  *  - the text representative `rep` MIN-merges across epochs (the same
  *    text can first appear under different doc_ids in different
  *    batches; min is associative/commutative, so append ≡ rebuild);
  *  - the df-cap is applied at READ time on the merged posting set —
  *    NEVER persisted — so a fingerprint crossing the cap because of a
  *    later epoch's texts is suppressed exactly as a rebuild would
  *    (the SpanIndex ≥2-filter-at-read argument);
  *  - the text representative `rep`: persisted per epoch and MIN-merged
  *    on the FAST path (no pending deletions — appends only add members,
  *    so the min over epoch batch-mins is the global min), but a
  *    persisted min cannot be reversed when a takedown deletes the
  *    minimal doc — with tombstones PENDING, reads re-derive each rep
  *    from the surviving members (v3: both, dispatched on pending()),
  *    and the deletion-applying compact refreshes the persisted reps
  *    from the survivors so the fast path resumes.
  *
  * Layout under `indexDir` (a [[TombstoneStore]]: epoch-partitioned,
  * dot-prefixed staging, one rename per table per publish, in this
  * order):
  *  - `members.parquet/epoch=K`: (tid, doc_id) — doc-attributed text
  *    membership, the deletion and rep-recovery table
  *  - `fps.parquet/epoch=K`:     (tid, rep, nfp, gh) — the epoch's
  *    distinct texts' selected fingerprints
  *  - `docs.parquet/epoch=K`:    (doc_id) — replay-safe membership ledger
  */
object WinnowIndex {

  private val store = new TombstoneStore("winnow", Seq(
    TombstoneTable("members.parquet", Nil, Fold.Rows),
    // the fps fold refreshes each surviving text's PERSISTED rep from the
    // already-folded members (texts with no survivor drop out), so the
    // fast read path resumes after a deletion-applying compact
    TombstoneTable("fps.parquet", Nil, Fold.Derived((spark, indexDir) =>
      raw => mergeStoredFps(raw).join(
        spark.read.parquet(s"$indexDir/members.parquet")
          .groupBy(col("tid")).agg(min(col("doc_id")).as("rep")), "tid")
        .select(col("tid"), col("rep"), col("nfp"), col("gh")))),
    TombstoneTable(EpochLedger.Ledger, Nil, Fold.Rows)),
    docs => Seq(
      docs.select(xxhash64(col("text")).as("tid"), col("doc_id")).distinct(),
      WinnowOps.fpRows(docs),
      docs.select(col("doc_id")).distinct()))

  /** Build (overwrite) the index as epoch 0. */
  def buildIndex(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    store.build(spark, docs, indexDir)

  /** Pre-v3 (members-less) store guard: v3 made `members.parquet` the
    * deletion and rep-recovery table, and both the compact's fps fold
    * and the deletion-aware read path inner-join reps from it — on a
    * store with fps epochs whose texts have NO member rows, those texts
    * would be SILENTLY folded away on the first multi-epoch compact
    * (permanent index loss, no deletion involved). Members cannot be
    * backfilled from the old layout (no doc↔tid mapping was persisted),
    * so unlike the LmIndex v1→v2 prefix migration the only path is a
    * rebuild from the corpus — fail loudly and say so.
    *
    * Replay-aware: members now publish before fps, so an fps epoch
    * always has its members twin, and any residue of a crash before the
    * docs ledger (the commit point) is reconciled away by the replay
    * ([[EpochLedger.reconciledNext]]). Stores written by older code
    * published fps first: their MAX fps epoch may lack its members twin
    * when its DOCS twin is also missing (that crash window, tolerated
    * until the replay), and a NON-tail orphan whose tids are all covered
    * by members rows is that residue after an older replay, which
    * numbered past it. Covered tids also excuse fps epochs whose members
    * a compact folded before crashing ahead of the fps fold. A tail
    * epoch WITH a committed docs twin but no members is not a crash
    * window — it is a legacy store (the single-epoch pre-v3 case), and
    * only uncovered tids distinguish it from repaired residue.
    *
    * ONE rule body for the mutation guard ([[requireMembersTwin]], which
    * throws on `legacy`) and the fleet health check
    * ([[graft.operators.IndexFsck]], which reports): `("ok", …)` when
    * every fps epoch is covered, `("crash_window", tolerated)` for
    * residue the replay protocol handles, `("legacy", epochs)` for the
    * pre-v3 store only a rebuild can fix. */
  private[graft] def membersTwinStatus(
      spark: SparkSession, indexDir: String): (String, Seq[Int]) = {
    val fpsE = EpochLedger.epochs(spark, s"$indexDir/fps.parquet")
    val memE = EpochLedger.epochs(spark, s"$indexDir/members.parquet").toSet
    val docsE = EpochLedger.epochs(spark, s"$indexDir/docs.parquet").toSet
    val tail = fpsE.foldLeft(-1)(math.max)
    val missing = fpsE.filterNot(e =>
      memE.contains(e) || (e == tail && !docsE.contains(e)))
    if (missing.isEmpty) {
      val tolerated = fpsE.filterNot(memE.contains)
      (if (tolerated.isEmpty) "ok" else "crash_window", tolerated.sorted)
    } else {
      val uncovered =
        if (memE.isEmpty) 1L
        else spark.read.parquet(s"$indexDir/fps.parquet")
          .filter(col("epoch").isInCollection(missing))
          .select(col("tid")).distinct()
          .join(spark.read.parquet(s"$indexDir/members.parquet")
            .select(col("tid")).distinct(), Seq("tid"), "left_anti")
          .count()
      if (uncovered > 0) ("legacy", missing.sorted)
      else ("crash_window", missing.sorted)
    }
  }

  /** The throwing half of [[membersTwinStatus]]: mutations on a `legacy`
    * store are refused with the rebuild instruction; `ok`/`crash_window`
    * proceed. */
  private def requireMembersTwin(
      spark: SparkSession, indexDir: String, op: String): Unit =
    membersTwinStatus(spark, indexDir) match {
      case ("legacy", missing) =>
        throw new IllegalStateException(
          s"$op on $indexDir: fps epochs ${missing.mkString(",")} have " +
            "no members.parquet twin and their texts have no member rows — " +
            "a pre-v3 (members-less) winnow store. Compacting or deleting " +
            "would silently drop those texts' fingerprints; members cannot " +
            "be backfilled (the old layout persisted no doc<->tid mapping). " +
            "Rebuild the index from the corpus (buildIndex).")
      case _ => ()
    }

  /** Fold a batch of new documents in: the batch's texts winnow in
    * isolation (O(batch) — selection is a pure per-text function, so no
    * resident text is touched) and land as a fresh epoch. Caller dedupes
    * batches against [[residentDocIds]]. */
  def appendToIndex(spark: SparkSession, indexDir: String, batch: DataFrame): Unit =
    StoreLock.withLock(spark, indexDir, "winnow-append") {
      requireMembersTwin(spark, indexDir, "append")
      store.append(spark, indexDir, batch)
    }

  /** Doc_ids already folded in (the streaming anti-join target) —
    * tombstoned docs stay here until compaction, the family's shadowing
    * semantics (a deleted doc re-arriving stays dead). */
  def residentDocIds(spark: SparkSession, indexDir: String): DataFrame =
    store.residentDocIds(spark, indexDir)

  /** Takedown: tombstone the docs — O(ids). Every read re-derives each
    * text's representative from the SURVIVING members, so a text whose
    * minimal doc is deleted re-reports under the next-min member, and a
    * text with no surviving member vanishes from the match report — the
    * rows a rebuild without the docs produces. The df-cap re-evaluates
    * on the surviving merge (the read-time-cap argument in reverse). */
  def deleteFromIndex(spark: SparkSession, indexDir: String, ids: DataFrame): Unit = {
    // deletion flips reads onto the members join — a members-less store
    // would silently drop legacy texts from the match report
    requireMembersTwin(spark, indexDir, "delete")
    store.delete(spark, indexDir, ids)
  }

  /** Text identities already fingerprinted — the match stream's SECOND
    * anti-join target: a known text re-arriving under a brand-new doc_id
    * passes the doc_id ledger, but every pair it participates in was
    * already reported when the text first arrived (and would re-report
    * under a DIFFERENT rep if the new doc_id min-merged below the
    * resident one), so the stream drops it at text granularity.
    * Committed epochs only: a text of a batch whose ledger rename was
    * lost is not known yet, and its replay must not be dropped. */
  def residentTids(spark: SparkSession, indexDir: String): DataFrame =
    StoreRead.committed(spark, indexDir, "fps.parquet").select(col("tid")).distinct()

  /** Fold all epochs into one ([[TombstoneStore.compact]]) — exactly the
    * merge every read performs; tombstoned members fold out, texts with
    * no surviving member drop their fingerprint rows, and the SNAPSHOT's
    * tombstone epochs retire (a takedown racing the compact stays
    * pending). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    StoreLock.withLock(spark, indexDir, "winnow-compact") {
      requireMembersTwin(spark, indexDir, "compact")
      store.compact(spark, indexDir)
    }

  /** The family's read-merge over the stored rows WITHOUT the rep:
    * dedupe (tid, gh); nfp is a function of the text so min is a no-op
    * tie-break. The deletion-aware path re-attaches survivor-derived
    * reps to this. */
  private def mergeStoredFps(raw: DataFrame): DataFrame =
    raw.groupBy(col("tid"), col("gh"))
      .agg(min(col("nfp")).as("nfp"))
      .select(col("tid"), col("nfp"), col("gh"))

  /** Each text's representative: MIN doc_id over the SURVIVING members
    * (tombstone-excluded) — the deletion-aware slow path. */
  private def survivingReps(spark: SparkSession, indexDir: String): DataFrame =
    Tombstones.minus(spark, indexDir,
      StoreRead.committed(spark, indexDir, "members.parquet")
        .select(col("tid"), col("doc_id")), "doc_id")
      .groupBy(col("tid")).agg(min(col("doc_id")).as("rep"))

  /** Merged fingerprint rows served by the index. FAST path (no pending
    * deletions — the overwhelmingly common read): min-merge the persisted
    * epoch reps, no members join; when the table holds a SINGLE epoch
    * (fresh build or post-compact) even that merge is skipped — each
    * epoch's rows are (tid, gh)-unique with their final rep by the write
    * invariant (fpRows emits distinct rows; compact folds to one epoch),
    * so the min-merge would be a full-store no-op shuffle (§2.4; round
    * 17: the serve's largest Exchange for every single-epoch store).
    * SLOW path (tombstones pending): reps re-derived from the surviving
    * members, texts with no survivor drop out — bit-identical to a
    * rebuild without the deleted docs. Both read COMMITTED epochs only
    * ([[StoreRead.committed]]). */
  def fpRowsFromIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val fps = StoreRead.committed(spark, indexDir, "fps.parquet")
    if (!Tombstones.pending(spark, indexDir)) {
      if (IndexPolicy.epochCount(spark, s"$indexDir/fps.parquet") <= 1)
        fps.select(col("tid"), col("rep"), col("nfp"), col("gh"))
      else
        fps.groupBy(col("tid"), col("gh"))
          .agg(min(col("rep")).as("rep"), min(col("nfp")).as("nfp"))
          .select(col("tid"), col("rep"), col("nfp"), col("gh"))
    } else
      mergeStoredFps(fps)
        .join(survivingReps(spark, indexDir), "tid")
        .select(col("tid"), col("rep"), col("nfp"), col("gh"))
  }

  /** The match report, computed from index files only — same scoring
    * pipeline as the inline lane ([[WinnowOps.matchesFrom]]), so the two
    * are the same algorithm by construction. */
  def matchesFromIndex(spark: SparkSession, indexDir: String): DataFrame =
    WinnowOps.matchesFrom(
      fpRowsFromIndex(spark, indexDir).drop("tid"))

  /** Incremental matching (the IncrementalDedup contract applied to
    * winnowing): report ONLY the match pairs with at least one endpoint
    * in `batch` — batch×resident and batch×batch, never resident×resident
    * re-pairing. The batch winnows in isolation (O(batch) selection); the
    * df-cap is evaluated on the UNION of resident and batch postings, so
    * a fingerprint that crosses the cap only because of the batch
    * suppresses its pairs exactly as the full recomputation would.
    * Equals `matchesFrom(resident ∪ batch)` restricted to rows touching a
    * batch text — by construction, since both run the same pipeline on
    * the same merged posting set (spec: `WinnowIndexSpec`). */
  def matchBatch(spark: SparkSession, indexDir: String, batch: DataFrame): DataFrame = {
    val residentFps = fpRowsFromIndex(spark, indexDir)
    val batchFps = WinnowOps.fpRows(batch.select(col("doc_id"), col("text")))
    // a text present on both sides keeps one posting row with the
    // MIN-merged representative (the family's read-merge)
    val union = residentFps.select(col("tid"), col("rep"), col("nfp"), col("gh"))
      .unionByName(batchFps.select(col("tid"), col("rep"), col("nfp"), col("gh")))
      .groupBy(col("tid"), col("gh"))
      .agg(min(col("rep")).as("rep"), min(col("nfp")).as("nfp"))
    val batchTids = batchFps.select(col("tid")).distinct()
    // df-cap on the FULL merged posting set (a fingerprint crossing the
    // cap only because of the batch suppresses exactly as a rebuild
    // would), then narrow pair generation to grams the BATCH carries:
    // every pair with a batch endpoint shares only batch grams, so
    // reported pairs and their n_shared are unchanged — but the self-join
    // never generates resident×resident rows over batch-free grams, so
    // per-batch compute scales with the batch, not the resident corpus
    val capped = WinnowOps.dfCapped(union.select(col("rep"), col("nfp"), col("gh")))
    val batchGhs = batchFps.select(col("gh")).distinct()
    val all = WinnowOps.pairsFrom(capped.join(batchGhs, Seq("gh"), "left_semi"))
    // restrict to pairs touching a batch text: resolve batch reps through
    // the same min-merge (a batch text may resolve to a resident rep)
    val batchReps = union.join(batchTids, Seq("tid"))
      .select(col("rep")).distinct()
    all.join(batchReps.select(col("rep").as("doc_a")), Seq("doc_a"))
      .unionByName(
        all.join(batchReps.select(col("rep").as("doc_b")), Seq("doc_b"))
          .select(all.columns.map(col): _*))
      .distinct()
  }

  // --- q_winnow_matches_indexed: the persisted lane on the oracle gate --
  private def indexDirFor(dir: String): String = {
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "winnow-v3"))
    StoreRoot.dir(s"graft-winnow-index-$key")
  }

  /** Build-if-absent against the corpus at `dir`; returns the index dir.
    * Shared by the match lane and the indexed curation funnel
    * ([[CurationFunnel]]). */
  private[operators] def ensureIndex(spark: SparkSession, dir: String): String = {
    val indexDir = indexDirFor(dir)
    if (!StoreRoot.exists(spark, s"$indexDir/fps.parquet"))
      buildIndex(spark, Tables.table(spark, dir, "documents"), indexDir)
    indexDir
  }

  private def qWinnowMatchesIndexed(spark: SparkSession, dir: String): DataFrame =
    matchesFromIndex(spark, ensureIndex(spark, dir))

  /** Prove the store-served match report ≡ the inline recompute over the
    * deterministic 1/8 sample universe ([[SampledCert]] digest protocol)
    * — the `q_winnow_matches` certification lane's proof obligation
    * (round 16; see [[WinnowOps]]). */
  private[operators] def certifySampledWinnow(
      spark: SparkSession, dir: String): Unit = {
    val sdir = CurationFunnel.ensureSampleCorpus(spark, dir)
    SampledCert.certify(spark, sdir, "winnow",
      matchesFromIndex(spark, ensureIndex(spark, sdir)),
      WinnowOps.inlineMatchesOver(spark, sdir))
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_winnow_matches_indexed", qWinnowMatchesIndexed,
      Some(WinnowOps.qWinnowMatchesSql)))
}
