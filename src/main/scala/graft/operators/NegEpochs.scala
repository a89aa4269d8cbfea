package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion for the COUNT-MODEL families (every [[CountStore]] — Span,
  * DSIR, LM and classifier counts — plus [[SketchIndex]]'s count table):
  * the [[Tombstones]] anti-join cannot delete from these
  * stores because their state is not doc-keyed — a document's
  * contribution is spread across shared counter rows. The additive
  * arithmetic runs in REVERSE instead: a takedown writes the victim
  * documents' own counts as a NEGATIVE epoch, and every read serves
  * `Σ positive − Σ negative` (rows netting to zero are filtered so a
  * serve-path join can't see a count the rebuild would not have).
  *
  * State under `modelDir` (one pair per family, the [[EpochLedger]]
  * commit protocol exactly as for the counter+ledger appends):
  *  - `neg-<table>/epoch=J`: the victims' counts, same schema as the
  *    positive table;
  *  - `dels.parquet/epoch=J`: (doc_id) — the deletion ledger, written
  *    AFTER the negative epochs (the commit point; orphaned negative
  *    epochs from the crash window are reconciled away on the next
  *    delete and skipped by reads).
  *
  * Contract, aligned with the [[Tombstones]] families so the catalog
  * reads one story:
  *  - `deleteFromModel` is O(victims): victims = ids ∩ resident − dels,
  *    so a replayed takedown is a no-op;
  *  - reads exclude the victims immediately (counts net out; the
  *    resident ledger anti-joins `dels`);
  *  - within a deletion's lifetime a re-appended doc stays dead — the
  *    family's append anti-joins `dels`, the shadow semantics;
  *  - the family's compact, when deletions are pending, APPLIES them
  *    with a whole-store swap ([[IvfIndex.retrain]] discipline: stage a
  *    complete store serving pos−neg with the dels/neg state absent,
  *    one atomic dir swap) — multi-table atomicity that per-table folds
  *    cannot give; afterwards re-insertion is a normal append;
  *  - single deletion writer, serialized with maintenance (the
  *    [[Tombstones.delete]] constraint).
  */
private[operators] object NegEpochs {

  private def delsDir(modelDir: String) = s"$modelDir/dels.parquet"
  private[operators] def negDir(modelDir: String, table: String) =
    s"$modelDir/neg-$table"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed deleted doc_ids, if any. */
  def deletedIds(spark: SparkSession, modelDir: String): Option[DataFrame] = {
    val d = delsDir(modelDir)
    if (EpochLedger.epochs(spark, d).nonEmpty)
      Some(StoreRead.table(spark, d).select(col("doc_id")).distinct())
    else None
  }

  /** Anti-join `df` (carrying doc_id) against the deletion ledger — the
    * resident-ledger and append-shadow half of deletion. */
  def minus(spark: SparkSession, modelDir: String, df: DataFrame): DataFrame =
    deletedIds(spark, modelDir).fold(df)(ids =>
      df.join(ids, Seq("doc_id"), "left_anti"))

  /** Unapplied deletions exist — the family's compact must run the
    * whole-store apply. */
  def pending(spark: SparkSession, modelDir: String): Boolean =
    EpochLedger.epochs(spark, delsDir(modelDir)).nonEmpty

  /** Net totals of one counter table: Σ `pos` (the caller's view of the
    * positive epochs — families with ledger-committed appends pre-filter
    * it) − Σ COMMITTED negative epochs, all-zero rows dropped so a
    * serve-path join can't match a count the rebuild would not have.
    * `keys` are the table's grouping columns; `cnts` its counters. */
  def netTotals(
      spark: SparkSession, modelDir: String, table: String,
      keys: Seq[String], cnts: Seq[String], pos: DataFrame): DataFrame = {
    val nd = negDir(modelDir, table)
    val posKC = pos.select((keys ++ cnts).map(col): _*)
    // single-epoch fast path (round 17, §2.4): with no negative epochs
    // and ≤1 positive epoch the netting aggregation is a full-table
    // no-op shuffle — every count family writes an epoch as one
    // aggregation's output (key-unique, counters ≥ 1), and the compact
    // folds to exactly one such epoch, so the rows ARE the net totals.
    // Any append (second epoch) or deletion (neg epoch) takes the exact
    // netting path below, row-identical by construction.
    if (EpochLedger.epochs(spark, nd).isEmpty &&
      IndexPolicy.epochCount(spark, s"$modelDir/$table") <= 1)
      return posKC
    val committed = EpochLedger.committedMax(spark, delsDir(modelDir))
    val all =
      if (EpochLedger.epochs(spark, nd).isEmpty) posKC
      else posKC.unionByName(
        StoreRead.table(spark, nd)
          .filter(col("epoch") <= committed)
          .select((keys.map(col) ++ cnts.map(c => (-col(c)).as(c))): _*))
    val aggs = cnts.map(c => sum(col(c)).as(c))
    all.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .filter(cnts.map(c => col(c) =!= 0L).reduce(_ || _))
  }

  /** Write one deletion: the victims' counts as negative epochs of each
    * `negTables` (name → victim counts with the POSITIVE sign; negation
    * happens at read), committed by the dels-ledger rename. Victims must
    * already be resident-∩-not-deleted (use [[victims]]). */
  def writeDeletion(
      spark: SparkSession, modelDir: String,
      negTables: Seq[(String, DataFrame)], victimIds: DataFrame): Unit =
    // serialized against the deletion-applying compact ([[applyWithSwap]]
    // holds the same lock across its stage→swap window) — an unserialized
    // write here would be destroyed with the compact's bak dir
    StoreLock.withLock(spark, modelDir, "neg-epoch-delete") {
      val d = delsDir(modelDir)
      val next = EpochLedger.reconciledNext(
        spark, d, negTables.map { case (t, _) => negDir(modelDir, t) })
      for ((t, counts) <- negTables)
        AtomicPublish.stageAndRename(
          spark, negDir(modelDir, t), s".epoch-$next.tmp", s"epoch=$next") { tmp =>
          counts.write.mode("overwrite").parquet(tmp.toString)
        }
      AtomicPublish.stageAndRename(
        spark, d, s".epoch-$next.tmp", s"epoch=$next") { tmp =>
        victimIds.select(col("doc_id")).distinct()
          .write.mode("overwrite").parquet(tmp.toString)
      }
    }

  /** The rows of `docRows` that are resident and not already deleted —
    * the replay-idempotence filter every takedown runs first. Dedupes on
    * doc_id: an at-least-once request stream can carry the same doc
    * twice in ONE batch, and double rows would subtract the doc's counts
    * twice (the cross-batch replay is caught by the dels anti-join; the
    * intra-batch duplicate must be caught here). */
  def victims(
      spark: SparkSession, modelDir: String,
      docRows: DataFrame, resident: DataFrame): DataFrame =
    minus(spark, modelDir,
      docRows.dropDuplicates("doc_id")
        .join(resident.select(col("doc_id")).distinct(), Seq("doc_id")))

  /** Whole-store deletion apply: stage a complete replacement under
    * `modelDir` via `stage` (which writes every table SERVING pos−neg,
    * with no neg-/dels state), then swap atomically — the only way to
    * retire deletions across multiple counter tables without a
    * cross-table crash window.
    *
    * Holds the store's [[StoreLock]] across the whole stage→swap window
    * (the callers' stage DataFrames evaluate lazily inside `stage`, so
    * their dels/neg reads happen under the lock): a takedown writing
    * neg+dels epochs between the stage-read and the `live → bak` rename
    * would otherwise be silently destroyed with the bak dir — a
    * deletion reported applied, resurrected. As the loud backstop for
    * writers the in-process lock cannot see (a second driver violating
    * the single-writer contract), the dels epoch set is captured before
    * staging and re-checked immediately before the rename: a mismatch
    * aborts the swap (staged dir discarded, deletions stay pending and
    * correct on every read path) and throws. */
  def applyWithSwap(
      spark: SparkSession, modelDir: String)(stage: Path => Unit): Unit =
    StoreLock.withLock(spark, modelDir, "deletion-apply") {
      val stagedDels = EpochLedger.epochs(spark, delsDir(modelDir)).toSet
      AtomicPublish.swapDir(spark, modelDir,
        tmpSuffix = ".apply-tmp", bakSuffix = ".apply-bak",
        beforeSwap = () => {
          val nowDels = EpochLedger.epochs(spark, delsDir(modelDir)).toSet
          if (nowDels != stagedDels)
            throw new IllegalStateException(
              s"deletion-apply on $modelDir raced a concurrent deletion " +
                s"write (dels epochs $stagedDels -> $nowDels) despite the " +
                "writer lock — a second process is writing this store; the " +
                "swap was aborted and ALL deletions remain pending (reads " +
                "stay correct)")
        })(stage)
    }
}
