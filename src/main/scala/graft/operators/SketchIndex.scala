package graft.operators

import org.apache.hadoop.fs.Path
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grouped quantile estimation over a PERSISTED bottom-k sample store —
  * the production twin of the inline `q_quantile_sketch` (which re-scans
  * the corpus per query): at 100 TB the per-source sample is built ONCE
  * and maintained by O(batch) appends; a profile query then reads
  * K·sources sample rows plus the additive count table — never the
  * corpus. Ninth member of the persisted-index family, and the first
  * whose payload is a PRUNING merge rather than a sum: bottom-K of a
  * union equals the bottom-K of the parts' bottom-Ks (every true global
  * minimum is a minimum of its own part), so each epoch stores only its
  * batch's pruned sample and readers re-apply the same rank filter to
  * the union — `append ≡ rebuild` by the merge lattice, the KMV/k-minima
  * argument.
  *
  * Layout under `indexDir` (family conventions: epoch-partitioned,
  * dot-prefixed staging, one rename per table per publish):
  *  - `sample.parquet/epoch=N`: (source, doc_id, n_chars, h) — the
  *    epoch batch's per-source bottom-K sampling rows
  *  - `counts.parquet/epoch=N`: (source, n_docs, batch_key) — exact
  *    counts plus a content digest of the counted doc_ids
  *  - `docs.parquet/epoch=N`:   (doc_id) — replay-safe membership ledger
  *
  * Crash idempotence: the three renames aren't atomic as a group, and the
  * docs ledger lands LAST — a foreachBatch retry after a crash between
  * the sample/counts renames and the docs rename re-appends the same
  * batch as a duplicate epoch. Both payload merges absorb that: the
  * sample merge dedupes on (source, doc_id) before re-ranking (a
  * duplicated row is value-identical — h and n_chars are pure functions
  * of the doc — so it collapses instead of consuming a bottom-K slot),
  * and the counts merge dedupes on (source, n_docs, batch_key) before
  * summing, where batch_key is a commutative xxhash64 digest of the
  * epoch's doc_ids per source — two epochs carry equal keys iff they
  * counted the same docs (distinct legitimate batches are doc-disjoint by
  * the ledger anti-join, so their digests differ), making the additive
  * merge a set-union like the rest of the family.
  */
object SketchIndex {

  private def writeEpoch(
      spark: SparkSession, indexDir: String, epoch: Int, docs: DataFrame): Unit = {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((tab, df) <- Seq(
        "sample.parquet" -> QuantileSketch.bottomK(QuantileSketch.sampleRows(docs)),
        "counts.parquet" -> docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            // bit_xor: commutative and overflow-free under ANSI mode
            expr("bit_xor(xxhash64(doc_id))").as("batch_key")),
        "docs.parquet" -> docs.select(col("doc_id")).distinct())) {
      AtomicPublish.stageAndRename(
        spark, new Path(root, tab).toString, s".epoch-$epoch.tmp", s"epoch=$epoch") {
        tmp => df.write.mode("overwrite").parquet(tmp.toString)
      }
    }
  }

  /** Build (overwrite) the store as epoch 0. */
  def buildIndex(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    StoreLock.withLock(spark, indexDir, "sketch-build") {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    writeEpoch(spark, indexDir, 0, docs)
  }

  /** Fold a batch in: its own bottom-K sample + counts land as a fresh
    * epoch — O(batch), no resident row touched. Caller dedupes batches
    * against [[residentDocIds]]. */
  def appendToIndex(spark: SparkSession, indexDir: String, batch0: DataFrame): Unit =
    StoreLock.withLock(spark, indexDir, "sketch-append") {
    // a doc with a pending deletion stays dead until the deletion-
    // applying compact ([[NegEpochs]] shadow semantics)
    val batch = NegEpochs.minus(spark, indexDir, batch0)
    val sample = new Path(indexDir, "sample.parquet")
    val fs = sample.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = fs.listStatus(sample).map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toInt).max + 1
    writeEpoch(spark, indexDir, next, batch)
  }

  /** Doc_ids already folded in (the streaming anti-join target) —
    * pending deletions excluded. */
  def residentDocIds(spark: SparkSession, indexDir: String): DataFrame =
    NegEpochs.minus(spark, indexDir,
      spark.read.parquet(s"$indexDir/docs.parquet").select(col("doc_id")).distinct())

  /** Takedown — the HONEST sketch contract. The victims' sample rows
    * vanish and the exact per-source counts decrement (their xor digest
    * subtracts perfectly: xor is its own inverse, so the netted
    * batch_key remains the digest of exactly the surviving counted
    * docs). But a bottom-K sample is LOSSY: rows pruned at append time
    * cannot be recovered, so after deleting a doc that was IN a source's
    * sample, the store serves a bottom-(K−d) sketch of the survivors —
    * still a correct KMV sketch, at slightly reduced resolution — where
    * a rebuild would serve bottom-K. Bit-parity with the rebuild holds
    * exactly when no victim occupied a sample slot (the overwhelmingly
    * common case: K slots out of the whole source). Needs the doc ROWS
    * (doc_id, source) — the ledger is not source-attributed. */
  def deleteFromIndex(spark: SparkSession, indexDir: String, docRows: DataFrame): Unit =
    StoreLock.withLock(spark, indexDir, "sketch-delete") {
    val v = NegEpochs.victims(spark, indexDir, docRows,
      spark.read.parquet(s"$indexDir/docs.parquet")).persist()
    try {
      if (!v.isEmpty)
        NegEpochs.writeDeletion(spark, indexDir,
          Seq("counts.parquet" -> v.groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              expr("bit_xor(xxhash64(doc_id))").as("batch_key"))),
          v.select(col("doc_id")))
    } finally { v.unpersist(); () }
  }

  /** The family's read-merges, both idempotent under epoch duplication
    * (see the crash-idempotence note above); the sample additionally
    * excludes deleted docs, the counts net committed deletions. */
  private def mergeSample(
      spark: SparkSession, indexDir: String, raw: DataFrame): DataFrame =
    QuantileSketch.bottomK(
      NegEpochs.minus(spark, indexDir,
        raw.select(col("source"), col("doc_id"), col("n_chars"), col("h"))
          .dropDuplicates("source", "doc_id")))

  private def mergeCounts(raw: DataFrame): DataFrame =
    raw.dropDuplicates("source", "n_docs", "batch_key")
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        expr("bit_xor(batch_key)").as("batch_key"))

  /** Counts net of committed deletions: n_docs subtracts, batch_key
    * XOR-folds (self-inverse — the digest of exactly the survivors). */
  private def nettedCounts(spark: SparkSession, indexDir: String): DataFrame = {
    val pos = mergeCounts(spark.read.parquet(s"$indexDir/counts.parquet"))
    val nd = NegEpochs.negDir(indexDir, "counts.parquet")
    val committed = EpochLedger.committedMax(spark, s"$indexDir/dels.parquet")
    val negEps = EpochLedger.epochs(spark, nd)
    if (negEps.isEmpty) pos
    else pos.unionByName(
      spark.read.parquet(nd)
        .filter(col("epoch") <= committed)
        .select(col("source"), (-col("n_docs")).as("n_docs"), col("batch_key")))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        expr("bit_xor(batch_key)").as("batch_key"))
      .filter(col("n_docs") > 0L)
  }

  /** Fold all epochs into one — each table's merge is exactly what every
    * read performs ([[EpochCompact]] swap safety). PENDING DELETIONS are
    * applied with a whole-store swap instead (the [[NegEpochs]]
    * cross-table-atomic retire; see [[CountStore.compact]]). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    StoreLock.withLock(spark, indexDir, "sketch-compact") {
    if (NegEpochs.pending(spark, indexDir)) {
      val sm = mergeSample(spark, indexDir,
        spark.read.parquet(s"$indexDir/sample.parquet")).persist()
      val ct = nettedCounts(spark, indexDir).persist()
      val rd = residentDocIds(spark, indexDir).persist()
      try NegEpochs.applyWithSwap(spark, indexDir) { tmp =>
        sm.write.parquet(s"$tmp/sample.parquet/epoch=0")
        ct.write.parquet(s"$tmp/counts.parquet/epoch=0")
        rd.write.parquet(s"$tmp/docs.parquet/epoch=0")
      } finally { sm.unpersist(); ct.unpersist(); rd.unpersist(); () }
      return
    }
    EpochCompact.compactTable(spark, s"$indexDir/sample.parquet",
      raw => mergeSample(spark, indexDir, raw))
    EpochCompact.compactTable(spark, s"$indexDir/counts.parquet", mergeCounts)
    EpochCompact.compactTable(spark, s"$indexDir/docs.parquet", _.distinct())
  }

  /** Quantile estimates from store files only: re-rank the merged
    * samples, net the deduplicated counts, then the shared estimation
    * arithmetic. */
  def estimatesFromIndex(spark: SparkSession, indexDir: String): DataFrame =
    QuantileSketch.estimateFrom(
      mergeSample(spark, indexDir, spark.read.parquet(s"$indexDir/sample.parquet")),
      nettedCounts(spark, indexDir).select(col("source"), col("n_docs")))

  // --- q_quantile_sketch_indexed: the persisted lane on the oracle gate --
  private def indexDirFor(dir: String): String = {
    // v2: counts carry the batch_key crash-idempotence digest
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "sketch-v2"))
    StoreRoot.dir(s"graft-sketch-index-$key")
  }

  private def qQuantileSketchIndexed(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = indexDirFor(dir)
    if (!StoreRoot.exists(spark, s"$indexDir/sample.parquet"))
      buildIndex(spark, Tables.table(spark, dir, "documents"), indexDir)
    estimatesFromIndex(spark, indexDir)
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_quantile_sketch_indexed", qQuantileSketchIndexed,
      Some(QuantileSketch.qQuantileSketchSql)))
}
