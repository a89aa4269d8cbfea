package graft.operators

import org.apache.hadoop.fs.Path
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization ANN over a PERSISTED code store — the production
  * twin of the inline `q_ann_pq` (which re-encodes the corpus on every
  * query): the codebook is trained ONCE and frozen on disk, every vector's
  * PqM byte-sized codes are stored cell-free in epoch dirs, and the ADC
  * propose scan reads ONLY the code store — PqM small ints per vector
  * instead of 64 doubles, the 64× memory-traffic cut that is PQ's whole
  * point, now realized end to end. Raw vectors are read just for the
  * top-PqR exact rescore. Seventh member of the persisted-index family.
  *
  * Like [[IvfIndex]], appends assign codes MAP-ONLY against the frozen
  * codebook, so `append ≡ rebuild-with-the-same-codebook` exactly (spec:
  * a rebuild that re-trains on grown data is a DIFFERENT model — the
  * comparison freezes the quantizer, the honest production semantics).
  * Layout under `indexDir` (family conventions: dot-prefixed staging, one
  * rename per table per publish):
  *  - `codebook.parquet`:       (m, cluster, cv) — the frozen quantizer
  *  - `codes.parquet/epoch=K`:  (vec_id, c0..c{PqM-1})
  *  - `vecs.parquet/epoch=K`:   (vec_id, v, norm) — rescore payload
  *  - `ids.parquet/epoch=K`:    (vec_id) — replay-safe membership ledger
  */
object PqIndex {
  import SimilarityOps._

  private def writeEpoch(
      spark: SparkSession, indexDir: String, epoch: Int, en: DataFrame,
      cb: Seq[((Int, Long), Seq[Double])]): Unit =
    for ((tab, df) <- Seq(
        "codes.parquet" -> pqCodesOf(en, cb),
        "vecs.parquet" -> en.select(col("vec_id"), col("v"), col("norm")),
        "ids.parquet" -> en.select(col("vec_id")).distinct()))
      AtomicPublish.stageAndRename(
        spark, s"$indexDir/$tab", s".epoch-$epoch.tmp", s"epoch=$epoch") {
        tmp => df.write.mode("overwrite").parquet(tmp.toString)
      }

  /** Train (overwrite) the index: codebook learned on `raw` unless a
    * frozen one is supplied (the append≡rebuild spec's reference path). */
  def buildIndex(
      spark: SparkSession, raw: DataFrame, indexDir: String,
      codebook: Option[Seq[((Int, Long), Seq[Double])]] = None): Unit =
    StoreLock.withLock(spark, indexDir, "pq-build") {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val en = pqNormalize(raw)
    val cb = codebook.getOrElse(pqTrainCodebook(en))
    import spark.implicits._
    AtomicPublish.stageAndRename(
      spark, s"$indexDir/codebook.parquet", ".data.tmp", "data") {
      tmp => cb.map { case ((m, c), cv) => (m, c, cv) }.toDF("m", "cluster", "cv")
        .write.mode("overwrite").parquet(tmp.toString)
    }
    writeEpoch(spark, indexDir, 0, en, cb)
  }

  /** The frozen quantizer, read back as the driver-side model artifact
    * (PqM×PqK×PqSub doubles — the k-medians-centroid move). */
  def readCodebook(spark: SparkSession, indexDir: String): Seq[((Int, Long), Seq[Double])] =
    spark.read.parquet(s"$indexDir/codebook.parquet/data")
      .collect()
      .map { r: Row =>
        ((r.getInt(0), r.getLong(1)), r.getSeq[Double](2))
      }
      .toSeq.sortBy(_._1)

  /** Fold a batch of new vectors in: map-only code assignment against the
    * FROZEN codebook, one fresh epoch per table. Caller dedupes batches
    * against [[residentVecIds]]. */
  def appendToIndex(spark: SparkSession, indexDir: String, batch: DataFrame): Unit =
    StoreLock.withLock(spark, indexDir, "pq-append") {
    val codes = new Path(indexDir, "codes.parquet")
    val fs = codes.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = fs.listStatus(codes).map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toInt).max + 1
    writeEpoch(spark, indexDir, next, pqNormalize(batch), readCodebook(spark, indexDir))
  }

  /** Vec_ids already folded into the index. */
  def residentVecIds(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/ids.parquet").select(col("vec_id")).distinct()
  // NOTE: tombstoned ids stay in this ledger until compaction — the
  // IVF-family shadowing semantics (a deleted id re-appended before the
  // compact is dropped by the replay anti-join AND hidden by the
  // tombstone; after the durable compact it re-inserts normally).

  /** Fold all epochs into one: code/vector rows dedup (identical by
    * frozen-codebook determinism) — exactly the merge every read already
    * performs ([[EpochCompact]] swap safety). Tombstoned vectors fold
    * out of all three tables, then the tombstone table retires; pending
    * tombstones FORCE the fold even at one epoch (the ≤1-epoch no-op
    * must not retire unapplied deletions). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    StoreLock.withLock(spark, indexDir, "pq-compact") {
    // frozen tombstone epoch set: fold out exactly these, retire exactly
    // these — a takedown racing this compact stays pending for the next
    val ts = Tombstones.snapshot(spark, indexDir)
    def minus(df: DataFrame) = ts.minus(spark, df, "vec_id")
    EpochCompact.compactTable(spark, s"$indexDir/codes.parquet",
      raw => minus(raw.distinct()), ts.nonEmpty)
    EpochCompact.compactTable(spark, s"$indexDir/vecs.parquet",
      raw => minus(raw.distinct()), ts.nonEmpty)
    EpochCompact.compactTable(spark, s"$indexDir/ids.parquet",
      raw => minus(raw.distinct()), ts.nonEmpty)
    ts.clear(spark)
  }

  /** Tombstone a set of (vec_id) rows — O(ids); every read excludes them
    * immediately, [[compact]] makes the deletion durable
    * ([[Tombstones]] family contract). */
  def deleteFromIndex(spark: SparkSession, indexDir: String, ids: DataFrame): Unit =
    Tombstones.delete(spark, indexDir, ids, "vec_id")

  /** ADC top-k from the persisted store: the propose scan reads ONLY
    * `codes.parquet`; raw vectors are read for the rescore join and the
    * bounded query set. Re-delivered epochs are absorbed by a distinct on
    * the 8-code row (identical by frozen-codebook determinism). */
  def topKIndexed(
      spark: SparkSession, queries: DataFrame, indexDir: String,
      memberFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // candidate-stage metadata filter (filtered vector search): prunes
    // the CODE rows before the ADC cross join — the propose scan's cost
    // scales with the filtered subset; the rescore join needs no filter
    // (proposals already satisfy it)
    val codes0 = codesFromIndex(spark, indexDir)
    pqTopKFromCodes(memberFilter.map(codes0.filter).getOrElse(codes0),
      pqNormalize(queries),
      rescoreFromIndex(spark, indexDir), readCodebook(spark, indexDir))
  }

  // --- q_ann_pq_indexed: the persisted lane on the oracle gate -----------
  // Built lazily from the corpus, queried with the corpus's own first
  // NumQueries vectors — row-identical to q_ann_pq (same trainer, same
  // shared scoring pipeline), so it rides the unrolled-training oracle.
  private def indexDirFor(dir: String): String = {
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "embeddings.parquet", "pq-v1"))
    StoreRoot.dir(s"graft-pq-index-$key")
  }

  /** Build-if-absent against the corpus at `dir`; returns the index dir.
    * Shared with the composed IVF-PQ lane ([[IvfPq]]). */
  private[operators] def ensureIndex(spark: SparkSession, dir: String): String = {
    val indexDir = indexDirFor(dir)
    if (!StoreRoot.exists(spark, s"$indexDir/codes.parquet"))
      buildIndex(spark, Tables.table(spark, dir, "embeddings"), indexDir)
    indexDir
  }

  /** The merged code store (vec_id, c0..c{PqM-1}) — double-append safe,
    * tombstone-excluded. */
  private[operators] def codesFromIndex(spark: SparkSession, indexDir: String): DataFrame =
    Tombstones.minus(spark, indexDir,
      spark.read.parquet(s"$indexDir/codes.parquet").drop("epoch").distinct(), "vec_id")

  /** The raw rescore vectors (vec_id, v, norm) persisted beside the
    * codes — tombstone-excluded. */
  private[operators] def rescoreFromIndex(spark: SparkSession, indexDir: String): DataFrame =
    Tombstones.minus(spark, indexDir,
      spark.read.parquet(s"$indexDir/vecs.parquet")
        .select(col("vec_id"), col("v"), col("norm")).distinct(), "vec_id")

  private def qAnnPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = ensureIndex(spark, dir)
    topKIndexed(spark,
      Tables.table(spark, dir, "embeddings").filter(col("vec_id") < NumQueries),
      indexDir)
  }

  // --- q_ann_pq_wide_indexed: the persisted twin of the 128-dim lane ----
  // The inline wide lane exists to put the pqM = dim/8 geometry on the
  // hash gate, but it pays 16-subspace ENCODING of the whole corpus on
  // every invocation even with the codebook cached — the board-topping
  // cost at sf10. The store pays it once at build; warm serving is the
  // code-store ADC propose + rescore, the production cadence. The store
  // carries its own geometry (the codebook's m key), so topKIndexed
  // serves 16 code columns with no width side-channel — row-identical to
  // the inline lane (same trainer, same derived corpus), riding its
  // oracle.
  private def wideIndexDirFor(dir: String): String = {
    val key = IndexStamp.dirKey(IndexStamp.identity(
      dir, "embeddings.parquet", "pq-wide128-v1"))
    StoreRoot.dir(s"graft-pq-wide-index-$key")
  }

  private def qAnnPqWideIndexed(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = wideIndexDirFor(dir)
    val wide = SimilarityOps.wideEmbeddings(spark, dir)
    if (!StoreRoot.exists(spark, s"$indexDir/codes.parquet"))
      buildIndex(spark, wide, indexDir)
    topKIndexed(spark, wide.filter(col("vec_id") < NumQueries), indexDir)
  }

  /** Filtered serving twin of `q_ann_filtered_pq` — row-identical to the
    * inline lane (frozen trainer, shared scoring, the filter commutes
    * with the code read), so it rides the same oracle. */
  private def qAnnPqFilteredIndexed(spark: SparkSession, dir: String): DataFrame =
    topKIndexed(spark,
      Tables.table(spark, dir, "embeddings").filter(col("vec_id") < NumQueries),
      ensureIndex(spark, dir),
      memberFilter = Some(col("vec_id") % 2 === 0))

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_ann_pq_indexed", qAnnPqIndexed, Some(SimilarityOps.qAnnPqOracle)),
    QueryDef("q_ann_filtered_pq_indexed", qAnnPqFilteredIndexed,
      Some(SimilarityOps.qAnnPqFilteredOracle)),
    QueryDef("q_ann_pq_wide_indexed", qAnnPqWideIndexed,
      Some(SimilarityOps.qAnnPqWideOracle)))
}
