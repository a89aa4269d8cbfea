package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Bigram-LM scoring over a PERSISTED model — the production twin of the
  * inline `q_lm_bigram` (which retrains the model on every query): at
  * 100 TB the n-gram statistics are trained ONCE, maintained by appends
  * as the corpus grows, and scoring reads the model tables — never
  * re-aggregates the training corpus. Third member of the persisted-index
  * family ([[IncrementalDedup]] shingles, [[ClusterIndex]], [[AnnIndex]]
  * bands), and the simplest: counts are ADDITIVE, so an append is exact
  * by arithmetic — no cap corrections, no merge/split.
  *
  * Layout under `modelDir` (a [[CountStore]]):
  *  - `pairs.parquet/epoch=K`: (l, r, cnt) — copy-weighted bigram counts
  *    of the epoch's documents
  *  - `prefix.parquet/epoch=K`: (l, c1) — Σ_r cnt(l, r) of the same
  *    epoch; a v1 store without it reads the prefix from the pairs and
  *    gets it as a catch-up epoch on its next append or compact
  *  - `docs.parquet/epoch=K`:  (doc_id) — membership ledger, giving
  *    replay-safe streaming maintenance its anti-join target
  *
  * Readers sum counts ACROSS epochs, so `append ≡ rebuild` holds exactly
  * (integer addition reassociates; nothing else in the model is
  * order-sensitive) — spec-pinned, plus tamper-invariance: garbling the
  * corpus after the build does not change served scores, proving the
  * model is read from the index, not retrained.
  */
object LmIndex {

  private def pairCounts(docs: DataFrame): DataFrame = {
    val w = col("w")
    docs.groupBy(col("text")).agg(count(lit(1)).as("n_copies"))
      .select(col("n_copies"), split(trim(col("text")), " ").as("w"))
      .select(col("n_copies"), explode(transform(
        slice(w, lit(1), greatest(size(w) - 1, lit(0))),
        (x, i) => struct(x.as("l"), element_at(w, i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("n_copies")).as("cnt"))
  }

  private def prefixOf(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("l")).agg(sum(col("cnt")).as("c1"))

  private val Pairs = CountTable("pairs.parquet", Seq("l", "r"), Seq("cnt"))
  private val Prefix = CountTable("prefix.parquet", Seq("l"), Seq("c1"))
  // prefix counts Σ_r cnt(l, r) ride the same epoch: they are
  // additive like the pairs, and persisting them cuts one pairs-table
  // read+aggregation from EVERY scoring call — the store serves its own
  // smoothing denominators. One pair-count pass feeds both tables.
  private val store = new CountStore("lm", Seq(Pairs, Prefix), docs => {
    val pc = pairCounts(docs).persist()
    Seq(pc, prefixOf(pc))
  })

  private def hasPrefix(spark: SparkSession, modelDir: String): Boolean =
    StoreRoot.exists(spark, s"$modelDir/${Prefix.name}")

  /** v1→v2 migration: a store built before prefix.parquet existed gets a
    * one-time catch-up epoch aggregated from ALL resident pairs, so
    * epochs stay consistent (a partially-prefixed store would serve
    * silently wrong denominators). Runs under the caller's store lock,
    * before the [[CountStore]] writes that expect both tables. */
  private def catchUpPrefix(spark: SparkSession, modelDir: String): Unit =
    if (StoreRoot.exists(spark, s"$modelDir/${Pairs.name}") && !hasPrefix(spark, modelDir))
      AtomicPublish.stageAndRename(
        spark, s"$modelDir/${Prefix.name}", ".migrate.tmp", "epoch=0") { tmp =>
        prefixOf(spark.read.parquet(s"$modelDir/${Pairs.name}"))
          .write.mode("overwrite").parquet(tmp.toString)
      }

  /** Train (overwrite) the model as epoch 0. */
  def buildModel(spark: SparkSession, docs: DataFrame, modelDir: String): Unit =
    store.build(spark, docs, modelDir)

  /** Fold a batch of new documents into the model: O(batch) work — the
    * batch's own counts land as a fresh epoch; readers sum across
    * epochs, so the result is EXACTLY the rebuild (addition is the whole
    * merge). Caller dedupes batches against `residentDocIds` (the
    * streaming lane anti-joins). */
  def appendToModel(spark: SparkSession, modelDir: String, batch: DataFrame): Unit =
    StoreLock.withLock(spark, modelDir, "lm-append") {
      catchUpPrefix(spark, modelDir)
      store.append(spark, modelDir, batch)
    }

  /** Doc_ids already folded into the model (the streaming anti-join
    * target) — pending deletions excluded. */
  def residentDocIds(spark: SparkSession, modelDir: String): DataFrame =
    store.residentDocIds(spark, modelDir)

  /** Takedown: subtract the victim documents' own copy-weighted bigram
    * and prefix counts as negative epochs ([[NegEpochs]]); needs the doc
    * ROWS (text), since the counter tables are not doc-attributed.
    * O(victims); scores exclude the docs immediately; [[compact]] makes
    * the deletion durable. */
  def deleteFromModel(spark: SparkSession, modelDir: String, docRows: DataFrame): Unit =
    store.delete(spark, modelDir, docRows)

  /** Fold all epochs into one ([[CountStore.compact]]; a v1 store gets
    * its prefix table first). */
  def compact(spark: SparkSession, modelDir: String): Unit =
    StoreLock.withLock(spark, modelDir, "lm-compact") {
      catchUpPrefix(spark, modelDir)
      store.compact(spark, modelDir)
    }

  /** Bigram totals (l, r, c12) summed across the store's epochs — the
    * model every reader scores against. Shared with the cross-entropy-
    * difference selection lane ([[SelectOps]]), which merges two stores. */
  private[operators] def pairTotals(spark: SparkSession, modelDir: String): DataFrame =
    store.totals(spark, modelDir, Pairs)
      .select(col("l"), col("r"), col("cnt").as("c12"))

  /** Prefix totals (l, c1): from the store's own prefix table when it has
    * one (v2); v1 read-only stores fall back to re-aggregating the pairs —
    * the sums are identical by arithmetic either way. */
  private[operators] def prefixTotals(spark: SparkSession, modelDir: String): DataFrame =
    if (hasPrefix(spark, modelDir)) store.totals(spark, modelDir, Prefix)
    else pairTotals(spark, modelDir).groupBy(col("l")).agg(sum(col("c12")).as("c1"))

  // --- merged-totals serving artifact (round 17) --------------------------
  // Every scoring call re-derived the model view per serve: one
  // epoch-union + groupBy shuffle per counter table (pairTotals /
  // prefixTotals), with plan-time size estimates too weak for the
  // scoring joins to broadcast. The totals are a pure function of the
  // store's CONTENT, which mutates only through epoch/dels/table
  // renames — so they are materialized ONCE per store state (pre-read
  // mtime watermark, the [[CurationFunnel]] votes-artifact discipline)
  // and every serve reads the pre-merged parquet: the epoch merge
  // leaves the serve plan entirely, and the scoring joins see real
  // parquet sizes (vocabulary-bounded → broadcast). §2.4 remove-work +
  // §6 file layout; guide: "bucketed tables persist a partitioning
  // across jobs" — this persists the aggregation itself, which is
  // exactly additive.
  private def totalsDirFor(modelDir: String): String =
    StoreRoot.dir(
      s"graft-lmtot-${IndexStamp.dirKey(s"$modelDir|lmtot-v1")}")

  /** Materialize-if-absent the epoch-merged, deletion-netted totals of
    * the model at `modelDir` as one atomically-published dir holding
    * `pairs` (l, r, c12) and `prefix` (l, c1); returns that dir. Staleness
    * rides the stores' newest mtime, observed BEFORE the deriving read
    * ([[DerivedArtifact]]) — any append/delete/compact re-materializes. */
  private[operators] def ensureTotals(
      spark: SparkSession, modelDir: String): String = {
    val adir = totalsDirFor(modelDir)
    val live = s"$adir/totals"
    DerivedArtifact.ensureWriter(spark, adir, "lmtot-build")(
      stale = DerivedArtifact.readWatermark(spark, live)
        .forall(DerivedArtifact.storesMtime(spark, Seq(modelDir)) > _)) {
      val preRead = DerivedArtifact.storesMtime(spark, Seq(modelDir))
      AtomicPublish.stageAndRename(spark, adir, ".totals.tmp", "totals") {
        tmp =>
          // one file per table (§6 small files): the tables are
          // vocabulary-bounded, and a 32-file artifact costs 32 open+
          // footer tasks on EVERY serve read — measured +0.7 s on the
          // lane that reads it four times (q_ccnet_buckets_indexed)
          pairTotals(spark, modelDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$tmp/pairs")
          prefixTotals(spark, modelDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$tmp/prefix")
          DerivedArtifact.writeWatermark(spark, tmp, preRead)
      }
    }
    live
  }

  /** Artifact schemas, pinned: `spark.read.parquet` without a schema
    * infers it per call (driver footer read — and a distributed footer
    * job on multi-file dirs), a per-serve cost the serving lanes pay 2–4
    * times per run. The totals layout is fixed by [[ensureTotals]]. */
  private[operators] val PairsTotalsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("l", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("r", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("c12", org.apache.spark.sql.types.LongType)))
  private[operators] val PrefixTotalsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("l", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("c1", org.apache.spark.sql.types.LongType)))

  /** Score documents against the persisted model: the q_lm_bigram output
    * (n_bigrams, Σc12, Σc1, fit_score, n_hapax) with model counts summed
    * across epochs — the corpus is scanned only to produce the scored
    * docs' own bigrams, never to train. */
  def scoreDocs(spark: SparkSession, docs: DataFrame, modelDir: String): DataFrame = {
    val totals = ensureTotals(spark, modelDir)
    val model = spark.read.schema(PairsTotalsSchema).parquet(s"$totals/pairs")
    val cnt1 = spark.read.schema(PrefixTotalsSchema).parquet(s"$totals/prefix")
    val d = docs.select(col("doc_id"), xxhash64(col("text")).as("tkey"), col("text"))
    val members = d.select(col("doc_id"), col("tkey"))
    val w = split(trim(col("text")), " ")
    // slice-based pairs: in-bounds by construction, no <2-token special case.
    // The tkey exchange is a USER repartition at the session's shuffle
    // partition count (round 17): the stage consuming it — bigram explode
    // + two model probes + partial agg, the lane's compute-dense heart —
    // is ~1 MB of text at gate SF, so AQE's byte-priced coalescing folds
    // it to 1-4 skewed tasks (measured: a 1.5 s max task with 31 idle
    // cores); an explicit repartition is exempt from coalescing, and at
    // the same count as spark.sql.shuffle.partitions the groupBy reuses
    // it — same single exchange, parallelism pinned. Scale shape: graft
    // entry points pin shuffle.partitions to the core count, so this is
    // the partitioning the exchange would have anyway.
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val perText = d.repartition(shufflePartitions, col("tkey"))
      .groupBy(col("tkey")).agg(first(col("text")).as("text"))
      .select(col("tkey"), explode(transform(
        slice(w, lit(1), greatest(size(w) - 1, lit(0))),
        (x, i) => struct(x.as("l"), element_at(w, i + 2).as("r")))).as("p"))
      .select(col("tkey"), col("p.l").as("l"), col("p.r").as("r"))
      .join(model, Seq("l", "r"))
      .join(cnt1, Seq("l"))
      .groupBy(col("tkey"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("c12")).as("sum_c12"),
        sum(col("c1")).as("sum_c1"),
        sum(when(col("c12") === 1, 1L).otherwise(0L)).as("n_hapax"))
    members.join(perText, "tkey")
      .select(col("doc_id"), col("n_bigrams"), col("sum_c12"), col("sum_c1"),
        (col("sum_c12").cast(DoubleType) / col("sum_c1").cast(DoubleType))
          .as("fit_score"),
        col("n_hapax"))
  }

  // --- q_lm_bigram_indexed: the persisted-model lane on the oracle gate --
  // Model built lazily on first use, keyed by the documents parquet's
  // identity — repeat runs (the production cadence) pay only scoring.
  // Trained on and scoring the same corpus, so it rides q_lm_bigram's
  // oracle unchanged: every model count equals the inline aggregation.
  private def modelDirFor(dir: String): String = {
    // v2: the store carries its own prefix-count table
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "lm-v2"))
    StoreRoot.dir(s"graft-lm-model-$key")
  }

  /** Build-if-absent against the corpus at `dir`; returns the model dir.
    * Shared by the scoring lane, the indexed CCNet-selection lane, and
    * the indexed curation funnel ([[CurationFunnel]]) — all read the SAME
    * persisted model. */
  private[operators] def ensureModel(spark: SparkSession, dir: String): String = {
    val modelDir = modelDirFor(dir)
    if (!StoreRoot.exists(spark, s"$modelDir/pairs.parquet"))
      buildModel(spark, Tables.table(spark, dir, "documents"), modelDir)
    modelDir
  }

  private def qLmIndexed(spark: SparkSession, dir: String): DataFrame =
    scoreDocs(spark, Tables.table(spark, dir, "documents"),
      ensureModel(spark, dir))

  /** q_ccnet_buckets_indexed: the CCNet head/middle/tail selection scored
    * from the PERSISTED LM model — the production cadence (the inline
    * lane retrains the bigram LM on every invocation; this one reads the
    * stream-maintained counts). Row-identical to q_ccnet_buckets (same
    * BIGINT-sum fit_score, same sampled-tercile cutoffs), so it rides the
    * same oracle. */
  private def qCcnetBucketsIndexed(spark: SparkSession, dir: String): DataFrame = {
    val modelDir = ensureModel(spark, dir)
    TextOps.ccnetBucketsFrom(Tables.table(spark, dir, "documents"),
      dd => scoreDocs(spark, dd, modelDir))
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_lm_bigram_indexed", qLmIndexed, Some(TextOps.qLmBigramOracle)),
    QueryDef("q_ccnet_buckets_indexed", qCcnetBucketsIndexed,
      Some(TextOps.qCcnetBucketsOracle)))
}
