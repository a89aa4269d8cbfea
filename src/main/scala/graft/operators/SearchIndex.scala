package graft.operators

import org.apache.hadoop.fs.Path
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Persisted inverted index (postings store) — the production twin of
  * the inline `q_keyword_search`/`q_hybrid_search` lanes, which re-build
  * the term table from raw text per query: at 100 TB the corpus is
  * tokenized ONCE per document at ingest, term postings are maintained
  * by O(batch) appends, and a keyword query is a pruned read of the
  * query terms' buckets — never a corpus scan. Eleventh member of the
  * persisted-index family.
  *
  * State is additive under the family's read-merge rules:
  *  - posting rows (doc_id, term, tf) are keyed by (doc_id, term); a
  *    re-delivered document contributes the identical rows, so the merge
  *    is dedup (MIN over the equal tf values — crash-window duplicate
  *    epochs are invariant, the SketchIndex discipline);
  *  - df and n_docs are DERIVED at read time from the merged postings
  *    and the docs ledger — never persisted, so they can't drift.
  *
  * Scale layout: postings are hash-bucketed by term
  * (`tbucket = xxhash64(term) mod 64`) INSIDE each epoch partition, so a
  * query for k terms reads ≤ k buckets of each epoch — directory-pruned
  * by Spark's partition discovery, the [[IvfIndex]] probed-cells
  * contract applied to text. A 64-bucket layout keeps per-epoch file
  * counts bounded while making the worst-case keyword read 1/64 of the
  * store (typical: k buckets). Every postings write (append epochs and
  * the compact's fold) is hash-partitioned on `tbucket` over
  * `defaultParallelism` tasks ([[spread]]): each bucket is still one
  * file per epoch, and the 64 files are written by all cores instead of
  * by one coalesced task.
  *
  * Layout under `indexDir` (a [[TombstoneStore]]: epoch-partitioned,
  * dot-prefixed staging, one rename per table per publish, in this
  * order):
  *  - `postings.parquet/epoch=K/tbucket=B`: (doc_id, term, tf)
  *  - `term_df.parquet/epoch=K`: (term, df) — the epoch's per-term doc
  *    counts
  *  - `docs.parquet/epoch=K`: (doc_id, dl) — replay-safe membership
  *    ledger with each doc's token count
  */
object SearchIndex {

  /** Term-hash buckets per epoch — the keyword read's pruning unit. */
  private val TBuckets = 64L

  private def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(trim(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", pmod(xxhash64(col("term")), lit(TBuckets)))

  /** A term's bucket computed on the driver — Spark's `xxhash64` (seed
    * 42) `pmod` [[TBuckets]], the value [[postingsOf]] writes, without a
    * query to compute it. */
  private[operators] def tbucketOf(term: String): Long =
    java.lang.Math.floorMod(
      XxHash64Function.hash(UTF8String.fromString(term), StringType, 42L), TBuckets)

  /** Postings hash-partitioned on `tbucket` over `defaultParallelism`
    * tasks: one task per bucket set, so each bucket stays one file. */
  private def spread(postings: DataFrame): DataFrame =
    postings.repartition(
      postings.sparkSession.sparkContext.defaultParallelism, col("tbucket"))

  // the folds describe the tables; [[compact]] runs them itself, keeping
  // the tbucket layout and the term_df backfill
  private val store = new TombstoneStore("search", Seq(
    TombstoneTable("postings.parquet", Seq("tbucket"), Fold.Rows),
    TombstoneTable("term_df.parquet", Nil,
      Fold.Derived((spark, indexDir) => _ => foldedTermDf(spark, indexDir))),
    TombstoneTable(EpochLedger.Ledger, Nil, Fold.Rows)),
    docs => Seq(spread(postingsOf(docs)),
      // the batch's per-term doc counts — the persisted half of the
      // hybrid lane's df cap, so serving never re-aggregates the whole
      // postings store ([[termDfFromStore]] for merge + crash rules)
      postingsOf(docs).groupBy(col("term")).agg(count(lit(1)).as("df")),
      // the ledger carries each doc's TOTAL token count (dl), derived
      // from the batch's own tf sums at ingest — BM25 length
      // normalization then never re-scans the postings (a doc's full
      // term rows span all 64 tbuckets, so a read-time dl would defeat
      // the pruned-read contract). Replay-safe like doc_id itself: a
      // re-delivered doc contributes the identical (doc_id, dl) row.
      postingsOf(docs).groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))))

  /** Build (overwrite) the index as epoch 0. */
  def buildIndex(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    store.build(spark, docs, indexDir)

  /** Fold a batch of new documents in: tokenization is a pure per-doc
    * function, so the batch's postings land as a fresh epoch with no
    * resident row touched — O(batch). Caller dedupes batches against
    * [[residentDocIds]]. */
  def appendToIndex(spark: SparkSession, indexDir: String, batch: DataFrame): Unit =
    StoreLock.withLock(spark, indexDir, "search-append") {
      // v1 stores migrate BEFORE the append so a mixed-schema ledger (old
      // epochs without dl, new epochs with it) can never exist on disk
      migrateDocsLedger(spark, indexDir)
      store.append(spark, indexDir, batch)
    }

  /** v1→v2 docs-ledger migration (the LmIndex v1→v2 prefix discipline):
    * v2 made the ledger carry (doc_id, dl), and BM25's length
    * normalization reads it — but a store built by v1 code has doc_id
    * only, and APPENDING v2 epochs to it would leave a mixed-schema
    * table where reads throw or silently serve null dl depending on
    * which footer Spark picks, and the compact's distinct() fold can
    * drop dl for every doc. Each legacy epoch is rewritten in place
    * (one staged rename, crash-idempotent — a re-run migrates whatever
    * epochs still lack dl) with dl recomputed from the SAME epoch's
    * postings, which carry per-doc tf: `postingsOf` writes every doc's
    * full term rows into its arrival epoch, so `Σ tf` over that epoch
    * is exactly the dl the v2 ingest would have persisted — migrated ≡
    * rebuilt, bit for bit (spec: `SearchIndexSpec`). Runs on every
    * mutation ([[appendToIndex]], [[compact]]); no-op (schema checks
    * only) on v2 stores. */
  def migrateDocsLedger(spark: SparkSession, indexDir: String): Unit =
    // a store-mutating writer in its own right (fsck documents direct
    // operator invocation), so it takes the writer lock itself —
    // reentrant under the locked append/compact callers
    StoreLock.withLock(spark, indexDir, "search-migrate") {
    val docsT = new Path(indexDir, "docs.parquet")
    val fs = docsT.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(docsT)) return
    val legacy = fs.listStatus(docsT).map(_.getPath.getName)
      .filter(_.startsWith("epoch="))
      .filter(e => !StoreRead.table(spark, s"$docsT/$e").columns.contains("dl"))
    for (e <- legacy) {
      val k = e.stripPrefix("epoch=")
      val ids = spark.read.parquet(s"$docsT/$e").select(col("doc_id")).distinct()
      // the postings twin may be ABSENT, not just incomplete: a v1
      // compact that crashed between the postings fold and the docs fold
      // leaves postings at epoch=0 but docs multi-epoch — reading the
      // missing epoch dir would throw PATH_NOT_FOUND and wedge the
      // migration. Existence-check first; a lost twin degrades the whole
      // epoch to dl=0 (the same contract as a lost single row below)
      val postingsEpoch = new Path(s"$indexDir/postings.parquet/epoch=$k")
      val migrated =
        if (!fs.exists(postingsEpoch))
          ids.select(col("doc_id"), lit(0L).as("dl"))
        else {
          val dl = spark.read.parquet(postingsEpoch.toString)
            .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
          // left join + coalesce: a ledger row whose postings epoch was
          // lost to a crash window keeps dl=0 rather than vanishing
          ids.join(dl, Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
        }
      AtomicPublish.stageAndRename(
        spark, docsT.toString, s".$e-migrate.tmp", e) { tmp =>
        migrated.write.mode("overwrite").parquet(tmp.toString)
      }
    }
  }

  /** Doc_ids already folded in (the streaming anti-join target). NOTE:
    * tombstoned docs stay in this ledger until compaction — a deleted
    * doc re-arriving before the compact is dropped by the replay
    * anti-join AND stays hidden by the tombstone, the IVF-family
    * shadowing semantics. */
  def residentDocIds(spark: SparkSession, indexDir: String): DataFrame =
    store.residentDocIds(spark, indexDir)

  // --- Deletion (tombstones) — the [[IvfIndex.deleteFromIndex]] pattern
  // applied to the text store: a takedown request must remove a
  // document's postings WITHOUT rewriting the term buckets. O(ids)
  // tombstone epoch; the read-merge anti-joins it (so df and scores
  // exclude the doc immediately); compaction folds the rows out of the
  // postings AND the ledger, then retires the table.

  /** Tombstone a set of (doc_id) rows — O(ids), one atomic rename. */
  def deleteFromIndex(spark: SparkSession, indexDir: String, ids: DataFrame): Unit =
    store.delete(spark, indexDir, ids)

  private def minusTombstones(
      spark: SparkSession, indexDir: String, df: DataFrame): DataFrame =
    Tombstones.minus(spark, indexDir, df, "doc_id")

  /** Fold all epochs into one — the read-merge, made durable; tombstoned
    * documents fold out of the postings AND the ledger, and the
    * tombstone table retires. The fold runs whenever there are MULTIPLE
    * epochs OR pending tombstones (a one-epoch store with tombstones
    * still needs the rewrite — only after it may the table retire), and
    * the postings rewrite preserves the tbucket directory layout so the
    * pruned-read contract survives compaction.
    *
    * Search's own, not [[TombstoneStore.compact]]: `term_df` is derived
    * from the FOLDED postings and cannot be folded per epoch (a per-epoch
    * df sum would keep the deleted docs), so it is rewritten whenever the
    * postings fold ran — even at one `term_df` epoch — and backfilled on
    * stores written before the summary existed. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    StoreLock.withLock(spark, indexDir, "search-compact") {
    // a v1 ledger must gain dl BEFORE the fold — distinct() over a
    // mixed-schema table would drop it for every doc
    migrateDocsLedger(spark, indexDir)
    val postings = new Path(indexDir, "postings.parquet")
    val termDfT = new Path(indexDir, "term_df.parquet")
    // uncommitted residue must not fold into the committed epoch=0
    EpochLedger.dropOrphans(spark, s"$indexDir/${EpochLedger.Ledger}",
      Seq(postings.toString, termDfT.toString))
    // frozen tombstone epoch set: fold out exactly these, retire exactly
    // these — a takedown racing this compact stays pending for the next
    val ts = Tombstones.snapshot(spark, indexDir)
    val haveTombstones = ts.nonEmpty
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def epochsOf(p: Path): Int =
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.startsWith("epoch="))
    val foldPostings = epochsOf(postings) > 1 || haveTombstones
    if (foldPostings) {
      val merged = ts.minus(spark,
        mergePostings(spark.read.parquet(postings.toString).drop("epoch")), "doc_id")
      AtomicPublish.swapDir(spark, postings.toString) { tmp =>
        spread(merged).write.partitionBy("tbucket").parquet(s"$tmp/epoch=0")
      }
    }
    // the df summary rewrites from the (now-folded) postings —
    // tombstone-excluded, orphan epochs deduped away — whenever the fold
    // ran or the table is missing/multi-epoch; the missing case is the
    // free migration path for stores from before the summary existed.
    // The post-fold store is single-epoch with (doc_id, term)-unique
    // rows and tombstones already folded out (a no-fold path can only
    // reach here with ts EMPTY — pending tombstones force the fold), so
    // this is one groupBy(term) count with map-side partials, never a
    // second whole-store dedup shuffle or a re-applied anti-join
    if (foldPostings || !fs.exists(termDfT) || epochsOf(termDfT) > 1) {
      val folded = foldedTermDf(spark, indexDir)
      if (fs.exists(termDfT))
        AtomicPublish.swapDir(spark, termDfT.toString) { tmp =>
          folded.write.parquet(s"$tmp/epoch=0")
        }
      else
        AtomicPublish.stageAndRename(
          spark, indexDir, ".term_df.tmp", "term_df.parquet") { tmp =>
          folded.write.parquet(s"$tmp/epoch=0")
        }
    }
    val docsT = new Path(indexDir, "docs.parquet")
    if (epochsOf(docsT) > 1 || haveTombstones) {
      val merged = ts.minus(spark,
        spark.read.parquet(docsT.toString).drop("epoch").distinct(), "doc_id")
      AtomicPublish.swapDir(spark, docsT.toString) { tmp =>
        merged.write.parquet(s"$tmp/epoch=0")
      }
    }
    // deletions durable in the folded tables — retire the SNAPSHOT's
    // epochs only (a takedown that raced this compact stays pending;
    // publish-before-delete: a crash before this line leaves tombstones
    // shadowing already-removed rows, a no-op the next compact clears)
    ts.clear(spark)
    ()
  }

  /** (term, df) over the merged postings — `term_df` as the compact
    * rewrites it from the folded postings. */
  private def foldedTermDf(spark: SparkSession, indexDir: String): DataFrame =
    mergedPostings(spark, indexDir, spark.read.parquet(s"$indexDir/postings.parquet"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** The family's read-merge: dedupe (doc_id, term) — duplicate rows from
    * a crash-window replay carry the identical tf, so MIN is invariance,
    * not arithmetic. `tbucket` is a function of term; MIN is a no-op. */
  private def mergePostings(raw: DataFrame): DataFrame =
    raw.groupBy(col("doc_id"), col("term"))
      .agg(min(col("tf")).as("tf"), min(col("tbucket")).as("tbucket"))

  /** The read-merge SKIPPED when the layout already guarantees it: a
    * freshly built or compacted store has ONE epoch whose rows are
    * (doc_id, term)-unique by construction (`postingsOf` groups per
    * batch; the fold rewrites the merged set), so the merge groupBy —
    * which exists to absorb double-appended crash-window epochs —
    * would shuffle the whole store to change nothing. Multi-epoch
    * stores take the exact merge. Row-identical either way; at sf10
    * this is the difference between the indexed hybrid lane re-merging
    * 12M posting rows per query and reading them straight. */
  private def mergedPostings(
      spark: SparkSession, indexDir: String, raw: DataFrame): DataFrame =
    if (IndexPolicy.epochCount(spark, s"$indexDir/postings.parquet") <= 1)
      raw.select(col("doc_id"), col("term"), col("tf"), col("tbucket"))
    else mergePostings(raw)

  /** Merged COMMITTED postings for a bounded term set — the PRUNED
    * read: the term filter restricts partition discovery to the query
    * terms' buckets before any row is materialized. Plans without a
    * Spark job (driver-side buckets, [[StoreRead]]). */
  private def termPostings(
      spark: SparkSession, indexDir: String, terms: Seq[String]): DataFrame = {
    val buckets = terms.map(tbucketOf).distinct
    minusTombstones(spark, indexDir, mergedPostings(spark, indexDir,
      StoreRead.committed(spark, indexDir, "postings.parquet")
        .filter(col("tbucket").isin(buckets: _*))
        .filter(col("term").isin(terms: _*))))
  }

  /** Keyword retrieval from index files only — the same fixed-point
    * tf·N·1e6 div df scoring as the inline `q_keyword_search`
    * ([[CorpusOps]]), so the two are one algorithm by construction. */
  def searchFromIndex(
      spark: SparkSession, indexDir: String,
      terms: Seq[String], topK: Int): DataFrame = {
    val tf = termPostings(spark, indexDir, terms)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // n_docs excludes tombstoned docs — the score a rebuild-without-them
    // would produce (df already excludes them through termPostings)
    val n = minusTombstones(spark, indexDir, residentDocIds(spark, indexDir))
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
      .withColumn("term_score", expr("(tf * n_docs * 1000000) div df"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("term_score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
    // rank via a bounded global window over the ≤ topK limited rows —
    // NOT derived from the limit's row order: a LIMIT's output order is
    // not a Spark guarantee downstream (exchanges may interleave), so
    // re-stating the sort inside the window is the only order the
    // optimizer must honor. The window input is topK rows (the
    // TakeOrderedAndProject feeds it — plan-pinned by WindowPlanSpec);
    // the non-foldable constant partition key keeps the warning log
    // clean. Round-11: evaluated deriving rank from the sorted limit
    // and declined — correctness over aesthetics.
    scored.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("score") * lit(0L))
        .orderBy(col("score").desc, col("doc_id"))).cast(LongType))
  }

  /** The ledger with doc lengths (doc_id, dl), merged across epochs and
    * tombstone-excluded — the BM25 normalization table. Refuses a v1
    * (dl-less) ledger loudly: depending on which footer Spark picks, a
    * mixed read would otherwise throw cryptically or serve null dl. */
  private def docLengths(spark: SparkSession, indexDir: String): DataFrame = {
    val docs = StoreRead.table(spark, s"$indexDir/docs.parquet")
    if (!docs.columns.contains("dl"))
      throw new IllegalStateException(
        s"docs ledger at $indexDir/docs.parquet has no dl column (a v1 " +
          "store) — run migrateDocsLedger (any append/compact does) " +
          "before serving BM25 from it")
    minusTombstones(spark, indexDir,
      docs.select(col("doc_id"), col("dl")).distinct())
  }

  /** Okapi BM25 from index files only: tf/df from the PRUNED term-bucket
    * read, dl/avgdl/n_docs from the small ledger — the arithmetic is the
    * shared [[CorpusOps.bm25Score]] body, so this is `q_bm25_search`
    * served from the store by construction. */
  def bm25FromIndex(
      spark: SparkSession, indexDir: String,
      terms: Seq[String], topK: Int): DataFrame = {
    val tf = termPostings(spark, indexDir, terms)
      .select(col("doc_id"), col("term"), col("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = docLengths(spark, indexDir)
    val totals = dl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    CorpusOps.bm25Score(tf, df, dl, totals, topK)
  }

  /** Corpus-wide (term, df) served from the persisted summary: per-epoch
    * df rows sum — additive because committed batches are doc-disjoint
    * (the resident anti-join contract), so Σ per-epoch df ≡ the per-term
    * count over the merged postings, which the append≡rebuild spec pins.
    * Crash rule: a term_df epoch is only summed if its DOCS epoch exists
    * (the ledger rename is the commit point) — an orphaned term_df epoch
    * from a crash window is uncommitted until the replay reconciles it
    * away and lands the batch under the same number
    * ([[EpochLedger.append]]), and stores written by older code, whose
    * replay numbered past the orphan, keep it for good. Returns None
    * unless the summary COVERS every committed docs epoch: a pre-summary
    * store that took one append has a term_df holding only the new
    * epoch, and serving that partial sum would drop every old-epoch
    * term from the cap table and undercount stopword df — the exact
    * blowup the cap prevents. None = callers fall back to the
    * read-derived aggregate; the next compact backfills the full
    * summary. (Same rule also rejects a crash between the compact's
    * term_df and docs folds: committed ⊄ summary epochs → fallback.) */
  private[operators] def termDfFromStore(
      spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val td = new Path(indexDir, "term_df.parquet")
    val fs = td.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(td)) None
    else {
      val committed = EpochLedger.epochs(spark, s"$indexDir/docs.parquet")
      val summarized = EpochLedger.epochs(spark, td.toString).toSet
      if (!committed.forall(summarized.contains)) None
      else Some(spark.read.parquet(td.toString)
        .filter(col("epoch").isInCollection(committed))
        .groupBy(col("term")).agg(sum(col("df")).as("df")))
    }
  }

  /** The lexical candidate list for hybrid fusion, from index files only:
    * shared distinct-term counts between each query document and the
    * resident corpus. Posting rows ARE the distinct terms (one row per
    * (doc, term)), so `shared` is a row count over the term join — the
    * same integer the inline lane computes from raw text. The query side
    * is a bounded broadcast; the corpus side never re-tokenizes. */
  def sharedTermRanks(
      spark: SparkSession, indexDir: String,
      queryMax: Long, candK: Int): DataFrame = {
    val merged = minusTombstones(spark, indexDir, mergedPostings(spark, indexDir,
      StoreRead.committed(spark, indexDir, "postings.parquet")))
    // BM25-style df cap before pair generation (the shared
    // [[RetrievalOps.dfCapFilter]] predicate — posting rows ARE the
    // distinct (doc, term) table, and n_docs is the tombstone-excluded
    // ledger, so the served cap is the one a rebuild would compute):
    // without it the high-df stopwords make every document a candidate
    // of every query and the matched-pair volume grows with corpus size.
    // FAST path: df comes from the persisted per-epoch summary — the
    // read-derived aggregate re-shuffles the whole postings store per
    // query, and at sf10 that aggregate WAS the indexed lane's remaining
    // gap to the inline twin. Pending tombstones (rare, bounded by the
    // next compact) or a summary-less legacy store fall back to deriving
    // df from the tombstone-excluded merge.
    val nDocs = minusTombstones(spark, indexDir, residentDocIds(spark, indexDir))
      .agg(count(lit(1)).as("n_docs"))
    val capTerms = termDfFromStore(spark, indexDir) match {
      case Some(td) if !Tombstones.pending(spark, indexDir) =>
        RetrievalOps.dfCapFilter(td, nDocs)
      case _ =>
        RetrievalOps.dfCapTerms(merged.select(col("doc_id"), col("term")), nDocs)
    }
    val postings = merged.join(broadcast(capTerms), "term")
    val qt = postings.filter(col("doc_id") < queryMax)
      .select(col("doc_id").as("query_id"), col("term"))
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("shared").desc, col("doc_id"))
    postings.join(broadcast(qt), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("lex_rank", row_number().over(wLex).cast(LongType))
      .filter(col("lex_rank") <= candK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  // --- the oracle-gate lanes ----------------------------------------------
  private def indexDirFor(dir: String): String = {
    // v3: adds the per-epoch term_df summary (v2 added dl to the docs
    // ledger) — a layout change, so old stores must not be reused (the
    // IndexStamp version-bump discipline); v1/v2 stores that ARE reused
    // externally migrate via migrateDocsLedger + the compact's summary
    // backfill
    val key = IndexStamp.dirKey(IndexStamp.identity(dir, "documents.parquet", "search-v3"))
    StoreRoot.dir(s"graft-search-index-$key")
  }

  /** Build-if-absent against the corpus at `dir`; returns the index dir. */
  private[operators] def ensureIndex(spark: SparkSession, dir: String): String = {
    val indexDir = indexDirFor(dir)
    if (!StoreRoot.exists(spark, s"$indexDir/postings.parquet"))
      buildIndex(spark, Tables.table(spark, dir, "documents"), indexDir)
    indexDir
  }

  /** Identical output to `q_keyword_search` (same scoring, same corpus,
    * tf/df/n_docs reconstructed exactly from the store) — rides its
    * oracle, the `_indexed`-twin discipline. */
  private def qKeywordSearchIndexed(spark: SparkSession, dir: String): DataFrame =
    searchFromIndex(spark, ensureIndex(spark, dir),
      CorpusOps.QueryTerms, CorpusOps.SearchTopK)

  /** Hybrid RRF with the LEXICAL side served from the postings store
    * (the vector side stays the exact brute list — fusing an
    * approximate ANN list would change results and needs its own
    * oracle; [[RetrievalOps]] documents the trade). Identical output to
    * `q_hybrid_search`. */
  private def qHybridSearchIndexed(spark: SparkSession, dir: String): DataFrame =
    RetrievalOps.hybridWithLexical(spark, dir,
      sharedTermRanks(spark, ensureIndex(spark, dir),
        RetrievalOps.HybridQueryMax, RetrievalOps.HybridCandK))

  /** Identical output to `q_bm25_search` (shared scoring body; tf/df
    * from the store equal the raw-text aggregates, dl from the ingest
    * ledger equals the raw-text token sums) — rides its oracle. */
  private def qBm25SearchIndexed(spark: SparkSession, dir: String): DataFrame =
    bm25FromIndex(spark, ensureIndex(spark, dir),
      CorpusOps.QueryTerms, CorpusOps.SearchTopK)

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_keyword_search_indexed", qKeywordSearchIndexed,
      Some(CorpusOps.qKeywordSearchSql)),
    QueryDef("q_bm25_search_indexed", qBm25SearchIndexed,
      Some(CorpusOps.qBm25SearchSql)),
    QueryDef("q_hybrid_search_indexed", qHybridSearchIndexed,
      Some(RetrievalOps.qHybridOracle)))
}
