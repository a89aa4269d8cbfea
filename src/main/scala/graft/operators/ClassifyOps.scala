package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Supervised bag-of-words document classification — the quality/domain
  * classifier slot of a curation stack (the role fastText linear
  * classifiers play in CCNet/RefinedWeb-style pipelines): train per-class
  * token statistics on a deterministic holdout split, score every held-out
  * document against every class, and emit prediction + correctness so the
  * classifier's accuracy is itself part of the gated output.
  *
  * The model is a Laplace-smoothed class-frequency linear scorer: token
  * weight for class c is (count(w,c)+1)/(N_c+V), kept in 1e9 fixed-point
  * BIGINT via integer division — the keyword-search/DSIR move that keeps
  * the whole train+predict loop off float summation, so training AND
  * inference ride the rows+schema+hash gate. (Naive Bayes' log-probability
  * sum would put a libm ln() in every term — the exact cross-engine
  * divergence the repo's integer discipline exists to avoid.)
  *
  * Scale shape: training is two wordcount-shaped aggs (token×class counts
  * and class totals — both vocabulary-bounded model artifacts, never
  * corpus-sized); inference joins the test tokens straight to the counts
  * table on `word` (wordcount-shaped shuffle, fanning out only to the
  * classes that saw the word — no vocab×k grid, see [[textScores]]);
  * every (token, class) slot without a training count, in or out of
  * vocabulary, gets the per-class smoothing floor via the k-row
  * broadcast default table; the per-text argmax is a window PARTITIONED
  * by the text key. Nothing funnels to a single reducer.
  *
  * Overflow bound: (c+1)·1e9 needs c < 9.2e9 — holds to ~10 TB of tokens
  * per class; beyond that the scale constant drops a digit.
  */
object ClassifyOps {
  import Tables.table

  private def toks: Column = split(trim(col("text")), " ")

  /** 1e9 fixed-point scale for the smoothed class frequencies. */
  private val Scale = 1000000000L

  /** doc_id mod 5 == 0 → held-out test set (deterministic split, same
    * arithmetic in both engines). */
  private[operators] val TestMod = 5L

  /** Token×class counts over the deterministic train split — the WHOLE
    * model state (class totals and vocabulary size derive from it), and
    * ADDITIVE, so [[ClassifyIndex]] can persist it epoch-partitioned.
    * Dedup-first (the DedupOps/LmIndex discipline): tokens are exploded
    * once per DISTINCT (text, lang) with the number of train-split copies
    * as the weight — a 100×-replicated corpus re-counts the same distinct
    * texts, it does not re-tokenize 100× the rows. */
  private[operators] def trainCounts(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % TestMod =!= 0L)
      .groupBy(col("text"), col("lang")).agg(count(lit(1)).as("n_copies"))
      .select(col("n_copies"), col("lang"), explode(toks).as("word"))
      .groupBy(col("word"), col("lang"))
      .agg(sum(col("n_copies")).as("c"))

  /** Score the holdout split of `docs` against a trained counts table:
    * smoothing denominators derive from the counts, inference is the
    * token⨝counts join plus the smoothing-floor default term, then a
    * text-partitioned argmax window. The prediction
    * is a pure function of the text, so it is computed once per DISTINCT
    * text and attributed back to doc_ids by an internal hash join —
    * exact copies (the dominant redundancy at corpus scale) cost one
    * membership row, not a re-scored token stream. */
  private[operators] def scoreAgainst(docs: DataFrame, counts: DataFrame): DataFrame =
    scoreDocs(docs.filter(col("doc_id") % TestMod === 0L), counts)

  /** Score an arbitrary target set against a trained counts table — the
    * holdout lane above and the curation funnel's all-docs classifier
    * gate ([[CurationFunnel]]) share this body. */
  private[operators] def scoreDocs(test: DataFrame, counts: DataFrame): DataFrame = {
    val (members, scored) = textScores(test, counts)
    val wRank = Window.partitionBy(col("tkey"))
      .orderBy(col("total").desc, col("lang"))
    val perText = scored.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
      .select(col("tkey"), col("lang").as("pred_lang"), col("total").as("score"))
    members.join(perText, "tkey")
      .select(col("doc_id"), col("true_lang"), col("pred_lang"), col("score"),
        when(col("pred_lang") === col("true_lang"), 1L).otherwise(0L).as("is_correct"))
  }

  /** The pre-argmax score surface: (members (doc_id, true_lang, tkey),
    * scored (tkey, lang, total)) — the argmax lane above and the
    * calibration lane ([[EvalOps]]) consume the same totals.
    *
    * No vocab×class grid (round 17, §2.3 shuffle fewer bytes / §3): an
    * in-vocab token whose (word, class) pair has NO training count
    * scores `(0+1)·Scale div (n_l+v)` — the SAME integer as the
    * out-of-vocab default `s0 = Scale div (n_l+v)` — so materializing a
    * smoothed score for every vocab×class cell and fanning every test
    * token out k ways through the grid join buys nothing. The scorer
    * joins test tokens straight to the counts table (fan-out only to
    * the classes that actually saw the word, usually 1 of k) and routes
    * every unmatched (token, class) slot through the default term
    * `(n_toks − n_rows(lang))·s0`, summing the identical integers the
    * grid would have. Plan effect: the vocab-distinct + grid build +
    * k-way token fan-out (2 Exchanges and the widest join of the lane)
    * collapse into one token⨝counts join. */
  private[operators] def textScores(test: DataFrame, counts: DataFrame): (DataFrame, DataFrame) = {
    // the model table feeds three consumers (class totals, vocabulary
    // size, the token join), each recomputing its derivation — measured
    // CHEAPER than caching it: a .cache() here cost ~+1 s per lane
    // (InMemoryRelation materialization is its own uncodegen'd job and
    // the broadcast builds serialize behind it), so the recompute stays.
    val langTotals = counts.groupBy(col("lang")).agg(sum(col("c")).as("n_l"))
    val vocabN = counts.select(col("word")).distinct()
      .agg(count(lit(1)).as("v"))
    // smoothing floor — the score of ANY (token, class) slot without a
    // training count, in or out of vocabulary
    val dflt = langTotals.crossJoin(broadcast(vocabN))
      .select(col("lang"), col("n_l"),
        expr(s"${Scale}L div (n_l + v)").as("s0"))

    // one row per test doc; scoring below touches distinct texts only
    val members = test.select(col("doc_id"), col("lang").as("true_lang"),
      xxhash64(col("text")).as("tkey"))
    val texts = test.groupBy(xxhash64(col("text")).as("tkey"))
      .agg(first(col("text")).as("text"))
      .select(col("tkey"), toks.as("w"))
      .select(col("tkey"), col("w"), size(col("w")).cast(LongType).as("n_toks"))
    val testTok = texts.select(col("tkey"), explode(col("w")).as("word"))
    // counted (word, class) pairs only; n_rows is per-class now, so the
    // default term below must use the same per-class count
    val hits = testTok.join(counts, "word")
      .join(broadcast(dflt.select(col("lang"), col("n_l"))), "lang")
      .crossJoin(broadcast(vocabN))
      .select(col("tkey"), col("lang"),
        expr(s"((c + 1) * ${Scale}L) div (n_l + v)").as("s"))
      .groupBy(col("tkey"), col("lang"))
      .agg(sum(col("s")).as("sum_s"), count(lit(1)).as("n_rows"))

    val scored = texts.select(col("tkey"), col("n_toks"))
      .crossJoin(broadcast(dflt.select(col("lang"), col("s0"))))
      .join(hits, Seq("tkey", "lang"), "left")
      .select(col("tkey"), col("lang"),
        (coalesce(col("sum_s"), lit(0L))
          + (col("n_toks") - coalesce(col("n_rows"), lit(0L))) * col("s0"))
          .as("total"))
    (members, scored)
  }

  private[operators] def qClassifyFreq(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    scoreAgainst(d, trainCounts(d))
  }

  private[operators] val oracleSql: String =
    predictionSql(s"doc_id % $TestMod = 0")

  /** All-docs prediction oracle — the curation funnel's classifier gate
    * ([[CurationFunnel]]): same trained model, the target WHERE clause
    * opened up. */
  private[operators] val predictAllSql: String = predictionSql("TRUE")

  private def predictionSql(targetWhere: String): String =
    s"""${scoringCtes(targetWhere)}
       |SELECT doc_id, true_lang, lang AS pred_lang, CAST(total AS BIGINT) AS score,
       |  CASE WHEN lang = true_lang THEN 1::BIGINT ELSE 0::BIGINT END AS is_correct
       |FROM (SELECT *, ROW_NUMBER() OVER (
       |        PARTITION BY doc_id ORDER BY total DESC, lang) AS rn
       |      FROM sc) x
       |WHERE rn = 1""".stripMargin

  /** The oracle's pre-argmax CTE chain (through `sc`: per-doc per-class
    * totals) — shared by the prediction tail above and the calibration
    * tail in [[EvalOps]], mirroring the [[textScores]] split. */
  private[operators] def scoringCtes(targetWhere: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS word
       |  FROM documents),
       |train AS (SELECT * FROM tok WHERE doc_id % $TestMod <> 0),
       |cnt AS (SELECT word, lang, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM train GROUP BY 1, 2),
       |lt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM train GROUP BY 1),
       |vn AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM train),
       |grid AS (
       |  SELECT w.word, l.lang, ((COALESCE(c.c, 0) + 1) * $Scale) // (l.n_l + vn.v) AS s
       |  FROM (SELECT DISTINCT word FROM train) w
       |  CROSS JOIN lt l CROSS JOIN vn
       |  LEFT JOIN cnt c ON c.word = w.word AND c.lang = l.lang),
       |dflt AS (SELECT lang, $Scale // (n_l + v) AS s0 FROM lt CROSS JOIN vn),
       |ttok AS (SELECT doc_id, word FROM tok WHERE $targetWhere),
       |hits AS (
       |  SELECT t.doc_id, g.lang, CAST(SUM(g.s) AS BIGINT) AS sum_s,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM ttok t JOIN grid g USING (word) GROUP BY 1, 2),
       |base AS (
       |  SELECT doc_id, lang AS true_lang,
       |    len(string_split(trim(text), ' '))::BIGINT AS n_toks
       |  FROM documents WHERE $targetWhere),
       |sc AS (
       |  SELECT b.doc_id, b.true_lang, f.lang,
       |    COALESCE(h.sum_s, 0) + (b.n_toks - COALESCE(h.n_rows, 0)) * f.s0 AS total
       |  FROM base b CROSS JOIN dflt f
       |  LEFT JOIN hits h ON h.doc_id = b.doc_id AND h.lang = f.lang)""".stripMargin

  // --- q_classify_eval: the classifier's evaluation report ---------------
  // What a curation pipeline actually publishes about its classifier:
  // the holdout confusion matrix (true × predicted counts) with per-cell
  // share-of-true in fixed-point permille. Rides the prediction lane, so
  // the whole train→predict→evaluate loop is hash-gated; output is
  // class²-bounded (a report, not data), aggregated map-side.
  private def qClassifyEval(spark: SparkSession, dir: String): DataFrame = {
    val preds = qClassifyFreq(spark, dir)
    // n_true = Σ n over the true class's confusion row — derived from the
    // class²-bounded confusion table itself (one window over ≤k² rows)
    // instead of a SECOND full train→predict pipeline feeding a join
    // (round 17, §2.4: the two consumers of `preds` each recomputed the
    // whole scorer)
    preds.groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_true",
        sum(col("n")).over(Window.partitionBy(col("true_lang"))))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        expr("(n * 1000) div n_true").as("share_permille"))
  }

  private val qClassifyEvalSql =
    s"""WITH preds AS ($oracleSql),
       |pt AS (SELECT true_lang, CAST(COUNT(*) AS BIGINT) AS n_true
       |       FROM preds GROUP BY 1)
       |SELECT p.true_lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST((COUNT(*) * 1000) // pt.n_true AS BIGINT) AS share_permille
       |FROM preds p JOIN pt ON pt.true_lang = p.true_lang
       |GROUP BY 1, 2, pt.n_true""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q_classify_freq", qClassifyFreq, Some(oracleSql),
      headline = true),
    QueryDef("q_classify_eval", qClassifyEval, Some(qClassifyEvalSql)))
}
