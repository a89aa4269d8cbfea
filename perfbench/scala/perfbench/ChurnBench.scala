package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{IndexPolicy, SearchIndex, SpanIndex, WinnowIndex}

/** Writes beside reads on three persisted store families: each round
  * appends a batch of new documents and serves one query per family from
  * the multi-epoch store; every second round then tombstones a few
  * resident documents and lets the compaction policy run. A serve is planned
  * (the family's read call) and materialized through the `noop` sink. */
object ChurnBench {
  val ResidentFrac = 0.4
  val BatchDocs = 100
  /** Rounds per cycle; the last round of each cycle deletes. Runs measure
    * whole cycles, so every run does the same mix of calls. */
  val DeleteEvery = 2
  val DeleteDocs = 20

  /** One store family's public write and read calls. */
  final case class Family(
      name: String, probeTable: String,
      build: (SparkSession, DataFrame, String) => Unit,
      append: (SparkSession, String, DataFrame) => Unit,
      delete: (SparkSession, String, DataFrame) => Unit,
      compact: (SparkSession, String) => Unit,
      serve: (SparkSession, String) => DataFrame)

  val Families: Seq[Family] = Seq(
    Family("SearchIndex", "postings.parquet", SearchIndex.buildIndex,
      SearchIndex.appendToIndex,
      (s, d, docs) => SearchIndex.deleteFromIndex(s, d, docs.select(col("doc_id"))),
      SearchIndex.compact,
      (s, d) => SearchIndex.bm25FromIndex(s, d, Seq("spark", "window", "merge"), 20)),
    Family("SpanIndex", "grams.parquet", SpanIndex.buildIndex, SpanIndex.appendToIndex,
      SpanIndex.deleteFromIndex, SpanIndex.compact, SpanIndex.dupGrams),
    Family("WinnowIndex", "fps.parquet", WinnowIndex.buildIndex, WinnowIndex.appendToIndex,
      (s, d, docs) => WinnowIndex.deleteFromIndex(s, d, docs.select(col("doc_id"))),
      WinnowIndex.compact, WinnowIndex.matchesFromIndex))

  def run(ctx: Ctx): Unit = {
    import ctx._
    val all = graft.Tables.table(spark, dataDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rnd = new Random(seed)
    val order = rnd.shuffle(all.keys.toIndexedSeq.sorted)
    val nResident = (order.size * ResidentFrac).toInt
    val resident = mutable.LinkedHashSet(order.take(nResident): _*)
    val pool = order.drop(nResident).grouped(BatchDocs).toIndexedSeq
    val docsDf = graft.Tables.table(spark, dataDir, "documents")
      .select(col("doc_id"), col("text"))
    def frame(ids: Iterable[Long]): DataFrame =
      docsDf.filter(col("doc_id").isin(ids.toSeq: _*))
    val stores = work.resolve("stores")
    def dir(f: Family) = stores.resolve(f.name).toString

    // set-up: build every family from the resident docs
    rec.setup += Harness.timed {
      for (f <- Families) {
        tracer.span(s"${f.name}.build")(f.build(spark, frame(resident), dir(f)))
        noop(f.serve(spark, dir(f)))
      }
    }._2
    setupDone()

    // one operation is a round's appends and serves; the deletes and the
    // compaction that follow every second round are operations of their
    // own, so they show in the throughput but not in the median
    rec.primary = "round"
    val appendedBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val writtenBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val epochs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val serveS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var next = 0
    def round(traced: Boolean, k: Int): Unit = {
      def op(kind: String)(body: => Unit): Unit =
        rec.op(if (traced) s"${kind}_traced" else kind)(body)
      val batch = pool(next)
      next += 1
      val batchBytes = batch.map(all(_).getBytes("UTF-8").length.toLong).sum
      op("round") {
        for (f <- Families) {
          val before = if (tracer.enabled) DataGen.treeBytes(stores.resolve(f.name)) else 0L
          tracer.span(s"${f.name}.append")(f.append(spark, dir(f), frame(batch)))
          if (tracer.enabled) {
            writtenBytes(f.name) += DataGen.treeBytes(stores.resolve(f.name)) - before
            appendedBytes(f.name) += batchBytes
          }
        }
        for (f <- Families) {
          if (tracer.enabled) epochs.getOrElseUpdate(f.name, mutable.ArrayBuffer.empty) +=
            IndexPolicy.epochCount(spark, s"${dir(f)}/${f.probeTable}").toDouble
          val t = System.nanoTime()
          val df = tracer.span("operators.plan")(f.serve(spark, dir(f)))
          tracer.span("operators.exec")(noop(df))
          if (tracer.enabled) serveS(f.name) += (System.nanoTime() - t) / 1e9
        }
      }
      resident ++= batch
      val victims =
        if (k % DeleteEvery == DeleteEvery - 1) rnd.shuffle(resident.toIndexedSeq).take(DeleteDocs)
        else Seq.empty
      if (victims.nonEmpty) {
        for (f <- Families)
          op("delete")(tracer.span(s"${f.name}.delete")(f.delete(spark, dir(f), frame(victims))))
        resident --= victims
      }
      for (f <- Families)
        IndexPolicy.maybeCompact(spark, s"${dir(f)}/${f.probeTable}") {
          op("compact")(tracer.span(s"${f.name}.compact")(f.compact(spark, dir(f))))
        }
      if (!traced) rec.items += batch.size + victims.size
    }
    def rounds(traced: Boolean, budget: Double): Double = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (elapsed < budget && next + DeleteEvery <= pool.size)
        for (k <- 0 until DeleteEvery) round(traced, k)
      elapsed
    }
    rec.measuredS = rounds(traced = false, if (tracer.enabled) seconds / 2 else seconds)
    if (tracer.enabled) {
      rounds(traced = true, seconds / 2)
      for (f <- Families) {
        rec.layers(s"${f.name}.bytes_written_per_doc_byte") =
          if (appendedBytes(f.name) > 0) writtenBytes(f.name).toDouble / appendedBytes(f.name)
          else 0.0
        rec.layers(s"${f.name}.serve.busy_s") = serveS(f.name)
        rec.layers(s"${f.name}.epochs_at_serve") =
          Harness.median(epochs.get(f.name).map(_.toSeq).getOrElse(Nil))
      }
    }
    rec.info("rounds") = s"$next of ${pool.size} available batches"

    rec.heapLiveMb = Harness.heapLiveMb()
    rec.storeBytes = Families.map(f => DataGen.treeBytes(stores.resolve(f.name))).sum
    rec.baseBytes = resident.toSeq.map(all(_).getBytes("UTF-8").length.toLong).sum

    // each family's served answer must equal a fresh build of the
    // documents that are resident now
    val fresh = work.resolve("fresh")
    for (f <- Families) rec.check(s"churn.${f.name}") {
      val d = fresh.resolve(f.name).toString
      f.build(spark, frame(resident), d)
      Rows.compare(f.serve(spark, dir(f)), f.serve(spark, d))
    }
  }
}
