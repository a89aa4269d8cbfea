package graft.pipeline

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

import graft.check.ReconciliationCheck
import graft.combine.TableCombiner
import graft.discover.{Slug, SourceScanner}
import graft.functions.Functions
import graft.hooks.{PgFunctions, SqlHookRunner}
import graft.ingest.{CsvTableReader, Unzipper}

/** The six-stage pipeline (SURVEY §0 / §3.1), Spark-native:
  *
  *   0. pre-load SQL hooks        (SqlHookRunner)
  *   1. unzip discovered *.zip    (Unzipper, idempotent)
  *   2. import discovered *.csv   (CsvTableReader → temp views;
  *      function registration ≙ functions.sql; prefix combine)
  *   3. post-load SQL hooks       (SqlHookRunner)
  *   4. count CSV rows            (ReconciliationCheck.reconcile —
  *   5. reconciliation check       one query for both steps)
  *
  * Individual per-file tables are registered under their raw stem, the
  * combined table under the slugified prefix (reference asymmetry,
  * SURVEY §1.2). The sink is pluggable: temp views always; `sink`
  * callback (e.g. PostgresSink.write or a parquet writer) per table.
  *
  * Spark jobs run only where the work is: planning the per-file reads
  * and the combines runs none (CsvTableReader derives headers on the
  * driver), the sinks run as parallel batches, and steps 4+5 share one
  * aggregate over the raw CSV lines and every loaded table.
  *
  * THREAD-SAFETY CONTRACT: `sink` is invoked from up to `maxParallel`
  * concurrent threads (one per in-flight import or combined table —
  * `inParallel`), so the callback must be thread-safe: synchronize any
  * shared mutable state it touches, or use a concurrent collection. The
  * Spark actions it runs are already safe to run concurrently
  * (fair-scheduled jobs); it is the driver-side bookkeeping around them
  * that this contract is about.
  * A sink that must be serial can set `maxParallel = 1`.
  */
final case class LoaderConfig(
    sources: Seq[Path],
    all: Boolean = false,
    disableUnzip: Boolean = false,
    disableImport: Boolean = false,
    combineTables: Boolean = false,
    disableCheck: Boolean = false,
    // opt-in: align ragged sibling schemas by column name (NULL-padded)
    // instead of the faithful positional union
    combineByName: Boolean = false,
    excludeRegex: Option[String] = None,
    preLoad: Seq[Path] = Seq.empty,
    postLoad: Seq[Path] = Seq.empty,
    // ≙ exec.py:65 max_concurrency: bound on simultaneous unzip/import
    // tasks — here concurrent Spark actions sharing the scheduler
    maxParallel: Int = 4)

final case class LoadResult(
    tables: Map[String, DataFrame],
    combined: Map[String, DataFrame],
    report: Option[ReconciliationCheck.Report])

class Loader(
    spark: SparkSession,
    config: LoaderConfig,
    sink: (String, DataFrame) => Unit = (_, _) => (),
    passThrough: Option[String => Unit] = None) {
  private val log = LoggerFactory.getLogger(getClass)

  // pass-through-lane statements (PG-only DDL, information_schema) run
  // against the configured JDBC sink; without one they warn+skip
  private val passThroughExec: String => Unit = passThrough.getOrElse(sql =>
    log.warn(s"pass-through statement skipped (no JDBC sink configured): ${sql.take(80)}..."))

  /** Label the Spark jobs an action spawns (surfaces in ProgressReporter
    * lines and the UI), restoring the previous label after. */
  private def labeled[A](desc: String)(body: => A): A = {
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  /** Run `tasks` with at most `config.maxParallel` in flight (≙ the
    * reference's run_simultaneously cap, exec.py:65-69) — concurrent
    * Spark actions are scheduled fairly across the cluster; job
    * descriptions are thread-local so labels stay correct. */
  private def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(config.maxParallel, tasks.size)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            tasks.map(t => scala.concurrent.Future(t()))),
          scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }

  def load(): LoadResult = {
    // Step 0: pre-load hooks
    config.preLoad.flatMap(SqlHookRunner.discoverScripts)
      .foreach(SqlHookRunner.runScript(spark, _, passThroughExec))

    // Step 1: unzip (IO-bound — parallel like the reference's task pool)
    if (!config.disableUnzip) {
      val zips = SourceScanner.discoverZips(config.sources)
      inParallel(zips.map(z => () => {
        val r = Unzipper.unzip(z, config.all)
        log.info(
          if (r.skipped) s"skipped ${r.archive} (already extracted)"
          else s"extracted ${r.archive} → ${r.dest} (${r.entries} entries)")
      }))
    }

    // Step 2: import + function registration + combine
    var tables = Map.empty[String, DataFrame]
    var combined = Map.empty[String, DataFrame]
    // spark-aware lane selection: many roots → executor-side walk
    val csvs = SourceScanner.discoverCsvs(spark, config.sources, config.excludeRegex)
    val groups = SourceScanner.groupByTable(csvs)
    if (!config.disableImport) {
      // one all-text DataFrame per file, registered by raw stem (driver
      // only — cheap); the sink ACTIONS run as parallel Spark jobs
      for (f <- csvs) {
        val stem = Slug.rawStem(f)
        val df = CsvTableReader.read(spark, Seq(f))
        df.createOrReplaceTempView(stem)
        tables += stem -> df
      }
      inParallel(tables.toSeq.map { case (stem, df) =>
        () => labeled(s"Import $stem")(sink(stem, df))
      })
      // ≙ functions.sql registration after every import (main.py:203-208):
      // Spark lane always; PG lane (packaged graft/functions.sql) whenever
      // a JDBC sink is configured, so post-load hooks can call strip()/
      // parse_timestamp()/... in either engine
      Functions.registerAll(spark)
      passThrough.foreach { exec =>
        val n = PgFunctions.install(exec)
        log.info(s"installed $n packaged functions into the JDBC sink")
      }
      // prefix combine: views on the driver, then the sinks in parallel
      if (config.combineTables) {
        for ((name, members) <- groups) {
          val stems = members.map(Slug.rawStem)
          TableCombiner.combineGrouped(name, stems,
              members.map(s => tables(Slug.rawStem(s))), config.combineByName)
            .foreach { df =>
              df.createOrReplaceTempView(name)
              combined += name -> df
            }
        }
        inParallel(combined.toSeq.map { case (name, df) =>
          () => labeled(s"Combine $name")(sink(name, df))
        })
      }
    }

    // Step 3: post-load hooks
    config.postLoad.flatMap(SqlHookRunner.discoverScripts)
      .foreach(SqlHookRunner.runScript(spark, _, passThroughExec))

    // Steps 4+5: count + reconcile in one query. Tables may be empty
    // (--disable-import) or partial — a group without any loaded member
    // counts 0 rows
    val report = if (!config.disableCheck) labeled("Check") {
      val loaded = groups.flatMap { case (name, members) =>
        combined.get(name)
          .orElse(members.flatMap(m => tables.get(Slug.rawStem(m))).reduceOption(_.unionAll(_)))
          .map(name -> _)
      }
      Some(ReconciliationCheck.reconcile(spark, groups, loaded))
    } else None

    LoadResult(tables, combined, report)
  }
}
