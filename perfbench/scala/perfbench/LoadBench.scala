package perfbench

import org.apache.spark.sql.DataFrame

import graft.check.ReconciliationCheck
import graft.combine.TableCombiner
import graft.discover.{Slug, SourceScanner}
import graft.functions.Functions
import graft.hooks.SqlHookRunner
import graft.ingest.{CsvTableReader, Unzipper}
import graft.pipeline.{LoadResult, Loader, LoaderConfig}

/** The reference's own job: unzip, discover, CSV import, prefix
  * combine, post-load hook, count reconciliation, with a parquet sink.
  * One operation is one `Loader.load` over a fresh extraction. */
object LoadBench {
  val Exclude = "^.*sample.*$"
  val HookViews = Seq("hook_events_daily", "hook_orders_status")

  private def parallel[A](items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Harness.Cores)
    try items.map(a => pool.submit(new Runnable { def run(): Unit = f(a) })).foreach(_.get())
    finally pool.shutdown()
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val fx = DataGen.loadFixture(data, work.resolve("load"), seed)
    rec.info("fixture") = s"files=${fx.files} bytes=${fx.bytes} rows=${fx.rows.values.sum}"
    val out = work.resolve("load").resolve("out")
    val sink: (String, DataFrame) => Unit =
      (name, df) => df.write.mode("overwrite").parquet(out.resolve(name).toString)
    val cfg = LoaderConfig(
      sources = Seq(fx.sources), combineTables = true, excludeRegex = Some(Exclude),
      postLoad = Seq(fx.hooks))

    def reset(): Unit = {
      DataGen.Months.foreach(m => DataGen.deleteTree(fx.sources.resolve(m)))
      DataGen.deleteTree(out)
      HookViews.foreach(v => spark.catalog.dropTempView(v))
    }
    def loadOnce(): LoadResult = {
      val r = new Loader(spark, cfg, sink).load()
      require(r.report.exists(!_.fatal), s"reconciliation failed: ${r.report.map(_.render)}")
      r
    }
    def rowsOf(r: LoadResult): Long = r.report.map(_.tables.map(_.dbCount).sum).getOrElse(0L)

    // set-up: one warm-up load, which pays the first-touch costs
    reset()
    rec.setup += Harness.timed(loadOnce())._2
    setupDone()

    rec.primary = "load"
    var last: Option[LoadResult] = None
    val budget = if (tracer.enabled) seconds / 2 else seconds
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < budget) {
      reset()
      rec.op("load")(loadOnce()).foreach { r => last = Some(r); rec.items += rowsOf(r) }
    }
    // throughput is over load wall time only, not the resets between loads
    rec.measuredS = rec.ops.map(_._2).sum

    if (tracer.enabled) {
      // traced half: the same load under a pipeline span, then a replay of
      // the Loader's stage order with one span per stage call
      val t1 = System.nanoTime()
      while ((System.nanoTime() - t1) / 1e9 < seconds / 2) {
        reset()
        rec.op("load_traced")(tracer.span("pipeline")(loadOnce()))
        reset()
        rec.op("replay")(replay(ctx, fx, sink))
      }
      reset()
      last = rec.op("load")(loadOnce()).orElse(last)
    }
    rec.heapLiveMb = Harness.heapLiveMb()
    rec.storeBytes = DataGen.treeBytes(out)
    rec.baseBytes = fx.bytes

    val result = last
    rec.check("load.reconciliation") {
      result.flatMap(_.report) match {
        case None => Some("no report")
        case Some(r) if r.fatal => Some(s"fatal report, total delta ${r.totalDelta}")
        case Some(r) if r.totalDelta != fx.files =>
          Some(s"total delta ${r.totalDelta}, expected one header line per file (${fx.files})")
        case _ => None
      }
    }
    for (t <- DataGen.LoadTables) rec.check(s"load.rows.$t") {
      val n = spark.read.parquet(out.resolve(t).toString).count()
      if (n == fx.rows(t)) None else Some(s"$n rows in the combined table, source has ${fx.rows(t)}")
    }
    for (t <- DataGen.LoadTables)
      spark.read.parquet(data.resolve(s"$t.parquet").toString)
        .createOrReplaceTempView(s"exported_$t")
    rec.check("load.hook.events_daily") {
      Rows.compare(spark.table("hook_events_daily"), spark.sql(
        s"""SELECT CAST(timestamp_seconds(ts div 1000000000) AS DATE) AS day, event_type,
           |       count(*) AS n, sum(CAST(CAST(value AS STRING) AS DECIMAL(18, 2))) AS total
           |FROM exported_events GROUP BY 1, 2""".stripMargin))
    }
    rec.check("load.hook.orders_status") {
      Rows.compare(spark.table("hook_orders_status"), spark.sql(
        s"""SELECT o_orderstatus AS status, count(*) AS n,
           |       sum(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(18, 2))) AS total
           |FROM exported_orders GROUP BY 1""".stripMargin))
    }
  }

  /** `Loader.load`'s stage order, each stage call in its own span. */
  private def replay(
      ctx: Ctx, fx: DataGen.Fixture, sink: (String, DataFrame) => Unit): Unit = {
    import ctx._
    val sources = Seq(fx.sources)
    val zips = tracer.span("discover")(SourceScanner.discoverZips(sources))
    tracer.span("ingest") { parallel(zips)(z => Unzipper.unzip(z)) }
    val (csvs, groups) = tracer.span("discover") {
      val csvs = SourceScanner.discoverCsvs(spark, sources, Some(Exclude))
      (csvs, SourceScanner.groupByTable(csvs))
    }
    val tables = tracer.span("ingest") {
      csvs.map { f =>
        val stem = Slug.rawStem(f)
        val df = CsvTableReader.read(spark, Seq(f))
        df.createOrReplaceTempView(stem)
        stem -> df
      }.toMap
    }
    tracer.span("sink") {
      val parent = tracer.current
      parallel(tables.toSeq) { case (stem, df) => tracer.within(parent)(sink(stem, df)) }
    }
    tracer.span("hooks")(Functions.registerAll(spark))
    val combined = tracer.span("combine") {
      groups.toSeq.flatMap { case (name, members) =>
        val stems = members.map(Slug.rawStem)
        TableCombiner.combineGrouped(name, stems, stems.map(tables)).map { df =>
          df.createOrReplaceTempView(name)
          tracer.span("sink")(sink(name, df))
          name -> df
        }
      }.toMap
    }
    tracer.span("hooks")(SqlHookRunner.runScript(spark, fx.hooks.resolve("post_load.sql")))
    tracer.span("check") {
      val fileCounts = ReconciliationCheck.csvLineCounts(spark, csvs)
      val csvByTable = groups.map { case (name, members) =>
        name -> members.map(f => fileCounts.getOrElse(f.toUri.toString,
          fileCounts.getOrElse(f.toString, 0L))).sum
      }
      val dbCounts = groups.map { case (name, _) => name -> combined(name).count() }
      val report = ReconciliationCheck.check(csvByTable.toMap, dbCounts.toMap)
      require(!report.fatal, s"replay reconciliation failed:\n${report.render}")
    }
  }
}
