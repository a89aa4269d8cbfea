package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run measured, handed to `run.py` as one JSON line. The
  * statistics (medians, fractions, ratios) are computed there. */
final class Record(val workload: String, val seed: Long, val trace: Boolean) {
  /** JVM start to a ready session, paid once per run. */
  var sessionS = 0.0
  /** Repeated set-up work after the session is up, in seconds. */
  val setup = mutable.ArrayBuffer.empty[Double]
  /** (kind, seconds, ok) for every timed operation. */
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  var primary = ""
  var items = 0L
  var measuredS = 0.0
  var storeBytes = 0L
  var baseBytes = 0L
  var heapLiveMb = 0.0
  /** (name, ok, detail) for every output check. */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]

  def op[A](kind: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
    ops += ((kind, (System.nanoTime() - t0) / 1e9, r.isDefined))
    r
  }

  def check(name: String)(body: => Option[String]): Unit = {
    val failure = try body catch { case e: Exception => Some(e.toString) }
    checks += ((name, failure.isEmpty, failure.getOrElse("")))
    failure.foreach(f => System.err.println(s"[perfbench] check $name FAILED: $f"))
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def json: String = {
    val opsJ = ops.map { case (k, s, ok) => s"[${str(k)},${num(s)},$ok]" }.mkString("[", ",", "]")
    val checksJ = checks.map { case (n, ok, d) => s"[${str(n)},$ok,${str(d)}]" }
      .mkString("[", ",", "]")
    val layersJ = layers.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val infoJ = info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    s"""{"workload":${str(workload)},"seed":$seed,"trace":$trace,""" +
      s""""session_s":${num(sessionS)},"setup_s":${setup.map(num).mkString("[", ",", "]")},"primary":${str(primary)},""" +
      s""""ops":$opsJ,"items":$items,"measured_s":${num(measuredS)},""" +
      s""""store_bytes":$storeBytes,"base_bytes":$baseBytes,""" +
      s""""heap_live_mb":${num(heapLiveMb)},"checks":$checksJ,"layers":$layersJ,"info":$infoJ}"""
  }
}

/** Shared run context handed to each workload. */
final case class Ctx(
    spark: SparkSession, tracer: Tracer, rec: Record, work: Path, data: Path,
    seconds: Double, seed: Long) {
  def dataDir: String = data.toString

  /** Workloads call this when set-up is over: the host sentinel's first
    * probe is taken on a warm session. */
  def setupDone(): Unit = {
    Harness.mark("setup done")
    sentinelBefore = Some(Sentinel.probe(this))
    Harness.mark("sentinel")
  }
  var sentinelBefore: Option[Sentinel.Probe] = None

  /** Materialize a frame fully without collecting it. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

object Harness {
  val Cores = 4
  val RawPrefix = "PERFBENCH_RAW "

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = Paths.get(opt("--work")).toAbsolutePath
    val runner: Ctx => Unit = workload match {
      case "load" => LoadBench.run
      case "churn" => ChurnBench.run
      case other => usage(s"unknown workload $other")
    }

    val scratch = work.resolve(s"run-$workload")
    DataGen.deleteTree(scratch)
    Files.createDirectories(scratch)
    val builder = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.graft.store.root", scratch.resolve("stores").toString)
    graft.Tables.RequiredConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM start to a ready session: the part of set-up every run pays once
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val rec = new Record(workload, seed, trace)
    rec.sessionS = sessionS
    val tracer = new Tracer(spark.sparkContext, trace, s"$workload-$seed")
    try {
      val data = DataGen.ensure(spark, work.resolve(s"data-${DataGen.Version}"))
      val ctx = Ctx(spark, tracer, rec, scratch, data, seconds, seed)
      mark("data ready")
      runner(ctx)
      mark("checked")
      val after = Sentinel.probe(ctx)
      mark("sentinel")
      Sentinel.record(rec, ctx.sentinelBefore.getOrElse(after), after)
      if (trace) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val layers = Trace.layers(tracer.all, tracer.listener.snapshot, Cores)
        for ((layer, stats) <- layers.toSeq.sortBy(_._1); (k, v) <- stats)
          rec.layers(s"$layer.$k") = v
        writeSpans(scratch.resolve("spans.jsonl"), tracer.all)
      }
    } finally spark.stop()
    mark("stopped")
    println(RawPrefix + rec.json)
  }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${(s.endNs - s.startNs) / 1e9},"ok":${s.ok}}"""
    }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Log how far into the process a phase ended (stderr). */
  def mark(phase: String): Unit = System.err.println(f"[perfbench] $phase at ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")

  /** Live driver heap after a forced collection. */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Host sentinel: a compute-dense probe (fixed floating-point work on
  * every core, no Spark) and the trivial fixed plan the engine's own
  * bench uses as its contention probe, each taken before and after the
  * measured part. A window where either moves by more than 2x is
  * flagged as contended rather than read as a regression. */
object Sentinel {
  final case class Probe(computeS: Double, trivialS: Double)

  private def computeOnce(): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Harness.Cores)
    try {
      val (_, s) = Harness.timed {
        val fs = (0 until Harness.Cores).map { k =>
          pool.submit(new java.util.concurrent.Callable[Double] {
            def call(): Double = {
              var x = 1.0 + k
              var i = 0
              while (i < 20000000) { x = x * 1.0000001 + math.sqrt(x) * 1e-9; i += 1 }
              x
            }
          })
        }
        fs.map(_.get()).sum
      }
      s
    } finally pool.shutdown()
  }

  def probe(ctx: Ctx): Probe = {
    val compute = (1 to 2).map(_ => computeOnce()).min
    val q = graft.QueryRegistry.byName("q1_pricing_summary")
    // the first execution of the plan pays first-touch costs; time the second
    val trivial = (1 to 2).map(_ => Harness.timed(ctx.noop(q.run(ctx.spark, ctx.dataDir)))._2).last
    Probe(compute, trivial)
  }

  def record(rec: Record, before: Probe, after: Probe): Unit = {
    val contended =
      graft.BenchGuard.contendedProbes(Seq(before.computeS, after.computeS), None) ||
        graft.BenchGuard.contendedProbes(Seq(before.trivialS, after.trivialS), None)
    rec.info("sentinel_compute_s") = s"${before.computeS},${after.computeS}"
    rec.info("sentinel_trivial_s") = s"${before.trivialS},${after.trivialS}"
    rec.info("contended") = contended.toString
    rec.layers("host.compute_probe_s") = math.max(before.computeS, after.computeS)
    rec.layers("host.trivial_probe_s") = math.max(before.trivialS, after.trivialS)
    rec.layers("host.contended") = if (contended) 1.0 else 0.0
  }
}
