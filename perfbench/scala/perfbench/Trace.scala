package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a top-level span. */
final case class Span(
    id: Long, name: String, parent: Long, run: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, ok: Boolean)

/** Spark activity attributed to one job group (= one span). */
final class GroupCounters {
  var jobs: Int = 0
  var taskS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Counts jobs, task time, shuffle and spill per job group. The
  * benchmark sets the group to its own span id before each call, so
  * every job a call spawns lands on that call's span. */
final class LayerListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]

  private def counters(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.JobGroup))).getOrElse("")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => stageGroup(s) = g)
    val c = counters(g)
    c.jobs = c.jobs + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      counters(g).jobIntervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    Option(e.taskMetrics).foreach { m =>
      c.taskS += m.executorRunTime / 1000.0
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, GroupCounters] = synchronized(groups.toMap)
}

/** Spans kept in memory until the end of the run. With `enabled` false
  * every call runs bare: no span, no job group, no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  val listener = new LayerListener
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parentStack = stack.get
      val prevGroup = sc.getLocalProperty(Trace.JobGroup)
      sc.setLocalProperty(Trace.JobGroup, s"pb-$id")
      stack.set(id :: parentStack)
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val t1 = System.nanoTime()
        stack.set(parentStack)
        sc.setLocalProperty(Trace.JobGroup, prevGroup)
        spans.synchronized {
          spans += Span(id, name, parentStack.headOption.getOrElse(0L), runId,
            t0, t1, w0, System.currentTimeMillis(), ok)
        }
      }
    }

  /** The span id the calling thread is inside, for worker threads that
    * must attribute their jobs to it. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `body` on a worker thread as a child of span `parent`. */
  def within[A](parent: Long)(body: => A): A =
    if (!enabled || parent == 0L) body
    else {
      val saved = stack.get
      stack.set(parent :: Nil)
      sc.setLocalProperty(Trace.JobGroup, s"pb-$parent")
      try body finally stack.set(saved)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Trace {
  /** The local property Spark files a job's group under. */
  val JobGroup = "spark.jobGroup.id"

  /** Total length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-layer figures: a layer's busy time is the self time of its
    * spans (duration minus what child spans cover); its driver time is
    * the part of that self time no Spark job of its own covers. */
  def layers(
      spans: Seq[Span], groups: Map[String, GroupCounters],
      cores: Int): Map[String, Map[String, Double]] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      var busyNs, driverNs = 0L
      var jobs: Int = 0
      var taskS = 0.0
      var shuffle, spill = 0L
      for (s <- ss) {
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        val selfNs = (s.endNs - s.startNs) - covered(kids, s.startNs, s.endNs)
        busyNs += selfNs
        groups.get(s"pb-${s.id}") match {
          case Some(g) =>
            jobs += g.jobs; taskS += g.taskS
            shuffle += g.shuffleBytes; spill += g.spillBytes
            // listener times are wall-clock ms, so the job cover is
            // taken against the span's wall-clock bounds
            val jobMs = covered(g.jobIntervals.toSeq, s.startMs, s.endMs)
            driverNs += math.max(0L, selfNs - jobMs * 1000000L)
          case None => driverNs += selfNs
        }
      }
      val busyS = busyNs / 1e9
      name -> Map(
        "calls" -> ss.size.toDouble,
        "busy_s" -> busyS,
        "failed" -> ss.count(!_.ok).toDouble,
        "jobs" -> jobs.toDouble,
        "task_s" -> taskS,
        "shuffle_bytes" -> shuffle.toDouble,
        "spill_bytes" -> spill.toDouble,
        "driver_s" -> driverNs / 1e9,
        "par_eff" -> (if (busyS > 0) taskS / (busyS * cores) else 0.0))
    }
  }
}
