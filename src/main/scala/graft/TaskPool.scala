package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.SparkContext

/** The bounded task pool (≙ the reference's run_simultaneously cap,
  * exec.py:65-69) shared by the loader's sinks and the store write path:
  * concurrent Spark actions are scheduled fairly across the cluster. */
object TaskPool {

  /** The calling thread's job properties every task runs under, so job
    * groups (span-keyed tracing) and descriptions (loader labels) stay
    * with the work. */
  private val Inherited = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  /** Run `tasks` with at most `maxParallel` in flight. Waits for EVERY
    * task, also after one failed, then rethrows the first failure in
    * task order (later ones suppressed) — a failed batch leaves no work
    * running behind the caller, e.g. a staging write after the store
    * lock is released. */
  def inParallel(sc: SparkContext, maxParallel: Int)(tasks: Seq[() => Unit]): Unit =
    if (tasks.nonEmpty) {
      val props = Inherited.map(k => k -> sc.getLocalProperty(k))
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(maxParallel, tasks.size)))
      try {
        val futures = tasks.map(t => pool.submit(new Callable[Unit] {
          def call(): Unit = {
            props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
            t()
          }
        }))
        val failures = futures.flatMap { f =>
          try { f.get(); None }
          catch { case e: ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdown()
    }
}
