package org.apache.spark

import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Counts the file scans of the SQL executions a block starts, for
  * scan-budget specs: the `Scan csv` and `Scan text` nodes of each
  * execution's last reported physical plan (the plan at its start, then
  * every adaptive re-plan). Only executions in the block's own job group
  * count, like [[JobCounter]]; a reused exchange is not counted again. */
object ScanCounter {
  val Kinds = Seq("Scan csv", "Scan text")

  def apply[A](sc: SparkContext)(body: => A): (A, Map[String, Int]) = {
    val group = s"scan-counter-${java.util.UUID.randomUUID()}"
    val plans = TrieMap.empty[Long, SparkPlanInfo]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans(s.executionId) = s.sparkPlanInfo
        case u: SparkListenerSQLAdaptiveExecutionUpdate if plans.contains(u.executionId) =>
          plans(u.executionId) = u.sparkPlanInfo
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "scan budget")
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      val scans = plans.values.toSeq.flatMap(scanNodes)
      (result, Kinds.map(k => k -> scans.count(_ == k)).toMap)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def scanNodes(plan: SparkPlanInfo): Seq[String] =
    if (plan.nodeName == "ReusedExchange") Nil
    else Kinds.filter(k => plan.nodeName.trim == k) ++ plan.children.flatMap(scanNodes)
}
