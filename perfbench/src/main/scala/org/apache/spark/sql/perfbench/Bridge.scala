package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer needs, behind one file:
  * the query plan an SQL-execution-end event carries (the same event that
  * drives every `QueryExecutionListener`; only this view also carries the
  * execution id that links the plan to the jobs, and so to a span), and a
  * way to wait until the listener bus has delivered every event. */
object Bridge {

  /** Exchanges the final (post-AQE) physical plan of the execution ran;
    * -1 when the event carries no plan. A reused exchange is not counted:
    * it moves no data again. */
  def exchanges(e: SparkListenerSQLExecutionEnd): Int =
    Option(e.qe).map(qe => exchanges(qe.executedPlan)).getOrElse(-1)

  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case c: CommandResultExec => exchanges(c.commandPhysicalPlan)
    case p =>
      val own = p match { case _: Exchange => 1; case _ => 0 }
      own + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  /** Blocks until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
