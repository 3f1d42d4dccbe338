package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions._

/** How often an executed plan parses JSON into a variant and reads each
  * variant path: every expression of every node, through AQE query stages.
  */
object PlanAudit extends AdaptiveSparkPlanHelper {

  def expressions(plan: SparkPlan): Seq[Expression] =
    flatMap(plan)(_.expressions.flatMap(_.collect { case e => e }))

  /** `parse_json`/`try_parse_json` calls. */
  def parseJsonCalls(plan: SparkPlan): Int = expressions(plan).count {
    case s: StaticInvoke => s.functionName == "parseJson"
    case _ => false
  }

  /** `variant_get`/`try_variant_get` calls per path, e.g. "$.log_type" -> 2. */
  def variantGets(plan: SparkPlan): Map[String, Int] =
    expressions(plan).collect { case g: VariantGet => g.path.eval().toString }
      .groupBy(identity).map { case (p, gs) => p -> gs.size }

  /** One `parseJson`, at most two `$.log_type` reads (the `kept` filter and
    * the projection) and one each of `$.log_id` and `$.time`.
    */
  def assertParsesOnce(plan: SparkPlan): Unit = {
    assert(parseJsonCalls(plan) == 1, plan.toString)
    val gets = variantGets(plan)
    assert(gets.getOrElse("$.log_type", 0) <= 2, s"$gets\n$plan")
    assert(gets.get("$.log_id").contains(1) && gets.get("$.time").contains(1), s"$gets\n$plan")
  }

  /** The executed plans of the file writes that `body` runs on `spark`, or
    * on a session cloned from it while `body` runs (a stream's micro-batch
    * session is one). Waits up to 30 s for `expected` of them.
    */
  def writePlans(spark: SparkSession, expected: Int)(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.size < expected && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }
}
