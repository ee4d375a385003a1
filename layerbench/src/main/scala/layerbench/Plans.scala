package layerbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Keeps the executed plans of the actions run while it is armed. Plans
 * are only kept on request: an executed plan pins its broadcast relations.
 */
final class PlanCapture extends QueryExecutionListener {
  private val plans = ArrayBuffer.empty[SparkPlan]
  @volatile private var armed = false
  @volatile private var seen = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (armed) plans += qe.executedPlan
      seen += 1
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { seen += 1 }

  /** Run `body`, then wait until at least `actions` more actions were
    * reported, and return the plans of those actions. */
  def capture[T](actions: Int)(body: => T): (T, Seq[SparkPlan]) = {
    val before = synchronized { plans.clear(); armed = true; seen }
    try {
      val out = body
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (seen < before + actions && System.nanoTime() < deadline) Thread.sleep(5)
      (out, synchronized(plans.toSeq))
    } finally synchronized { armed = false; plans.clear() }
  }
}

/**
 * Reads executed plans: the plan guard (a pruned kernel must not pass as
 * a fast one) and the SQL metrics of the join operators.
 */
object Plans extends AdaptiveSparkPlanHelper {

  /** Every node, including those of AQE stages, subqueries and the
    * plans behind cached relations. */
  def nodes(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(p => collectWithSubqueries(p) { case n => n }).flatMap {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m +: nodes(Seq(m.relation.cachedPlan))
      case n => Seq(n)
    }

  /** Node names, expression class names, and `noop` when a plan writes
    * to the noop sink. */
  def tokens(plans: Seq[SparkPlan]): Set[String] = nodes(plans).flatMap { n =>
    val own = Seq(n.nodeName, n.getClass.getSimpleName) ++
      n.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName })
    if (n.simpleString(200).contains("NoopWrite"))
      own :+ "noop"
    else own
  }.toSet

  /** The tokens of `expected` missing from the plans. */
  def missing(plans: Seq[SparkPlan], expected: Seq[String]): Seq[String] = {
    val t = tokens(plans)
    expected.filterNot(t.contains)
  }

  def metric(n: SparkPlan, key: String): Long = n.metrics.get(key).map(_.value).getOrElse(0L)

  def sumMetric(plans: Seq[SparkPlan], nodeClass: String, key: String): Long =
    nodes(plans).filter(_.getClass.getSimpleName == nodeClass).map(metric(_, key)).sum

  /** Rows out of the plans' joins. */
  def joinRows(plans: Seq[SparkPlan]): Long =
    nodes(plans).filter(_.getClass.getSimpleName.endsWith("JoinExec")).map(metric(_, "numOutputRows")).sum
}
