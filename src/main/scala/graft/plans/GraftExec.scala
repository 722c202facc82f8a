package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExplainUtils, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** The one metrics-and-explain shape of the engine's exec nodes. A node
  * declares its work as a (metric key, label) table and its arguments as
  * one string; its metrics, its tree string (`Name args [label=value, …]`)
  * and its `explain("formatted")` entry (input, output, arguments and
  * metrics) all come from these two. */
trait GraftExec extends UnaryExecNode {
  /** (metric key, label), in display order. */
  protected def work: Seq[(String, String)]
  protected def args: String

  override lazy val metrics: Map[String, SQLMetric] =
    work.map { case (key, label) => key -> SQLMetrics.createMetric(sparkContext, label) }.toMap

  /** The metrics in `work` order, for a kernel that reads them by index. */
  protected def workMetrics: Array[SQLMetric] = work.map { case (key, _) => longMetric(key) }.toArray

  /** Index of `a` in the child's output. */
  protected def childOrdinal(a: Attribute): Int = child.output.indexWhere(_.exprId == a.exprId)

  private def shown: Option[String] =
    if (work.isEmpty) None
    else Some(work.map { case (key, label) => s"$label=${metrics(key).value}" }.mkString(", "))

  override def simpleString(maxFields: Int): String =
    s"$nodeName $args" + shown.fold("")(m => s" [$m]")

  override def verboseStringWithOperatorId(): String =
    (Seq("", formattedNodeName,
      ExplainUtils.generateFieldString("Input", child.output),
      ExplainUtils.generateFieldString("Output", output),
      s"Arguments: $args") ++ shown.map(m => s"Metrics: $m")).mkString("", "\n", "\n")
}

object GraftExec {
  /** Column `name` of `plan`'s output; a missing one is an error naming the
    * operator `op` and the columns there are. */
  def resolve(op: String, plan: LogicalPlan)(name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"$op: column $name not among ${plan.output.map(_.name).mkString(", ")}"))
}
