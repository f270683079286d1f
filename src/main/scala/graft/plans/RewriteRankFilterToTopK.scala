package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualTo, Expression, IntegerLiteral, LessThan, LessThanOrEqual, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule completing the Catalyst triad (Expression, Rule,
  * Strategy): detects the ubiquitous hand-written top-k pattern
  *
  * {{{
  *   df.withColumn("rk", row_number().over(Window.partitionBy(g).orderBy(o)))
  *     .filter($"rk" <= k)
  *     .drop("rk")
  * }}}
  *
  * and rewrites it to [[TopKPerGroupPlan]], which plans as bounded-heap
  * partial/final top-k (see [[TopKPerGroupExec]]) — the window
  * formulation shuffles and SORTS every row of every group; the
  * rewritten plan shuffles at most k rows per group per partition.
  *
  * Fires only when the rank column is filtered and then immediately
  * projected away (if the caller keeps the rank values, the window is
  * genuinely needed and the plan is left alone), and only for a lone
  * row_number window expression — rank()/dense_rank() admit ties and
  * have different semantics.
  *
  * Register: `spark.experimental.extraOptimizations` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object RewriteRankFilterToTopK extends Rule[LogicalPlan] {

  private def rankLimit(cond: Expression, rk: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rk) => Some(k)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rk) => Some(k - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rk) => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond, Window(
          Seq(alias @ Alias(WindowExpression(RowNumber(), spec), _)),
          partitionSpec, orderSpec, child, _)))
        if partitionSpec.nonEmpty && // global top-k would need
          // ClusteredDistribution(Nil), which Spark rejects — and it
          // already plans well as TakeOrderedAndProject
          spec.orderSpec.nonEmpty &&
          // the rank column must not survive the projection
          !p.references.contains(alias.toAttribute) &&
          projectList.forall(_.references.subsetOf(child.outputSet)) &&
          rankLimit(cond, alias.toAttribute).exists(_ > 0) =>
      val k = rankLimit(cond, alias.toAttribute).get
      // Spark's own InferWindowGroupLimit may already have inserted a
      // WindowGroupLimit below the Window (its rank-limit pushdown,
      // which still sorts each group); it's redundant under the heap
      // operator — strip it
      val base = child match {
        case WindowGroupLimit(ps, os, _, _, grandchild)
            if ps == partitionSpec && os == orderSpec => grandchild
        case other => other
      }
      Project(projectList, TopKPerGroupPlan(partitionSpec, orderSpec, k, base))
  }
}
