package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet,
  Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rules for the custom as-of join node. Without them,
  * `AsOfJoinPlan` is an optimization BARRIER: Catalyst's own
  * PushDownPredicates / ColumnPruning only pattern-match nodes they know,
  * so a filter or projection above the join would stay above it — at
  * 100 TB that means shuffling rows that a WHERE clause was about to drop
  * and carrying unused columns through both exchanges.
  *
  * Two rewrites, both semantics-preserving for a LEFT as-of join (every
  * left row produces exactly one output row, right columns are
  * match-or-null):
  *
  *  1. Filter pushdown: deterministic conjuncts that reference only LEFT
  *     columns commute with the join — push them into the left child.
  *     Right-side conjuncts do NOT commute (filtering candidate right rows
  *     pre-join changes which row is "the latest"; filtering matched
  *     output post-join does not) and stay above.
  *
  *  2. Column pruning: a projection above the join needs only its own
  *     references plus the join keys/timestamps — insert narrowing
  *     Projects under both children so the exchanges move only what is
  *     used.
  *
  * Installed by graft.ext.GraftSparkExtensions: injected at build time in
  * a `core.Session.local` session, where it runs inside the main operator-
  * optimization fixed point, and added by `core.Session.ensure` elsewhere
  * as a trailing `experimental.extraOptimizations` batch. On both routes
  * d7b's pushed `event_id` filter reaches the parquet scan.
  */
object AsOfJoinRules extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsOfJoinPlan) =>
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(push.reduce(And), aj.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }

    case p @ Project(_, aj: AsOfJoinPlan) =>
      prune(p, None, aj)

    case p @ Project(_, Filter(cond, aj: AsOfJoinPlan)) =>
      prune(p, Some(cond), aj)
  }

  private def prune(p: Project, cond: Option[Expression],
      aj: AsOfJoinPlan): LogicalPlan = {
    val needed = AttributeSet(
      p.references ++ cond.toSeq.flatMap(_.references) ++
        (aj.leftKeys ++ aj.rightKeys :+ aj.leftTs :+ aj.rightTs)
          .flatMap(_.references))
    val nl = aj.left.output.filter(needed.contains)
    val nr = aj.right.output.filter(needed.contains)
    if (nl.length == aj.left.output.length &&
        nr.length == aj.right.output.length) p
    else {
      val narrowed = aj.copy(
        left = Project(nl, aj.left), right = Project(nr, aj.right))
      p.copy(child = cond.map(Filter(_, narrowed)).getOrElse(narrowed))
    }
  }
}
