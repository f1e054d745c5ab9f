package graft.plans

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer-injected lint #2 for the 100 TB contract: a join with NO
  * equi-key between unbounded sides executes as `CartesianProduct` or
  * `BroadcastNestedLoopJoin` — |L|·|R| comparisons that a laptop
  * survives at sf0.01 and a 1000-executor cluster does not survive at
  * corpus scale. PlanShapeSpec asserts zero cartesians in named gate
  * plans; this rule turns that review-time assertion into a
  * machine-enforced property of EVERY plan the session runs (the same
  * promotion [[SinglePartitionWindowGuard]] made for global windows).
  *
  * What counts as an equi-key: any conjunct `l = r` / `l <=> r` whose
  * two sides evaluate against the two join sides respectively —
  * Catalyst plans those as hash/merge joins. Pure range conditions
  * (`a.ts BETWEEN b.lo AND b.hi` with no equality) do NOT count: that
  * shape must be rewritten onto a bucketed equi-key (the library's
  * as-of/range joins do exactly that) or explicitly broadcast.
  *
  * Exemptions — the library's own legitimate cartesian shapes:
  *   - either side structurally BOUNDED (same walk as the window
  *     guard: global aggregate, `__graft_bkt*` bucket ladder, Limit,
  *     LocalRelation/OneRowRelation) — the broadcast-1-row-aggregate
  *     crossJoins (corpus totals, quantizer stats) all pass here;
  *   - an EXPLICIT broadcast hint on either side (`broadcast(df)` /
  *     `/*+ BROADCAST */`): the author has declared the side small,
  *     which is the auditable escape hatch the ANN
  *     broadcast-queries contract uses ([[graft.operators.Similarity
  *     .bruteForceTopK]] — queries are small BY CONTRACT, invisible
  *     structurally).
  *
  * Mode via SQL conf `spark.graft.guard.cartesianJoin`: `off`
  * (default), `warn`, `fail`. [[graft.Verify]] runs the whole gate
  * matrix with BOTH guards failing, with a liveness self-check each.
  */
class CartesianJoinGuard extends Rule[LogicalPlan] with PredicateHelper {

  import CartesianJoinGuard._
  import SinglePartitionWindowGuard.{bounded, warnedOnce}

  private def spansSides(j: Join, l: Expression, r: Expression): Boolean = {
    def against(e: Expression, side: LogicalPlan): Boolean =
      e.references.nonEmpty && e.references.subsetOf(side.outputSet)
    (against(l, j.left) && against(r, j.right)) ||
      (against(l, j.right) && against(r, j.left))
  }

  private def hasEquiKey(j: Join): Boolean =
    j.condition.toSeq.flatMap(splitConjunctivePredicates).exists {
      case EqualTo(l, r) => spansSides(j, l, r)
      case EqualNullSafe(l, r) => spansSides(j, l, r)
      case _ => false
    }

  private def broadcastDeclared(j: Join): Boolean =
    j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
      j.hint.rightHint.exists(_.strategy.contains(BROADCAST))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mode = SQLConf.get.getConfString(ModeKey, "off")
    if (mode != "off") plan.foreach {
      case j: Join
        if !hasEquiKey(j) && !broadcastDeclared(j) &&
          !bounded(j.left) && !bounded(j.right) =>
        val msg = "cartesian-shaped join between unbounded sides (no " +
          "equi-key, no broadcast hint): |L|*|R| comparisons at scale. " +
          "Rewrite onto a bucketed equi-key, bound a side, or declare " +
          s"smallness with broadcast(). Join: ${j.joinType} ON " +
          j.condition.map(_.sql).getOrElse("<none>")
        if (mode == "fail") throw new IllegalStateException(msg)
        else if (warnedOnce(msg)) logWarning(msg)
      case _ =>
    }
    plan
  }
}

object CartesianJoinGuard {
  val ModeKey = "spark.graft.guard.cartesianJoin"
}
