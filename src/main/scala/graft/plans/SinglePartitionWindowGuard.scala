package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, BinaryComparison, Literal}
import org.apache.spark.sql.catalyst.expressions.{DenseRank, Rank, RowNumber}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer-injected lint for the engine's central scale contract:
  * a `Window` with an EMPTY partition spec serializes its entire input
  * into one task (`Window.orderBy` with no PARTITION BY — the classic
  * 100 TB scale-killer this library's [[graft.operators.Ranks]] exists
  * to avoid). On a laptop it merely runs slow; on a 1000-executor
  * cluster it runs on one of them, usually until the stage times out.
  * This rule makes the contract machine-enforced instead of
  * review-enforced.
  *
  * Registered through the same `SparkSessionExtensions` entry point as
  * the native functions ([[graft.GraftExtensions]]) — the (c)-tier
  * extension mechanism: a `Rule[LogicalPlan]` in the optimizer, not a
  * rewrite (it never changes the plan; flagged plans either log or
  * fail fast, controlled per session).
  *
  * Exemptions — single-partition windows whose input is structurally
  * BOUNDED are the library's own legitimate pattern and stay silent:
  *   - a GLOBAL `Aggregate` (1 row) or the library's range-bucket
  *     ladder (all grouping keys `__graft_bkt*` — ≤buckets rows:
  *     [[graft.operators.Ranks.globalRowNumber]]'s offset ladder).
  *     Other grouped aggregates do NOT exempt (round-6 tightening: a
  *     per-doc aggregate is corpus-sized);
  *   - any `Limit` below the window (top-k frames);
  *   - leaf relations with a known small row count (`LocalRelation`,
  *     `OneRowRelation`) — test fixtures and literal frames.
  * The walk stops at the first bounding node on each path, so a
  * corpus-wide scan ABOVE an aggregate (e.g. agg → join back to the
  * corpus → window) is still flagged.
  *
  * The top-k RANK-LIMIT idiom — row_number/rank/dense_rank window whose
  * OWN output attribute a Filter above compares to a literal (tracked
  * through Project alias chains) — is exempt because Spark's rank-limit
  * pushdown (LimitPushDownThroughWindow / InferWindowGroupLimit) bounds
  * it physically to `TakeOrderedAndProject` + a ≤k-row window; the
  * `weighted_sample` gate and the Vocab top-k rankers plan exactly that
  * shape. Round-6 tightening: the filter must reference the rank output
  * itself — an unrelated `score > 0.5` no longer exempts.
  *
  * Mode is read per-query from SQL conf `spark.graft.guard
  * .singlePartitionWindow`: `off` (default — zero overhead beyond one
  * conf read), `warn` (one log line per flagged Window), `fail`
  * (throw — CI mode). A further exemption: the top-k RANK-LIMIT idiom
  * (rank window + literal-bounding Filter above) is skipped because
  * Spark's own rank-limit pushdown bounds it physically — see
  * [[isRankLike]]. WindowGuardSpec pins flagged and exempt shapes;
  * since round 6 [[graft.Verify]] runs the ENTIRE gate matrix in fail
  * mode (with a liveness self-check proving the rule fires), so a new
  * gate with an unbounded global window cannot reach a green round.
  */
class SinglePartitionWindowGuard extends Rule[LogicalPlan] {

  import SinglePartitionWindowGuard._

  /** Attributes the filter compares to a literal — the candidate "rn"
    * columns of a rank-limit idiom. Round 6 (advice): the exemption used
    * to fire on ANY attribute-vs-literal comparison above a rank window,
    * so an unrelated predicate (`WHERE score > 0.5`) exempted a global
    * rank it never bounds; now the compared attribute must resolve to
    * the rank window's own output (through Project aliases). */
  private def literalBoundAttrs(f: Filter): AttributeSet =
    AttributeSet(f.condition.collect {
      case cmp: BinaryComparison => (cmp.left, cmp.right) match {
        case (a: Attribute, _: Literal) => Seq(a)
        case (_: Literal, a: Attribute) => Seq(a)
        case _ => Seq.empty[Attribute]
      }
    }.flatten)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mode = SQLConf.get.getConfString(ModeKey, "off")

    def act(w: Window): Unit = {
      val msg = "single-partition Window over an unbounded input " +
        s"(no PARTITION BY): the whole input sorts in ONE task at " +
        s"scale. Use graft.operators.Ranks.globalRowNumber / " +
        s"ntileFromRank, or partition the window. Window: " +
        w.windowExpressions.map(_.sql).mkString(", ")
      if (mode == "fail") throw new IllegalStateException(msg)
      // the rule sits in a fixed-point optimizer batch that runs the
      // plan several times per query — dedupe by message so warn
      // mode emits one line per distinct offending window, not one
      // per optimizer iteration (review finding); the set is
      // bounded so a long-lived session can't grow it without limit
      else if (warnedOnce(msg)) logWarning(msg)
    }

    // manual walk instead of plan.foreach: the rank-limit exemption is a
    // property of the PATH (a Filter literal-bounding the rank output,
    // possibly through Projects), which foreach cannot carry. `limited`
    // holds the attributes literal-compared by Filters on the path,
    // remapped through each Project's aliases (a `cast(rn)` alias chain
    // must still reach the window's own output attribute).
    def walk(p: LogicalPlan, limited: AttributeSet): Unit = p match {
      case f: Filter =>
        walk(f.child, limited ++ literalBoundAttrs(f))
      case pr: Project =>
        val through = pr.projectList.collect {
          case a: Alias if limited.contains(a.toAttribute) => a.child.references
        }.foldLeft(limited)(_ ++ _)
        walk(pr.child, through)
      case w: Window =>
        val rankLimited = w.windowExpressions.exists(ne =>
          limited.contains(ne.toAttribute) && ne.exists {
            case _: RowNumber | _: Rank | _: DenseRank => true
            case _ => false
          })
        if (w.partitionSpec.isEmpty && !bounded(w.child) && !rankLimited) act(w)
        w.children.foreach(walk(_, AttributeSet.empty))
      case other =>
        other.children.foreach(walk(_, AttributeSet.empty))
    }

    if (mode != "off") walk(plan, AttributeSet.empty)
    plan
  }
}

object SinglePartitionWindowGuard {
  val ModeKey = "spark.graft.guard.singlePartitionWindow"

  /** True when `plan`'s output is structurally BOUNDED on every input
    * path — the exemption walk this rule and [[CartesianJoinGuard]]
    * share. */
  private[plans] def bounded(plan: LogicalPlan): Boolean = plan match {
    // round 6 (advice): a grouped aggregate is NOT bounded in general —
    // groupBy(doc_id) over the corpus is corpus-sized, and exempting it
    // was a false-negative surface for exactly the hazard this rule
    // exists to catch. Bounded aggregates are the structural cases only:
    // a global aggregate (1 row) or the library's range-bucket ladder
    // convention (grouping keys all `__graft_bkt*` — ≤ buckets rows by
    // construction, [[graft.operators.Ranks.globalRowNumber]]). Rank
    // windows over big vocab aggregates stay legal through the
    // rank-limit exemption, which is how the library writes them.
    case a: Aggregate =>
      a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall(g =>
          g.foldable ||
            (g.references.nonEmpty &&
              g.references.forall(_.name.startsWith("__graft_bkt"))))
    case _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case leaf if leaf.children.isEmpty => false
    // every input path must be bounded (a bounded dim joined to an
    // unbounded fact is still unbounded)
    case other => other.children.forall(bounded)
  }

  private val MaxWarned = 1000
  private val warned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True exactly once per distinct message (per JVM, bounded); the
    * guard rules share one set. */
  private[plans] def warnedOnce(msg: String): Boolean = {
    if (warned.size > MaxWarned) warned.clear()
    warned.add(msg)
  }
}
