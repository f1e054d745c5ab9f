package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.GraftTableFunctions

/** Resolves engine stream names in SQL: the engine's catalog as Catalyst
  * sees it. [[graft.GraftExtensions]] injects the rule twice.
  *
  *  - In the hint batch (after CTE substitution, before `ResolveRelations`)
  *    it acts only inside an engine statement ([[StreamRelations.within]]
  *    on this thread): a single-part relation naming a stream of that
  *    engine, by qualified or short name, case-insensitively, becomes
  *    `SubqueryAlias(name, <the stream's read plan>)`. Streams of the
  *    engine in scope therefore win over same-named temp views and
  *    tables. Each stream is read once per statement.
  *  - In the resolution batch it also serves SQL run outside the engine
  *    on a session bound to an engine ([[Engine.RootConfKey]]): a name
  *    left unresolved after the session's own temp views and tables
  *    reads that engine's stream.
  *
  * Inside a statement the rule records every stream it resolves, and the
  * streams named by each graft table function's declared table arguments
  * (`ann_indexed_topk` reads its stream without a relation): the
  * statement's sources. */
final class StreamRelations(spark: SparkSession, hintBatch: Boolean) extends Rule[LogicalPlan] {
  import StreamRelations._

  override def apply(plan: LogicalPlan): LogicalPlan = Option(current.get) match {
    case Some(s) => resolve(plan, s.streams, s.plan, s.recorded += _)
    case None if !hintBatch =>
      spark.conf.getOption(Engine.RootConfKey).flatMap(r => Option(Engine.registry.get(r)))
        .filter(_ => plan.exists(_.isInstanceOf[UnresolvedRelation]))
        .fold(plan)(e => resolve(plan, streamsOf(e), e.readStream(_).queryExecution.analyzed, _ => ()))
    case None => plan
  }
}

object StreamRelations {
  /** One engine statement's analysis: its engine's stream names, the read
    * it resolves them with, and the streams it read, in plan order. */
  private final class Scope(engine: Engine, read: String => DataFrame) {
    lazy val streams: Map[String, String] = streamsOf(engine)
    private val plans = mutable.Map.empty[String, LogicalPlan]
    def plan(stream: String): LogicalPlan =
      plans.getOrElseUpdate(stream, read(stream).queryExecution.analyzed)
    val recorded = mutable.LinkedHashSet.empty[String]
  }

  private val current = new ThreadLocal[Scope]

  /** `body` (which analyzes SQL on this thread) with `engine`'s streams
    * resolved through `read`, and the qualified streams it read. */
  def within[T](engine: Engine, read: String => DataFrame)(body: => T): (T, Seq[String]) = {
    val outer = current.get
    val scope = new Scope(engine, read)
    current.set(scope)
    try { val out = body; (out, scope.recorded.toSeq) }
    finally current.set(outer)
  }

  /** Lower-cased stream names (qualified and, inside a namespace, short)
    * → qualified name. */
  private def streamsOf(e: Engine): Map[String, String] =
    e.catalog.names().flatMap { n =>
      (n +: e.namespace.map(ns => n.stripPrefix(s"${ns}__")).toSeq).map(_.toLowerCase -> n)
    }.toMap

  private def resolve(plan: LogicalPlan, streams: Map[String, String],
                      read: String => LogicalPlan, record: String => Unit): LogicalPlan =
    plan.transformUpWithSubqueries {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
          streams.contains(u.multipartIdentifier.head.toLowerCase) =>
        val stream = streams(u.multipartIdentifier.head.toLowerCase)
        record(stream)
        SubqueryAlias(u.multipartIdentifier.head, read(stream))
      case f: UnresolvedTableValuedFunction
          if GraftTableFunctions.tableArgs.contains(f.name.last.toLowerCase) =>
        GraftTableFunctions.tableArgs(f.name.last.toLowerCase)
          .flatMap(i => f.functionArgs.lift(i).collect {
            case Literal(s, _) if s != null => s.toString.toLowerCase
          })
          .flatMap(streams.get).foreach(record)
        f
    }
}
