package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Spark-standard library entry point: register the engine's native
  * function surface at session build time via
  * `spark.sql.extensions=graft.GraftExtensions` — the injection
  * mechanism Spark provides for third-party catalyst extensions, so SQL
  * users get `grok`, `vec_cosine`, `minhashes`, `plane_sigs`,
  * `sorted_intersect_count`, `simhash56`, `to_timestamp_ltz` without
  * any engine API call. [[graft.functions.GraftFunctions.register]]
  * stays as the per-session imperative path (used by every operator
  * entry point); both share the same builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.injectAll(ext)
    // SQL-reachable LLM-pipeline operators (round 10): table-valued
    // functions so model/test SQL can express dedup/retrieval stages —
    // see [[graft.functions.GraftTableFunctions]]
    functions.GraftTableFunctions.injectAll(ext)
    // engine stream names: ahead of temp views and tables inside an
    // engine statement (hint batch), after them for other SQL on a
    // session bound to an engine — see [[graft.engine.StreamRelations]]
    ext.injectHintResolutionRule(s => new engine.StreamRelations(s, hintBatch = true))
    ext.injectResolutionRule(s => new engine.StreamRelations(s, hintBatch = false))
    // optimizer lints for the scale contract (each off unless the session
    // sets its spark.graft.guard.* key to warn|fail) — see
    // [[graft.plans.SinglePartitionWindowGuard]] and
    // [[graft.plans.CartesianJoinGuard]]
    ext.injectOptimizerRule(_ => new plans.SinglePartitionWindowGuard)
    ext.injectOptimizerRule(_ => new plans.CartesianJoinGuard)
    // plans the deferred-effect lifecycle node the ann_index_* TVFs
    // return (round 11) — see [[graft.plans.GraftAction]]
    ext.injectPlannerStrategy(_ => new plans.GraftActionStrategy)
  }
}
