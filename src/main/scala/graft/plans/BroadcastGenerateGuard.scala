package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** The third scale lint (round 7): no BROADCAST build whose subtree
  * contains a raw Generate (explode/posexplode).
  *
  * Catalyst sizes a Generate by its column-pruned CHILD — the explode
  * multiplicity never enters the estimate — so an exploded posting side
  * is "a few KB" at ANY corpus size and becomes the broadcast build of
  * its join. Measured consequences before the round-7 sweep: the LSH
  * bucket join broadcast its 134M-row probe side at sf1 (a hard
  * `Cannot broadcast ... 12.9 GiB` failure with 512-table layouts, and
  * a silent ~5 GB broadcast with the old 48-table ones), and the
  * ngram/containment prefix joins were broadcasting corpus×shingles
  * sides that merely hadn't crossed the 8 GiB limit yet. Every
  * corpus-sided posting join now pins its strategy (merge /
  * shuffle_hash); this guard makes the class unshippable the way
  * SinglePartitionWindowGuard retired global windows.
  *
  * Unlike the optimizer-rule lints, broadcast selection happens at
  * PHYSICAL planning, so this check walks the (pre-execution, AQE
  * initial) SparkPlan rather than riding SparkSessionExtensions. The
  * walk stops at aggregates — a groupBy collapses explode multiplicity
  * to its key cardinality, so a Generate below one no longer drives the
  * build size (gram-keyed aggregates are a separate, estimate-linear
  * class). [[exemptGates]] carries the audited by-design sites; the
  * per-site triage record lives in `tools.Probe.bcast`'s scaladoc.
  */
object BroadcastGenerateGuard {

  /** Gates whose flagged broadcasts are deliberate — BOUNDED-multiplier
    * explodes on genuinely small sides — keyed to a PER-SITE generator
    * fingerprint (a prefix of the bound generator string, cut before
    * unstable ordinals/object hashes) observed in the audit (Probe
    * bcast at sf0.001 / sf0.01 / sf0.1, identical at all three).
    * Fingerprint-pinned (round 9 — ADVICE r8): a bare COUNT would let a
    * plan change swap the audited benign site for a different,
    * genuinely corpus-sided one without tripping the lint, and
    * bad.size < allowed would silently leave stale slack; with per-site
    * prefixes, an UNMATCHED offender fails AND an unused exemption
    * fails, so every identity change forces a re-audit. */
  val exemptOffenders: Map[String, Seq[String]] = Map(
    // pred-filtered QUERY side exploded ×nprobe — broadcasting the
    // handful of probe rows against the corpus is the intended plan
    "ann_ivf_topk" -> Seq("explode(transform(slice(sort_array("),
    "ann_lsh_topk" -> Seq("explode(array(("),
    "ann_pq_topk" -> Seq("explode(transform(slice(sort_array("),
    // the index-backed twins probe the same pred-filtered query side
    // (audited round 10 — the corpus index side streams from its
    // bucketed scan, never broadcasts)
    "ann_ivf_topk_indexed" -> Seq("explode(transform(slice(sort_array("),
    "ann_pq_topk_indexed" -> Seq("explode(transform(slice(sort_array("),
    "sql_ann_indexed_topk" -> Seq("explode(transform(slice(sort_array("),
    // the FILTERED index-served twins (round 11): same probed query
    // side; the corpus-side eligible semi-join never broadcasts a
    // Generate (the eligible frame is an id projection, explode-free)
    "ann_indexed_filtered_topk" -> Seq("explode(transform(slice(sort_array("),
    "ann_indexed_filtered_pq" -> Seq("explode(transform(slice(sort_array("),
    "sql_ann_filtered_topk" -> Seq("explode(transform(slice(sort_array("),
    "ann_forget_topk" -> Seq("explode(transform(slice(sort_array("),
    // 2-element quantile literal explode (exact_quantile broadcasts it
    // at two join sites — both audited)
    "exact_quantile" -> Seq("explode([0.5,0.99])", "explode([0.5,0.99])"),
    "hourly_quantiles" -> Seq("explode([0.5,0.95])"),
    "weighted_quantile" -> Seq("explode([0.5,0.9])"),
    // salt-literal explode on the replicated dim side of the salted join
    "skew_salted_join" -> Seq(
      "explode(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData"),
    // INTERVAL (dim) side exploded ×span/width — broadcasting exploded
    // campaigns against the point corpus is the right plan at any scale
    "range_join" -> Seq("explode(sequence("))

  /** Back-compat membership view (Probe's `[exempt]` tag). */
  def exemptGates(gate: String): Boolean = exemptOffenders.contains(gate)

  /** Generator strings of every raw-Generate broadcast build in the
    * frame's static physical plan; empty = clean. Walks NESTED adaptive
    * plans and subquery plans too (round 8 — ADVICE r7: the former
    * top-level-only walk let an exploded broadcast build inside a
    * scalar/IN subquery or a nested AQE wrapper escape the lint). */
  def offenders(df: DataFrame): Seq[String] = {
    // AQE wraps before exchanges are inserted (inputPlan has no
    // BroadcastExchange nodes); its executedPlan accessor returns the
    // prepared current plan — pre-execution, the initial plan with the
    // statically-chosen exchanges this guard inspects
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    def generates(p: SparkPlan): Seq[GenerateExec] = unwrap(p) match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => Nil
      // a NESTED broadcast exchange is its own offender site, visited
      // separately by the outer walk — descending through it here would
      // attribute its Generates to BOTH exchanges (round 9 — ADVICE r8:
      // harmless when the result was boolean, but a double-counted
      // single audited site spuriously exceeds a pinned exemption)
      case _: BroadcastExchangeExec => Nil
      case g: GenerateExec => g +: g.children.flatMap(generates)
      case other => other.children.flatMap(generates)
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(plan: SparkPlan): Unit = {
      val p = unwrap(plan)
      if (!seen.add(p)) return // shared subquery instances: visit once
      p.foreach { node =>
        node match {
          case b: BroadcastExchangeExec =>
            generates(b.child).foreach(g =>
              out += g.boundGenerator.toString.take(120))
          case a: AdaptiveSparkPlanExec => walk(a) // nested AQE wrapper
          case _ => ()
        }
        // scalar/IN/EXISTS subqueries hang off expressions, not
        // children — each carries its own physical plan to lint
        node.subqueries.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    out.toSeq
  }

  /** Escalates an UNUSED audited exemption from a warning to a failure
    * (round 10 — ADVICE r9): at the audited small scales (sf0.001–0.1)
    * every fingerprinted site is known to exist, so a fingerprint the
    * plan no longer exhibits there means the site changed identity and
    * a standing exemption could silently cover a future corpus-sided
    * site sharing its generator prefix. The small-sf Verify runs enable
    * this; large-scale runs keep the warn (broadcast selection is
    * legitimately scale-dependent — see [[check]]). */
  val StrictUnusedKey = "spark.graft.guard.broadcastGenerate.strictUnused"

  /** Throw if `df`'s plan broadcasts an exploded side the gate's audit
    * did not fingerprint. An audited fingerprint that goes UNUSED (the
    * plan no longer has that site) is a loud stderr warning and is
    * returned — NOT a failure (round 9): identity pinning already means
    * slack cannot mask a rogue site (any offender outside the
    * fingerprints fails on its own), and broadcast selection is
    * legitimately SCALE-DEPENDENT — range_join's audited interval-side
    * broadcast exists at sf0.01 but exceeds the broadcast threshold at
    * sf1, where failing the gate for LOSING a broadcast would punish
    * exactly the right planner behavior. Under [[StrictUnusedKey]]
    * (the audited small scales) the unused exemption FAILS instead.
    * Multiset matching: each offender consumes at most one expected
    * prefix.
    *
    * @return the unused audited fingerprints (empty = exemption fully
    *         exercised at this scale) — surfaced for specs and audits */
  def check(gate: String, df: DataFrame): Seq[String] = {
    val bad = offenders(df)
    val unmatched = scala.collection.mutable.Buffer(
      exemptOffenders.getOrElse(gate, Seq.empty): _*)
    val rogue = bad.filterNot { g =>
      val i = unmatched.indexWhere(p => g.startsWith(p))
      if (i >= 0) { unmatched.remove(i); true } else false
    }
    if (rogue.nonEmpty)
      throw new IllegalStateException(
        s"BroadcastGenerateGuard: gate '$gate' broadcasts ${rogue.size} " +
          s"exploded join side(s) outside its audited exemptions " +
          s"(estimate is explode-blind — pin merge/shuffle_hash or " +
          s"re-audit the exemption): ${rogue.mkString(" | ")}")
    if (unmatched.nonEmpty) {
      val strict = df.sparkSession.conf
        .getOption(StrictUnusedKey).contains("fail")
      val msg =
        s"BroadcastGenerateGuard: gate '$gate' does not exhibit " +
          s"${unmatched.size} audited exploded-broadcast site(s) at this " +
          s"scale (${unmatched.mkString(" | ")})"
      if (strict)
        throw new IllegalStateException(msg +
          " — at the audited small scales every fingerprinted site must " +
          "exist; the plan changed identity, re-audit (Probe bcast) and " +
          "update the exemption")
      System.err.println(msg + " — expected when the planner drops a " +
        "broadcast past its size threshold; if the site is gone at EVERY " +
        "scale, re-audit (Probe bcast) and shrink the exemption")
    }
    unmatched.toSeq
  }
}
