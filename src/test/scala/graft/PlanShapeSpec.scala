package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-shape regression tests: the properties that make the operators
  * survive a 100× scale-up are PLAN facts, not timings — lock them in so
  * a refactor that silently degrades a candidate join to a cartesian (or
  * un-pushes a filter) fails CI, not the next cluster run.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val q = Queries.all.find(_.name == name)
      .getOrElse(fail(s"no gate query named $name"))
    q.fn(spark, sf).queryExecution.executedPlan.toString
  }

  /** Exchange lines that represent KEYED data movement. Tables.load's
    * single-row-group widening (`Exchange RoundRobinPartitioning(n),
    * REPARTITION_BY_NUM`) is excluded: it is a map-side scatter that
    * moves each byte exactly once regardless of key cardinality, fires
    * only when the file layout is pathologically narrower than the
    * session parallelism (never on realistic row-group counts), and is
    * precisely the exchange these tests exist to PERMIT — counting it
    * would make the shuffle budget depend on the testdata's file layout.
    */
  private def keyedExchangeLines(plan: String): List[String] =
    plan.linesIterator.filter(l =>
      l.contains("Exchange") &&
        // only the ROUND-ROBIN form is the widening scatter — a keyed
        // `repartition(n, cols)` also prints REPARTITION_BY_NUM but is
        // real hash-keyed movement the budget must count
        !(l.contains("REPARTITION_BY_NUM")
          && l.contains("RoundRobinPartitioning"))).toList

  test("LSH/sketch pair operators plan equi-joins, never cartesian products") {
    // ann_topk is exempt: a documented brute-force oracle twin whose
    // cross-join IS its contract. ngram_jaccard_pairs is NOT exempt —
    // its exact semantics now ride a PPJoin-style prefix-filter equi-join
    for (name <- Seq("dedup_minhash_lsh", "dedup_simhash", "embedding_neardup",
      "ngram_jaccard_pairs", "ann_lsh_topk", "dup_clusters", "decontaminate",
      "incremental_dedup", "incremental_dedup_bloom",
      // the mutual-kNN graph's candidate stage is the semDedup-style
      // cell equi-join — an accidental regression to all-pairs would be
      // the classic corpus² scale-killer
      "knn_graph")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a BroadcastNestedLoopJoin:\n$plan")
    }
  }

  test("filter pushdown reaches the parquet scan with a pruned schema") {
    val plan = executedPlan("filter_pushdown")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("LessThan(l_shipdate") || plan.contains("LessThan(`l_shipdate`"),
      s"shipdate predicate not pushed:\n$plan")
    // projection pruning: the 16-column lineitem scan reads only 4 columns
    assert(!plan.contains("l_comment"), s"scan not column-pruned:\n$plan")
    // tpch_q6 is the pure filter-aggregate: all four predicates reach the
    // scan (formatted mode — plain toString truncates PushedFilters)
    val q6 = Queries.all.find(_.name == "tpch_q6").get.fn(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    for (pushed <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity"))
      assert(q6.contains(pushed), s"q6 predicate $pushed not pushed:\n$q6")
  }

  test("filtered ANN pushes the corpus metadata predicate to the parquet scan") {
    // pre-filter vector search: the label restriction must reach the
    // embeddings scan (scan volume ∝ predicate selectivity), not sit
    // above the scoring join as a post-filter
    val plan = Queries.all.find(_.name == "ann_filtered_topk").get.fn(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("LessThanOrEqual(label,4)"),
      s"label predicate not pushed to the scan:\n$plan")
  }

  test("top-k plans as TakeOrdered, not global sort") {
    val plan = executedPlan("topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dimension joins broadcast the dimension side") {
    val plan = executedPlan("join_inner_agg")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("shuffle-free curation projections stay shuffle-free") {
    // (sample_split's gate aggregates counts, so it is not in this list;
    // the hashSplit operator's shuffle-freedom is asserted in CurationSpec)
    for (name <- Seq("mixture_sample", "pii_redact",
      "text_quality", "lang_id", "gopher_filter",
      // the hashed linear classifier is transform+aggregate over the
      // token array — no explode, no groupBy, just the oracle sort
      "quality_classifier",
      // the z-value is pure bit arithmetic over the row (ranges are a
      // separate 2-long metadata aggregate, not part of this plan)
      "zorder_cluster")) {
      val plan = executedPlan(name)
      // allow the final ORDER BY's exchange (gates sort for the oracle);
      // there must be no keyed exchange BELOW it, i.e. at most one
      val exchanges = keyedExchangeLines(plan).size
      assert(exchanges <= 1,
        s"$name has $exchanges exchanges (expected <=1, the oracle sort):\n$plan")
    }
  }

  test("boilerplate removal never shuffles segment text; kill list broadcasts") {
    // round-5 rework: segment df counts key on md5(seg) and only the
    // df>limit KILL LIST joins back — a regression to joining the full
    // df table on raw `seg` re-shuffles the corpus text ×2
    val plan = executedPlan("boilerplate_segments")
    assert("BroadcastHashJoin \\[h#\\d+\\], \\[h#\\d+\\], LeftOuter, BuildRight"
      .r.findFirstIn(plan).isDefined,
      s"kill-list join is not a broadcast left join on the md5 key:\n$plan")
    // every Exchange's output must be hash/id columns or the final
    // per-doc aggregate — no exchange keyed by the raw segment text
    val exchangeKeys = "Exchange hashpartitioning\\(([a-zA-Z0-9_#]+)"
      .r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty)
    exchangeKeys.foreach(k =>
      assert(k.startsWith("h#") || k.startsWith("did#") || k.startsWith("doc_id#"),
        s"exchange keyed by $k (segment text must never shuffle):\n$plan"))
  }

  test("vocab counting ops partial-aggregate map-side and TakeOrdered their top-k") {
    val bpe = executedPlan("bpe_merges")
    // explode → count must split into partial + final hash aggregates so
    // the shuffle carries distinct pairs, not every exploded token
    assert("HashAggregate".r.findAllIn(bpe).size >= 2,
      s"bpe_merges lost its partial aggregate:\n$bpe")
    assert(!bpe.contains("CartesianProduct"), bpe)
    val tfidf = executedPlan("tfidf_terms")
    assert(!tfidf.contains("CartesianProduct"),
      s"tfidf_terms must join tf to df on word (the 1-row N is a " +
        s"broadcast nested loop, never a cartesian):\n$tfidf")
    // the bigram LMs: every exploded stream (the persisted per-doc bigram
    // frame included) reaches its first shuffle through a partial
    // aggregate, never as raw exploded rows
    for (name <- Seq("bigram_logppl", "kneser_ney_logppl")) {
      val plan = Queries.all.find(_.name == name).get
        .fn(spark, sf).queryExecution.executedPlan
      val paths = generateToExchange(plan)
      assert(paths.nonEmpty, s"$name plans no Generate:\n$plan")
      paths.foreach(path => assert(path.exists {
        case h: HashAggregateExec => h.aggregateExpressions.forall(_.mode == Partial)
        case _ => false
      }, s"$name shuffles an exploded stream before a partial aggregate " +
        s"(${path.map(_.nodeName).mkString(" <- ")}):\n$plan"))
    }
  }

  /** For each Generate in `plan` (inside cached and adaptive subplans
    * too), the operators above it up to its first shuffle exchange. */
  private def generateToExchange(plan: SparkPlan): Seq[Seq[SparkPlan]] = {
    def walk(p: SparkPlan, above: List[SparkPlan]): Seq[Seq[SparkPlan]] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, above)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan, m :: above)
      case g: GenerateExec =>
        above.takeWhile(!_.isInstanceOf[ShuffleExchangeExec]) +:
          g.children.flatMap(walk(_, g :: above))
      case other => other.children.flatMap(walk(_, other :: above))
    }
    walk(plan, Nil)
  }

  test("label cohesion broadcasts centroids back, never shuffling the corpus twice") {
    val plan = executedPlan("label_cohesion")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join must broadcast the K-row centroid side:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("round-3 pair generators are equi-joins, never cartesian/BNLJ") {
    for (name <- Seq("containment_pairs", "semdedup", "range_join")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a BroadcastNestedLoopJoin:\n$plan")
    }
  }

  test("ed-join blocks via equi-joins; KN buckets cross-join only the 1-row total") {
    val ed = executedPlan("edit_distance_pairs")
    assert(!ed.contains("CartesianProduct"),
      s"edit_distance_pairs plans a CartesianProduct:\n$ed")
    assert(!ed.contains("BroadcastNestedLoopJoin"),
      s"edit_distance_pairs plans a BroadcastNestedLoopJoin:\n$ed")
    for (name <- Seq("kneser_ney_logppl", "ppl_buckets")) {
      val plan = executedPlan(name)
      // the only nested-loop join allowed is the 1-row type-total
      // broadcast (the N-broadcast convention from the vocab family)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      assert(plan.split("BroadcastNestedLoopJoin").length - 1 <= 1,
        s"$name plans more than the one 1-row-total BNLJ:\n$plan")
    }
  }

  test("bm25 keeps the corpus stationary: 1-row stats broadcast + TakeOrdered") {
    val plan = executedPlan("bm25_topk")
    // per-doc tf/dl are row-local array ops; the only join is the 1-row
    // corpus-stats frame broadcast back (BNLJ on a single row), and the
    // top-k is a TakeOrdered — the corpus itself never shuffles
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25 top-k must plan as TakeOrdered, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"bm25 must never shuffle the corpus for its stats join:\n$plan")
    // count SHUFFLE exchanges only — the stats frame's BroadcastExchange
    // is the point of the design, not a data movement to guard against
    val exchanges = keyedExchangeLines(plan)
      .count(!_.contains("BroadcastExchange"))
    assert(exchanges <= 1,
      s"bm25 has $exchanges shuffles (expected <=1: the 1-row stats agg):\n$plan")
  }

  test("semdedup assignment runs the fused kernel, not K inline cosines") {
    val plan = executedPlan("semdedup")
    assert(plan.contains("nearest_centroid"),
      s"cell assignment must go through the fused NearestCentroid kernel " +
        s"(K inline cosine trees drop to interpreted eval past K~100):\n$plan")
  }

  test("co-bucketed streams join with ZERO exchange on either side (round-4 item #4)") {
    val e = new engine.Engine(spark, tmpDir("graft-bucketed"))
    val bucketProps = Map("bucket_by" -> "o_orderkey", "bucket_count" -> "4")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("o_orderkey"),
        org.apache.spark.sql.functions.col("l_quantity"))
    e.createStream("orders_b",
      graft.schema.StreamSchema.fromStruct(orders.schema), bucketProps)
    e.createStream("lineitem_b",
      graft.schema.StreamSchema.fromStruct(lineitem.schema), bucketProps)
    e.appendRows("orders_b", orders)
    e.appendRows("lineitem_b", lineitem)

    // force the shuffle-join path so the assertion is about BUCKETS, not
    // broadcast luck; AQE off so the executed plan is the static one
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // tpch_q18 shape: fact-fact join + same-key aggregate
      val joined = e.readStream("orders_b")
        .join(e.readStream("lineitem_b"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed q18-shape join must plan zero exchanges:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // and the result is right (same join computed from plain scans)
      val expect = orders.join(lineitem, "o_orderkey").groupBy("o_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"))
      assert(joined.orderBy("o_orderkey").collect().toSeq ==
        expect.orderBy("o_orderkey").collect().toSeq)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    e.dropStream("orders_b"); e.dropStream("lineitem_b")
  }

  test("corpus-linear diagnostics shuffle on aggregate keys only") {
    // explode → keyed count → join back → per-doc aggregate: partial
    // aggregation must survive (shuffles carry distinct keys, not tokens)
    for (name <- Seq("dup_ngram_frac", "token_entropy", "oov_rate",
      "boilerplate_segments", "bigram_logppl", "mask_dup_spans")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      // bigram_logppl's 1-row corpus total rides a broadcast nested loop
      // on purpose (same documented pattern as tfidf_terms' N)
      if (name != "bigram_logppl")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$name lost its partial aggregate:\n$plan")
    }
  }

  test("TPC-H correlated subqueries decorrelate to joins, never cartesians") {
    // the round-4 tranche completing all 22 shapes: every correlated
    // scalar/EXISTS subquery must plan as an aggregate + (semi/anti)
    // join — a regression to per-row subquery execution or a cartesian
    // would be quadratic at cluster scale
    for (name <- Seq("tpch_q2_shape", "tpch_q4_shape", "tpch_q7_shape",
      "tpch_q8_shape", "tpch_q9_shape", "tpch_q11_shape", "tpch_q15_shape",
      "tpch_q16_shape", "tpch_q17_shape", "tpch_q20_shape", "tpch_q21_shape")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
    // q21's EXISTS + NOT EXISTS pair must become one semi and one anti join
    val q21 = executedPlan("tpch_q21_shape")
    assert(q21.contains("LeftSemi"), s"q21 lost its semi join:\n$q21")
    assert(q21.contains("LeftAnti"), s"q21 lost its anti join:\n$q21")
    // q17's correlated AVG must ride a grouped aggregate, not a per-row
    // subquery: the decorrelated plan joins lineitem against its own
    // per-part average
    val q17 = executedPlan("tpch_q17_shape")
    assert(q17.contains("avg(l_quantity"), s"q17 lost the decorrelated avg:\n$q17")
  }

  test("sequence analytics shuffle on the user key; funnel types prune at the scan") {
    // funnel: irrelevant event types must be filtered BEFORE the exchange —
    // the isin predicate reaches the parquet scan as a pushed filter, so
    // corpus volume at the shuffle is funnel-relevant events only. The only
    // non-equi join allowed is the bounded |steps|² reach roll-up (BNLJ over
    // two ≤4-row frames).
    val funnel = executedPlan("funnel_steps")
    assert(funnel.contains("In(event_type"),
      s"funnel lost the scan-level step-type filter:\n$funnel")
    assert(!funnel.contains("CartesianProduct"), s"funnel:\n$funnel")
    // transitions: one window exchange on user_id, count agg — no joins at all
    val trans = executedPlan("event_transitions")
    assert(!trans.contains("Join"), s"transitions should plan zero joins:\n$trans")
    // skip-gram: pair generation is row-local (Generate over the nested
    // transform) — any join here means a regression to the positional
    // self-join that shuffles every token `window` times
    val sg = executedPlan("skipgram_cooc")
    assert(!sg.contains("Join"), s"skipgram should plan zero joins:\n$sg")
    assert(sg.contains("Generate"), s"skipgram lost the row-local explode:\n$sg")
  }

  test("quantile normalization ranks via range buckets, never one global window") {
    // the executed plan must carry the bucket column — its absence means a
    // regression to the naive row_number() OVER (ORDER BY ...) whose sort
    // is one task at any cluster size (measured 16.9 s/task at 10 M rows
    // vs 1.6 s bucketed; PERF.md rank probe)
    for (name <- Seq("quantile_normalize", "pipeline_release_v1")) {
      val plan = executedPlan(name)
      assert(plan.contains("__graft_bkt"),
        s"$name lost the bucketed global rank:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("pagerank iterations stay equi-joined; rank vector only shuffles") {
    val pr = executedPlan("pagerank_nations")
    assert(!pr.contains("CartesianProduct"), s"pagerank:\n$pr")
    // the transition frame must be reused (persisted), not rebuilt per
    // iteration: the 4-way edge build (lineitem⋈orders⋈customer⋈supplier)
    // appears once as an InMemoryTableScan per iteration, not as 3 repeated
    // join trees over lineitem
    assert(pr.contains("InMemoryTableScan"),
      s"pagerank lost the persisted transition frame:\n$pr")
  }

  test("round-5 gates hold the scale contract under the window-guard fail mode") {
    // the optimizer lint IS the audit: executing a gate with
    // spark.graft.guard.singlePartitionWindow=fail proves no
    // single-partition window over unbounded input anywhere in its plan
    // (calibration must rank through range buckets; the budget cut's
    // window must stay source-partitioned)
    spark.conf.set(graft.plans.SinglePartitionWindowGuard.ModeKey, "fail")
    try {
      for (name <- Seq("url_normalize", "url_dedup", "domain_cap",
        "pii_luhn", "lang_mixture", "classifier_calibration",
        "quality_budget_cut", "corpus_diff", "hll_rollup",
        "interval_join")) {
        val q = Queries.all.find(_.name == name).get
        assert(q.fn(spark, sf).count() > 0, s"$name returned no rows")
      }
    } finally
      spark.conf.set(graft.plans.SinglePartitionWindowGuard.ModeKey, "off")
  }

  test("round-5 joins stay keyed: no cartesian/BNLJ in interval_join and corpus_diff") {
    for (name <- Seq("interval_join", "corpus_diff", "url_dedup",
      "quality_budget_cut", "phrase_search")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a BroadcastNestedLoopJoin:\n$plan")
    }
  }

  test("tfidf_cosine_pairs: posting equi-joins; the only BNLJ is the 1-row N broadcast") {
    val plan = executedPlan("tfidf_cosine_pairs")
    assert(!plan.contains("CartesianProduct"),
      s"tfidf_cosine_pairs plans a CartesianProduct:\n$plan")
    // the global-N attach is the repo's documented 1-row-broadcast cross
    // join (same idiom as Sampling/Vocab); the w frame is reused four
    // times so the subtree PRINTS repeatedly — the contract is that
    // every BNLJ is that Cross-with-broadcast shape (a predicate BNLJ
    // would be a pair blowup) over the 1-row global-count aggregate
    val bnljLines = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toList
    assert(bnljLines.nonEmpty && bnljLines.forall(_.contains("Cross")),
      s"non-Cross BNLJ in:\n$plan")
    assert(plan.contains("partial_count(1)"),
      s"expected the 1-row global-N aggregate below the broadcast:\n$plan")
  }

  test("corpus_diff shuffles digests, not document text") {
    // the full outer join's exchanges must carry (id, md5) only — the
    // text column is consumed by the md5 projection below the shuffle
    val plan = executedPlan("corpus_diff")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty, s"no exchanges found:\n$plan")
    assert(!exchanges.exists(_.contains("text#")),
      s"document text crosses a shuffle:\n${exchanges.mkString("\n")}")
  }
}
