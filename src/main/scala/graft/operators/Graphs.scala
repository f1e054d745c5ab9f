package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge-list DataFrames — the
  * similarity-graph post-processing a curation pipeline runs on the
  * pair outputs ([[Similarity.knnGraph]], the near-dup pair families):
  * triangle structure distinguishes genuinely clustered content
  * (communities, template families) from incidental pairwise hits.
  */
object Graphs {

  /** Per-node triangle counts via the degree-ordered wedge join
    * (Cohen 2009 "Graph twiddling in a MapReduce world" /
    * Suri & Vassilvitskii WWW'11 — public literature): orient every
    * undirected edge toward the higher (degree, id) endpoint; each
    * triangle then has exactly one node with BOTH oriented edges
    * outgoing, so joining wedges (a→b, a→c with b before c in the same
    * order) against the oriented edge b→c counts each triangle exactly
    * once. The orientation is the skew-killer: oriented out-degree is
    * O(√m) regardless of raw degree, so wedge volume — the only
    * super-linear term — is Σ d_out² = O(m^1.5) worst-case instead of
    * the hub-dominated Σ d² a naive formulation pays. All joins are
    * equi-joins on node ids.
    *
    * Input edges are UNDIRECTED and may contain duplicates, self-loops,
    * or both orientations — canonicalization (least/greatest, distinct,
    * loop-drop) happens here. Output: one row per node that appears in
    * ≥1 canonical edge, `(id, triangles)` with 0 for triangle-free
    * nodes. Scale note: triangle counting presumes a SPARSIFIED graph
    * (a kNN graph, a thresholded pair list) — on a clique-heavy raw
    * dup graph the OUTPUT itself is cubic in clique size and the right
    * tool is [[Dedup]]'s cluster/canonical path, not enumeration. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deg feeds both degree joins plus the zero-fill output join, and
    // oriented (below) is embedded three times in the final plan — pin
    // the multiply-consumed frames themselves, not just their input,
    // so the degree aggregate and the orientation joins run once
    val deg = canon.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // attach degrees, orient toward the higher (deg, id)
    val withDeg = canon
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    def ordLt(d1: Column, i1: Column, d2: Column, i2: Column): Column =
      d1 < d2 || (d1 === d2 && i1 < i2)
    val oriented = withDeg.select(
      when(ordLt(col("du"), col("u"), col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("src"),
      when(ordLt(col("du"), col("u"), col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("dst"),
      when(ordLt(col("du"), col("u"), col("dv"), col("v")), col("dv"))
        .otherwise(col("du")).as("ddst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // wedges from a common apex, inner pair ordered the same way the
    // orientation orders edges — so the closing edge, if present, is
    // oriented exactly (b → c) and each triangle matches once
    val wedges = oriented.as("e1").join(oriented.as("e2"), "src")
      .filter(ordLt(col("e1.ddst"), col("e1.dst"),
        col("e2.ddst"), col("e2.dst")))
      .select(col("src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val triangles = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))

    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.select("id").join(perNode, Seq("id"), "left")
      .na.fill(0L, Seq("triangles"))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan et
    * al. PRE'07), determinized: every node starts as its own label;
    * each round every node simultaneously adopts the most frequent
    * label among its neighbors' current labels PLUS its own self-vote,
    * breaking frequency ties toward the smallest label. The self-vote
    * damps the 2-cycle oscillation the synchronous update is prone to
    * on bipartite-ish regions, and (count desc, label asc) makes each
    * round a pure function of the edge set — so a FIXED round count
    * replays round-for-round in SQL, converged or not (asynchronous
    * LPA's update order is inherently nondeterministic; this is the
    * trade that makes the operator differential-testable).
    *
    * Communities ≠ connected components ([[connectedComponentsLss]]):
    * propagation stops at sparse cuts, so one component splits into
    * dense regions — the "which template family / topic cluster"
    * question over a kNN or near-dup pair graph.
    *
    * Scale shape: per round, ONE equi-join of the bidirected edge list
    * against the label frame + two keyed aggregates — vote volume is
    * |E|+|V| rows regardless of label skew (votes pre-aggregate
    * map-side on (node, label)). Rounds are bounded by the parameter;
    * each round's labels are localCheckpoint'ed because the next round
    * consumes them TWICE (neighbor join + self-vote) — without the
    * cut, Catalyst re-inlines the whole chain per consumer and the
    * plan doubles per round.
    *
    * Exchange economy: the votes are repartitioned once on `id`, a
    * subset key that satisfies both the (id, lbl) count and the per-id
    * argmax, so the two vote aggregates share one exchange. A checkpoint
    * does NOT keep its input's partitioning (the scan reports
    * `UnknownPartitioning(0)`), so the edge and label frames are not
    * repartitioned before their checkpoints: the join would shuffle them
    * again anyway. */
  def labelPropagation(ids: DataFrame, edges: DataFrame,
                       idCol: String = "id", edgeACol: String = "id_a",
                       edgeBCol: String = "id_b",
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    // explicit partition COUNT (the session's shuffle knob — scale-
    // adaptive, never a local constant) for the votes repartition
    val nPart = edges.sparkSession.sessionState.conf.numShufflePartitions
    val bid = edges
      .select(col(edgeACol).as("u"), col(edgeBCol).as("v"))
      .union(edges.select(col(edgeBCol).as("u"), col(edgeACol).as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = true)
    var labels = ids
      .select(col(idCol).as("id"), col(idCol).cast("long").as("lbl"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val votes = bid
        .join(labels.select(col("id").as("v"), col("lbl")), "v")
        .select(col("u").as("id"), col("lbl"))
        .unionByName(labels.select(col("id"), col("lbl")))
        .repartition(nPart, col("id"))
        .groupBy("id", "lbl").agg(count(lit(1)).as("cnt"))
      labels = votes
        .groupBy("id")
        .agg(max(struct(col("cnt"), negate(col("lbl")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("lbl"))
        .localCheckpoint(eager = true)
    }
    labels.select(col("id").as(idCol), col("lbl").as("community"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): provably O(log n) ROUNDS on any graph, where
    * [[Dedup.duplicateClusters]]' plain min-label propagation needs
    * O(diameter) — the same answer, but chain- and tree-shaped
    * components (e.g. similarity graphs built from sorted-neighborhood
    * or as-of adjacency, whose diameter is Θ(n)) close in a dozen rounds
    * instead of thousands. Near-dup clique graphs have tiny diameters,
    * which is why propagation stays the library default; this is the
    * guaranteed-log path for adversarial shapes.
    *
    * Each round is two groupBy-min aggregates and two co-partitioned
    * self-joins on the CURRENT edge frame — output-sized, shrinking, and
    * always equi-keyed; no corpus-sized state. Every edge is kept
    * (larger → smaller), so star-ness at the fixed point IS the
    * component labeling: u → min-id of its component.
    *
    * large-star hooks every above-parent neighbor of u to u's minimum
    * neighbor; small-star re-hangs u and its below-u neighbors onto the
    * minimum. The fixed point (edge set unchanged by a full round) is a
    * forest of stars rooted at component minima.
    *
    * @return `(idCol, cluster_id)` for every id — cluster_id = min id
    *         reachable through the pairs, singletons themselves; the
    *         exact contract of [[Dedup.duplicateClusters]]
    */
  def connectedComponentsLss(ids: DataFrame, pairs: DataFrame,
                             idCol: String = "id",
                             maxRounds: Int = 50): DataFrame = {
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(eager = true)

    // no repartition on `u` before the min aggregate and the hook-up
    // join: it added stages and tasks per round, not a saved exchange
    // (PERF.md "Round 12 carried claims settled")
    def largeStar(e: DataFrame): DataFrame = {
      val bid = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bid.groupBy("u").agg(min("v").as("mn"))
      bid.join(mins, "u")
        .withColumn("m", least(col("mn"), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // edges already point (larger u → smaller v)
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var converged = edges.isEmpty
    var round = 0
    var edgeCount = -1L
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = true)
      // fixed point: set equality of two canonical (larger→smaller)
      // distinct frames. |next| = |edges| plus one-sided containment is
      // equivalent to the former two-sided exceptAll and drops one
      // corpus-shuffle action per round — counts over the checkpointed
      // frames are shuffle-free
      if (edgeCount < 0) edgeCount = edges.count()
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      edges = next
      edgeCount = nextCount
      round += 1
    }
    require(converged, s"large/small-star did not converge in $maxRounds rounds")
    val idType = ids.schema(idCol).dataType
    ids.select(col(idCol))
      .join(edges.select(col("u").as(idCol), col("v").as("__graft_lbl")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__graft_lbl"), col(idCol)).cast(idType).as("cluster_id"))
  }
}
