package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.QuantizerCellGuard

/** The two-level hierarchical coarse quantizer (round 9 — VERDICT r8
  * item 1): past [[Similarity.FlatCellCap]] the auto path must factor
  * the uncapped √n-ideal as k1×k2 composite cells instead of letting a
  * flat capped codebook revert the family to Θ(n²/4096) candidates.
  * The hierarchy is exercised here at test scale by lowering the cap
  * via `spark.graft.quantizer.flatCellCap` — the production default
  * (4096) keeps every gate on the flat, oracle-replayed recipe.
  *
  * The corpus is 10 exact-duplicate "clusters" of one-hot directions:
  * within a cluster every vector is a positive SCALING of the same
  * direction (cosine exactly 1.0, and — critically — IDENTICAL
  * quantizer assignment, since every kernel in the family is
  * scale-invariant), across clusters cosine is exactly 0. That makes
  * exact expectations computable without trusting the quantizer's
  * cell placement: any top-k ≤ cluster size must return the k lowest
  * cluster-mate ids at cos 1.0, from the flat and hierarchical paths
  * alike. */
class HierQuantizerSpec extends SparkSpec {

  import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}

  private val D = 16 // divisible by pqTopK's m = 8
  private val Clusters = 10
  private val PerCluster = 12
  private val N = Clusters * PerCluster // 120 → ideal cells 11 > cap 4

  // vec i: direction e_{i % Clusters}, scaled by 1 + (i / Clusters) / 16
  private lazy val emb = (0L until N.toLong).map { i =>
    val c = (i % Clusters).toInt
    val s = 1.0f + (i / Clusters).toFloat / 16f
    (i, Array.tabulate(D)(d => if (d == c) s else 0.0f))
  }.toDF("vec_id", "embedding")

  private def withHier[T](f: => T): T = {
    spark.conf.set(Similarity.FlatCellCapKey, "4")
    spark.conf.set(QuantizerCellGuard.ModeKey, "fail") // audit the hierarchy too
    try f finally {
      spark.conf.unset(Similarity.FlatCellCapKey)
      spark.conf.set(QuantizerCellGuard.ModeKey, "off")
    }
  }

  test("hierarchical ivfTopK matches brute force on separated clusters (guard-clean)") {
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryPred = col("vec_id") < Clusters, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val hier = withHier {
      Similarity.ivfTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < Clusters, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    }
    assert(hier == brute)
    assert(hier.forall(_._4 == 1.0)) // every neighbor is a cluster mate
  }

  test("hierarchical pqTopK is exact: identical rows to hierarchical ivfTopK") {
    withHier {
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < Clusters, k = 5)
        .collect().map(_.toSeq).toSet
      val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < Clusters, k = 5)
        .collect().map(_.toSeq).toSet
      assert(pq == ivf)
    }
  }

  test("hierarchical assignment: composite cells in range, scale-invariant, duplicate-consistent") {
    withHier {
      val cells = Similarity.semDedup(emb, "vec_id", "embedding",
        threshold = 0.999)
        .select(col("vec_id"), col("cell"), col("kept"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      assert(cells.length == N)
      // composite id = tcell*k2 + sub with k1,k2 = ceil(√11)=4, ceil(11/4)=3
      assert(cells.forall { case (_, c, _) => c >= 0 && c < 4 * 3 })
      // scale-invariance ⇒ every cluster lands in ONE cell
      val byCluster = cells.groupBy(_._1 % Clusters)
      assert(byCluster.values.forall(_.map(_._2).distinct.length == 1))
      // semDedup keep rule on exact duplicates: lowest id per cluster
      // survives, everything else in the (same-cell) cluster is removed
      val keptIds = cells.filter(_._3).map(_._1).sorted.toSeq
      assert(keptIds == (0L until Clusters.toLong))
    }
  }

  test("hierarchical cellBalancedSample honors the per-cell quota") {
    withHier {
      val sample = Similarity.cellBalancedSample(emb, "vec_id", "embedding",
        perCell = 3)
      val perCell = sample.groupBy("cell").count().collect()
      assert(perCell.forall(_.getLong(1) <= 3))
      assert(sample.count() > 0)
    }
  }

  test("subPacked broadcast degrades to shuffle-hash past the conf cap (plans pinned, rows identical)") {
    // round 10 — VERDICT r9 "what's wrong" item 1: the packed sub table
    // grows as √n·d floats, so the broadcast hint must be conditional.
    // Default cap: the sub side broadcasts (the measured-envelope plan).
    // Cap 0: both the assignment and probe joins take the shuffle-hash
    // degrade with subPacked as build — and the OUTPUT is bit-identical.
    withHier {
      def q() = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < Clusters, k = 5)
      val dflt = q()
      assert(dflt.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val rows = dflt.collect().map(_.toSeq).toSet
      spark.conf.set(Similarity.SubBroadcastCapKey, "0")
      try {
        val capped = q()
        val plan = capped.queryExecution.executedPlan.toString
        assert(plan.contains("ShuffledHashJoin"),
          plan.take(2000))
        assert(capped.collect().map(_.toSeq).toSet == rows,
          "the merge-degraded plan must return identical rows")
      } finally spark.conf.unset(Similarity.SubBroadcastCapKey)
    }
  }

  test("probed-query broadcast degrades to shuffle-hash past the conf cap (rows identical)") {
    // round 11 — ADVICE r10 item 1: the search tails broadcast the
    // probed QUERY side unconditionally; a bulk query batch against a
    // standing index would hit the broadcast ceiling. Past the cap the
    // cell join takes the shuffle-hash degrade with the probed side as
    // build — and the output is bit-identical, for both the exact-IVF
    // tail and the LUT-carrying PQ bar frame.
    def ivf() = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queryPred = col("vec_id") < Clusters, k = 5)
    def pq() = Similarity.pqTopK(emb, "vec_id", "embedding",
      queryPred = col("vec_id") < Clusters, k = 5)
    val ivfRows = ivf().collect().map(_.toSeq).toSet
    val pqRows = pq().collect().map(_.toSeq).toSet
    spark.conf.set(Similarity.ProbeBroadcastCapKey, "0")
    try {
      val cappedIvf = ivf()
      val planIvf = cappedIvf.queryExecution.executedPlan.toString
      assert(planIvf.contains("ShuffledHashJoin"), planIvf.take(2000))
      assert(cappedIvf.collect().map(_.toSeq).toSet == ivfRows,
        "the degraded IVF plan must return identical rows")
      val cappedPq = pq()
      val planPq = cappedPq.queryExecution.executedPlan.toString
      assert(planPq.contains("ShuffledHashJoin"), planPq.take(2000))
      assert(cappedPq.collect().map(_.toSeq).toSet == pqRows,
        "the degraded PQ plan must return identical rows")
    } finally spark.conf.unset(Similarity.ProbeBroadcastCapKey)
  }

  test("flat default is untouched: cap at 4096 keeps the flat recipe at this n") {
    // guard in fail mode, default cap — auto resolves flat √120 ≈ 11
    spark.conf.set(QuantizerCellGuard.ModeKey, "fail")
    try {
      val out = Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.999)
      assert(out.select(countDistinct("cell")).head().getLong(0) <= 11)
    } finally spark.conf.set(QuantizerCellGuard.ModeKey, "off")
  }

  test("hierarchical PQ books come from the one trainer and equal per-subspace kmeansTrain books") {
    // the reference is the per-subspace recipe the books are defined by:
    // the first ksub slices by id as seeds, one Lloyd pass, FLOAT means
    // (public kmeansTrain with iters = 1), padded to ksub with the last
    // centroid. A jittered corpus, so every subspace has real structure.
    val (m, ksub) = (8, 16)
    val sub = D / m
    val jittered = spark.range(N).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${D - 1}), j -> CAST(" +
        "(CASE WHEN j % 4 = id % 4 THEN 4.0 ELSE 0.2 END) + " +
        "(pmod(xxhash64(id, j), 100) / 500.0) AS FLOAT))").as("embedding"))
    val e = jittered.select(col("vec_id").as("n_id"), col("embedding").as("v"))
    val (quant, books) = withHier(
      Similarity.buildQuantizer("spec", 0, e, None, Some((m, ksub))))
    val top = quant match {
      case h: Similarity.HierQuantizer => h.top
      case other => fail(s"cap 4 at n=$N must resolve hierarchical, got $other")
    }
    def kmeansBook(df: org.apache.spark.sql.DataFrame, k: Int): Seq[Seq[Float]] =
      Similarity.kmeansTrain(df, "vec_id", "embedding", k = k, iters = 1)
        .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.sortBy(_.getLong(1)).map(_.getDouble(2).toFloat).toSeq }
    val b = books.get
    assert((b.m, b.ksub, b.sub) == ((m, ksub, sub)))
    for (j <- 0 until m) {
      val ref = kmeansBook(jittered.select(col("vec_id"),
        slice(col("embedding"), j * sub + 1, sub).as("embedding")), ksub)
      val padded = ref ++ Seq.fill(ksub - ref.size)(ref.last)
      assert(b.flats(j).toSeq == padded.flatten, s"subspace $j codebook")
      assert(b.normSqs(j).toSeq ==
        padded.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)),
        s"subspace $j norms")
    }
    // the hierarchy's top level trains in the same pass as the books:
    // the same centroids the book-less resolution trains (in cid order)
    assert(top.sortBy(_._1).map(_._2) == kmeansBook(jittered, 4))
    val plain = withHier(Similarity.buildQuantizer("spec", 0, e, None)._1)
    assert(plain.asInstanceOf[Similarity.HierQuantizer].top.sortBy(_._1) ==
      top.sortBy(_._1))
  }
}
