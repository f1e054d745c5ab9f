package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Similarity.kCenterCoreset]] — the greedy farthest-point traversal
  * against an in-memory replay (same round-6 cosine, same tie-breaks),
  * and its no-join/no-shuffle plan shape. */
class KCenterSpec extends SparkSpec {
  import spark.implicits._

  private def cos6(a: Seq[Float], b: Seq[Float]): Double = {
    var na = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    var dot = 0.0; var nb = 0.0; var j = 0
    while (j < math.min(a.length, b.length)) {
      val x = a(j).toDouble; val y = b(j).toDouble
      dot += x * y; nb += y * y; j += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    if (c.isNaN || c.isInfinite) c
    else java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Driver-side greedy replay: returns (step, id, selMicro, nAssigned). */
  private def brute(pts: Seq[(Long, Seq[Float])],
                    k: Int): Seq[(Int, Long, Option[Long], Long)] = {
    val sorted = pts.sortBy(_._1)
    var centers = Vector[(Int, Long, Seq[Float], Option[Long])](
      (0, sorted.head._1, sorted.head._2, None))
    while (centers.size < k) {
      val (id, v, best) = sorted.map { case (id, v) =>
        (id, v, centers.map(c => cos6(v, c._3)).max)
      }.minBy { case (id, _, b) => (b, id) }
      centers :+= ((centers.size, id, v, Some(math.round(best * 1e6))))
    }
    val counts = sorted.groupBy { case (_, v) =>
      centers.map(c => (cos6(v, c._3), -c._1)).max._2 * -1
    }.map { case (s, g) => s -> g.size.toLong }
    centers.map { case (s, id, _, m) => (s, id, m, counts.getOrElse(s, 0L)) }
  }

  private def mk(pts: Seq[(Long, Seq[Float])]) =
    pts.toDF("vec_id", "embedding")

  test("matches the driver-side greedy replay on clustered vectors") {
    val pts = (0 until 300).map { i =>
      val c = i % 3
      val base = Seq(
        Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f))(c)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * ((i * 7 + d * 3) % 11)
      })
    }
    val got = Similarity.kCenterCoreset(mk(pts), "vec_id", "embedding", 4)
      .orderBy("step")
      .as[(Int, Long, Option[Long], Long)].collect().toSeq
    assert(got == brute(pts, 4))
  }

  test("duplicate-heavy corpus: ties resolve by lowest id, counts by earliest step") {
    val pts = (0 until 60).map { i =>
      (i.toLong, if (i % 2 == 0) Seq(1f, 2f, 3f) else Seq(-3f, 2f, -1f))
    }
    val got = Similarity.kCenterCoreset(mk(pts), "vec_id", "embedding", 2)
      .orderBy("step")
      .as[(Int, Long, Option[Long], Long)].collect().toSeq
    assert(got == brute(pts, 2))
    assert(got.map(_._2) == Seq(0L, 1L)) // seed=lowest id, farthest=other class, lowest id
    assert(got.map(_._4).sum == 60L)
  }

  test("k larger than the corpus replays the same degenerate rule as SQL") {
    val pts = Seq((5L, Seq(1f, 0f)), (9L, Seq(0f, 1f)))
    val got = Similarity.kCenterCoreset(mk(pts), "vec_id", "embedding", 4)
      .orderBy("step")
      .as[(Int, Long, Option[Long], Long)].collect().toSeq
    assert(got == brute(pts, 4))
  }

  test("plan: no join and no shuffle in the per-round scoring pass") {
    // parquet-backed input: a LocalRelation would let Catalyst constant-fold
    // the scoring pass away and hide the plan under test
    val dir = tmpDir("kcenter")
    mk((0 until 100).map(i => (i.toLong, Seq(i.toFloat, 1f))))
      .write.mode("overwrite").parquet(dir)
    val df = Similarity.kCenterCoreset(spark.read.parquet(dir),
      "vec_id", "embedding", 3)
    // the cover pass (last stage) is scan + fused kernel + hash agg; the
    // only join is the k-row centers frame against the k-row sizes frame
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"corpus must never self-join:\n$plan")
    assert(plan.contains("centroid_cosines"), s"fused kernel missing:\n$plan")
  }
}
