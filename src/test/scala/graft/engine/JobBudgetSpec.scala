package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.schema.StreamSchema
import graft.tools.Probe

/** Spark jobs per engine operation, counted with the dev tools' profiler
  * on a small corpus. At this scale a curation call's cost is its fixed
  * per-job latency, so a change that adds a job to an operation fails
  * here rather than only in a traced benchmark run. Each budget is the
  * count measured when it was set; lower it when a cut lands, never
  * raise it. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Rows `vec_id` carrying the text and embedding derived from `like`:
    * no two `like` values share a word or have near vectors, so a row
    * is a duplicate exactly when its `like` is already stored. */
  private def docs(rows: (Long, Long)*): DataFrame =
    rows.toDF("vec_id", "like").select(col("vec_id"),
      expr("concat('w', like, ' x', like * 7, ' y', like * 13, ' z', like * 29)").as("text"),
      expr("transform(sequence(0, 15), j -> CAST(" +
        "pmod(xxhash64(like, j), 2001) / 1000.0 - 1.0 AS FLOAT))").as("embedding"))

  private def fresh(ids: Range): DataFrame = docs(ids.map(i => (i.toLong, i.toLong)): _*)

  /** Three novel rows plus a copy of stored row 0 under a new id. */
  private def shard(from: Long): DataFrame =
    docs((from, from), (from + 1, from + 1), (from + 2, from + 2), (from + 3, 0L))

  private val minhash = (e: Engine, df: DataFrame) =>
    e.appendRowsDeduped("docs", df, "vec_id", "text")
  private val lsh = (e: Engine, df: DataFrame) =>
    e.appendRowsDedupedEmbedding("docs", df, "vec_id", "embedding", dims = 16)
  private val ann = (e: Engine, df: DataFrame) =>
    e.appendRowsAnnIndexed("docs", df, "vec_id", "embedding")

  /** The jobs of `op` on a 30-row stream `docs`, after `setup`. */
  private def jobsOf(setup: Engine => Any)(op: Engine => Any): Long = {
    val e = new Engine(spark, tmpDir("graft-jobbudget"))
    try {
      e.createStream("docs", StreamSchema.fromStruct(fresh(0 until 1).schema))
      e.appendRows("docs", fresh(0 until 30))
      setup(e)
      val p = new Probe.Profiler(spark)
      try p.measure { op(e); 0L }.jobs finally p.close()
    } finally e.close()
  }

  private val annLive = (e: Engine) =>
    assert(e.ensureAnnIndex("docs", "vec_id", "embedding"))

  /** With `second`'s index live when given, then the owner's index live
    * after one ingest of its own: the jobs of the owner's next ingest. */
  private def jobs(owner: (Engine, DataFrame) => Any,
                   second: Option[(Engine, DataFrame) => Any]): Long =
    jobsOf { e =>
      if (second.contains(ann) || owner == ann) annLive(e)
      second.filterNot(_ == ann).foreach(_(e, fresh(100 until 102)))
      owner(e, fresh(200 until 202))
    }(owner(_, shard(300)))

  /** Cases over (name, measured jobs, budget): fails naming every case
    * over its budget. */
  private def assertWithin(cases: Seq[(String, () => Long, Long)]): Unit = {
    val over = cases.flatMap { case (name, measure, budget) =>
      val n = measure()
      info(s"$name: $n jobs (budget $budget)")
      if (n > budget) Some(s"$name: $n jobs > $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("managed ingests stay within their job budgets, alone and beside a second live family") {
    assertWithin(Seq(
      ("append_deduped", () => jobs(minhash, None), 17L),
      ("append_deduped + ann", () => jobs(minhash, Some(ann)), 22L),
      ("append_deduped_embedding", () => jobs(lsh, None), 18L),
      ("append_deduped_embedding + minhash", () => jobs(lsh, Some(minhash)), 20L),
      ("append_ann_indexed", () => jobs(ann, None), 6L),
      ("append_ann_indexed + lsh", () => jobs(ann, Some(lsh)), 9L)))
  }

  test("index upkeep, indexed top-k and forgets stay within their job budgets") {
    val forgotten = col("vec_id") % 4 === 0
    assertWithin(Seq(
      ("ensure_ann_index on a live index",
        () => jobsOf(annLive)(_.ensureAnnIndex("docs", "vec_id", "embedding")), 0L),
      ("ann_topk_indexed", () => jobsOf(annLive)(_.annTopKIndexed("docs", "vec_id",
        "embedding", col("vec_id") < 3, k = 5).collect()), 4L),
      ("forget_rows", () => jobsOf(_ => ())(_.forgetRows("docs", forgotten)), 4L),
      ("forget_rows, ann-indexed", () => jobsOf(annLive)(_.forgetRows("docs", forgotten)), 13L),
      ("forget_rows_cascade", () => jobsOf(_.createModel("kept", "SELECT vec_id, text FROM docs"))(
        _.forgetRowsCascade("docs", forgotten)), 5L)))
  }

  test("a seed and a full-refresh model build stay within their job budgets") {
    val csv = java.nio.file.Paths.get(tmpDir("graft-jobbudget-seed"), "s.csv")
    java.nio.file.Files.writeString(csv, (0 until 25)
      .map(i => f"$i,name $i,${i * 0.5},2024-01-${1 + i % 28}%02d")
      .mkString("id,name,score,day\n", "\n", "\n"))
    val model = "SELECT vec_id % 3 AS g, count(*) AS n FROM docs GROUP BY vec_id % 3"
    assertWithin(Seq(
      ("seed, 25 rows", () => jobsOf(_ => ())(_.seed("s", csv.toString)), 3L),
      ("create_model, full refresh", () => jobsOf(_.createModel("m", model))(
        _.createModel("m", model, fullRefresh = true)), 2L)))
  }

  test("a preview, a test, an unchanged model build and a pipeline refresh stay within their job budgets") {
    val filter = "SELECT vec_id, text FROM docs WHERE vec_id % 2 = 0"
    assertWithin(Seq(
      ("preview", () => jobsOf(_ => ())(_.preview(filter, 20)), 2L),
      ("run_test", () => jobsOf(_ => ())(
        _.runTest("not_null_docs_text", "SELECT text FROM docs WHERE text IS NULL")), 2L),
      ("create_model, unchanged", () => jobsOf(_.createModel("m", filter))(e =>
        assert(e.createModel("m", filter) == Unchanged)), 0L),
      ("refresh_available, filter model", () => jobsOf(_.createModel("m", filter,
        ModelConfig(active = false)))(new graft.streaming.StreamingEngine(_).refreshAvailable("m")),
        1L)))
  }

  test("a full ensureAnnIndex rebuild stays within its job budget, flat and hierarchical") {
    // a flat-cell cap of 4 under the 30-row stream's √n-ideal of 5 cells
    // makes the auto layout hierarchical (3 top cells × 2 sub-cells)
    def rebuild(cap: Option[Int]): () => Long = () =>
      try {
        cap.foreach(c => spark.conf.set(Similarity.FlatCellCapKey, c.toString))
        jobsOf(_ => ()) { e =>
          assert(e.ensureAnnIndex("docs", "vec_id", "embedding"))
          assert(e.catalog.get(e.annIndexName("docs")).get.properties("ann_kind") ==
            (if (cap.isEmpty) "flat" else "hier"))
        }
      } finally spark.conf.unset(Similarity.FlatCellCapKey)
    assertWithin(Seq(
      ("ensure_ann_index, flat rebuild", rebuild(None), 9L),
      ("ensure_ann_index, hierarchical rebuild", rebuild(Some(4)), 17L)))
  }
}
