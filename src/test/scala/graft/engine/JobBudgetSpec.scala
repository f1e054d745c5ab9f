package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
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

  /** A 30-row stream with `second`'s index live when given, then the
    * owner's index live after one ingest of its own: the jobs of the
    * owner's next ingest. */
  private def jobs(owner: (Engine, DataFrame) => Any,
                   second: Option[(Engine, DataFrame) => Any]): Long = {
    val e = new Engine(spark, tmpDir("graft-jobbudget"))
    try {
      e.createStream("docs", StreamSchema.fromStruct(fresh(0 until 1).schema))
      e.appendRows("docs", fresh(0 until 30))
      if (second.contains(ann) || owner == ann)
        assert(e.ensureAnnIndex("docs", "vec_id", "embedding"))
      second.filterNot(_ == ann).foreach(_(e, fresh(100 until 102)))
      owner(e, fresh(200 until 202))
      val p = new Probe.Profiler(spark)
      try p.measure { owner(e, shard(300)); 0L }.jobs finally p.close()
    } finally e.close()
  }

  test("managed ingests stay within their job budgets, alone and beside a second live family") {
    val cases = Seq(
      ("append_deduped", minhash, None, 17L),
      ("append_deduped + ann", minhash, Some(ann), 22L),
      ("append_deduped_embedding", lsh, None, 18L),
      ("append_deduped_embedding + minhash", lsh, Some(minhash), 20L),
      ("append_ann_indexed", ann, None, 6L),
      ("append_ann_indexed + lsh", ann, Some(lsh), 9L))
    val over = cases.flatMap { case (name, owner, second, budget) =>
      val n = jobs(owner, second)
      info(s"$name: $n jobs (budget $budget)")
      if (n > budget) Some(s"$name: $n jobs > $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
