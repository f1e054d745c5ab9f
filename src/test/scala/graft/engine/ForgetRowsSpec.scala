package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.StreamSchema

/** [[Engine.forgetRows]] — the PHYSICAL takedown path (round 11):
  * predicate-matched rows leave the main store AND every live index
  * sibling, with no retrain; tombstones ([[Engine.deleteKeys]]) hide a
  * key but keep the bytes, which is not what a takedown requires. */
class ForgetRowsSpec extends SparkSpec {
  import spark.implicits._

  private def newEngine(): Engine =
    new Engine(spark, tmpDir("graft-forget"))

  private def vecStream(e: Engine, name: String): Unit =
    e.createStream(name, StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("vec_id", "long", nullable = false)
        .add("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))

  /** Same deterministic clustered corpus as AnnIndexSpec. */
  private def corpus(n: Int = 60, dims: Int = 16): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dims - 1}), j -> CAST(" +
        s"(CASE WHEN j % 4 = id % 4 THEN 4.0 ELSE 0.2 END) + " +
        "(pmod(xxhash64(id, j), 100) / 500.0) AS FLOAT))").as("embedding"))

  test("physical removal on a plain stream; zero-match forget is a no-op") {
    val e = newEngine()
    e.createStream("t", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("id", "long", nullable = false).add("txt", "string")))
    e.appendRows("t", spark.range(10).select(col("id"),
      concat(lit("doc-"), col("id")).as("txt")))
    assert(e.forgetRows("t", col("id") % 2 === 0) == 5L)
    val left = e.readStream("t").select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(1L, 3L, 5L, 7L, 9L))
    // bytes are gone, not hidden: raw row count dropped too
    assert(e.describeStream("t").rows == 5L)
    val epochAfter = e.catalog.get("t").get.writeEpoch
    assert(e.forgetRows("t", col("id") > 100) == 0L)
    assert(e.catalog.get("t").get.writeEpoch == epochAfter,
      "a zero-match forget must not bump the epoch")
    // NULL predicate rows are KEPT (null-safe semantics)
    assert(e.forgetRows("t", when(col("id") === 1, lit(true))) == 1L)
    assert(e.readStream("t").count() == 4L)
    e.close()
  }

  test("managed sibling names are rejected") {
    val e = newEngine()
    val err = intercept[IllegalArgumentException] {
      e.forgetRows("x__annidx", lit(true))
    }
    assert(err.getMessage.contains("reserved"))
    e.close()
  }

  test("change-stream history is physically removed, not tombstoned") {
    val e = newEngine()
    e.createStream("cs", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("k", "string", nullable = false).add("v", "string")))
    e.catalog.put(e.catalog.get("cs").get.copy(
      schema = e.catalog.get("cs").get.schema.copy(primaryKey = Seq("k"))))
    e.appendRows("cs", Seq(("a", "1"), ("b", "1")).toDF("k", "v"))
    val beforeUpdate = e.catalog.get("cs").get.writeEpoch
    e.appendRows("cs", Seq(("a", "2")).toDF("k", "v"))
    assert(e.describeStream("cs").rows == 3L) // full history stored
    assert(e.forgetRows("cs", col("k") === "a") == 2L,
      "both stored versions of the key must go")
    assert(e.describeStream("cs").rows == 1L)
    // even time travel to before the update no longer sees the key —
    // that is the difference from deleteKeys
    assert(e.readStreamAsOf("cs", beforeUpdate)
      .select("k").as[String].collect().toSeq == Seq("b"))
    e.close()
  }

  test("PK stream: a value-predicate match expands to the key's whole history") {
    val e = newEngine()
    e.createStream("cs2", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("k", "string", nullable = false).add("v", "string")))
    e.catalog.put(e.catalog.get("cs2").get.copy(
      schema = e.catalog.get("cs2").get.schema.copy(primaryKey = Seq("k"))))
    e.appendRows("cs2", Seq(("a", "1"), ("b", "1")).toDF("k", "v"))
    e.appendRows("cs2", Seq(("a", "2")).toDF("k", "v"))
    // match ONLY the update row: without whole-history expansion the
    // overwritten ("a","1") would resurrect as the new "latest"
    assert(e.forgetRows("cs2", col("v") === "2") == 2L,
      "a value match on one version must take the key's whole history")
    assert(e.readStream("cs2").select("k").as[String].collect().toSeq ==
      Seq("b"))
    e.close()
  }

  test("cascade empties a re-materialized model's persisted ANN index") {
    val e = newEngine()
    vecStream(e, "embsrc")
    e.appendRows("embsrc", corpus(40))
    e.createModel("embm", "SELECT vec_id, embedding FROM embsrc")
    assert(e.ensureAnnIndex("embm", "vec_id", "embedding"))
    assert(e.forgetRowsCascade("embsrc", col("vec_id") % 4 === 0) ==
      (10L, 1L))
    // the model's index must not keep serving pre-refresh rows — the
    // derived victim ids are unknowable without row lineage, so the
    // index is EMPTIED (serves nothing until rebuilt), never stale
    assert(e.readStream(e.annIndexName("embm")).count() == 0L)
    assert(e.annTopKIndexedServe("embm", "vec_id", "embedding",
      col("vec_id") === 1, k = 5, nProbe = 64).count() == 0L)
    // rebuild from the refreshed contents: forgotten-derived ids gone
    assert(e.ensureAnnIndex("embm", "vec_id", "embedding"))
    val ids = e.readStream(e.annIndexName("embm"))
      .select(col("ex_id").cast("long")).as[Long].collect().toSet
    assert(ids.nonEmpty && ids.forall(_ % 4 != 0))
    e.close()
  }

  test("ANN-indexed stream: pruned, still LIVE, survivors searchable") {
    val e = newEngine()
    vecStream(e, "emb")
    e.appendRows("emb", corpus())
    assert(e.ensureAnnIndex("emb", "vec_id", "embedding"))
    assert(e.forgetRows("emb", col("vec_id") % 4 === 0) == 15L)
    // live: the next ensure takes the fast path (no rebuild)
    assert(!e.ensureAnnIndex("emb", "vec_id", "embedding"),
      "forget must re-pin a live index, not leave it stale")
    val props = e.catalog.get(e.annIndexName("emb")).get.properties
    assert(props("ann_n") == "45")
    // forgotten ids are unreachable even at full probe width
    val hits = e.annTopKIndexed("emb", "vec_id", "embedding",
      col("vec_id") === 1, k = 60, nProbe = 64)
      .select("n_id").as[Long].collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_ % 4 != 0), "forgotten vectors must not serve")
    // and they are physically out of the sibling store
    assert(e.readStream(e.annIndexName("emb"))
      .filter(col("ex_id") % 4 === 0).count() == 0L)
    e.close()
  }

  test("STALE ANN index: rows pruned (it still serves) but NOT re-pinned") {
    val e = newEngine()
    vecStream(e, "emb2")
    e.appendRows("emb2", corpus(40))
    assert(e.ensureAnnIndex("emb2", "vec_id", "embedding"))
    // out-of-band append: index goes stale (covers 40 of 41 rows)
    e.appendRows("emb2", Seq((1001L, Array.tabulate(16)(j =>
      if (j % 4 == 0) 4.2f else 0.25f))).toDF("vec_id", "embedding"))
    assert(e.forgetRows("emb2", col("vec_id") % 4 === 0) == 10L)
    // pruned: the stale index must not keep serving forgotten vectors
    assert(e.readStream(e.annIndexName("emb2"))
      .filter(col("ex_id") % 4 === 0).count() == 0L)
    // not re-pinned: the next ensure still rebuilds (it must fold in
    // the out-of-band row the stale index never covered)
    assert(e.ensureAnnIndex("emb2", "vec_id", "embedding"),
      "a pre-forget stale index must stay stale")
    val ids = e.readStream(e.annIndexName("emb2"))
      .select(col("ex_id").cast("long")).as[Long].collect().toSet
    assert(ids.contains(1001L) && ids.forall(_ % 4 != 0))
    e.close()
  }

  test("MinHash dedup index: a forgotten doc's duplicate is novel again") {
    val e = newEngine()
    e.createStream("docs", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("id", "long", nullable = false).add("txt", "string")))
    // pairwise-distinct texts (no cross-collisions at threshold 0.5)
    val base = (0L until 20L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
    assert(e.appendRowsDeduped("docs", base.toDF("id", "txt"),
      "id", "txt") == 0L) // returns DROPPED count: all 20 are novel
    val dupText = "alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3"
    // a duplicate of doc 3 dedupes against the standing index
    assert(e.appendRowsDeduped("docs", Seq((100L, dupText)).toDF("id", "txt"),
      "id", "txt") == 1L)
    // forget doc 3: postings leave the index, and the SAME text now
    // ingests as novel — takedown means the content is re-admissible
    assert(e.forgetRows("docs", col("id") === 3) == 1L)
    assert(e.appendRowsDeduped("docs", Seq((100L, dupText)).toDF("id", "txt"),
      "id", "txt") == 0L,
      "a duplicate of forgotten content must be novel again")
    // ...and the index stayed consistent: re-ingesting it again dedupes
    assert(e.appendRowsDeduped("docs",
      Seq((101L, dupText)).toDF("id", "txt"), "id", "txt") == 1L)
    e.close()
  }

  test("cascade re-materializes the downstream DAG exactly once per model") {
    val e = newEngine()
    e.createStream("base", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("id", "long", nullable = false).add("v", "long")))
    e.appendRows("base", spark.range(10).select(col("id"),
      (col("id") * 10).as("v")))
    e.createModel("m1", "SELECT id, v FROM base")
    e.createModel("m2", "SELECT id, v + 1 AS v1 FROM base")
    // diamond: m3 reads BOTH m1 and m2 — must refresh after them, once
    e.createModel("m3",
      "SELECT count(1) AS n FROM m1 JOIN m2 ON m1.id = m2.id")
    // a DEACTIVATED model keeps its contents — the takedown must still
    // purge them, without flipping the active flag
    e.stopPipelines(Some(Seq("m2")))
    assert(e.forgetRowsCascade("base", col("id") < 3) == (3L, 3L))
    assert(e.readStream("m1").count() == 7L)
    assert(e.readStream("m2").count() == 7L)
    assert(e.readStream("m3").select("n").as[Long].head() == 7L)
    assert(!e.catalog.get("m2").get.active, "cascade must not reactivate")
    // zero-match cascade is a full no-op (no refresh jobs)
    assert(e.forgetRowsCascade("base", col("id") > 100) == (0L, 0L))
    // NON-cascading forget leaves consumers stale — the documented
    // contract (callers choose when re-derivation happens)
    assert(e.forgetRows("base", col("id") === 3L) == 1L)
    assert(e.readStream("m1").count() == 7L, "no cascade => stale consumer")
    e.close()
  }

  test("cascade skips a never-activated (empty) model; no-SQL consumers are untouched") {
    val e = newEngine()
    e.createStream("base2", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("id", "long", nullable = false)))
    e.appendRows("base2", spark.range(5).toDF("id"))
    e.createModel("mEmpty", "SELECT id FROM base2",
      ModelConfig(active = false))
    assert(e.readStream("mEmpty").count() == 0L)
    assert(e.forgetRowsCascade("base2", col("id") === 0L) == (1L, 0L),
      "an inactive+empty model holds nothing derived — skip it")
    assert(e.readStream("mEmpty").count() == 0L)
    e.close()
  }

  test("forget refuses while an active continuous pipeline is on the stream") {
    import graft.streaming.StreamingEngine
    val e = newEngine()
    e.createStream("live", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("id", "long", nullable = false).add("v", "long")))
    e.appendRows("live", spark.range(6).select(col("id"),
      (col("id") * 2).as("v")))
    e.createModel("live_mv", "SELECT id, v FROM live",
      ModelConfig(active = false))
    e.createModel("live_mv2", "SELECT count(1) AS n FROM live_mv")
    val se = new StreamingEngine(e)
    se.activate("live_mv",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 hour"))
    try {
      // the activated query file-source-reads 'live': a rewrite under it
      // would re-emit every surviving row as new input — refuse loudly
      val err = intercept[IllegalStateException] {
        e.forgetRows("live", col("id") === 0L)
      }
      assert(err.getMessage.contains("live_mv"))
      // cascade refusal is checked on the whole affected subgraph BEFORE
      // any mutation: live_mv2's refresh would overwrite a stream whose
      // reader... here live_mv is the active one reading 'live', and
      // live_mv (an affected model) is an active SINK — same refusal
      val err2 = intercept[IllegalStateException] {
        e.forgetRowsCascade("live", col("id") === 0L)
      }
      assert(err2.getMessage.contains("live_mv"))
      assert(e.readStream("live").count() == 6L, "no partial mutation")
    } finally se.deactivateAll()
    // deactivated: catch up deterministically, then the same takedown
    // proceeds, cascade included
    se.refreshAvailable("live_mv")
    assert(e.forgetRowsCascade("live", col("id") === 0L) == (1L, 2L))
    assert(e.readStream("live").count() == 5L)
    assert(e.readStream("live_mv2").select("n").as[Long].head() == 5L)
    e.close()
  }

  test("forget awaits an in-flight staged rebuild, then prunes its commit") {
    import scala.concurrent.{Await, Future, Promise}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = newEngine()
    vecStream(e, "swp")
    e.appendRows("swp", corpus(60))
    val stageEntered = Promise[Unit]()
    val releaseStage = new java.util.concurrent.CountDownLatch(1)
    val idxStore = e.catalog.qualify(e.annIndexName("swp"))
    e.commits.hook = (phase, store) =>
      if (phase == StagedCommit.Staged && store == idxStore) {
        stageEntered.trySuccess(()); releaseStage.await()
      }
    try {
      val build = Future(e.ensureAnnIndex("swp", "vec_id", "embedding"))
      Await.result(stageEntered.future, 120.seconds)
      // builder is paused post-staging; forget must WAIT on its latch
      val forget = Future(e.forgetRows("swp", col("vec_id") % 4 === 0))
      Thread.sleep(300)
      assert(!forget.isCompleted,
        "forget must not race an in-flight staged rebuild")
      releaseStage.countDown()
      assert(Await.result(build, 120.seconds), "the build must commit")
      assert(Await.result(forget, 120.seconds) == 15L)
    } finally { e.commits.hook = (_, _) => (); releaseStage.countDown() }
    // the committed (pre-forget) index was pruned right after
    assert(e.readStream(e.annIndexName("swp"))
      .filter(col("ex_id") % 4 === 0).count() == 0L)
    assert(!e.ensureAnnIndex("swp", "vec_id", "embedding"),
      "index must be live after the await-then-prune sequence")
    e.close()
  }
}
