package graft.streaming

import graft.SparkSpec
import graft.engine.{Engine, ModelConfig}
import graft.schema._
import graft.types.FlinkType._

/** Streaming execution semantics (SURVEY §2.5): activation, incremental
  * catch-up, change-stream folding parity with batch, watermark wiring.
  */
class StreamingEngineSpec extends SparkSpec {

  private def newEngine(): Engine = new Engine(spark, tmpDir("graft-streaming"))

  test("availableNow catch-up: incremental micro-batches fold to batch-identical state (ST2/ST4)") {
    import spark.implicits._
    val e = newEngine()
    val se = new StreamingEngine(e)

    e.createStream("src", StreamSchema(Seq(
      PhysicalField("k", FString), PhysicalField("v", FBigInt))))
    e.appendRows("src", Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v"))

    // change-stream aggregate model, declared inactive so only the
    // streaming path populates it
    e.createModel("agg",
      "SELECT k, count(*) AS n, sum(v) AS total FROM src GROUP BY k",
      ModelConfig(primaryKey = Seq("k"), active = false))

    se.refreshAvailable("agg")
    val first = e.preview("SELECT k, n, total FROM agg ORDER BY k")
    assert(first.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("a", 2L, 3L), ("b", 1L, 3L)))

    // late arrivals: the next availableNow run resumes from the checkpoint
    // (ST6 start-position resume) and state continues, not restarts
    e.appendRows("src", Seq(("a", 10L), ("c", 5L)).toDF("k", "v"))
    se.refreshAvailable("agg")
    val second = e.preview("SELECT k, n, total FROM agg ORDER BY k")
    assert(second.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("a", 3L, 13L), ("b", 1L, 3L), ("c", 1L, 5L)))

    // parity: identical SQL materialized in batch gives the same state
    e.createModel("agg_batch",
      "SELECT k, count(*) AS n, sum(v) AS total FROM src GROUP BY k")
    val batch = e.preview("SELECT k, n, total FROM agg_batch ORDER BY k")
    assert(batch.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      second.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
  }

  test("append-mode projection pipeline streams rows through (ST3)") {
    import spark.implicits._
    val e = newEngine()
    val se = new StreamingEngine(e)
    e.createStream("events_src", StreamSchema(Seq(
      PhysicalField("id", FBigInt), PhysicalField("payload", FString))))
    e.appendRows("events_src",
      Seq((1L, "x"), (2L, "y")).toDF("id", "payload"))
    e.createModel("upper_payload",
      "SELECT id, upper(payload) AS payload_u FROM events_src",
      ModelConfig(active = false))
    se.refreshAvailable("upper_payload")
    val rows = e.preview("SELECT id, payload_u FROM upper_payload ORDER BY id")
    assert(rows.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((1L, "X"), (2L, "Y")))
  }

  test("watermark declaration wires into the streaming plan (ST1)") {
    val e = newEngine()
    val se = new StreamingEngine(e)
    e.createStream("timed", StreamSchema(
      fields = Seq(
        PhysicalField("ts", FTimestampLtz(3)),
        PhysicalField("v", FBigInt)),
      watermarks = Seq(Watermark("ts", "`ts` - INTERVAL '0.100' SECOND"))))
    val plan = se.readStreamContinuous("timed")
    assert(plan.isStreaming)
    assert(plan.queryExecution.logical.toString.contains("EventTimeWatermark"),
      s"expected watermark node in:\n${plan.queryExecution.logical}")
  }

  test("the reference's flagship grok model runs as a live continuous pipeline") {
    import spark.implicits._
    val e = newEngine()
    val se = new StreamingEngine(e)
    e.createStream("envoy_raw", StreamSchema(Seq(PhysicalField("value", FString))))
    def line(ts: String, path: String, sent: Int) =
      s"""[$ts] "GET $path HTTP/1.1" 200 - 10 $sent 5 4 "1.2.3.4" "curl" "r" "auth" "uh""""
    e.appendRows("envoy_raw", Seq(line("2023-01-02T03:04:05Z", "/a", 100)).toDF("value"))

    // the http_events projection (grok parse + casts), declared inactive,
    // then activated as a continuous query with its watermark
    e.createModel("http_events_live",
      """SELECT
        |  TO_TIMESTAMP(CAST(envoy['timestamp'] AS STRING), 'yyyy-MM-dd''T''HH:mm:ss''Z''') AS `timestamp`,
        |  CAST(envoy['method'] AS STRING) AS `method`,
        |  CAST(envoy['original_path'] AS STRING) AS original_path,
        |  CAST(envoy['bytes_sent'] AS INT) AS bytes_sent
        |FROM (SELECT grok(`value`,
        |  '\[%{TIMESTAMP_ISO8601:timestamp}\] "%{DATA:method} %{DATA:original_path} %{DATA:protocol}" %{DATA:response_code} %{DATA:response_flags} %{NUMBER:bytes_rcvd} %{NUMBER:bytes_sent} %{NUMBER:duration} %{DATA:upstream_svc_time} "%{DATA:x_forwarded_for}" "%{DATA:useragent}" "%{DATA:request_id}" "%{DATA:authority}" "%{DATA:upstream_host}"') AS envoy
        |  FROM envoy_raw)""".stripMargin,
      ModelConfig(active = false,
        watermarks = Seq(Watermark("timestamp", "`timestamp` - INTERVAL '0.001' SECOND"))))

    val q = se.activate("http_events_live")
    try {
      q.processAllAvailable()
      assert(e.preview("SELECT method, original_path, bytes_sent FROM http_events_live")
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))) == Seq(("GET", "/a", 100)))
      // new lines flow through the RUNNING pipeline (ST3 continuity)
      e.appendRows("envoy_raw",
        Seq(line("2023-01-02T03:04:06Z", "/b", 200)).toDF("value"))
      q.processAllAvailable()
      val paths = e.preview("SELECT original_path FROM http_events_live ORDER BY original_path")
        .map(_.getString(0))
      assert(paths == Seq("/a", "/b"))
    } finally se.deactivate("http_events_live")
  }

  test("initial_start_positions=latest: first activation skips pre-existing rows (S5/ST6, client.py:381-387)") {
    import spark.implicits._
    val e = newEngine()
    val se = new StreamingEngine(e)
    e.createStream("feed", StreamSchema(Seq(
      PhysicalField("id", FBigInt), PhysicalField("v", FString))))
    e.appendRows("feed", Seq((1L, "old"), (2L, "old")).toDF("id", "v"))
    e.createModel("tail_model", "SELECT id, upper(v) AS v_u FROM feed",
      ModelConfig(active = false,
        properties = Map("start_position.feed" -> "latest")))
    val q = se.activate("tail_model")
    try {
      q.processAllAvailable()
      assert(e.preview("SELECT * FROM tail_model").isEmpty,
        "latest activation must not reprocess pre-existing rows")
      e.appendRows("feed", Seq((3L, "new")).toDF("id", "v"))
      q.processAllAvailable()
      val rows = e.preview("SELECT id, v_u FROM tail_model")
      assert(rows.map(r => (r.getLong(0), r.getString(1))) == Seq((3L, "NEW")))
    } finally se.deactivate("tail_model")
  }

  test("activate/deactivate lifecycle tracks state (ST3)") {
    import spark.implicits._
    val e = newEngine()
    val se = new StreamingEngine(e)
    e.createStream("s", StreamSchema(Seq(PhysicalField("x", FBigInt))))
    e.appendRows("s", Seq(Tuple1(1L)).toDF("x"))
    e.createModel("m", "SELECT x * 2 AS y FROM s", ModelConfig(active = false))
    val q = se.activate("m")
    assert(se.isActive("m"))
    assert(se.activePipelines == Seq("m"))
    q.processAllAvailable()
    se.deactivate("m")
    assert(!se.isActive("m"))
    assert(!e.catalog.get("m").get.active)
    assert(e.preview("SELECT y FROM m").head.getLong(0) == 2L)
  }

  test("a TVF-shaped model activates as a micro-batch re-materialization loop (round 11)") {
    // VERDICT r10 item 5, upgraded from the fail-loud pin: activation
    // of a model whose SQL is a graft table function runs a source-tick
    // streaming query whose every micro-batch re-runs the BATCH
    // pipeline (full refresh — contents replaced, never appended), so
    // the model tracks source ingest at trigger cadence.
    import spark.implicits._
    val e = newEngine()
    val se = new StreamingEngine(e)
    e.createStream("tvf_src", StreamSchema(Seq(
      PhysicalField("doc_id", FBigInt), PhysicalField("text", FString))))
    e.appendRows("tvf_src",
      Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "p q r s t"))
        .toDF("doc_id", "text"))
    e.createModel("tvf_model",
      "SELECT id_a, id_b FROM minhash_pairs('tvf_src', 'doc_id', 'text', 0.5)",
      ModelConfig(active = false))
    assert(e.preview("SELECT * FROM tvf_model").isEmpty,
      "inactive model starts empty")

    se.refreshAvailable("tvf_model")
    val first = e.preview("SELECT id_a, id_b FROM tvf_model ORDER BY id_a, id_b")
    assert(first.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)),
      s"first refresh must find the one duplicate pair, got $first")

    // new source data → the next trigger re-materializes: pair set is
    // RECOMPUTED (doc 4 duplicates 1 and 2), not appended to
    e.appendRows("tvf_src", Seq((4L, "a b c d e")).toDF("doc_id", "text"))
    se.refreshAvailable("tvf_model")
    val second = e.preview("SELECT id_a, id_b FROM tvf_model ORDER BY id_a, id_b")
    assert(second.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 2L), (1L, 4L), (2L, 4L)),
      s"re-materialized pair set must be the full recomputation, got $second")
    assert(!se.isActive("tvf_model"))

    // the continuous plan builder itself still refuses TVF SQL — there
    // is no native streaming form; activation is the supported path
    val err = intercept[UnsupportedOperationException] {
      se.continuousPlan("tvf_model")
    }
    assert(err.getMessage.contains("minhash_pairs") &&
      err.getMessage.contains("activate"), err.getMessage)
  }

  test("a bounded refresh leaves the pipeline's stored active flag, so a no-change rebuild keeps its rows") {
    import spark.implicits._
    val e = newEngine()
    val se = new StreamingEngine(e)
    e.createStream("flag_src", StreamSchema(Seq(PhysicalField("x", FBigInt))))
    e.appendRows("flag_src", Seq(1L, 2L).toDF("x"))
    val sql = "SELECT x * 2 AS y FROM flag_src"
    val cfg = ModelConfig(active = false)
    e.createModel("flag_m", sql, cfg)
    se.refreshAvailable("flag_m")
    assert(!e.catalog.get("flag_m").get.active)
    assert(!e.hasChanged("flag_m", sql, cfg))
    assert(e.createModel("flag_m", sql, cfg) == graft.engine.Unchanged)
    assert(e.readStream("flag_m").count() == 2L)

    // the same through a project: an inactive model caught up by a
    // bounded refresh survives a no-change `run`
    val proj = tmpDir("graft-flag-proj")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$proj/flag_pm.sql"),
      "{{ config(pipeline={'execution': {'active': false}}) }}\n" +
        "SELECT x + 1 AS z FROM flag_src")
    val runner = new graft.engine.ProjectRunner(e)
    assert(runner.run(proj)("flag_pm") == graft.engine.Created)
    se.refreshAvailable("flag_pm")
    assert(e.readStream("flag_pm").count() == 2L)
    assert(runner.run(proj)("flag_pm") == graft.engine.Unchanged)
    assert(!e.catalog.get("flag_pm").get.active)
    assert(e.readStream("flag_pm").count() == 2L)
  }

  test("a namespaced model naming its source by the short name streams across refreshes") {
    import spark.implicits._
    val e = new Engine(spark, tmpDir("graft-streaming-ns"), namespace = Some("ns"))
    val se = new StreamingEngine(e)
    e.createStream("src", StreamSchema(Seq(
      PhysicalField("k", FString), PhysicalField("v", FBigInt))))
    e.appendRows("src", Seq(("a", 1L)).toDF("k", "v"))
    e.createModel("m", "SELECT k, v FROM src", ModelConfig(active = false))
    se.refreshAvailable("m")
    e.appendRows("src", Seq(("b", 2L)).toDF("k", "v"))
    se.refreshAvailable("m")
    val rows = e.preview("SELECT k, v FROM m ORDER BY k")
    assert(rows.map(r => (r.getString(0), r.getLong(1))) == Seq(("a", 1L), ("b", 2L)))
  }
}
