package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Queries, SparkSpec}
import graft.engine.Engine
import graft.schema.StreamSchema

/** Systematic batch ≡ streaming differential proof (round-3 verdict item
  * #1): every gate whose plan Structured Streaming can express is
  * re-executed incrementally via [[StreamingParity]] — the gate's own
  * code, `Tables.load` swapped to `readStream`, `Trigger.AvailableNow`,
  * results accumulated through `foreachBatch` — and must reproduce the
  * DuckDB-certified batch result bit-for-bit (order-insensitive; the
  * stripped top-level sort is presentation-only).
  *
  * This converts ST1-ST6 (SURVEY §2.5) from example-level specs into a
  * sweep: projections/filters/scalar kernels run in append mode,
  * aggregations (incl. tumbling/hopping/session windows — the reference's
  * continuous-pipeline core, impl.py:690-692) in complete mode.
  *
  * Gates deliberately NOT in the sweep, and why (Spark's documented
  * streaming unsupported-operations list, not engine gaps):
  *   - count(DISTINCT) (`distinct_agg`), grouping sets/rollup/cube,
  *     chained/multiple aggregations (`token_entropy`,
  *     `repetition_signals`, vocab/tf-idf, dedup candidate joins, and
  *     `pivot_counts` — RelationalGroupedDataset.pivot lowers to TWO
  *     stacked Aggregates, which the streaming correctness checker
  *     rejects);
  *   - analytic window functions (`window_rank`, `change_stream_compact`'s
  *     row_number — its streaming twin is the engine's PK-compaction
  *     path, covered by the dedicated change-stream test below);
  *   - sort-limit top-k (`topk`, `lateral_topn`) and stream-stream joins
  *     (the TPC-H join gates) — batch-only shapes by design.
  */
class StreamingParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def gate(name: String): Queries.Q =
    Queries.all.find(_.name == name).getOrElse(fail(s"no gate named $name"))

  /** Canonical order-insensitive row rendering: stable, type-faithful
    * strings (Double/Timestamp toString round-trip exactly), so multiset
    * equality is bit-equality and mismatches print readably. */
  private def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "∅"
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case x => x.toString
  }.mkString("|")).sorted

  private def names(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => (f.name, f.dataType.sql))

  private def assertParity(name: String): Unit = {
    val g = gate(name)
    val batch = g.fn(spark, dir)
    val bSchema = batch.schema
    val bRows = batch.collect().toSeq
    val (sSchema, sRows) = StreamingParity.run(g.fn, spark, dir)
    assert(names(sSchema) == names(bSchema), s"$name: schema diverged")
    assert(sRows.size == bRows.size, s"$name: row count diverged")
    assert(canon(sRows) == canon(bRows), s"$name: rows diverged")
  }

  /** Append-mode sweep: stateless projections / filters / scalar kernels
    * (grok, json, PII regexes, winnowing, chunking — each micro-batch
    * maps independently). */
  private val appendGates = Seq(
    "scan_project", "filter_pushdown", "project_cast", "grok_extract",
    "to_timestamp_roundtrip", "backtick_ident", "map_access",
    "json_extract", "datetime_parts", "normalize_text", "pii_redact",
    "fingerprint_md5", "text_quality", "text_quality_ext", "lang_id",
    "token_count_bpe", "chunk_windows", "winnow_fingerprint",
    "embedding_quantize",
    // round-4 late additions: the NFC kernel and the hashing-trick
    // classifier are row-local projections, so they stream as-is
    // (zorder_cluster is NOT here: ZOrder.columnRanges collects the
    // min/max frame — a batch action a streaming source can't serve)
    "unicode_nfc", "quality_classifier",
    // round-5: URL canonicalization and Luhn card redaction are
    // row-local expression chains
    "url_normalize", "pii_luhn", "lang_mixture")

  /** Complete-mode sweep: single-aggregation plans, incl. all three ST5
    * window shapes (tumbling/hopping/session) and the reference's own
    * flagship `events_count` model. */
  private val aggGates = Seq(
    "events_count", "agg_sum_q1", "subquery_coalesce", "neq_dialect",
    "window_tumbling", "window_hopping", "session_windows",
    "tpch_q1", "tpch_q6",
    // round-5: URL-level dedup is groupBy(url_norm) — single aggregation
    "url_dedup")

  (appendGates ++ aggGates).foreach { n =>
    test(s"batch == streaming: $n") { assertParity(n) }
  }

  test("batch == streaming: blocklist hits (fused Aho-Corasick projection)") {
    // round-6 cont.: the multi_match kernel is row-local, so term-list
    // filtering streams in append mode exactly as it runs in batch
    val fn = (s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.operators.TextAnalysis.blocklistHits(
        graft.Tables.load(s, d, "documents"), "doc_id", "text",
        Seq("table", "scan slow", "zzz_absent"))
    val batch = fn(spark, dir)
    val (sSchema, sRows) = StreamingParity.run(fn, spark, dir)
    assert(names(sSchema) == names(batch.schema))
    assert(canon(sRows) == canon(batch.collect().toSeq))
  }

  test("non-root presentation sort (orderBy then select) is stripped too") {
    // orderBy.select analyzes to Project(Sort(global)) — the Sort is not
    // the plan root, but it is still presentation-only and append mode
    // rejects it; the harness must strip through the Project
    val fn = (s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.Tables.load(s, d, "events")
        .orderBy("event_id").select("event_id", "event_type")
    val batch = fn(spark, dir)
    val (sSchema, sRows) = StreamingParity.run(fn, spark, dir)
    assert(names(sSchema) == names(batch.schema))
    assert(canon(sRows) == canon(batch.collect().toSeq))
  }

  /** Multi-batch state folding: the single-file sources above process in
    * ONE micro-batch, so they prove plan parity but not cross-batch
    * state. Here the events table is re-materialized as 4 round-robin
    * chunks streamed one file per trigger — every window receives rows
    * in ≥2 different micro-batches (round-robin is the adversarial
    * arrival order) and the complete-mode aggregation state must fold
    * them to the exact batch result. */
  Seq("events_count", "window_tumbling", "window_hopping",
    "session_windows", "agg_sum_q1").foreach { n =>
    test(s"batch == streaming across 4 micro-batches: $n") {
      val g = gate(n)
      val batch = g.fn(spark, dir)
      val bRows = batch.collect().toSeq
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val (sSchema, sRows) =
        StreamingParity.run(g.fn, spark, dir, chunks = 4, batchCount = nBatches)
      assert(names(sSchema) == names(batch.schema), s"$n: schema diverged")
      assert(nBatches.get >= 4,
        s"$n: expected >=4 micro-batches, got ${nBatches.get} — not incremental")
      assert(canon(sRows) == canon(bRows), s"$n: rows diverged")
    }
  }

  /** PRODUCTION sink-mode sweep (round-4 verdict item #2): the complete-
    * mode runs above prove plan parity but re-emit full state per trigger,
    * which no 100 TB deployment can afford. Here the same aggregating
    * gates run the way [[StreamingEngine.activate]] actually ships them:
    * `update` output mode (per-trigger deltas — only changed keys),
    * foreachBatch upserting each micro-batch into an Engine change stream
    * keyed by the gate's grouping columns, answer = the stream's PK
    * compaction (latest row per key — the reference's retract folding,
    * handler.py:87-94). Four round-robin chunks force every key to be
    * re-emitted and re-upserted across ≥2 micro-batches, so the fold
    * across (epoch, seq) is genuinely exercised.
    *
    * `session_windows` is deliberately absent: merging windows invalidate
    * old keys, which needs retractions update mode cannot emit — Spark
    * rejects the combination (see the dedicated test below) and the
    * engine routes session windows through append mode. */
  private val updateGateKeys: Seq[(String, Seq[String])] = Seq(
    "events_count" -> Seq("event_type"),
    "agg_sum_q1" -> Seq("l_returnflag", "l_linestatus"),
    "subquery_coalesce" -> Seq("o_orderstatus", "prio"),
    "neq_dialect" -> Seq("l_returnflag"),
    "window_tumbling" -> Seq("hour_start", "event_type"),
    "window_hopping" -> Seq("win_start", "event_type"),
    "tpch_q1" -> Seq("l_returnflag", "l_linestatus"),
    "tpch_q6" -> Nil) // global aggregate → synthetic constant key

  updateGateKeys.foreach { case (n, keys) =>
    test(s"batch == streaming via update-mode upsert (production sink): $n") {
      val g = gate(n)
      val batch = g.fn(spark, dir)
      val bRows = batch.collect().toSeq
      val engine = new Engine(spark, tmpDir(s"graft-upd-$n"))
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val (sSchema, sRows) = StreamingParity.runUpdateUpsert(
        g.fn, spark, dir, engine, "sink", keys, chunks = 4,
        batchCount = nBatches)
      assert(names(sSchema) == names(batch.schema), s"$n: schema diverged")
      assert(nBatches.get >= 4,
        s"$n: expected >=4 micro-batches, got ${nBatches.get} — not incremental")
      assert(canon(sRows) == canon(bRows), s"$n: rows diverged")
    }
  }

  test("parity runs delete their checkpoint and chunk directories") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def leftovers(): Int = scala.util.Using.resource(java.nio.file.Files.list(tmp)) {
      _.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Seq("graft-parity", "graft-upd", "graft-chunks").exists(n.startsWith)
      }
    }
    val before = leftovers()
    val g = gate("events_count")
    StreamingParity.run(g.fn, spark, dir, chunks = 4)
    StreamingParity.runUpdateUpsert(g.fn, spark, dir,
      new Engine(spark, tmpDir("parity-leak-engine")), "sink", Seq("event_type"))
    assert(leftovers() == before)
  }

  test("session windows reject update mode (merging keys need retractions)") {
    // pins WHY session_windows is not in the update sweep: Spark's
    // unsupported-operations checker refuses session-window aggregation
    // in update mode — stale merged keys would need retractions. The
    // engine's production stance (StreamingEngine.startQuery) is append
    // mode with a watermark, emitting each session once finalized.
    val g = gate("session_windows")
    val engine = new Engine(spark, tmpDir("graft-upd-sw"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      StreamingParity.runUpdateUpsert(g.fn, spark, dir, engine, "sink",
        Seq("user_id", "session_start"))
    }
    assert(e.getMessage.toLowerCase.contains("session window"),
      s"unexpected analysis error: ${e.getMessage}")
  }

  /** Change-stream semantics (ST2/A6): PK compaction + tombstones must
    * not care whether rows arrived in one batch write or as streamed
    * micro-batches — the same `change_stream_compact`/`tombstone_delete`
    * fold (handler.py:87-94 retract semantics), driven here by a real
    * Structured Streaming query routing each micro-batch through
    * appendRows/deleteKeys. */
  test("batch == streaming: change-stream PK ingest (compaction + tombstones)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val root = tmpDir("graft-parity-cs")
    val eBatch = new Engine(spark, s"$root/batch")
    val eStream = new Engine(spark, s"$root/stream")
    val schema = StreamSchema.fromStruct(
      new StructType().add("k", "long", nullable = false).add("v", "string"),
      primaryKey = Seq("k"))
    eBatch.createStream("s", schema)
    eStream.createStream("s", schema)

    // (key, value, isDelete) scripted in four arrival waves: inserts,
    // update+insert, delete+update, re-insert of the deleted key
    val waves: Seq[Seq[(Long, String, Boolean)]] = Seq(
      (1L to 10L).map(i => (i, s"v$i", false)),
      Seq((3L, "v3b", false), (11L, "v11", false)),
      Seq((5L, "", true), (3L, "v3c", false)),
      Seq((5L, "v5-re", false)))

    def apply(e: Engine, b: DataFrame): Unit = {
      val ups = b.filter(!col("del")).select("k", "v")
      val dels = b.filter(col("del")).select("k")
      if (!ups.isEmpty) e.appendRows("s", ups)
      if (!dels.isEmpty) e.deleteKeys("s", dels)
    }

    // batch twin: the waves applied as plain sequential writes
    waves.foreach(w => apply(eBatch, w.toDF("k", "v", "del")))

    // streaming twin: the same waves as MemoryStream micro-batches
    val input = MemoryStream[(Long, String, Boolean)]
    val q = input.toDF().toDF("k", "v", "del").writeStream
      .outputMode("append")
      .foreachBatch((b: DataFrame, _: Long) => apply(eStream, b))
      .start()
    try {
      waves.foreach { w => input.addData(w: _*); q.processAllAvailable() }
    } finally q.stop()

    val expected = Seq( // hand-folded: latest per key, deletes applied
      (1L, "v1"), (2L, "v2"), (3L, "v3c"), (4L, "v4"), (5L, "v5-re"),
      (6L, "v6"), (7L, "v7"), (8L, "v8"), (9L, "v9"), (10L, "v10"),
      (11L, "v11"))
    val got = (e: Engine) => e.readStream("s").as[(Long, String)]
      .collect().toSeq.sorted
    assert(got(eBatch) == expected)
    assert(got(eStream) == expected)
  }
}
