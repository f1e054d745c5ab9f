package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.catalog.Catalog

/** Batch ≡ streaming differential executor (SURVEY §2.5 ST1-ST6 proof
  * harness).
  *
  * The reference's pipelines are CONTINUOUS by construction — a dbt model
  * is an always-on Flink `INSERT INTO sink SELECT …` (impl.py:690-692,
  * 458-460) — while the driver's DuckDB oracle can only check the batch
  * semantics of each gate. This harness closes that gap: it re-executes a
  * gate's OWN plan-building code with [[Tables.withStreamingReads]] active,
  * so every `Tables.load` becomes an incremental file-source `readStream`
  * over the same parquet, then runs the resulting Structured Streaming
  * plan to completion with `Trigger.AvailableNow` + `foreachBatch` and
  * hands back the accumulated rows. A gate passes parity when those rows
  * are bit-identical (as an unordered multiset) to the batch result the
  * oracle already certified — the same differential-testing contract, with
  * the micro-batch engine in the DuckDB seat.
  *
  * Execution-mode mapping (mirrors StreamingEngine.queryPlan):
  *   - aggregating plans run in `complete` mode — every trigger re-emits
  *     the full result, so the LAST micro-batch is the answer (the
  *     retract-stream "materialized view" reading, handler.py:79-94);
  *   - non-aggregating plans run in `append` — micro-batches concatenate.
  *
  * Top-level global `Sort`s are stripped before execution: they are
  * presentation-only (every gate orders solely for the driver's
  * deterministic hash), streaming append mode rejects them, and the
  * parity comparison is order-insensitive anyway.
  */
object StreamingParity {

  /** Strip ONLY presentation sorts (gates order solely for the driver's
    * deterministic hash): global Sorts reachable from the root through
    * ordering-preserving Projects — `orderBy.select(...)` analyzes to
    * Project(Sort) and append mode rejects the Sort just the same. A
    * blanket transform would also strip sorts that carry semantics,
    * e.g. the Sort under a top-N Limit — stripping those would silently
    * change which rows the limit keeps, so recursion stops at any
    * non-Project, non-Sort node. */
  private def stripRootSort(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
    case s: Sort if s.global => stripRootSort(s.child)
    case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
      pr.copy(child = stripRootSort(pr.child))
    // a WITH-CTE gate analyzes to WithCTE(mainQuery, defs) — the
    // presentation sort lives at the root of the main query
    case w: org.apache.spark.sql.catalyst.plans.logical.WithCTE =>
      w.copy(plan = stripRootSort(w.plan))
    case other => other
  }

  /** Builds the streaming plan of `fn` and hands it to `body` with a
    * fresh checkpoint directory (named by `ckptPrefix`). With `chunks > 1`
    * the inputs are re-materialized under a `graft-chunks` temp dir. Both
    * directories are deleted once `body` has collected its rows. */
  private def withStreamingPlan[T](fn: (SparkSession, String) => DataFrame,
      spark: SparkSession, dir: String, chunks: Int, ckptPrefix: String)(
      body: (DataFrame, String) => T): T = {
    val ckpt = Files.createTempDirectory(ckptPrefix)
    val chunkDir = if (chunks > 1) Some(Files.createTempDirectory("graft-chunks")) else None
    try {
      val plan = chunkDir match {
        case Some(cd) => Tables.withChunkedStreamingReads(chunks, cd.toString) { fn(spark, dir) }
        case None => Tables.withStreamingReads { fn(spark, dir) }
      }
      require(plan.isStreaming,
        "gate does not read through Tables.load — nothing to stream")
      body(plan, ckpt.toString)
    } finally (ckpt +: chunkDir.toSeq).foreach(Catalog.deleteRecursively)
  }

  /** Run `fn` (a gate body) as a Structured Streaming job; return its
    * output schema and the complete result rows.
    *
    * `chunks > 1` re-materializes every table `fn` loads as that many
    * files and streams them one file per trigger — the gate's aggregation
    * state then folds across `chunks` real micro-batches instead of one
    * (see [[Tables.withChunkedStreamingReads]]); `batchCount` (when
    * non-null) receives the number of micro-batches actually executed so
    * callers can assert the run was genuinely incremental. */
  def run(fn: (SparkSession, String) => DataFrame, spark: SparkSession,
          dir: String, timeoutMs: Long = 180000L, chunks: Int = 1,
          batchCount: java.util.concurrent.atomic.AtomicInteger = null)
      : (StructType, Seq[Row]) =
    withStreamingPlan(fn, spark, dir, chunks, "graft-parity") { (plan, ckpt) =>
      val analyzed = plan.queryExecution.analyzed
      val noSort = stripRootSort(analyzed)
      val ds = org.apache.spark.sql.GraftInternal.ofRows(spark, noSort)
      val aggregating = analyzed.collectFirst { case a: Aggregate => a }.nonEmpty

      val batches = mutable.ArrayBuffer.empty[(Long, Array[Row])]
      val q = QueryRunner.start(ds, ckpt, if (aggregating) "complete" else "append",
          Trigger.AvailableNow(), skipExisting = false) { (b: DataFrame, id: Long) =>
        val rows = b.collect()
        batches.synchronized { batches += ((id, rows)) }
        if (batchCount != null) batchCount.incrementAndGet()
        ()
      }
      QueryRunner.awaitBounded(q, timeoutMs)(
        s"streaming parity run did not finish in ${timeoutMs}ms")

      val rows = batches.synchronized {
        val inOrder = batches.sortBy(_._1)
        if (aggregating) inOrder.lastOption.map(_._2.toSeq).getOrElse(Nil)
        else inOrder.iterator.flatMap(_._2).toSeq
      }
      (ds.schema, rows)
    }

  /** Synthetic PK column for keyless (global) aggregates — one logical row
    * whose value is replaced per trigger. */
  private val GlobalKey = "__graft_global_k"

  /** PRODUCTION-path differential: the same gate plan, executed the way
    * [[StreamingEngine.activate]] runs aggregations at scale — `update`
    * output mode (per-trigger deltas: only the keys whose aggregate
    * changed are emitted, unlike `complete`'s full-state re-emission,
    * which is unusable at 100 TB), each micro-batch foreachBatch-upserted
    * via [[graft.engine.Engine.appendRows]] into a change stream whose
    * primary key is the gate's grouping columns. The final answer is the
    * stream's PK compaction ([[graft.engine.Engine.readStream]]: latest
    * row per key, tombstones applied — the reference's retract folding,
    * handler.py:87-94).
    *
    * `keyCols` empty = global aggregate: a constant synthetic key makes
    * the stream a 1-logical-row change stream (dropped before return).
    *
    * NOT for merging-window shapes (session windows): their keys go stale
    * on merge and would need retractions, which update mode does not
    * emit — Spark rejects the combination and [[StreamingEngine]] routes
    * session windows through append mode instead.
    *
    * @return (schema, compacted rows) of the change stream after the run
    */
  def runUpdateUpsert(fn: (SparkSession, String) => DataFrame,
      spark: SparkSession, dir: String,
      engine: graft.engine.Engine, stream: String, keyCols: Seq[String],
      chunks: Int = 4, timeoutMs: Long = 240000L,
      batchCount: java.util.concurrent.atomic.AtomicInteger = null)
      : (StructType, Seq[Row]) =
    withStreamingPlan(fn, spark, dir, chunks, "graft-upd") { (plan, ckpt) =>
      val analyzed = plan.queryExecution.analyzed
      require(analyzed.collectFirst { case a: Aggregate => a }.nonEmpty,
        "update-mode upsert parity is for aggregating plans")
      val noSort = org.apache.spark.sql.GraftInternal.ofRows(
        spark, stripRootSort(analyzed))
      val keyed =
        if (keyCols.nonEmpty) noSort
        else noSort.withColumn(GlobalKey,
          org.apache.spark.sql.functions.lit(0L))
      val pk = if (keyCols.nonEmpty) keyCols else Seq(GlobalKey)
      engine.createStream(stream,
        graft.schema.StreamSchema.fromStruct(keyed.schema, primaryKey = pk))
      val q = QueryRunner.start(keyed, ckpt, "update", Trigger.AvailableNow(),
          skipExisting = false) { (b: DataFrame, _: Long) =>
        // the engine's writer stamps (epoch, seq) exactly as batch writes
        // do, so the read-side fold needs no streaming-specific case
        engine.appendRows(stream, b)
        if (batchCount != null) batchCount.incrementAndGet()
        ()
      }
      QueryRunner.awaitBounded(q, timeoutMs)(
        s"update-mode parity run did not finish in ${timeoutMs}ms")
      val out = engine.readStream(stream).drop(GlobalKey)
      (out.schema, out.collect().toSeq)
    }
}
