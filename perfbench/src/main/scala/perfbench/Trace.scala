package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution.
  * Spark stamps job start/end with `System.currentTimeMillis`, so spans
  * live on the same epoch scale: anchored once, advanced by `nanoTime`. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Progress lines on stderr, stamped with seconds since process start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs: $msg")
}

final case class SpanRec(name: String, startMs: Double, endMs: Double)

/** Everything one benchmark process measures: spans around calls into the
  * program's layers (kept only while tracing), named latency series,
  * gauges, and the attempted/failed operation tally behind `error_rate`.
  * The driver loop is single-threaded, so spans never overlap. */
final class Recorder {
  @volatile var tracing = false
  /** Off during set-up and warm-up, so only measured iterations sample. */
  @volatile var sampling = true
  val spans = ArrayBuffer[SpanRec]()
  val series = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val gauges = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()

  def sample(name: String, v: Double): Unit =
    if (sampling) series.getOrElseUpdate(name, ArrayBuffer()) += v

  def gauge(name: String, v: Double): Unit = gauges(name) = v

  /** Count one operation; a throw counts it failed and propagates. */
  def attempt[T](what: String)(body: => T): T = {
    attempted += 1
    try body
    catch { case e: Throwable => failed += 1; failures += s"$what: $e"; throw e }
  }

  /** A span around one call into a layer's public API (tracing only). */
  def span[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try attempt(name)(body)
    finally {
      val t1 = Clock.nowMs
      if (tracing) spans += SpanRec(name, t0, t1)
      Log(f"span $name ${t1 - t0}%.1f ms")
    }
  }

  /** A correctness check, run outside the timed region. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      failures += s"$what: $e"; false }
    if (!pass) { failed += 1; failures += s"check failed: $what" }
  }
}

/** Per-job task totals, attributed later to the span open at job start. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long,
                        var tasks: Long = 0, var runMs: Long = 0,
                        var shuffleBytes: Long = 0)

/** The three public listener families, registered only in a traced run. */
final class Trackers(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  var sqlQueries = 0L
  var analysisMs = 0.0
  var planningMs = 0.0
  var batches = 0L
  var triggerMs = 0.0
  var queryPlanningMs = 0.0
  var walCommitMs = 0.0
  var stateRows = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trackers.this.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trackers.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trackers.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trackers.this.synchronized {
      sqlQueries += 1
      val ph = qe.tracker.phases
      analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      planningMs += Seq("optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trackers.this.synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        batches += 1
        triggerMs += d("triggerExecution")
        queryPlanningMs += d("queryPlanning")
        walCommitMs += d("walCommit") + d("commitOffsets")
        stateRows = math.max(stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  /** The SQL and streaming listener totals (read after a drain). */
  def totals: Map[String, Any] = synchronized(Map(
    "sql.queries" -> sqlQueries,
    "sql.analysis_ms" -> analysisMs,
    "sql.planning_ms" -> planningMs,
    "streaming.batches" -> batches,
    "streaming.trigger_ms" -> triggerMs,
    "streaming.query_planning_ms" -> queryPlanningMs,
    "streaming.wal_commit_ms" -> walCommitMs,
    "streaming.state_rows" -> stateRows))

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** The process's result records, written with the engine's JSON library. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, value: Any): Unit = mapper.writeValue(new java.io.File(path), value)
}
