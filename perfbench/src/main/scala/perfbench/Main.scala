package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark process: one workload.
  *
  * {{{
  * perfbench.Main --workload W --seed N --iters K --deadline-ms T --trace 0|1
  *                --cores C --partitions P --data DIR --small-data DIR
  *                --work DIR --out FILE
  * }}}
  *
  * Protocol at `local[C]`: three timed set-ups on fresh engine roots (the
  * last one is kept), one untimed warm-up iteration, then K closed-loop
  * iterations. K is fixed by the caller, so every run of a workload
  * measures the same work (the same shard indices and store sizes) however
  * fast the program is. With `--trace 1` the K iterations alternate
  * untraced (the overhead baseline) and traced, the listeners registered
  * only for the traced ones. Then come two layer passes (the calls into
  * layers the iterations do not reach), the first untimed to bootstrap
  * and warm, the second traced; the listener totals stop before them, so
  * they stay per iteration. After that the session restarts at
  * `local[1]` for the single-core reference: one set-up and one traced
  * iteration (the JIT is warm by then). No iteration starts once it would
  * end past epoch millisecond T: a run that slow reports what it
  * measured. Correctness checks run after each timed region. The raw
  * records (series, spans, job intervals, listener totals, gauges,
  * tallies) go to FILE; `run.py` turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val trace = a("trace") == "1"
    val main = measure(a, a("cores").toInt, trace, reference = false)
    val ref = if (!trace) None
      else if (Clock.nowMs > a("deadline-ms").toDouble) {
        Log("deadline passed: no local[1] reference")
        None
      } else Some(measure(a, 1, trace = true, reference = true))
    Json.write(a("out"), Map("main" -> main) ++ ref.map("ref1" -> _))
  }

  private def session(a: Map[String, String], cores: Int): SparkSession = {
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a("workload")}")
      .config("spark.sql.shuffle.partitions", a("partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One session's run; returns its raw record. */
  private def measure(a: Map[String, String], cores: Int, trace: Boolean,
                      reference: Boolean): Map[String, Any] = {
    val name = a("workload")
    val rec = new Recorder
    val t0 = Clock.nowMs
    val spark = session(a, cores)
    val sessionMs = Clock.nowMs - t0
    Log(f"session ${spark.sparkContext.master} (parallelism " +
      f"${spark.sparkContext.defaultParallelism}) $sessionMs%.1f ms")
    val ctx = new Ctx(spark, a("data"), a("small-data"), a("seed").toLong, rec)
    val trackers = new Trackers(spark)
    val iters = mutable.LinkedHashMap[String, Int]()
    val tag = if (reference) "ref1" else "main"
    var root = ""
    var listeners = Map.empty[String, Any]
    try root = run(ctx, s"${a("work")}/$tag", name, a("iters").toInt,
      a("deadline-ms").toDouble, trace, reference, trackers, iters,
      () => listeners = trackers.totals)
    finally spark.stop()
    Map(
      "cores" -> cores,
      "root" -> root,
      "session_ms" -> sessionMs,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq,
      "iters" -> iters.toMap,
      "series" -> rec.series.map { case (k, v) => k -> v.toSeq }.toMap,
      "gauges" -> rec.gauges.toMap,
      "spans" -> rec.spans.toSeq.map(s => Seq(s.name, s.startMs, s.endMs)),
      "jobs" -> trackers.jobs.values.toSeq.map(j =>
        Seq(j.startMs, j.endMs, j.tasks, j.runMs, j.shuffleBytes)),
      "listeners" -> (if (listeners.isEmpty) trackers.totals else listeners))
  }

  private def run(ctx: Ctx, work: String, name: String, count: Int, deadlineMs: Double,
                  trace: Boolean, reference: Boolean, trackers: Trackers,
                  iters: mutable.Map[String, Int], iterationsDone: () => Unit): String = {
    val rec = ctx.rec
    def series(s: String) = rec.series.getOrElseUpdate(s, mutable.ArrayBuffer())
    rec.sampling = false
    var w: Workload = null
    for (k <- 0 until (if (reference) 1 else 3)) {
      if (w != null) w.close()
      val t0 = Clock.nowMs
      w = Workload.make(name, ctx, s"$work/root$k")
      w.setup()
      val dt = Clock.nowMs - t0
      series("setup_ms") += dt
      Log(f"setup $k $dt%.1f ms")
    }
    var next = 0
    var last = 0.0
    def iterate(s: String): Unit = {
      val t0 = Clock.nowMs
      w.iterate(next)
      next += 1
      last = Clock.nowMs - t0
      val dt = last - w.takeExcludedMs()
      series(s) += dt
      Log(f"$s ${next - 1} $dt%.1f ms")
      if (rec.tracing) w.catalogProbe()
    }
    def traced(on: Boolean): Unit =
      if (on != rec.tracing) {
        if (on) trackers.register() else trackers.unregister()
        rec.tracing = on
      }
    try {
      if (reference) {
        rec.sampling = true
        traced(true)
        iterate("iter_ms")
        iters("traced") = 1
      } else {
        // warm-up: code generation and JIT, untimed
        iterate("warm_ms")
        rec.series.remove("warm_ms")
        w.takeExcludedMs()
        rec.sampling = true
        // traced and untraced iterations alternate, so JIT drift over the
        // run cancels out of the tracing-overhead comparison
        var k = 0
        while (k < count && Clock.nowMs + last <= deadlineMs) {
          val on = trace && k % 2 == 1
          traced(on)
          val kind = if (!trace) "measured" else if (on) "traced" else "untraced"
          iters(kind) = iters.getOrElse(kind, 0) + 1
          iterate(if (trace && !on) "untraced_iter_ms" else "iter_ms")
          k += 1
        }
        if (k < count) Log(s"deadline: measured $k of $count iterations")
        if (trace) {
          traced(false)
          iterationsDone()
          for (pass <- 0 until 2 if Clock.nowMs < deadlineMs) {
            traced(pass == 1)
            rec.sampling = pass == 1
            w.layerPass(pass)
            iters("layer_passes") = pass + 1
          }
        }
      }
    } catch {
      case e: Throwable =>
        // already tallied as a failed operation; the checks still run
        Log(s"iteration failed: $e")
        e.printStackTrace()
    } finally {
      traced(false)
      rec.sampling = false
    }
    rec.gauge("spark.cached_rdds_end", ctx.spark.sparkContext.getPersistentRDDs.size)
    Log("checks")
    if (!reference) rec.check(s"$name correctness checks completed") { w.checks(); true }
    rec.check(s"$name end-of-run gauges read") { w.endGauges(); true }
    w.close()
    Log("done")
    w.root
  }
}
