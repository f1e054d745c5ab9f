package graft.tools

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The dev tools' one profiler: every measured action gets exactly the
  * jobs and tasks it started (the listener bus is drained, never slept
  * on), and `gates` prints one profile line per gate and SF directory. */
class ProbeSpec extends SparkSpec {

  test("back-to-back measured actions each get their own jobs, tasks and shuffle") {
    val p = new Probe.Profiler(spark)
    try {
      // 4 partitions, no exchange: one job, one task per partition
      def narrow(): Long =
        spark.range(0, 4000, 1, 4).filter(col("id") % 7 === 0).collect().length.toLong
      def wide(): Long =
        spark.range(0, 4000, 1, 4).groupBy(col("id") % 10).count().collect().length.toLong
      val a = p.measure(narrow())
      val b = p.measure(wide())
      val a2 = p.measure(narrow())
      assert(a.rows == 572L && b.rows == 10L)
      assert(a.jobs == 1L && a.stages == 1L && a.tasks == 4L, a)
      assert(a.shuffleWriteBytes == 0L && a.shuffleReadBytes == 0L, a)
      assert(b.jobs >= 1L && b.stages >= 2L && b.tasks > 4L, b)
      assert(b.shuffleWriteBytes > 0L && b.shuffleReadBytes > 0L, b)
      // the wide action's jobs neither leaked into nor out of its window
      assert((a2.jobs, a2.stages, a2.tasks, a2.shuffleWriteBytes) ==
        (a.jobs, a.stages, a.tasks, a.shuffleWriteBytes))
      assert(a.runMs >= 0L && a.slowestTaskMs >= 0L && a.wallS > 0.0)
    } finally p.close()
  }

  test("gates profiles a real gate and reports an unknown name without stopping") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Probe.gates(spark, Seq("/root/testdata/sf0.001"), Seq("no_such_gate", "scan_project"))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.exists(_.startsWith("[gates] no_such_gate: UNKNOWN gate name")), lines)
    val profiles = lines.filter(_.startsWith("[gates] scan_project @ /root/testdata/sf0.001: "))
    assert(profiles.size == 1, lines)
    val figures = profiles.head.split(": ", 2)(1).split(" ")
      .map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    assert(figures.keySet == Set("s", "rows", "jobs", "stages", "tasks", "run_ms",
      "cpu_ms", "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b",
      "slowest_task_ms"), profiles.head)
    assert(figures("rows").toLong > 0L && figures("jobs").toLong >= 1L &&
      figures("tasks").toLong >= 1L && figures("input_b").toLong > 0L, profiles.head)
  }

  test("a gate run executes the written plan: triangle_counts reads the jobs and tasks of a parquet write") {
    val p = new Probe.Profiler(spark)
    val gate = graft.SparkEntry.queries("triangle_counts")
    val sf = "/root/testdata/sf0.01"
    val out = tmpDir("graft-probe-write")
    // cold operator caches around every run, as `gates` and perfbench's
    // layer pass run a gate
    def cold(action: => Long): Probe.Profile = {
      graft.operators.OperatorCache.clear(spark)
      try p.measure(action) finally graft.operators.OperatorCache.clear(spark)
    }
    try {
      val gateRun = cold(graft.Bench.runGate(gate(spark, sf)))
      val written = cold { gate(spark, sf).write.mode("overwrite").parquet(out); 0L }
      val counted = cold(gate(spark, sf).count())
      assert(gateRun.rows == counted.rows && gateRun.rows > 0L, (gateRun, counted))
      assert((gateRun.jobs, gateRun.tasks) == (written.jobs, written.tasks), (gateRun, written))
      // what `count()` timed instead: a pruned plan with fewer jobs
      assert(counted.jobs < written.jobs, (counted, written))
    } finally p.close()
  }
}
