package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev-only probes over the gate matrix (not part of the engine API).
  *
  * {{{
  * runMain graft.tools.Probe explain <sf> [gate...]   formatted physical plans
  * runMain graft.tools.Probe sql <statement>           eval under both string-literal modes
  * runMain graft.tools.Probe bcast <sf> [gate,...]     Generate-in-broadcast audit
  * runMain graft.tools.Probe gates <sf>[,<sf>...] [gate,...]
  * }}}
  *
  * `gates` is the one measuring loop: it profiles each named gate once
  * per SF directory (job, stage and task totals from one listener, wall
  * seconds from one timer) and prints every figure's ratio to the first
  * directory's. Scale curves run it over [[ScaleData]] K× directories.
  * `SPARK_GRAFT_CPUS` sets the local core count and shuffle partitions
  * (default 4); `SPARK_GRAFT_WARM_DIR` the warm-pass SF directory. */
object Probe {
  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    val sf = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    try args.headOption match {
      case Some("explain") => explain(spark, sf, rest.drop(1).toSet)
      case Some("sql") => sql(spark, rest.mkString(" "))
      case Some("bcast") => bcast(spark, sf, rest.lift(1).map(_.split(",").map(_.trim).toSet))
      case Some("gates") =>
        gates(spark, sf.split(",").toSeq, rest.lift(1).map(_.split(",").toSeq).getOrElse(DefaultGates))
      case other => System.err.println(s"unknown subcommand ${other.getOrElse("")}: " +
        "expected explain | sql | bcast | gates")
    } finally spark.stop()
  }

  /** The dev tools' session: the bench's shape (UTC, graft extensions so
    * the `sql_*` gates resolve their table functions). */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The heavy tail of the bench sweep: the default `gates` set. */
  private val DefaultGates = Seq("dedup_minhash_lsh", "tfidf_cosine_pairs",
    "containment_pairs", "edit_distance_pairs", "embedding_neardup",
    "ann_pq_topk", "knn_graph", "bitext_mine", "incremental_dedup_bloom",
    "triangle_counts")

  /** Totals of every Spark job that started inside one measured action. */
  final case class Profile(wallS: Double, rows: Long, jobs: Long, stages: Long,
                           tasks: Long, runMs: Long, cpuMs: Long,
                           shuffleReadBytes: Long, shuffleWriteBytes: Long,
                           spillBytes: Long, inputBytes: Long, slowestTaskMs: Long) {
    def figures: Seq[(String, Double)] = Seq("s" -> wallS, "rows" -> rows.toDouble,
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "run_ms" -> runMs.toDouble, "cpu_ms" -> cpuMs.toDouble,
      "shuffle_read_b" -> shuffleReadBytes.toDouble,
      "shuffle_write_b" -> shuffleWriteBytes.toDouble,
      "spill_b" -> spillBytes.toDouble, "input_b" -> inputBytes.toDouble,
      "slowest_task_ms" -> slowestTaskMs.toDouble)

    /** `name=value` per figure, each followed by its ratio to `base`'s. */
    def line(base: Option[Profile]): String =
      figures.zipWithIndex.map { case ((k, v), i) =>
        val shown = if (k == "s") f"$v%.2f" else f"$v%.0f"
        val ratio = base.map(_.figures(i)._2).filter(_ > 0)
          .fold("")(b => f"(x${v / b}%.2f)")
        s"$k=$shown$ratio"
      }.mkString(" ")
  }

  /** One listener over the session, attributed by job: the jobs that start
    * while a [[measure]] window is open, their stages that ran, and those
    * stages' task metrics. Close it to remove the listener. */
  final class Profiler(spark: SparkSession) extends SparkListener with AutoCloseable {
    private final class Acc {
      var jobs, stages, tasks, runMs, cpuNs, shRead, shWrite, spill, input, slowest = 0L
    }
    private val sc = spark.sparkContext
    private var window: Option[Acc] = None
    private val stageAcc = mutable.HashMap[Int, Acc]()
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      window.foreach { a => a.jobs += 1; e.stageIds.foreach(stageAcc(_) = a) }
    }
    // skipped stages (their shuffle output reused) never complete
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageAcc.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageAcc.get(e.stageId).foreach { a =>
        a.tasks += 1
        if (e.taskInfo != null) a.slowest = math.max(a.slowest, e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
      }
    }

    /** Run `action` (returning its row count) under the timer and profile
      * every job it starts. The bus is drained on both sides, so no event
      * of an earlier action leaks in and none of this one's is missed. */
    def measure(action: => Long): Profile = {
      org.apache.spark.GraftListenerBus.drain(sc)
      synchronized { window = Some(new Acc) }
      try {
        val t0 = System.nanoTime()
        val rows = action
        val wallS = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftListenerBus.drain(sc)
        val a = synchronized(window.get)
        Profile(wallS, rows, a.jobs, a.stages, a.tasks, a.runMs, a.cpuNs / 1000000L,
          a.shRead, a.shWrite, a.spill, a.input, a.slowest)
      } finally synchronized { window = None; stageAcc.clear() }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Profile each named `SparkEntry.queries` gate once per SF directory.
    * A warm pass at `SPARK_GRAFT_WARM_DIR` pays codegen and JIT first (a
    * gate's plan and generated classes are SF-invariant); operator-pinned
    * caches are cleared around every run, so an index one run builds never
    * subsidizes the next. An unknown name or a failing run is reported and
    * the loop goes on. */
  def gates(spark: SparkSession, dirs: Seq[String], names: Seq[String]): Unit = {
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val warm = new java.io.File(warmDir).isDirectory
    if (!warm) println(s"[gates] WARN: warm dir $warmDir missing — measured runs " +
      "include codegen/JIT cost (set SPARK_GRAFT_WARM_DIR)")
    val profiler = new Profiler(spark)
    def clear(): Unit = graft.operators.OperatorCache.clear(spark)
    try names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"[gates] $name: UNKNOWN gate name, skipped")
        case Some(fn) =>
          if (warm)
            try graft.Bench.runGate(fn(spark, warmDir)) catch { case e: Throwable =>
              println(s"[gates] WARN: warm pass for $name failed " +
                s"(${e.getClass.getSimpleName}) — measured runs include codegen")
            }
          clear()
          var base = Option.empty[Profile]
          dirs.foreach { sf =>
            try {
              val p = profiler.measure(graft.Bench.runGate(fn(spark, sf)))
              println(s"[gates] $name @ $sf: ${p.line(base)}")
              if (base.isEmpty) base = Some(p)
            } catch { case e: Throwable =>
              println(s"[gates] $name @ $sf: ERROR ${e.getClass.getName}: ${e.getMessage}")
            }
            clear()
          }
      }
    } finally profiler.close()
  }

  /** Audit for the explode-blind broadcast class (round 7): Catalyst sizes a
    * Generate by its column-pruned CHILD, so an exploded posting side is
    * estimated at ~child-size no matter its true multiplicity; a
    * BroadcastExchange whose build subtree contains a Generate is therefore
    * mis-estimated by exactly the explode factor — the bug that broadcast a
    * 12.9 GiB LSH probe side at sf1. This walks every gate's STATIC physical
    * plan (AQE off, sf-realistic stats) and reports each such site with the
    * generator expression, for manual triage: bounded query-side explodes
    * (×nprobe, ×k) are fine; corpus-side posting explodes are the
    * regression class.
    *
    * Round-7 triage record (sf0.1, after the hint sweep): 9 flags, all
    * by-design — `ann_{ivf,lsh,pq}_topk` broadcast the pred-filtered QUERY
    * side exploded ×nprobe (bounded multiplier, intended);
    * `exact_quantile`/`hourly_quantiles`/`weighted_quantile` explode a
    * 2-element quantile literal; `skew_salted_join` explodes the salt
    * literal on the dim side; `range_join` explodes the INTERVAL (dim) side
    * ×span/width (small multiplier — broadcasting exploded campaigns
    * against 100 TB of points is the right plan). Everything corpus-sided
    * was pinned: minhash/hamming bands, ngram/containment prefixes + df
    * joins, gram-df, LSH buckets (merge), incremental shard probes
    * (shuffle_hash, shard build), phrase postings (merge), domain-cap
    * kept-ids (shuffle_hash). */
  def bcast(spark: SparkSession, sf: String, only: Option[Set[String]]): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    var flagged = 0
    graft.SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1)))
      .toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          // same walker the Verify-time lint enforces (fail mode with the
          // audited exemptions); the probe reports EVERY site, exempt or
          // not, for triage
          val gs = graft.plans.BroadcastGenerateGuard.offenders(fn(spark, sf))
          if (gs.nonEmpty) {
            flagged += 1
            val ex = if (graft.plans.BroadcastGenerateGuard.exemptGates(name))
              " [exempt]" else ""
            println(s"[bcast] $name$ex: broadcast build contains Generate: " +
              gs.mkString(" | "))
          }
        } catch { case e: Throwable =>
          println(s"[bcast] $name: ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
        }
      }
    println(s"[bcast] flagged sites: $flagged")
  }

  private def sql(spark: SparkSession, stmt: String): Unit =
    Seq("false", "true").foreach { mode =>
      spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
      val out = try spark.sql(stmt).collect().mkString("; ")
      catch { case e: Throwable => s"ERROR: ${e.getMessage.take(200)}" }
      println(s"[sqlprobe] escaped=$mode -> $out")
    }

  private def explain(spark: SparkSession, sf: String, names: Set[String]): Unit =
    graft.Queries.all.filter(q => names.isEmpty || names(q.name)).foreach { q =>
      println(s"\n=================== ${q.name} ===================")
      q.fn(spark, sf).explain("formatted")
    }
}
