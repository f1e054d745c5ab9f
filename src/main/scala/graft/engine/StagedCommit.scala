package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, ExecutionException, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.catalog.{CommitEntry, StreamDef}

object StagedCommit {
  /** [[StagedCommit.hook]] phases. */
  val Stage = "stage"
  val Staged = "staged"
  val Commit = "commit"

  /** Concurrent stage writes per commit. */
  private val MaxStagers = 4
}

/** The one store-rewrite protocol — OPTIMIZE, VACUUM, index compaction,
  * forget and the ANN rebuild all swap stores through it, all-or-nothing
  * across every store one commit touches. Recovery replays a logged,
  * idempotent apply step (the Discretized Streams recovery model); it
  * never undoes.
  *
  *  1. Stage: each store's next generation is written beside it into
  *     `<data>.rewrite` (bucket layout included), concurrently on a
  *     bounded pool of daemon threads. Every stage settles before
  *     anything else happens; any failure drops them all.
  *  2. Log: one atomic manifest lists each store's target def (epoch and
  *     properties) and whether a stage flips into place.
  *  3. Apply: flip the directories (`data → .old`, `.rewrite → data`),
  *     put the defs, delete the `.old`s, delete the manifest.
  *
  * Every staged store of a logged commit keeps a `.rewrite` or `.old`
  * beside it until its manifest is gone. So [[repair]], run before every
  * raw read and write, costs two existence checks on a clean store; on a
  * marked one it replays the manifest that lists it (roll forward) or,
  * with none, drops the stage (that commit never happened).
  *
  * An Engine's catalog dir is single-writer by contract; the in-process
  * [[inFlight]] set keeps a reader's repair off stages still being
  * written or applied. */
private[graft] final class StagedCommit(engine: Engine) {
  import StagedCommit._
  private val catalog = engine.catalog

  /** Fault-injection hook, called with (phase, qualified store name):
    * [[StagedCommit.Stage]] on the pool thread before a store's stage
    * write, [[StagedCommit.Staged]] per store on the caller's thread once
    * every stage settled (before the caller's lock is taken), and
    * [[StagedCommit.Commit]] before each store's flip and def put — in a
    * replay too. A throw fails that step. */
  @volatile private[graft] var hook: (String, String) => Unit = (_, _) => ()

  /** Stores whose stage is being written or applied in this process. */
  private val inFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def stageDir(name: String): Path =
    Paths.get(catalog.dataPath(name) + ".rewrite")
  private def oldDir(name: String): Path =
    Paths.get(catalog.dataPath(name) + ".old")

  /** Write `rows` (the stored shape, hidden columns stamped) as `d`'s next
    * generation; called from a [[run]] task. Bucketed stores stage
    * through a transient metastore table, so the file names carry bucket
    * ids and after the flip the live table reads them with its bucket
    * spec intact. */
  def stage(d: StreamDef, rows: DataFrame): Unit = {
    hook(Stage, d.name)
    val tmp = stageDir(d.name).toString
    engine.bucketSpec(d) match {
      case Some((nb, cols)) =>
        val stageTable = engine.bucketTableName(d.name) + "_stage"
        try rows.write.mode(SaveMode.Overwrite)
          .bucketBy(nb, cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .option("path", tmp)
          .format("parquet")
          .saveAsTable(stageTable)
        // external table: dropping the staging entry keeps the files
        finally engine.spark.sql(s"DROP TABLE IF EXISTS `$stageTable`")
      case None =>
        rows.write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** A pure physical rewrite of one store (OPTIMIZE, VACUUM): stage
    * `rows`, commit with `d`'s def unchanged. */
  def rewrite(lock: AnyRef, d: StreamDef, rows: DataFrame): Unit =
    run(lock, Seq(d.name))(Seq(() => stage(d, rows)))(_ => Some(Seq(d)))

  /** Run `tasks` concurrently (each stages at most one of `names` via
    * [[stage]]) and wait for all of them. Then, under `lock`, `targets`
    * turns their results into the defs to commit — None aborts — and the
    * commit is logged and applied. Stages not in the log are dropped
    * before the guards on `names` are released; a commit on a store
    * another commit holds waits for it. A failure once the log is durable
    * leaves the commit to the next [[repair]], which finishes it.
    *
    * @return whether the commit applied */
  def run[A](lock: AnyRef, names: Seq[String])(tasks: Seq[() => A])(
      targets: Seq[A] => Option[Seq[StreamDef]]): Boolean = {
    synchronized {
      // one commit per store at a time: wait out another one's
      while (names.exists(inFlight.contains)) wait()
      settleLocked(names)
      names.foreach(inFlight.add)
    }
    var logged = Set.empty[String]
    try {
      val results = stageAll(tasks)
      names.foreach(hook(Staged, _))
      lock.synchronized {
        targets(results).exists { defs =>
          val entries = defs.map(t => CommitEntry(t, Files.exists(stageDir(t.name)),
            catalog.get(t.name).fold(t.writeEpoch)(_.writeEpoch)))
          val id = f"${System.currentTimeMillis}%013d-${java.util.UUID.randomUUID}"
          // manifests are written, applied and deleted under this monitor
          // only, so a concurrent repair never reads one mid-delete
          synchronized {
            catalog.putManifest(id, entries)
            logged = entries.filter(_.staged).map(_.target.name).toSet
            apply(id, entries)
          }
          true
        }
      }
    } finally {
      names.filterNot(logged).foreach(n => catalog.deleteRecursively(stageDir(n)))
      synchronized { names.foreach(inFlight.remove); notifyAll() }
    }
  }

  /** Crash repair for `name`: see the class doc. */
  def repair(name: String): Unit = {
    val q = catalog.qualify(name)
    def marked = Files.exists(stageDir(q)) || Files.exists(oldDir(q))
    if (marked && !inFlight.contains(q))
      synchronized { if (!inFlight.contains(q)) settleLocked(Seq(q)) }
  }

  /** Replay every logged commit listing one of `names`, then drop what is
    * left beside them: a stage no log lists never committed. Caller holds
    * this monitor and none of `names` is in flight. */
  private def settleLocked(names: Seq[String]): Unit = {
    catalog.manifests()
      .filter(_._2.exists(e => names.contains(e.target.name)))
      .foreach { case (id, entries) => apply(id, entries) }
    names.foreach { n =>
      catalog.deleteRecursively(stageDir(n)); catalog.deleteRecursively(oldDir(n))
    }
  }

  /** Apply a logged commit. Idempotent, so a replay after a crash at any
    * point finishes the same commit: a store whose stage is gone has
    * flipped, and a def goes in only while its store is still at the
    * logged epoch or already at the target (never over a store dropped
    * or written since). The `.old`s go only after every def is in, which
    * keeps each staged store marked until the manifest is deleted. */
  private def apply(id: String, entries: Seq[CommitEntry]): Unit = {
    entries.foreach { case CommitEntry(t, staged, from) =>
      hook(Commit, t.name)
      if (staged) flip(t)
      if (catalog.get(t.name).exists(c =>
          c.writeEpoch == from || c.writeEpoch == t.writeEpoch))
        catalog.put(t)
    }
    entries.foreach(e => catalog.deleteRecursively(oldDir(e.target.name)))
    catalog.deleteManifest(id)
  }

  /** The two atomic moves (either may already be done in a replay), then
    * a table-cache refresh for a registered bucket table. */
  private def flip(d: StreamDef): Unit = {
    val (data, stage, old) =
      (Paths.get(catalog.dataPath(d.name)), stageDir(d.name), oldDir(d.name))
    if (Files.exists(stage)) {
      if (Files.exists(data)) Files.move(data, old, StandardCopyOption.ATOMIC_MOVE)
      else Files.createDirectories(old) // the marker outlives the flip
      Files.move(stage, data, StandardCopyOption.ATOMIC_MOVE)
    }
    val table = engine.bucketTableName(d.name)
    if (engine.bucketSpec(d).nonEmpty && engine.spark.catalog.tableExists(table))
      engine.spark.catalog.refreshTable(table)
  }

  /** Run every task on a bounded pool of daemon threads and wait for ALL
    * of them: a failure surfaces only once no stage write is running, so
    * the abort's cleanup never races one. The pool is per commit (its
    * threads inherit the caller's Spark local properties, like any job
    * the caller starts) and gone when this returns. */
  private def stageAll[A](tasks: Seq[() => A]): Seq[A] = {
    val n = math.max(1, math.min(MaxStagers, tasks.size))
    val pool = new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-stage"); t.setDaemon(true); t
      })
    try {
      val futures = tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
      val outcomes = futures.map(f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) })
      outcomes.collectFirst { case Left(e) => throw e }
      outcomes.collect { case Right(a) => a }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
