package graft.engine

import org.apache.spark.sql.Row

/** The reference's preview polling protocol, re-expressed as a pure,
  * injectable cursor (handler.py:29-42 `exponential_backoff`,
  * handler.py:65-100 `DecodableCursor.execute`). The reference client
  * starts a remote preview job and then POLLS the data plane: poll
  * immediately, then sleep `min(2^k + stagger, remaining_budget)` with
  * `stagger ∈ [0, 1)` between polls, extend the result set for APPEND
  * streams, keep only the LAST change's `after` for change streams
  * (empty `after` → clear), stop when the server stops issuing a
  * next_token or the time budget is spent (remaining < 1 ms), and seed
  * the dbt-test fake row when nothing arrived (handler.py:99,127-128).
  *
  * In-process, Spark IS the data plane, so "a poll" drains whatever
  * rows the running job has produced so far ([[PreviewCursor.Pager]];
  * the production pager in [[graft.engine.Engine.previewPolled]] feeds
  * off `toLocalIterator`, which fetches partitions incrementally
  * exactly like the reference's result pages). The backoff schedule,
  * fold rules, budget accounting, and fake-row seeding are the protocol
  * under test — scripted pagers exercise them deterministically.
  */
object PreviewCursor {

  /** One poll of the running preview. `None` = the job is finished AND
    * fully drained (the reference's `next_token: null`); `Some(rows)` =
    * a page (possibly empty — the job is still running). */
  trait Pager {
    def nextPage(): Option[Seq[Row]]
    /** Called when the budget expires with the job still running (the
      * reference's remote preview simply stops being polled; in-process
      * we cancel the Spark job group). */
    def cancel(): Unit = ()
  }

  /** A change-stream page entry: the reference folds `{before, after}`
    * envelopes keeping only the last `after` (handler.py:91-96);
    * `after = None` is a delete, clearing the state. */
  final case class Change(after: Option[Row])
  trait ChangePager {
    def nextPage(): Option[Seq[Change]]
    def cancel(): Unit = ()
  }

  final case class Result(rows: Seq[Row], columns: Seq[String],
      polls: Int, timedOut: Boolean, seededFake: Boolean)

  /** The dbt-test contract row the reference seeds when a preview
    * returns nothing (handler.py:99-100, 127-128): tests read columns
    * `failures, should_warn, should_error` from it. */
  val FakeColumns: Seq[String] = Seq("failures", "should_warn", "should_error")
  def fakeRow: Row = Row(0L, false, false)

  /** The deterministic (seeded) sleep schedule `exponential_backoff`
    * produces for a budget: `min(2^k + stagger_k, remaining)` until the
    * remaining budget drops under epsilon. Exposed pure so specs can
    * assert the protocol shape; [[loop]] sleeps through the same schedule. */
  def backoffSchedule(timeoutSec: Double, rng: java.util.Random): Seq[Double] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    var backoff = 1.0
    var total = 0.0
    var go = true
    while (go) {
      val stagger = rng.nextInt(1000) / 1000.0
      val t = math.min(backoff + stagger, timeoutSec - total)
      out += t
      total += t
      backoff *= 2
      if (timeoutSec - total < Epsilon) go = false
    }
    out.toSeq
  }

  private val Epsilon = 0.001

  /** handler.py:29-42 + the `for _ in exponential_backoff(...)` loop:
    * `poll()` runs FIRST (the generator yields before sleeping), then
    * the cursor sleeps and re-polls until `poll()` reports completion
    * (returns true) or the budget is spent — the last sleep of the
    * schedule is not followed by a poll. Returns (polls, timedOut). */
  private def loop(poll: () => Boolean, timeoutSec: Double,
      rng: java.util.Random, sleep: Double => Unit): (Int, Boolean) = {
    val sleeps = backoffSchedule(timeoutSec, rng).iterator
    var polls = 1
    var done = poll()
    while (!done && sleeps.hasNext) {
      sleep(sleeps.next())
      if (sleeps.hasNext) { polls += 1; done = poll() }
    }
    (polls, !done)
  }

  /** Budget exhausted with the job apparently still running: the final
    * budget-capped sleep can span up to HALF the budget, and a job that
    * finished during it has its rows sitting in the in-process queue —
    * unlike the reference's remote preview, we can still see them. Drain
    * with up to two extra polls (page-then-None is how a just-finished
    * pager reports completion); only a pager still yielding pages after
    * that is genuinely timed out. Returns (extraPolls, stillTimedOut). */
  private def finalDrain(poll: () => Boolean): (Int, Boolean) = {
    var extra = 0
    var stillRunning = true
    while (stillRunning && extra < 2) {
      extra += 1
      if (poll()) stillRunning = false
    }
    (extra, stillRunning)
  }

  /** The protocol around one poll rule: [[loop]], then on budget
    * exhaustion a [[finalDrain]] and, if the pager is still yielding,
    * `cancel`; the fake test row is seeded when `rows` is empty. */
  private def drive(poll: () => Boolean, cancel: () => Unit, rows: () => Seq[Row],
      columns: Seq[String], timeoutSec: Double, rng: java.util.Random,
      sleep: Double => Unit): Result = {
    var (polls, timedOut) = loop(poll, timeoutSec, rng, sleep)
    if (timedOut) {
      val (extra, still) = finalDrain(poll)
      polls += extra
      timedOut = still
      if (timedOut) cancel()
    }
    val out = rows()
    if (out.isEmpty) Result(Seq(fakeRow), FakeColumns, polls, timedOut, seededFake = true)
    else Result(out, columns, polls, timedOut, seededFake = false)
  }

  /** Poll loop for an APPEND-stream preview: extend per page, stop on
    * end-of-pages or budget exhaustion (keeping what accumulated, like
    * the reference — after a final drain of anything the job produced
    * during the last sleep), seed the fake test row when nothing
    * arrived. */
  def pollAppend(pager: Pager, columns: Seq[String], timeoutSec: Double,
      rng: java.util.Random = new java.util.Random(),
      sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong)): Result = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
    val poll = () => pager.nextPage() match {
      case Some(page) => acc ++= page; false
      case None => true
    }
    drive(poll, () => pager.cancel(), () => acc.toSeq, columns, timeoutSec, rng, sleep)
  }

  /** Poll loop for a CHANGE-stream preview: each non-empty page
    * replaces the state with its LAST change's `after` (a delete
    * clears it) — handler.py:91-96. */
  def pollChange(pager: ChangePager, columns: Seq[String], timeoutSec: Double,
      rng: java.util.Random = new java.util.Random(),
      sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong)): Result = {
    var state: Seq[Row] = Nil
    val poll = () => pager.nextPage() match {
      case Some(page) =>
        page.lastOption.foreach(last => state = last.after.toSeq)
        false
      case None => true
    }
    drive(poll, () => pager.cancel(), () => state, columns, timeoutSec, rng, sleep)
  }
}
