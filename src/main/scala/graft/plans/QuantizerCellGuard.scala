package graft.plans

import org.apache.spark.sql.SparkSession

/** Runtime lint for the quantizer-family scale contract (round 7 —
  * VERDICT r6 item 7): a cell-blocked pair operator whose blocking-key
  * cardinality stays CONSTANT while the corpus grows pays per-cell
  * occupancy ∝ n, so the within/cross-cell candidate product is
  * Θ(n²/cells) — the exact regression class round 5's fixed-64-bucket
  * `embeddingNearDup` and round 6's fixed-16-cell Similarity defaults
  * belonged to (measured: 5.5× cost at 10× data vs 3.3× for √n cells,
  * gap widening with n — PERF.md's bitext scale record; `Probe gates`
  * over ScaleData K× directories re-measures `bitext_mine`).
  *
  * Unlike [[SinglePartitionWindowGuard]] / [[CartesianJoinGuard]] this
  * is NOT an optimizer rule: the cell count is resolved driver-side at
  * operator-BUILD time (the quantizer trains eagerly), before any
  * LogicalPlan exists, and by the time the plan reaches the optimizer
  * the cell count is an opaque literal. So the lint lives at the same
  * resolution point — every quantizer-family entry point routes its
  * (corpus size, cell count) through [[check]], and a count more than
  * [[Slack]]× below the √n-ideal throws (fail) or logs (warn).
  * QuantizerGuardSpec pins that the entry points actually route
  * through it; [[graft.Verify]] runs the matrix in fail mode with a
  * liveness self-check, so reintroducing a constant-cells default can
  * never reach a green round.
  *
  * Mode rides SQL conf `spark.graft.guard.quantizerCells`: `off`
  * (default — zero overhead), `warn`, `fail`. With the guard ON, an
  * EXPLICIT cell count pays one corpus `count()` to audit itself
  * (lint-mode-only cost); the auto path already knows n.
  */
object QuantizerCellGuard {
  val ModeKey = "spark.graft.guard.quantizerCells"

  /** Fire when cells fall more than this factor below the √n-ideal —
    * loose enough for deliberate coarse quantizers (a 2-4× coarser
    * layout is a legitimate recall/cost trade), tight enough that a
    * compile-time-constant count on a growing corpus cannot stay
    * under it for long (16 fixed cells clear an n=20k corpus's
    * ideal-141 bar only with slack ≥ 9). */
  val Slack = 8

  private def mode(spark: SparkSession): String =
    spark.conf.getOption(ModeKey).getOrElse("off")

  def enabled(spark: SparkSession): Boolean = mode(spark) != "off"

  /** Audit one quantizer resolution. `ideal` = the corpus-dimensioned
    * UNCAPPED count [[graft.operators.Similarity.idealCells]] would
    * pick (round 9 — hierarchy-aware: the auto path factors a
    * past-the-cap ideal as k1×k2 composite cells and audits the
    * PRODUCT, so the two-level layout passes on the same √n bar a flat
    * capped codebook now legitimately fails past ~1.7·10⁹ vectors). */
  def check(spark: SparkSession, op: String, n: Long, cells: Long,
            ideal: Long): Unit = {
    val m = mode(spark)
    if (m == "off") return
    if (cells * Slack < ideal) {
      val msg = s"QuantizerCellGuard: $op quantizes an n=$n corpus into " +
        s"$cells cells (occupancy ~${n / math.max(1, cells)}; √n-ideal " +
        s"$ideal). Cell-blocked candidate volume is Θ(n²/cells) — leave " +
        "nCentroids unset (auto = corpus-dimensioned) or pass a count " +
        s"within ${Slack}× of the ideal."
      if (m == "fail") throw new IllegalStateException(msg)
      else logWarning(msg)
    }
  }

  private def logWarning(msg: String): Unit =
    System.err.println(s"[warn] $msg")
}
