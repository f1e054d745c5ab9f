package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketch rollups (Apache DataSketches HLL,
  * Spark's `hll_sketch_agg` / `hll_union_agg` builtin family) — the
  * 100 TB pattern behind "how many distinct users/URLs/tokens" asked
  * repeatedly: persist one SKETCH per (partition × group) at ingest,
  * then answer any coarser rollup by UNIONING sketches — kilobytes per
  * group move, the raw corpus is never rescanned. HLL register merge is
  * max-per-register, so estimates are ORDER-INDEPENDENT and replays are
  * deterministic (the property SketchesSpec pins: union of shard
  * sketches ≡ whole-corpus sketch, bit-for-bit).
  *
  * The estimate↔exact drift contract follows the `approx_distinct` /
  * `approx_quantiles` convention: gates emit deterministic columns only
  * and assert the sketch inside the plan, so the approximate path can
  * never silently rot.
  */
object Sketches {

  /** Per-group HLL sketches: one shuffle on the group keys; sketch
    * buffers fold map-side (partial aggregation), so the shuffle moves
    * ≤ partitions × groups × ~(2^lgK) bytes — not rows. */
  def distinctSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Roll a sketch table UP to coarser grain (possibly global:
    * `coarser = Nil`) by unioning sketches — the raw data is not
    * touched. Emits the estimate alongside the merged sketch so the
    * result can keep rolling up. */
  def rollup(sketches: DataFrame, coarser: Seq[String]): DataFrame = {
    sketches.groupBy(coarser.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))
  }

  /** Set-overlap estimate from two distinct-sketch tables via
    * inclusion–exclusion — `|A∩B| ≈ est(A) + est(B) − est(A∪B)` per
    * group, with the corpora never joined: the "how much do these two
    * crawls/snapshots/source slices overlap" question answered from
    * kilobytes of standing sketches. The error is HLL-relative to the
    * UNION size, so the estimate is informative when the overlap is a
    * non-trivial fraction of the union (the regime the question is
    * asked in) and the gate's in-plan tolerance is phrased against the
    * union accordingly. Output keeps all three estimates so a consumer
    * can apply its own band. */
  def overlapEstimate(a: DataFrame, b: DataFrame,
                      groupCols: Seq[String]): DataFrame =
    a.select((groupCols.map(col) :+ col("sketch").as("__ska")): _*)
      .join(b.select((groupCols.map(col) :+ col("sketch").as("__skb")): _*),
        groupCols)
      .select((groupCols.map(col) :+
        hll_sketch_estimate(col("__ska")).as("est_a") :+
        hll_sketch_estimate(col("__skb")).as("est_b") :+
        hll_sketch_estimate(call_function("hll_union",
          col("__ska"), col("__skb"))).as("est_union")): _*)
      .withColumn("est_overlap",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))

  /** Incremental maintenance for the distinct-sketch table (the same
    * shard-vs-index ingest shape as [[updateQuantileSketch]]): sketch
    * the new shard, union with the standing table, re-merge per group.
    * Cost O(shard) + O(standing table) per ingest, never O(corpus).
    * Replay contract (weaker than the quantile sketch's, and pinned in
    * StreamingDistinctSpec): a FIXED ingest order rebuilds the
    * identical table — what a micro-batch retry needs — but different
    * orders only agree within the lgK error band, because DataSketches'
    * estimator selection (HIP vs composite) is union-history-dependent
    * even though register merge itself is max-per-register. */
  def updateDistinctSketch(standing: DataFrame, newRows: DataFrame,
                           groupCols: Seq[String], valueCol: String,
                           lgK: Int = 12): DataFrame =
    standing.unionByName(distinctSketch(newRows, groupCols, valueCol, lgK))
      .groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"))

  // ------------------------------------------------------------------
  // Log-linear quantile sketch (round 6) — the mergeable-quantile twin
  // of the HLL rollup above. Same deployment pattern: persist one small
  // sketch per (group × ingest shard), answer any later quantile query
  // or coarser rollup by SUMMING bucket counts — the corpus is never
  // rescanned. The sketch is the HDR-histogram / DDSketch bucket idea
  // (public designs) restated in pure integer arithmetic so the DuckDB
  // oracle replays it EXACTLY: a non-negative BIGINT value lands in
  // bucket (msb, mant) where msb = bit length of v and mant = the top
  // `mantissaBits+1` bits — every operation is bin()/shift/compare, no
  // floating log whose last ulp could flip a bucket across engines.
  // Guaranteed relative error of the midpoint estimate for any
  // quantile: half the bucket width / lower bound ≤ 2^-(mantissaBits+1).
  // Bucket count is bounded by 64·2^mantissaBits + 1 per group
  // regardless of corpus size, so the sketch shuffle moves
  // ≤ partitions × groups × 1025 rows of three longs — row-count-
  // independent, exactly like the HLL table.
  // ------------------------------------------------------------------

  /** (msb, mant) bucket coordinates for a non-negative BIGINT column.
    * v = 0 gets the dedicated (0, 0) bucket; for v ≥ 1, msb = number of
    * binary digits (floor(log2 v) + 1) and mant = v with all but the
    * top `mantissaBits + 1` bits shifted away. Bucket order by
    * (msb, mant) IS value order, which is what makes the cumulative
    * scan below correct. */
  def valueBuckets(v: Column, mantissaBits: Int): (Column, Column) = {
    val msb = when(v <= 0, lit(0)).otherwise(length(bin(v)))
    val shiftBits = greatest(msb - lit(mantissaBits + 1), lit(0))
    val mant = when(v <= 0, lit(0L))
      .otherwise(call_function("shiftright", v, shiftBits))
    (msb.cast("int"), mant.cast("long"))
  }

  /** Per-group quantile sketch: one shuffle keyed on (group, msb, mant)
    * with full map-side partial aggregation. `valueCol` must be a
    * non-negative integral column (lengths, token counts, latencies in
    * micros — the pipeline's usual quantile subjects). */
  def quantileSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     mantissaBits: Int = 4): DataFrame = {
    val (msb, mant) = valueBuckets(col(valueCol).cast("long"), mantissaBits)
    // NULL values carry no quantile information but would otherwise form
    // a (null, null) bucket that counts into N and sorts differently in
    // Spark's struct order (nulls first) vs the oracle's NULLS LAST —
    // drop them at the door so the sketch never sees one
    df.filter(col(valueCol).isNotNull)
      .withColumn("msb", msb).withColumn("mant", mant)
      .groupBy((groupCols.map(col) ++ Seq(col("msb"), col("mant"))): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketches to coarser grain (possibly global: `coarser = Nil`)
    * by summing bucket counts — the merge is a plain keyed aggregate, so
    * it is associative, commutative, and replay-deterministic. */
  def mergeQuantileSketch(sketch: DataFrame, coarser: Seq[String]): DataFrame =
    sketch.groupBy((coarser.map(col) ++ Seq(col("msb"), col("mant"))): _*)
      .agg(sum("cnt").as("cnt"))

  /** Incremental maintenance (the ingest-time shape: shard-vs-index,
    * like [[Dedup.incrementalNearDups]]): fold a NEW SHARD into the
    * standing sketch table without touching already-ingested rows —
    * sketch the shard, union, re-aggregate the bucket counts. Cost is
    * O(shard) + O(standing sketch) per ingest, never O(corpus); since
    * bucket-count merge is associative/commutative, any ingest order
    * replays to the identical table (StreamingSketchSpec pins the
    * micro-batch-maintained table against the one-shot batch sketch). */
  def updateQuantileSketch(standing: DataFrame, newRows: DataFrame,
                           groupCols: Seq[String], valueCol: String,
                           mantissaBits: Int = 4): DataFrame =
    mergeQuantileSketch(
      standing.unionByName(
        quantileSketch(newRows, groupCols, valueCol, mantissaBits)),
      groupCols)

  /** Answer quantiles from a sketch: for each requested q, the midpoint
    * of the first bucket (in value order) whose cumulative count reaches
    * ceil(q·N). Integer bounds, so the midpoint double is exact in any
    * engine (both compute the same IEEE ceil(q·N) — oracle SQL must cast
    * its q literal to DOUBLE, not DECIMAL).
    *
    * Plan shape: each group's buckets fold into ONE row (≤ 64·2^m + 1
    * structs by construction) and the bucket scan is an `aggregate()`
    * array fold in that row — a plain grouped aggregate end to end, no
    * window anywhere, so the global rollup (groupCols = Nil) is a 1-row
    * global aggregate rather than a single-partition window. */
  def sketchQuantiles(sketch: DataFrame, groupCols: Seq[String],
                      qs: Seq[Double], mantissaBits: Int = 4): DataFrame = {
    val qlits = array(qs.map(lit): _*)
    // first bucket (value order) whose cumulative count reaches the
    // target rank: a fold with an "already picked" latch in the struct
    val pick = expr(
      s"""aggregate(bks,
         |  named_struct('cum', 0L, 'msb', -1, 'mant', -1L),
         |  (acc, s) -> IF(acc.msb >= 0, acc,
         |    named_struct('cum', acc.cum + s.cnt,
         |      'msb', IF(acc.cum + s.cnt >= CEIL(q * n), s.msb, -1),
         |      'mant', IF(acc.cum + s.cnt >= CEIL(q * n), s.mant, -1L))))
         |""".stripMargin)
    val shiftBits = greatest(col("pk.msb") - lit(mantissaBits + 1), lit(0))
    val lo = call_function("shiftleft", col("pk.mant"), shiftBits)
    // shiftBits = 0 ⟹ hi = mant = lo (exact single-value bucket, incl. v=0)
    val hi = call_function("shiftleft", col("pk.mant") + 1, shiftBits) - 1
    bucketLists(sketch, groupCols)
      .withColumn("q", explode(qlits))
      .withColumn("pk", pick)
      .select(groupCols.map(col) :+ col("q") :+
        ((lo + hi) / 2.0).as("est"): _*)
  }

  /** Each group's sketch as ONE row: its buckets in value order (`bks`)
    * and their total count `n`. */
  private def bucketLists(sketch: DataFrame, groupCols: Seq[String]): DataFrame =
    sketch.groupBy(groupCols.map(col): _*).agg(
      sort_array(collect_list(struct(col("msb"), col("mant"), col("cnt")))).as("bks"),
      sum("cnt").as("n"))

  /** In-plan drift assertion (the self-checking-sketch convention):
    * TRUE when `est` is within `tol` relative error of `exact`, else the
    * whole job fails with the drift in the message — never a silently
    * wrong approximate answer. */
  def withinTolerance(est: Column, exact: Column, tol: Double): Column = {
    val drift = abs(est - exact.cast("double")) /
      greatest(exact.cast("double"), lit(1.0))
    when(assert_true(drift <= lit(tol),
      concat(lit(s"hll estimate drifted beyond $tol: rel="), drift)).isNull,
      drift <= lit(tol))
  }

  /** EXACT order statistics in two bounded passes — the scale answer
    * to "exact p99, not an estimate" that neither a global sort
    * (corpus shuffle) nor Spark's `percentile` (buffers every value
    * per group) survives at 100 TB: pass 1 builds the bounded
    * log-linear sketch and locates, per (group, q), the single bucket
    * containing rank ⌈q·N⌉ plus the exact count below it; pass 2
    * rescans ONLY rows landing in target buckets (a broadcast
    * semi-structured join against the groups × qs target table — at
    * mantissaBits = 4 a bucket holds ≤ ~3% of a group's mass), reduces
    * them to per-value counts, and picks the smallest value whose
    * cumulative count reaches the target rank. The only window runs
    * per (group, q) over ONE bucket's distinct values. Output is an
    * exact BIGINT — no estimate band, no tolerance, replayed by a
    * plain order-statistic oracle. */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     qs: Seq[Double], mantissaBits: Int = 4): DataFrame =
    exactOrderStats(df, groupCols, valueCol, None, qs, mantissaBits)

  /** WEIGHTED exact order statistics — [[exactQuantiles]] with every
    * row carrying an integer mass: the target rank becomes
    * ⌈q·W⌉ over total weight W, answering "the doc length at which
    * half the TOKEN MASS sits" rather than half the documents — the
    * statistic a mixture/budget decision actually needs (row-quantiles
    * over-weight short docs). Identical two-pass shape: the pass-1
    * sketch sums weights per bounded bucket, pass 2 rescans only the
    * target buckets and picks the smallest value whose cumulative
    * weight reaches the target. Rows with NULL or non-positive weight
    * are dropped (they carry no mass). Output is exact — weights and
    * ranks never leave integer space. */
  def exactWeightedQuantiles(df: DataFrame, groupCols: Seq[String],
                             valueCol: String, weightCol: String,
                             qs: Seq[Double],
                             mantissaBits: Int = 4): DataFrame =
    exactOrderStats(df, groupCols, valueCol, Some(weightCol), qs, mantissaBits)

  /** The two-pass body of [[exactQuantiles]] (`weightCol = None`: every
    * row has mass 1) and [[exactWeightedQuantiles]] (mass = the integer
    * weight; rows with NULL or non-positive weight are dropped). */
  private def exactOrderStats(df: DataFrame, groupCols: Seq[String],
                              valueCol: String, weightCol: Option[String],
                              qs: Seq[Double], mantissaBits: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must lie in (0, 1]")
    val gcols = groupCols.map(col)
    val (msbC, mantC) = valueBuckets(col(valueCol).cast("long"), mantissaBits)
    val rows = df
      .filter(weightCol.foldLeft(col(valueCol).isNotNull)((c, w) =>
        c && col(w).isNotNull && col(w).cast("long") > 0))
      .select((gcols :+ col(valueCol).cast("long").as("v")) ++
        weightCol.map(w => col(w).cast("long").as("wt")) ++
        Seq(msbC.as("msb"), mantC.as("mant")): _*)
    val mass = weightCol.fold(count(lit(1)))(_ => sum("wt"))
    // pass 1: the bounded sketch, then per (group, q) the target bucket
    // and the exact mass strictly below it — the sketchQuantiles latch
    // fold (bucket order IS value order)
    val sk = rows.groupBy((gcols ++ Seq(col("msb"), col("mant"))): _*)
      .agg(mass.as("cnt"))
    val pick = expr(
      s"""aggregate(bks,
         |  named_struct('cum', 0L, 'msb', -1, 'mant', -1L, 'below', 0L),
         |  (acc, s) -> IF(acc.msb >= 0, acc,
         |    named_struct('cum', acc.cum + s.cnt,
         |      'msb', IF(acc.cum + s.cnt >= CEIL(q * n), s.msb, -1),
         |      'mant', IF(acc.cum + s.cnt >= CEIL(q * n), s.mant, -1L),
         |      'below', IF(acc.cum + s.cnt >= CEIL(q * n), acc.cum, 0L))))
         |""".stripMargin)
    val targets = bucketLists(sk, groupCols)
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("pk", pick)
      .select(gcols ++ Seq(col("q"),
        ceil(col("q") * col("n")).cast("long").as("r"),
        col("pk.msb").as("msb"), col("pk.mant").as("mant"),
        col("pk.below").as("below")): _*)
    // pass 2: only rows in a target bucket, reduced to per-value mass
    val inBucket = rows.join(broadcast(targets), groupCols ++ Seq("msb", "mant"))
    val perVal = inBucket
      .groupBy((gcols ++ Seq(col("q"), col("r"), col("below"), col("v"))): _*)
      .agg(mass.as("c"))
    val wv = Window.partitionBy((gcols :+ col("q")): _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perVal.withColumn("cum", sum("c").over(wv))
      .filter(col("below") + col("cum") >= col("r"))
      .groupBy((gcols :+ col("q")): _*)
      .agg(min("v").as("val"))
  }

  // ------------------------------------------------------------------
  // Count-min sketch (round 6, cont.) — the FREQUENCY member of the
  // mergeable-sketch family (HLL = distincts, log-linear buckets =
  // quantiles, this = point counts; Cormode & Muthukrishnan J.Alg'05).
  // Same deployment pattern as its siblings: persist depth × width
  // BIGINT counters per (group × ingest shard), answer "how often did
  // token/URL/user X appear" later by probing depth cells and taking
  // the min — the corpus is never rescanned and the standing state is
  // CORPUS-SIZE-INDEPENDENT (vs the exact count table, which is
  // vocabulary-sized and grows with the crawl). Guarantees: est ≥ exact
  // always (counters only ever add), est ≤ exact + εN with prob 1−δ for
  // w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉. Merge is entrywise sum — associative,
  // commutative, replay-deterministic.
  //
  // Determinism recipe: row hashes are the salted [[CrossHash]] mod
  // width — every cell index and therefore every COLLISION replays
  // bit-for-bit in DuckDB SQL and plain Scala, so gates compare the
  // estimates themselves (not a tolerance band), and the deterministic
  // est ≥ exact direction is additionally asserted in-plan.
  // ------------------------------------------------------------------

  /** Cell index of value `v` in hash row `row`: salted cross-engine
    * hash mod the sketch width (56-bit non-negative, so `pmod` = `%`
    * in every engine). */
  def cmSlot(v: Column, row: Int, width: Int, salt: String = "cm"): Column =
    pmod(CrossHash.hash56(concat(lit(s"$salt:$row:"), v.cast("string"))),
      lit(width.toLong))

  /** The same cell index in DuckDB SQL, over expression `e`. */
  def duckdbCmSlot(e: String, row: Int, width: Int,
                   salt: String = "cm"): String =
    s"(${CrossHash.duckdbHash56(s"'$salt:$row:' || ($e)")}) % $width"

  /** `keep` plus one `(r, slot)` row per hash row of `v`: the depth
    * cells `v` counts into, or is probed at. */
  private def cmCells(df: DataFrame, keep: Seq[Column], v: Column,
                      depth: Int, width: Int, salt: String): DataFrame = {
    val cells = explode(array((0 until depth).map { r =>
      struct(lit(r).cast("int").as("r"), cmSlot(v, r, width, salt).as("slot"))
    }: _*)).as("__cell")
    df.select((keep :+ cells): _*)
      .select((keep ++ Seq(col("__cell.r").as("r"), col("__cell.slot").as("slot"))): _*)
  }

  /** Per-group count-min sketch over `valueCol` occurrences: one shuffle
    * keyed on (group, r, slot) with full map-side partial aggregation,
    * so the shuffle moves ≤ partitions × groups × depth × width counter
    * rows — row-count-independent, exactly like the HLL and quantile
    * tables. Only non-empty cells are materialized (absent = 0). */
  def countMinSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     depth: Int = 3, width: Int = 1024,
                     salt: String = "cm"): DataFrame = {
    cmCells(df.filter(col(valueCol).isNotNull), groupCols.map(col),
      col(valueCol), depth, width, salt)
      .groupBy((groupCols.map(col) ++ Seq(col("r"), col("slot"))): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge count-min tables to coarser grain (possibly global:
    * `coarser = Nil`) by summing cells — rows hashed with the same
    * (salt, depth, width) layout merge losslessly. */
  def mergeCountMin(sketch: DataFrame, coarser: Seq[String]): DataFrame =
    sketch.groupBy((coarser.map(col) ++ Seq(col("r"), col("slot"))): _*)
      .agg(sum("cnt").as("cnt"))

  /** Incremental maintenance (shard-vs-index, like
    * [[updateQuantileSketch]]): sketch the new shard, union with the
    * standing table, re-sum cells. O(shard) + O(standing) per ingest;
    * entrywise sum makes any ingest order replay identically. */
  def updateCountMin(standing: DataFrame, newRows: DataFrame,
                     groupCols: Seq[String], valueCol: String,
                     depth: Int = 3, width: Int = 1024,
                     salt: String = "cm"): DataFrame =
    mergeCountMin(
      standing.unionByName(
        countMinSketch(newRows, groupCols, valueCol, depth, width, salt)),
      groupCols)

  /** Point-estimate the count of each `items` row from the sketch:
    * probe the depth cells, min over rows, absent cell = 0. The sketch
    * side is ≤ groups × depth × width rows BY CONSTRUCTION — corpus-
    * size-independent — so it is broadcast unconditionally: the probe
    * join is shuffle-free no matter how large the item list is.
    * @return items' columns + `est` (BIGINT, ≥ the true count) */
  def cmEstimate(sketch: DataFrame, items: DataFrame, groupCols: Seq[String],
                 itemCol: String, depth: Int = 3, width: Int = 1024,
                 salt: String = "cm"): DataFrame = {
    cmCells(items, groupCols.map(col) :+ col(itemCol), col(itemCol),
      depth, width, salt)
      .join(broadcast(sketch), groupCols ++ Seq("r", "slot"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy((groupCols.map(col) :+ col(itemCol)): _*)
      .agg(min("cnt").as("est"))
  }

  /** Join-size estimation from two count-min sketches — the JOIN-SIZE
    * member of the mergeable-sketch family (inner-product estimate,
    * Alon-Matias-Szegedy '96 / Cormode-Muthukrishnan J.Alg'05 §4.2):
    * `est_r = Σ_slot a[r][slot]·b[r][slot]`, answer = min over depth
    * rows. The planner's question — "how big would A ⋈ B on this key
    * be?" — answered from standing corpus-size-independent state
    * without executing the join or rescanning either side. Guarantee
    * (deterministic direction, same as the point estimate): est ≥
    * exact ALWAYS, since colliding keys only add cross-terms; est ≤
    * exact + ε·‖a‖₁·‖b‖₁ with prob 1−δ at w=⌈e/ε⌉, d=⌈ln 1/δ⌉.
    * Products and sums ride DECIMAL(38,0) — ‖a‖₁·‖b‖₁ overflows BIGINT
    * long before the sketches stop fitting in memory.
    *
    * @param a,b GLOBAL-grain sketches (`mergeCountMin(_, Nil)` shape:
    *            r, slot, cnt) built with the same (salt, depth, width)
    * @return one row per depth: (r, est) — take `min(est)` for the
    *         answer; per-row values expose hash-row variance */
  def cmJoinSizeByRow(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("r"), col("slot"), col("cnt").as("ca"))
      .join(b.select(col("r"), col("slot"), col("cnt").as("cb")),
        Seq("r", "slot"))
      .groupBy("r")
      .agg(sum(col("ca").cast("decimal(38,0)") * col("cb")).as("est"))

  /** [[cmJoinSizeByRow]] reduced to the single min-over-depth estimate. */
  def cmJoinSizeEstimate(a: DataFrame, b: DataFrame): DataFrame =
    cmJoinSizeByRow(a, b).agg(min("est").as("join_size_est"))

  /** Two bucket sketches aligned on the union of their buckets (absent =
    * 0), with each side's step CDF `cum_a`/`cum_b` in value order and
    * its group total `n_a`/`n_b`; groups present on only one side are
    * dropped. Every operation is keyed by group over ≤ 64·2^m + 1
    * buckets per group. */
  private def alignedCdfs(a: DataFrame, b: DataFrame,
                          groupCols: Seq[String]): DataFrame = {
    val keys = groupCols ++ Seq("msb", "mant")
    val wg = Window.partitionBy(groupCols.map(col): _*)
    val wCum = wg.orderBy(col("msb"), col("mant"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a.select((keys.map(col) :+ col("cnt").as("cnt_a")): _*)
      .join(b.select((keys.map(col) :+ col("cnt").as("cnt_b")): _*),
        keys, "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .withColumn("cum_a", sum("cnt_a").over(wCum))
      .withColumn("cum_b", sum("cnt_b").over(wCum))
      .withColumn("n_a", sum("cnt_a").over(wg))
      .withColumn("n_b", sum("cnt_b").over(wg))
      .filter(col("n_a") > 0 && col("n_b") > 0)
  }

  /** Distribution-drift statistic between two quantile-sketch tables —
    * the ingest-time monitor that closes the loop the incremental
    * sketch maintenance opens: keep the STANDING sketch per group, sketch
    * each incoming shard ([[updateQuantileSketch]]'s input), and alert
    * when the shard's value distribution has moved. The statistic is
    * the two-sample Kolmogorov–Smirnov distance evaluated on the shared
    * bucket grid: `max |CDF_a − CDF_b|` over every bucket boundary
    * either side populates. Bucket order IS value order, so the step
    * CDFs are cumulative bucket sums and the sketch's bounded relative
    * error bounds the statistic's deviation from the raw-data KS.
    *
    * Determinism recipe: the running comparison is on EXACT integers —
    * `|cum_a·n_b − cum_b·n_a|` (cross-multiplied to avoid per-bucket
    * divisions) with the max taken in integer space; the only
    * floating-point step is the final single division by `n_a·n_b`,
    * rounded to 6 dp — so a DuckDB oracle replays it bit-for-bit.
    *
    * Scale shape: sketch tables are ≤ 64·2^m+1 rows per group by
    * construction, so the full-outer bucket align, the per-group window
    * cumsum, and the max are all bounded keyed operations — group count
    * is the only scaling axis, exactly like the rollups above.
    *
    * @return one row per group: (groupCols…, n_a, n_b, ks) — groups
    *         present on only one side are omitted (no two-sample
    *         statistic exists for them; surface those by count instead)
    */
  def sketchKsDistance(a: DataFrame, b: DataFrame,
                       groupCols: Seq[String]): DataFrame = {
    alignedCdfs(a, b, groupCols)
      .groupBy(groupCols.map(col): _*)
      // DECIMAL(38,0) cross-products: BIGINT·BIGINT overflows past
      // ~3e9-row sides, and the statistic must stay exact at any n
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(col("cum_a").cast("decimal(38,0)") * col("n_b")
          - col("cum_b").cast("decimal(38,0)") * col("n_a"))).as("__gap"))
      .withColumn("ks", round(col("__gap").cast("double") /
        (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double"), 6))
      .drop("__gap")
  }

  /** Per-group 1-Wasserstein (earth-mover) distance between two bucket
    * sketches — the DRIFT MAGNITUDE companion to [[sketchKsDistance]]
    * (KS is the largest CDF gap; W1 is the total mass×distance to move,
    * so a long fat tail that KS barely sees shows up here). Distance is
    * measured in UNION-SUPPORT BUCKET STEPS: consecutive present buckets
    * are one unit apart (a defined quantization — on the log-linear
    * sketch a step is a ~1/2^mantissaBits relative value change), making
    * the statistic a fully exact integer. emd_micro =
    * ⌊Σ|cum_a·n_b − cum_b·n_a| · 1e6 / (n_a·n_b)⌋, accumulated in
    * DECIMAL(38,0) (BIGINT cross-products overflow past ~3e9-row sides)
    * and floored by an exact subtract-the-remainder division, so no
    * rounding boundary can flip the last digit.
    *
    * @param a,b per-group bucket counts from [[quantileSketch]]
    * @return (groupCols…, n_a, n_b, emd_micro); one-sided groups omitted */
  def sketchW1Distance(a: DataFrame, b: DataFrame,
                       groupCols: Seq[String]): DataFrame = {
    val num = col("__num") * lit(1000000L)
    val den = col("n_a").cast("decimal(38,0)") * col("n_b")
    alignedCdfs(a, b, groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(abs(col("cum_a").cast("decimal(38,0)") * col("n_b")
          - col("cum_b").cast("decimal(38,0)") * col("n_a"))).as("__num"))
      .withColumn("emd_micro",
        ((num - pmod(num, den)) / den).cast("long"))
      .drop("__num")
  }
}
