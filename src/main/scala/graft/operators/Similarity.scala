package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`) — SURVEY §7.5.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k, query-side broadcast ×
  *     corpus scan. The baseline and the oracle. O(|Q|·|corpus|·d) but
  *     embarrassingly parallel — at 100 TB this is the pattern for small
  *     query sets (the corpus never shuffles; queries broadcast).
  *   - [[lshTopK]]: random-hyperplane LSH — corpus bucketed by sign
  *     signature (one shuffle on bucket id), queries probe only their own
  *     bucket. The scale path: turns the cross join into an equi-join.
  *
  * All arithmetic is double-precision with a sequential fold, so scores
  * are deterministic and (after round-6) bit-stable against the DuckDB
  * oracle's `list_cosine_similarity(CAST(... AS DOUBLE[]), ...)`.
  */
object Similarity {

  /** Corpus-dimensioned coarse-quantizer sizing (round 7 — VERDICT r6
    * headline): `cells = clamp(4, 4096, round(√n))`. The quantizer
    * family's total cost is assignment + cell-blocked candidates,
    * n·cells + n²/cells, minimized at cells = √n for Θ(n^1.5) overall —
    * the classic IVF sizing rule (FAISS guidance: √n to 4√n lists).
    * A CONSTANT cell count instead leaves occupancy ∝ n and the
    * candidate product quadratic (PERF.md's bitext scale record:
    * fixed-16 cells cost 5.5× at 10× data vs 3.3× for √n cells, gap
    * widening with n — the same disease `Dedup.embeddingNearDup` was
    * cured of in round 6 via its log₂-occupancy plane count).
    *
    * Deterministic and oracle-replayable: DuckDB computes the identical
    * count as `GREATEST(4, LEAST(4096, CAST(round(sqrt(count(*))) AS
    * BIGINT)))` — both engines take `round` on the positive double
    * √n (half-up; √n can never land exactly on .5, since x.5² is never
    * integral). The 4096 cap bounds plan-literal size (cellStructs
    * builds a cells-length struct array on the query side); past it the
    * AUTO path switches to the TWO-LEVEL hierarchical quantizer
    * ([[HierQuantizer]], round 9) instead of letting one flat codebook
    * grow unbounded — this function remains the FLAT sizing rule the
    * gate oracles replay. */
  def ivfCellCount(n: Long): Int =
    math.max(4, math.min(FlatCellCap, math.round(math.sqrt(n.toDouble)).toInt))

  /** Flat-codebook ceiling: [[cellStructs]] builds a cells-length struct
    * array as a PLAN LITERAL on the query side and [[withCell]] ships a
    * cells×d float literal into the assignment kernel — both are fine
    * at ≤4096 cells and pathological if one codebook grew with a 100 TB
    * corpus. Above this, the auto path goes hierarchical (√total cells
    * per level, each level under the cap). Override ONLY for probes and
    * specs via `spark.graft.quantizer.flatCellCap` — production layouts
    * keep the default. */
  val FlatCellCap = 4096
  val FlatCellCapKey = "spark.graft.quantizer.flatCellCap"
  private def flatCap(spark: SparkSession): Int =
    spark.conf.getOption(FlatCellCapKey).map(_.toInt).getOrElse(FlatCellCap)

  /** Size cap on the hierarchy's packed sub-centroid broadcast
    * (round 10 — VERDICT r9 "what's wrong" item 1): `subPacked` grows as
    * √n·d floats (~97 MB at 1B vectors × d=768, ~1 GB at 100B), so an
    * UNCONDITIONAL broadcast hint eventually ships gigabytes to every
    * executor and then dies at Spark's 8 GiB broadcast ceiling. Past
    * this cap the assignment/probe joins degrade to a SHUFFLE_HASH join
    * keyed on the top cell with subPacked as the build side (√n rows —
    * always the small side; the corpus pays one exchange on `__tcell`,
    * the same degrade-not-die trade as `probeHashBuildCap`,
    * Dedup.scala). Conf-overridable for specs and probes. */
  val SubBroadcastCapBytes: Long = 64L << 20
  val SubBroadcastCapKey = "spark.graft.quantizer.subBroadcastCapBytes"

  /** Size cap on the PROBED-QUERY broadcast in the IVF/PQ search tails
    * (round 11 — ADVICE r10 item 1): the IVF/PQ search join ([[cellPairs]])
    * broadcast the probed query side unconditionally, which is right
    * for gate-scale query batches but dies at Spark's broadcast ceiling
    * when a standing-index serving path is handed a bulk query batch
    * (queries × nProbe fan-out × the PQ LUT payload). Past the cap the
    * cell equi-join degrades to SHUFFLE_HASH with the probed side as
    * build — the corpus side is bucketed on `cell` in the index-served
    * path, so it still joins without an exchange (the same
    * degrade-not-die trade as [[SubBroadcastCapKey]]). */
  val ProbeBroadcastCapKey = "spark.graft.ann.probeBroadcastCapBytes"

  /** UNCAPPED √n-ideal total cell count — what the corpus actually
    * needs for Θ(n^1.5) candidate economics at any scale. The flat
    * quantizer serves it up to [[FlatCellCap]]; beyond that the
    * hierarchical quantizer factors it as k1×k2 with each level under
    * the cap (n ≈ 16.8M vectors is the crossover). */
  def idealCells(n: Long): Long =
    math.max(4L, math.round(math.sqrt(n.toDouble)))

  /** The coarse-quantizer abstraction behind every cell-blocked
    * operator in this family (ivfTopK / pqTopK / semDedup / knnGraph /
    * cellBalancedSample / bitextMine): assignment adds an int `cell`
    * column; probing explodes a query row into its probed cell ids.
    * Two implementations — the FLAT codebook (plan-literal centroids,
    * the gate-scale recipe the DuckDB oracles replay verbatim) and the
    * TWO-LEVEL hierarchy for corpora whose √n-ideal exceeds
    * [[FlatCellCap]]. */
  private[graft] sealed trait CoarseQuantizer {
    def isEmpty: Boolean
    /** Total composite cells (k1·k2 for the hierarchy). */
    def numCells: Long
    def dims: Int
    /** Rows [[probeCells]] emits per query row, at most: nProbe flat,
      * nProbe top-cells × nProbe sub-cells for the hierarchy — the
      * multiplier the probed-side broadcast estimate scales by. */
    def probeFanout(nProbe: Int): Long
    /** Adds int `cell` to a frame with vector column `v`; every input
      * column is preserved. */
    def assign(df: DataFrame): DataFrame
    /** Explodes each query row into its probed `cell` ids (up to
      * nProbe for flat; up to nProbe top-cells × nProbe sub-cells for
      * the hierarchy), preserving every input column. */
    def probeCells(queries: DataFrame, vecCol: String, nProbe: Int): DataFrame
  }

  /** Flat codebook: centroids are a plan literal (≤ [[FlatCellCap]]×d
    * floats), assignment is one fused [[graft.functions.NearestCentroid]]
    * scan, probing sorts the cellStructs array — bit-identical to the
    * pre-round-9 inline recipe, so every quantizer gate's oracle replay
    * is unchanged. */
  private[graft] final class FlatQuantizer(
      val centroids: Seq[(Int, Seq[Float])]) extends CoarseQuantizer {
    def isEmpty: Boolean = centroids.isEmpty
    def numCells: Long = centroids.size.toLong
    def dims: Int = centroids.head._2.length
    def probeFanout(nProbe: Int): Long = math.min(nProbe.toLong, numCells)
    def assign(df: DataFrame): DataFrame = withCell(df, centroids)
    def probeCells(queries: DataFrame, vecCol: String, nProbe: Int): DataFrame = {
      val keep = queries.columns.toSeq.map(col)
      // `__cos` / `__cells` stay materialized column references — the
      // cellStructs contract (embedding the kernel expression K×
      // re-runs it K×)
      queries
        .withColumn("__cos", cosScores(col(vecCol), centroids))
        .withColumn("__cells", cellStructs(col("__cos"), centroids))
        .select(keep :+ explode(expr(
          s"transform(slice(sort_array(__cells, false), 1, $nProbe), s -> s.cid)"))
          .as("cell"): _*)
    }
  }

  /** Two-level hierarchical coarse quantizer (round 9 — VERDICT r8
    * item 1): k1 TOP centroids (plan literal, ≤ cap) partition the
    * corpus; each top cell trains its own ≤k2 SUB-centroids with the
    * SAME deterministic recipe (first-k2 seeds by id within the cell,
    * one distributed Lloyd step, FLOAT-rounded means), and the
    * composite cell id is `tcell·k2 + sub` (< 2³¹ for any feasible
    * corpus: total cells = √n). The flat 4096-cap left per-cell
    * occupancy ∝ n past ~16.8M vectors — candidate volume reverted to
    * Θ(n²/4096), the same disease class the round-7 √n sizing cured a
    * decade earlier.
    *
    * Scale shape: sub-centroids are NOT a plan literal — they live in a
    * (tcell, cids, flat) packed table of k1 rows (√n·d floats total,
    * ∝ index metadata, broadcast-joined on the top cell), and
    * assignment/probing run the SAME fused kernels with the packed
    * array as a COLUMN argument, so one row pays k1 + k2 ≈ 2·n^(1/4)
    * kernel cosines instead of the flat path's 4096. Probing takes the
    * nProbe best top cells, then the nProbe best sub-cells within each
    * (the standard IVF-hierarchy/IMI trade: ≤ nProbe² composite
    * probes, constrained per top cell). A top cell that wins no rows
    * on the final assignment pass has no packed row and drops out of
    * both joins — it holds no candidates by construction.
    *
    * Determinism is the family recipe end to end (round-6 cosines,
    * highest-cid tie-breaks, FLOAT-rounded Lloyd means), so the
    * hierarchy is as oracle-replayable as the flat path — the gates
    * simply never reach it at gate scale (hierarchy activates past
    * ~16.8M vectors; PERF.md records the measured curve). */
  private[graft] final class HierQuantizer(
      val top: Seq[(Int, Seq[Float])], val k2: Int,
      val subPacked: DataFrame, val dims: Int) extends CoarseQuantizer {
    def isEmpty: Boolean = false
    def numCells: Long = top.size.toLong * k2
    def probeFanout(nProbe: Int): Long =
      math.min(nProbe.toLong, top.size.toLong) * math.min(nProbe.toLong, k2.toLong)
    /** The sub-centroid side of the assignment/probe joins —
      * [[packedSide]] with this hierarchy's k1·k2 centroid budget. */
    private def subSide: DataFrame =
      packedSide(subPacked, top.size.toLong * k2, dims)
    def assign(df: DataFrame): DataFrame = {
      val keep = df.columns.toSeq.map(col)
      withCell(df, top).withColumnRenamed("cell", "__tcell")
        .join(subSide, col("__tcell") === col("__sp_tcell"))
        .select(keep :+
          (col("__tcell") * lit(k2) + packedPick(col("v"), dims)).cast("int").as("cell"): _*)
    }
    def probeCells(queries: DataFrame, vecCol: String, nProbe: Int): DataFrame = {
      val keep = queries.columns.toSeq.map(col)
      val topProbed = queries
        .withColumn("__tcos", cosScores(col(vecCol), top))
        .withColumn("__tcells", cellStructs(col("__tcos"), top))
        .select(keep :+ explode(expr(
          s"transform(slice(sort_array(__tcells, false), 1, $nProbe), s -> s.cid)"))
          .as("__tcell"): _*)
      // per probed top cell: round-6 sub-cell cosines from the packed
      // column, desc struct sort (highest-cid tie-break, same as the
      // flat path's cellStructs sort), best nProbe sub ids
      topProbed.join(subSide, col("__tcell") === col("__sp_tcell"))
        .withColumn("__scands", expr(
          s"slice(sort_array(zip_with(centroid_cosines($vecCol, __flat, $dims), " +
            s"__cids, (s, c) -> named_struct('cos', round(s, 6), 'cid', c)), " +
            s"false), 1, $nProbe)"))
        .select((keep :+ col("__tcell")) :+
          explode(expr("transform(__scands, s -> s.cid)")).as("__sub"): _*)
        .select(keep :+
          (col("__tcell") * lit(k2) + col("__sub")).cast("int").as("cell"): _*)
    }
  }

  /** A packed sub-centroid join side under the broadcast cap: broadcast
    * while `cells` centroids × (4·dims + 4) bytes fit
    * [[SubBroadcastCapKey]]; past it, shuffle-hash with the packed table
    * as build side (√n rows — always the small side; the probing frame
    * pays one exchange on the top cell). */
  private def packedSide(packed: DataFrame, cells: Long, dims: Int): DataFrame = {
    val bytes = cells * (dims.toLong * 4 + 4)
    val cap = packed.sparkSession.conf.getOption(SubBroadcastCapKey)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(SubBroadcastCapBytes)
    if (bytes <= cap) broadcast(packed) else packed.hint("shuffle_hash")
  }

  /** The probed-query join side under [[ProbeBroadcastCapKey]] (round
    * 11 — ADVICE r10 item 1): broadcast while the caller's size bound
    * fits; shuffle-hash with the probed side as BUILD past it (the
    * query batch is the small side by construction — the corpus it
    * probes is what outgrew it). */
  private def probedSide(probed: DataFrame, estBytes: Long): DataFrame = {
    val cap = probed.sparkSession.conf.getOption(ProbeBroadcastCapKey)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(SubBroadcastCapBytes)
    if (estBytes <= cap) broadcast(probed) else probed.hint("shuffle_hash")
  }

  /** Byte bound for a probed-query frame: a plan-statistics ROW bound
    * on the UNPROBED query side (Generate-blind stats would undercount
    * the fan-out), × the quantizer's probe fan-out × the caller's
    * post-probe row payload. Rows fall back to sizeInBytes divided by
    * the FLOOR on the source row width (the 4·dims vector payload
    * every row of this family carries; round 11
    * re-audit: the former /8 divisor over-counted 64-float rows ~50×,
    * silently flipping the audited probe broadcast to the shuffle
    * degrade at gate scales — the strict unused-exemption lint caught
    * it). The bound stays filter-blind and payload-floored, so the
    * error direction remains toward the shuffle degrade — never toward
    * an oversized broadcast (the [[graft.operators.Dedup]]
    * shardRowEstimate convention). */
  private def probedBytesEstimate(queries: DataFrame, quant: CoarseQuantizer,
                                  nProbe: Int, rowBytes: Long): Long = {
    val srcRowBytes = 4L * quant.dims
    val st = queries.queryExecution.optimizedPlan.stats
    val rows = st.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong)
      .getOrElse {
        val approx = st.sizeInBytes / math.max(8L, srcRowBytes)
        if (approx >= BigInt(Long.MaxValue)) Long.MaxValue
        else math.max(1L, approx.toLong)
      }
    val b = BigInt(rows) * math.max(1L, quant.probeFanout(nProbe)) *
      math.max(1L, rowBytes)
    if (b >= BigInt(Long.MaxValue)) Long.MaxValue else b.toLong
  }

  /** Post-probe row payloads for the two search tails: q_id + vector
    * (+ the PQ LUT/norm columns) + the probed cell + per-row overhead. */
  private def ivfProbeRowBytes(dims: Int): Long = 4L * dims + 48
  private def pqProbeRowBytes(dims: Int, b: PqBooks): Long =
    4L * dims + 8L * b.m * b.ksub + 8L * b.m + 64

  /** The nearest sub-centroid id of `vec` in a joined packed row
    * (`__cids`, `__flat`) — the same all-NaN fold as withCell: the
    * kernel returns -1, pmod folds it to the LAST (highest-cid)
    * sub-centroid. */
  private def packedPick(vec: Column, dims: Int): Column =
    element_at(col("__cids"),
      pmod(call_function("nearest_centroid", vec, col("__flat"), lit(dims)),
        size(col("__cids"))) + 1)

  /** Packs per-top-cell sub-centroids into one row per top cell:
    * `(__sp_tcell, __cids, __flat)` — cids sorted ascending so the
    * kernel's highest-INDEX tie-break equals the family's highest-CID
    * rule, flat = the concatenated float centroids in cid order. */
  private def packSubs(df: DataFrame): DataFrame =
    df.groupBy(col("__tcell").as("__sp_tcell"))
      .agg(sort_array(collect_list(struct(col("__sub"), col("v")))).as("__cs"))
      .select(col("__sp_tcell"),
        expr("transform(__cs, s -> s.__sub)").as("__cids"),
        expr("flatten(transform(__cs, s -> s.v))").as("__flat"))

  // --------------------------------------------------------------------
  // Quantizer / codebook (de)serialization — the persisted-ANN-index
  // format (round 10). One uniform row shape (kind, j, cid, centroid):
  //   kind 0 = coarse centroids (flat codebook, or the hierarchy's TOP
  //            level; j unused),
  //   kind 1 = PQ sub-codebooks (j = subspace index),
  //   kind 2 = the hierarchy's per-top-cell sub-centroids (j = top cell,
  //            cid = sub id).
  // Everything is FLOAT centroids — parquet round-trips them bit-exactly,
  // so a deserialized quantizer assigns/probes identically to the one
  // that was trained (AnnIndexSpec pins inline ≡ indexed).
  // --------------------------------------------------------------------

  /** The hierarchy's packed sub table unpacked to (tcell, sub, v) rows —
    * the storable form ([[packSubs]] reverses it deterministically:
    * cids are unique per top cell, so the struct sort is total). */
  private def hierSubRows(h: HierQuantizer): DataFrame =
    h.subPacked
      .select(col("__sp_tcell").as("__tcell"), col("__flat"),
        posexplode(col("__cids")).as(Seq("__i", "__sub")))
      .select(col("__tcell"), col("__sub"),
        expr(s"slice(__flat, __i * ${h.dims} + 1, ${h.dims})").as("v"))

  /** Serialize a trained coarse quantizer to (kind, j, cid, centroid)
    * rows. Metadata-scale for flat (≤ cap rows); the hierarchy's kind-2
    * rows are √n·d floats and stay a distributed frame end to end. */
  private[graft] def quantizerRows(q: CoarseQuantizer,
                                   spark: SparkSession): DataFrame = {
    import spark.implicits._
    def centDf(cents: Seq[(Int, Seq[Float])], kind: Int): DataFrame =
      cents.map { case (cid, v) => (kind, 0, cid, v) }
        .toDF("kind", "j", "cid", "centroid")
    q match {
      case f: FlatQuantizer => centDf(f.centroids, 0)
      case h: HierQuantizer =>
        centDf(h.top, 0).unionAll(hierSubRows(h).select(
          lit(2).as("kind"), col("__tcell").as("j"),
          col("__sub").as("cid"),
          expr("transform(v, x -> CAST(x AS FLOAT))").as("centroid")))
    }
  }

  /** Rebuild a quantizer from stored (kind, j, cid, centroid) rows:
    * kind-0 rows collect to the plan-literal coarse codebook (the same
    * K×d metadata collect as training); `hierK2` non-empty re-packs the
    * kind-2 rows into the hierarchy's distributed sub table. */
  private[graft] def quantizerFromRows(rows: DataFrame,
                                       hierK2: Option[Int]): CoarseQuantizer = {
    val top = rows.filter(col("kind") === 0).select("cid", "centroid")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    if (top.isEmpty) return new FlatQuantizer(Nil)
    hierK2 match {
      case None => new FlatQuantizer(top)
      case Some(k2) =>
        val subPacked = packSubs(rows.filter(col("kind") === 2)
          .select(col("j").as("__tcell"), col("cid").as("__sub"),
            col("centroid").as("v")))
        new HierQuantizer(top, k2, subPacked, top.head._2.length)
    }
  }

  /** Trains the two-level hierarchy under the trained `top` level: ONE
    * distributed Lloyd step over ALL top cells simultaneously — per-cell
    * seeds are the first k2 vectors by id (one window shuffle keyed by
    * top cell), assignment is one broadcast-join + fused-kernel corpus
    * pass, and the mean recompute is a (tcell, sub, dim)-keyed aggregate
    * with map-side combine. Nothing corpus-sized ever reaches the
    * driver: top centroids are k1×d floats, and the packed sub table
    * (√n·d floats) stays distributed behind a broadcast. */
  private def trainHier(e: DataFrame, top: Seq[(Int, Seq[Float])],
                        k2: Int): CoarseQuantizer = {
    if (top.isEmpty) return new FlatQuantizer(Nil)
    val k1 = top.size
    val dims = top.head._2.length
    val t = withCell(e, top).withColumnRenamed("cell", "__tcell")
    val wSeed = Window.partitionBy("__tcell").orderBy("n_id")
    val seeds = t.withColumn("__rn", row_number().over(wSeed))
      .filter(col("__rn") <= k2)
      .select(col("__tcell"), (col("__rn") - 1).as("__sub"), col("v"))
    val seedPacked = packSubs(seeds)
    val assigned = t
      .join(packedSide(seedPacked, k1.toLong * k2, dims),
        col("__tcell") === col("__sp_tcell"))
      .withColumn("__sub", packedPick(col("v"), dims))
    val refinedSubs = assigned
      .select(col("__tcell"), col("__sub"),
        posexplode(col("v")).as(Seq("__dim", "__x")))
      .groupBy("__tcell", "__sub", "__dim").agg(avg("__x").as("__m"))
      .groupBy("__tcell", "__sub")
      .agg(sort_array(collect_list(struct(col("__dim"), col("__m")))).as("__ms"))
      .select(col("__tcell"), col("__sub"),
        expr("transform(__ms, s -> CAST(s.__m AS FLOAT))").as("v"))
    // pinned for the lifetime of the returned quantizer (assignment and
    // probing both broadcast it; OperatorCache.clear is the eviction
    // point, the family convention)
    val subPacked = packSubs(refinedSubs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new HierQuantizer(top, k2, subPacked, dims)
  }

  /** The one layout resolver of the family: `nCentroids > 0` =
    * caller-explicit FLAT codebook (audited by the lint when it is on —
    * past the cap an explicit flat count fails the audit, which is
    * correct: the auto path is the scale path); `nCentroids <= 0` =
    * AUTO, corpus-dimensioned from `knownCount` or one metadata-scale
    * `count()` — flat [[ivfCellCount]] up to [[FlatCellCap]], the
    * two-level [[HierQuantizer]] beyond it (k1 = ⌈√total⌉ top cells ×
    * k2 = ⌈total/k1⌉ subs ≥ the uncapped √n-ideal). Every resolution
    * routes through [[graft.plans.QuantizerCellGuard]] so a
    * constant-cells regression fails the Verify matrix instead of
    * shipping. @return `Left(cells)` flat, `Right((k1, k2))` hierarchical */
  private def resolveLayout(op: String, nCentroids: Int, e: DataFrame,
                            knownCount: Option[Long]): Either[Int, (Int, Int)] = {
    val spark = e.sparkSession
    val guard = graft.plans.QuantizerCellGuard
    if (nCentroids > 0 && !guard.enabled(spark)) return Left(nCentroids)
    val n = knownCount.getOrElse(e.count())
    val total = idealCells(n)
    val cap = flatCap(spark)
    val layout =
      if (nCentroids > 0) Left(nCentroids)
      else if (total <= cap) Left(total.toInt)
      else {
        val k1 = math.min(cap, math.ceil(math.sqrt(total.toDouble)).toInt)
        Right((k1, math.min(cap, math.ceil(total.toDouble / k1).toInt)))
      }
    guard.check(spark, op, n,
      layout.fold(_.toLong, { case (k1, k2) => k1.toLong * k2 }), total)
    layout
  }

  /** Trains the resolved layout's coarse quantizer over `e` (`n_id`,
    * `v`) and, with `pq = Some((m, ksub))`, the PQ books beside it. The
    * flat codebook (or the hierarchy's top level) trains by
    * one [[lloyd]] iteration (the deterministic coarse quantizer of
    * every family operator), or — with books — by the one-pass
    * [[trainFlatAndBooks]], which yields the same centroids; the
    * hierarchy then refines its sub-cells under that top level. */
  private[graft] def buildQuantizer(op: String, nCentroids: Int, e: DataFrame,
                                    knownCount: Option[Long],
                                    pq: Option[(Int, Int)] = None)
      : (CoarseQuantizer, Option[PqBooks]) = {
    val layout = resolveLayout(op, nCentroids, e, knownCount)
    val cells = layout.fold(identity, _._1)
    val (cents, books) = pq.fold((lloyd(e, cells, 1), Option.empty[PqBooks])) {
      case (m, ksub) => trainFlatAndBooks(e, cells, m, ksub)
    }
    (layout.fold(_ => new FlatQuantizer(cents), { case (_, k2) => trainHier(e, cents, k2) }),
      books)
  }

  /** Per-bucket pair budget floor for [[SkewJoin.gridSalted]] hot-cell
    * hardening of the within/cross-cell candidate joins (round 7 —
    * VERDICT r6 item 2): cells above ~4× mean occupancy (and above this
    * floor) split into a salt grid so one hub cell (near-duplicate
    * cluster, boilerplate) cannot serialize its whole candidate product
    * into a single reducer. Output is exactly the plain join's
    * (spec-pinned); the conf exists so specs/probes can force salting at
    * test scale. */
  val HotCellBoundKey = "spark.graft.quantizer.hotCellBound"
  private def hotBoundFloor(spark: SparkSession): Long =
    spark.conf.getOption(HotCellBoundKey).map(_.toLong).getOrElse(1024L)

  /** Cosine similarity of two float-array columns, computed in double in a
    * single fused pass by the native codegen'd [[graft.functions.VectorCosine]]
    * expression (requires [[graft.functions.GraftFunctions.register]], which
    * every operator entry point calls). Same left-to-right summation order
    * as a sequential fold → deterministic, oracle-stable after round-6. */
  def cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** Exact top-k neighbors for each query vector.
    *
    * `corpusPred` makes this the PRE-FILTERED vector-search shape
    * (metadata-restricted ANN): the corpus restriction applies BELOW the
    * scoring join, so each query still gets exactly `k` eligible
    * neighbors. The naive post-filter alternative (rank first, filter
    * the top-k after) silently returns < k rows whenever a near
    * neighbor fails the predicate — a correctness trap, not just a perf
    * choice. With a scan-pushable predicate the restriction reaches the
    * parquet reader (PlanShapeSpec asserts it for the
    * `ann_filtered_topk` gate), so scan volume scales with predicate
    * selectivity.
    *
    * @param emb        corpus (idCol, vecCol)
    * @param queryPred  selects the query rows out of `emb`
    * @param k          neighbors per query (self-match excluded)
    * @param corpusPred restricts the NEIGHBOR side (default: all rows)
    * @return (q_id, n_id, rnk, cos) — cos rounded to 6 dp for cross-engine
    *         stability; rank ties broken by n_id
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int,
                     corpusPred: Column = lit(true)): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val corpus = emb.filter(corpusPred)
      .select(col(idCol).as("n_id"), col(vecCol).as("v_n"))
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("v_q"))
    topKByCosine(corpus.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("n_id")), k)
  }

  /** The family's one per-query rank tail over candidate pairs (`q_id`,
    * `n_id`, `v_q`, `v_n`): round-6 exact cosine, row_number per query
    * by cos desc with the n_id tie-break, the first `k`.
    * @return (q_id, n_id, rnk, cos) */
  private def topKByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("cos", round(cosine(col("v_q"), col("v_n")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "cos")
  }

  /** The family's empty top-k result over a frame with `n_id`: no rows,
    * the (q_id, n_id, rnk, cos) schema. */
  private[graft] def emptyTopK(e: DataFrame): DataFrame =
    e.limit(0).select(col("n_id").as("q_id"), col("n_id"),
      lit(0L).as("rnk"), lit(0.0).as("cos"))

  /** Recall@k of an approximate neighbor frame against exact ground
    * truth — the standard ANN quality metric (fraction of each query's
    * true top-k the approximate search returned). Both inputs are the
    * family's `(q_id, n_id, rnk, …)` shape ([[bruteForceTopK]],
    * [[ivfTopK]], [[pqTopK]], `Engine.annTopKIndexed` all emit it);
    * rows past rank `k` are ignored on both sides, and queries missing
    * entirely from `approx` (a probe set that covered none of their
    * cells) score 0, not absent — an ANN stack that silently drops
    * queries must not look healthy.
    *
    * Scale: both inputs are output-sized (|queries|·k rows), so the
    * equi-join + per-query aggregate never touch the corpus — recall
    * measurement costs the same at 100 TB as at 100 MB once the two
    * searches have run.
    *
    * @return one row per ground-truth query:
    *         (q_id, n_hit, n_true, recall), recall rounded to 6 dp
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), lit(1).as("__hit"))
    val ex = exact.filter(col("rnk") <= k).select(col("q_id"), col("n_id"))
    ex.join(a, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"),
        count(lit(1)).cast("long").as("n_true"))
      .select(col("q_id"), col("n_hit"), col("n_true"),
        round(col("n_hit").cast("double") / col("n_true"), 6).as("recall"))
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * neighbors whose similarity RANK falls in `[loRank, hiRank]` —
    * similar enough to be informative negatives, far enough down the
    * ranking to (by the caller's choice of `loRank`) sit below the
    * near-dup/positive band. The standard recipe behind dense-retriever
    * and embedding-model training data (ANCE-style mining, public
    * literature); the uniform complement is
    * [[graft.operators.Sampling.negativeSample]].
    *
    * Exact mode rides [[bruteForceTopK]] (broadcast anchors × corpus
    * scan — the documented oracle-twin contract: the corpus never
    * shuffles, so it scales in corpus size but linearly in |anchors|);
    * `approx = true` rides [[ivfTopK]]'s cell equi-join for the
    * 100 TB-corpus shape (quantizer recall caveats per its scaladoc).
    *
    * @return (id_anchor, id_neg, rnk, cos), rnk ∈ [loRank, hiRank]
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    anchorPred: Column, loRank: Int, hiRank: Int,
                    approx: Boolean = false, nCentroids: Int = 0,
                    nProbe: Int = 2,
                    knownCount: Option[Long] = None): DataFrame = {
    require(1 <= loRank && loRank <= hiRank,
      s"need 1 <= loRank <= hiRank, got [$loRank, $hiRank]")
    val topk =
      if (approx) ivfTopK(emb, idCol, vecCol, anchorPred, hiRank, nCentroids,
        nProbe, knownCount)
      else bruteForceTopK(emb, idCol, vecCol, anchorPred, hiRank)
    topk.filter(col("rnk") >= loRank)
      .select(col("q_id").as("id_anchor"), col("n_id").as("id_neg"),
        col("rnk"), col("cos"))
  }

  /** All random-hyperplane bucket signatures for multi-table LSH, one
    * 56-bit-max long per seed, computed by the fused codegen'd
    * [[graft.functions.PlaneSignatures]] expression (the `zip_with` +
    * `aggregate` formulation is interpreted and was re-evaluated through
    * every Generate/join branch — the embedding near-dup bench hotspot).
    * Deterministic ±1 weights from [[CrossHash.scalaHash56]] make the
    * signatures reproducible across engines and runs. */
  def planeSignatures(vec: Column, seeds: Seq[String], planes: Int,
                      dims: Int): Column =
    call_function("plane_sigs", vec, lit(seeds.mkString("\u0001")),
      lit(planes), lit(dims))

  /** Single-table signature: bit p = sign(Σ_d w(p,d)·v[d]); `seed`
    * prefixes the weight-hash input. */
  def planeSignature(vec: Column, dims: Int, planes: Int,
                     seed: String = "hp"): Column =
    element_at(planeSignatures(vec, Seq(seed), planes, dims), 1)

  /** All assignment cosines for one row in a single fused codegen loop
    * ([[graft.functions.CentroidCosines]]) — K inline [[cosine]] literal
    * subtrees blow the JVM method limit near K≈100 and drop the whole
    * stage to interpreted eval (the SemDedup-at-10× cliff: 37 s at K=160
    * vs ~0.5 s at K=16). */
  private def cosScores(v: Column, centroids: Seq[(Int, Seq[Float])]): Column = {
    val dims = centroids.head._2.length
    val flat = centroids.flatMap(_._2).toArray
    call_function("centroid_cosines", v, typedlit(flat), lit(dims))
  }

  // assignment cosines round to 6dp with the cid tie-break, so the cell
  // argmax is bit-stable across engines (raw-double argmax could flip on
  // last-ulp differences vs the DuckDB oracle's list_cosine_similarity).
  // `scores` MUST be a materialized column reference (never the raw
  // cosScores call) — embedding the kernel expression K× re-runs it K×.
  private def cellStructs(scores: Column, centroids: Seq[(Int, Seq[Float])]): Column =
    array(centroids.zipWithIndex.map { case ((cid, _), i) =>
      struct(round(element_at(scores, i + 1), 6).as("cos"), lit(cid).as("cid"))
    }: _*)

  /** Adds `cell` = argmax-cosine centroid id (round-6, cid tie-break) to
    * a frame with vector column `v` — one fused
    * [[graft.functions.NearestCentroid]] evaluation per row (round + tie
    * logic INSIDE the kernel; a score-array + per-element argmax
    * formulation re-runs the kernel per reference once Catalyst collapses
    * the projections). Centroids sort by cid so the kernel's
    * highest-index tie-break equals the oracle's highest-cid rule.
    * The kernel returns -1 when every cosine is NaN (zero-norm or empty
    * vector); `pmod` folds that to the LAST (highest-cid) centroid —
    * the same cell the pre-kernel struct-max formulation picked, since
    * Spark's ordering ranks NaN above every number — with a single
    * kernel reference (a `when` guard would mention it twice). */
  private def withCell(df: DataFrame, centroids: Seq[(Int, Seq[Float])]): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val dims = sorted.head._2.length
    val flat = sorted.flatMap(_._2).toArray
    val cids = sorted.map(_._1).toArray
    df.withColumn("cell", element_at(typedlit(cids),
      pmod(call_function("nearest_centroid", col("v"), typedlit(flat), lit(dims)),
        lit(cids.length)) + 1))
  }

  /** The family's deterministic seeds: the vectors of the first `k` rows
    * of `e` (`n_id`, `v`) by `n_id` — one TakeOrdered, K×d floats. */
  private def firstVectors(e: DataFrame, k: Int): IndexedSeq[Seq[Float]] =
    e.orderBy("n_id").limit(k).collect().map(_.getSeq[Float](1)).toIndexedSeq

  /** `iters` Lloyd iterations from [[firstVectors]] seeds (cids 0..k-1;
    * `Nil` on an empty corpus). Each iteration assigns every vector to
    * its nearest centroid (fused kernel, round-6 cosine, highest-cid
    * tie-break) and recomputes each non-empty cell's elementwise mean,
    * ROUNDED TO FLOAT — the rounding is what makes the step bit-stable
    * across engines (double summation order drifts by ~n·2⁻⁵², orders of
    * magnitude below float precision, so the FLOAT cast absorbs it;
    * proven at sf1 by the IVF gates). Cells that win no rows drop out,
    * exactly as the SQL replay's GROUP BY drops them. Every collect is
    * K×d centroid metadata — the standard quantizer-training shape,
    * never corpus-sized. */
  private def lloyd(e: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Float])] = {
    val seeds = firstVectors(e, k).zipWithIndex.map { case (v, i) => (i, v) }
    if (seeds.isEmpty) return Nil
    (0 until iters).foldLeft(seeds: Seq[(Int, Seq[Float])]) { (cents, _) =>
      withCell(e, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg("x").as("m"))
        .groupBy("cell").agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("ms"))
        .select(col("cell"), expr("transform(ms, s -> CAST(s.m AS FLOAT))").as("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
    }
  }

  /** [[kmeansTrain]]'s cluster ASSIGNMENTS instead of its centroids:
    * `(idCol, cell)` for every vector, after `iters` Lloyd passes from
    * the same deterministic seeds. The per-row labeling feeds
    * cluster-level corpus analytics (term labeling, per-cluster
    * sampling); same scale shape as training plus one final fused-kernel
    * assignment scan. */
  def kmeansCells(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int = 8, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("n_id"), col(vecCol).as("v"))
    val cents = lloyd(e, k, iters)
    if (cents.isEmpty) return e.limit(0)
      .select(col("n_id").as(idCol), lit(0).as("cell"))
    withCell(e, cents).select(col("n_id").as(idCol), col("cell"))
  }

  /** Deterministic distributed k-means training (Lloyd): seeds = the
    * first `k` vectors by id, `iters` full assignment+mean passes. Every
    * iteration is one corpus scan + one (cell, dim)-keyed aggregate with
    * map-side combine — the canonical scalable k-means shape (centroids
    * broadcast INTO the fused nearest-centroid kernel; only K×d floats
    * ever reach the driver). Determinism is total: fixed seeds, the
    * kernel's round-6 cosine + highest-cid tie-break, FLOAT-rounded
    * means — so the whole training run replays exactly in SQL.
    *
    * @return (cid, dim, c, n): the final centroids unrolled per
    *         dimension, with `n` = the cell's population under a final
    *         assignment pass (0 for a centroid that survives training
    *         but wins no rows at the end)
    */
  def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int = 8, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("n_id"), col(vecCol).as("v"))
    val cents = lloyd(e, k, iters)
    val spark = emb.sparkSession
    import spark.implicits._
    if (cents.isEmpty)
      return Seq.empty[(Int, Long, Double, Long)].toDF("cid", "dim", "c", "n")
    val sizes = withCell(e, cents)
      .groupBy(col("cell").as("cid")).agg(count(lit(1)).as("n"))
    val centDf = cents
      .flatMap { case (cid, vs) =>
        vs.zipWithIndex.map { case (x, d) => (cid, d.toLong, x.toDouble) }
      }
      .toDF("cid", "dim", "c")
    centDf.join(sizes, Seq("cid"), "left")
      .select(col("cid"), col("dim"), col("c"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** The cell-blocked prologue of every inline quantizer operator:
    * register the kernels, project the corpus to (`n_id`, `v`) plus the
    * caller's `extra` columns, and train the quantizer (with `pq`, the
    * PQ books too — [[buildQuantizer]]) over (`n_id`, `v`). Runs `body`
    * on the projected corpus, or `empty` — the caller's empty result
    * shape over the same projection — when the corpus is empty. */
  private def cellBlocked[T](op: String, emb: DataFrame, idCol: String,
                             vecCol: String, nCentroids: Int,
                             knownCount: Option[Long],
                             pq: Option[(Int, Int)] = None,
                             extra: Seq[Column] = Nil)(empty: DataFrame => T)(
      body: (DataFrame, CoarseQuantizer, Option[PqBooks]) => T): T = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(Seq(col(idCol).as("n_id"), col(vecCol).as("v")) ++ extra: _*)
    val (quant, books) =
      buildQuantizer(op, nCentroids, e.select("n_id", "v"), knownCount, pq)
    if (quant.isEmpty) empty(e) else body(e, quant, books)
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `nCentroids` centroids (deterministic seeds = the first `nCentroids`
    * corpus vectors, refined by one Lloyd iteration), corpus partitioned
    * by nearest centroid, queries probing their `nProbe` nearest cells.
    * The search is [[ivfTopKFromIndex]] over the in-memory assignment —
    * the inline operator is the persisted index, built per call.
    *
    * Scale shape: centroids are metadata (K×d floats, collected to the
    * driver and broadcast as literals — the standard IVF coarse-quantizer
    * deployment); assignment is a corpus-linear pass of K codegen'd
    * cosines; the search join is an equi-join on cell id, never a cross
    * join. Higher recall than single-probe sign-LSH at the same cost
    * shape (asserted in the spec).
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, nCentroids: Int = 0,
              nProbe: Int = 2,
              knownCount: Option[Long] = None): DataFrame =
    cellBlocked("ivfTopK", emb, idCol, vecCol, nCentroids, knownCount)(emptyTopK) {
      (e, quant, _) =>
        ivfTopKFromIndex(quant.assign(e), quant, e.filter(queryPred), k, nProbe)
    }

  /** IVF top-k over an assigned corpus `index` (`n_id`, `cell`, `v`, …)
    * and its quantizer `quant`: the in-memory assignment of [[ivfTopK]],
    * or the materialized `__annidx` assignment `Engine.ensureAnnIndex`
    * stores with the codebook it deserialized ([[quantizerFromRows]]) —
    * so a repeat query batch over the index pays probe + cell-join only,
    * never the per-call Lloyd retrain + full-corpus re-assignment.
    * Bit-identical either way, because the stored assignment IS the
    * inline assignment (floats round-trip parquet exactly; the recipe is
    * storage-order-independent). The [[cellPairs]] join broadcasts the
    * probed queries under [[ProbeBroadcastCapKey]]; [[topKByCosine]]
    * ranks the candidates.
    *
    * `eligible` (round 11) is the PRE-FILTERED search shape served from
    * the index: a single-column (`n_id`) frame of corpus ids allowed to
    * be neighbors — the index side semi-joins it BEFORE the cell join,
    * so ranking sees eligible candidates only and every query still
    * receives up to k eligible rows from the probed cells (a
    * post-filter formulation returns < k whenever a near neighbor
    * fails the predicate). Scale shape: the eligible frame is an
    * id-projection of a predicate-pushed corpus scan; AQE broadcasts
    * it when the predicate is selective, and past that the semi-join
    * hashes on id while the cell join still broadcasts the probed
    * side — the index never shuffles twice. */
  private[graft] def ivfTopKFromIndex(index: DataFrame,
                                      quant: CoarseQuantizer,
                                      queries: DataFrame, k: Int,
                                      nProbe: Int,
                                      eligible: Option[DataFrame] = None)
      : DataFrame = {
    val qs = queries.select(col("n_id").as("q_id"), col("v").as("v_q"))
    topKByCosine(cellPairs(index, eligible, quant.probeCells(qs, "v_q", nProbe),
      probedBytesEstimate(qs, quant, nProbe, ivfProbeRowBytes(quant.dims))), k)
  }

  /** The search join of both methods: the assigned corpus `index` with
    * `v` as `v_n`, restricted to the `eligible` ids BEFORE the join,
    * cell-equi-joined to the `probed` queries — broadcast while
    * `probedBytes` fits [[ProbeBroadcastCapKey]] (the corpus never
    * shuffles; past the cap the probed side builds a shuffle-hash
    * instead — ADVICE r10 item 1) — with self-pairs dropped. */
  private def cellPairs(index: DataFrame, eligible: Option[DataFrame],
                        probed: DataFrame, probedBytes: Long): DataFrame = {
    val corpus = index.withColumnRenamed("v", "v_n")
    eligible.fold(corpus)(el => corpus.join(el.select(col("n_id")), Seq("n_id"), "left_semi"))
      .join(probedSide(probed, probedBytes), "cell")
      .filter(col("q_id") =!= col("n_id"))
  }

  /** IVF-PQ ANN (round 6 — the fourth ANN path, and the canonical 100 TB
    * vector-index layout; Jégou et al. 2011 "Product Quantization for
    * Nearest Neighbor Search", public literature): the IVF coarse
    * quantizer prunes the corpus to probed cells, then a PRODUCT
    * QUANTIZER scores every candidate from an m-byte code via per-query
    * lookup tables (ADC — asymmetric distance computation), and only
    * candidates that can still reach the top-k pay the exact cosine.
    *
    * EXACT BY CONSTRUCTION (round-6 rework): the first version kept a
    * fixed-size ADC shortlist, and the sf1 differential caught its
    * recall decaying with corpus growth (128 was 14% of each query's
    * candidates at the gate corpus and 1.4% at 10× — a true neighbor
    * slid out). ADC is an ESTIMATE, so any fixed shortlist is a recall
    * gamble on how tight the code is. Instead the estimate now carries
    * its own error bound (Cauchy–Schwarz per subspace):
    *
    *   |dot(q, x) − Σⱼ dot(qⱼ, c_codeⱼ)| ≤ Σⱼ ‖qⱼ‖·‖xⱼ − c_codeⱼ‖
    *
    * with per-row residual norms ‖xⱼ − cⱼ‖ precomputed at encode time.
    * Dividing by the EXACT norms (‖q‖·‖x‖, also precomputed) gives a
    * [lb, ub] interval on each candidate's true cosine; a candidate is
    * pruned iff its ub cannot reach the per-query k-th best lb (2e-6
    * cushion absorbs the 6-dp output rounding). Survivors ⊇ the true
    * top-k ALWAYS, so output ≡ [[ivfTopK]] at any scale and any data —
    * the gate shares ivf's exact oracle unconditionally. Pruning power
    * degrades gracefully with code quality instead of silently dropping
    * neighbors: on separated data the survivor set is ~k; on
    * adversarially uniform data it approaches the candidate set and the
    * operator pays what exactness costs (PERF.md records the measured
    * survivor fractions).
    *
    * Codebooks: the vector splits into `m` subspaces of d/m dims; each
    * subspace trains its own `ksub`-centroid quantizer with the SAME
    * deterministic recipe as the coarse quantizer (first-ksub seeds, one
    * Lloyd pass, FLOAT rounding), all in the one pass of
    * [[trainFlatAndBooks]] — m·ksub·(d/m) floats of metadata, the
    * standard PQ deployment shape. Encoding ([[pqEncode]]) is m fused
    * [[graft.functions.NearestCentroid]] kernel calls per row plus m
    * [[graft.functions.CentroidCosines]] scans for the residual norms
    * (direction-nearest: spherical PQ, matching the cosine metric).
    *
    * ADC: per query, `lut[j·ksub + c] = dot(qⱼ, c_{j,c})` (a flat
    * m·ksub-double array on the broadcast query row), so a candidate's
    * estimate and bound are m array lookups + adds each. At 100 TB the
    * index stores (id, cell, codes, eps, norm_x) — 8 code bytes + m+1
    * doubles per vector at m=8 — and raw vectors are gathered only for
    * survivors; here the vector column rides along because the gate's
    * corpus IS the frame, but the plan still pays the exact cosine only
    * on survivor rows per query. The search is [[pqTopKFromIndex]]'s
    * over the in-memory encoding.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, nCentroids: Int = 0,
             nProbe: Int = 2, m: Int = 8, ksub: Int = 16,
             knownCount: Option[Long] = None): DataFrame =
    pqInline(emb, idCol, vecCol, queryPred, k, nCentroids, nProbe, m, ksub,
      knownCount)(emptyTopK)(bars => topKByCosine(bars._2, k))

  /** IVF-PQ top-k over an encoded corpus `index` (`n_id`, `cell`, `v`,
    * `codes`, `eps`, `norm_x`) and its codebooks: the in-memory encoding
    * of [[pqTopK]], or the stored `__annidx` encoding with the
    * deserialized books — so a repeat query batch over the index pays
    * LUT build + probe + ADC only, never the per-call codebook retrain +
    * full-corpus re-encode. Output ≡ [[pqTopK]] ≡ [[ivfTopK]] (the
    * error-bound prune is exact by construction and every stored float
    * round-trips parquet bit-exactly).
    *
    * `eligible` (round 11, same contract as [[ivfTopKFromIndex]]) MUST
    * apply BEFORE the ADC bound-prune, never after: the prune threshold
    * is the per-query k-th best candidate LOWER bound, so an ineligible
    * near neighbor left in the candidate set would raise the threshold
    * and prune eligible true top-k rows — a post-filter here is not
    * merely slower, it is WRONG (AnnIndexSpec pins pq ≡ ivf on a
    * corpus whose nearest neighbors are ineligible). */
  private[graft] def pqTopKFromIndex(index: DataFrame, quant: CoarseQuantizer,
                                     books: PqBooks, queries: DataFrame,
                                     k: Int, nProbe: Int,
                                     eligible: Option[DataFrame] = None)
      : DataFrame =
    topKByCosine(pqBars(index, quant, books, queries, k, nProbe, eligible)._2, k)

  /** Pruning-power observability for [[pqTopK]] (PqSpec): per-query
    * candidate vs survivor counts under the error-bound prune. Exactness
    * is unconditional; this is the code-quality diagnostic — survivors /
    * candidates ≈ the fraction of exact-cosine work the m/ksub code
    * could NOT prove away for this data. */
  private[graft] def pqPruneStats(emb: DataFrame, idCol: String,
                                  vecCol: String, queryPred: Column, k: Int,
                                  nCentroids: Int = 0, nProbe: Int = 2,
                                  m: Int = 8, ksub: Int = 16): DataFrame =
    pqInline(emb, idCol, vecCol, queryPred, k, nCentroids, nProbe, m, ksub,
      None)(_.limit(0).select(col("n_id").as("q_id"),
        lit(0L).as("candidates"), lit(0L).as("survivors"))) { bars =>
      // one pass over the bar frame: the window columns don't change
      // row count, so count(*) IS the candidate count, and the
      // survivor count is the same predicate the prune applies
      bars._1.groupBy("q_id").agg(count(lit(1)).as("candidates"),
        count(when(pqSurvives, 1)).as("survivors"))
    }

  /** The inline IVF-PQ pipeline: train, assign and encode the corpus
    * ([[pqEncode]]), then [[pqBars]] for its `queryPred` rows — or
    * `empty` over the projected corpus when it is empty. */
  private def pqInline[T](emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, k: Int, nCentroids: Int,
                          nProbe: Int, m: Int, ksub: Int,
                          knownCount: Option[Long])(empty: DataFrame => T)(
      tail: ((DataFrame, DataFrame)) => T): T =
    // only the COARSE quantizer corpus-dimensions: ksub is per-subspace
    // code granularity (reconstruction quality), not a blocking key —
    // occupancy arguments do not apply to it
    cellBlocked("pqTopK", emb, idCol, vecCol, nCentroids, knownCount,
      Some((m, ksub)))(empty) { (e, quant, books) =>
      tail(pqBars(pqEncode(quant.assign(e), books.get), quant, books.get,
        e.filter(queryPred), k, nProbe))
    }

  /** The trained PQ codebooks: `m` subspaces of `sub` dims, `ksub`
    * centroids each, flattened per subspace (`flats(j)` = ksub×sub
    * floats in code order) with precomputed squared norms. Metadata-
    * scale (m·ksub·sub floats) — the persistable half of the IVF-PQ
    * index, serialized via [[booksRows]]/[[booksFromRows]]. */
  private[graft] final case class PqBooks(
      m: Int, ksub: Int, sub: Int,
      flats: Seq[Array[Float]], normSqs: Seq[Array[Double]])

  private[graft] object PqBooks {
    /** The one books assembler, for trained and for stored books:
      * `books(j)` = subspace j's centroids in code order. Lloyd can
      * return FEWER than ksub centroids (cells that win no rows vanish
      * in the refine groupBy; small corpora have few seeds) — pad to
      * exactly ksub by repeating the last centroid, because the flat LUT
      * indexes with a FIXED j·ksub stride: a short book would silently
      * misalign every later subspace's lookups. Padding is
      * behavior-neutral: a pad duplicates a real centroid, so whichever
      * index the encode kernel picks reconstructs the same vector. The
      * squared norms are one left-to-right double fold per centroid, so
      * stored books reload bit-exactly. */
    def of(ksub: Int, books: Seq[Seq[Seq[Float]]]): PqBooks = {
      val padded = books.map(b => b ++ Seq.fill(ksub - b.size)(b.last))
      PqBooks(books.size, ksub, padded.head.head.length,
        padded.map(_.flatten.toArray),
        padded.map(_.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)).toArray))
    }
  }

  /** The ONE PQ trainer, fused with the coarse codebook (optimization
    * round 11 — guide §1.2 "remove unnecessary passes"): the flat
    * codebook (one [[lloyd]] iteration) plus all `m` PQ sub-codebooks
    * trained one book at a time would run 2·(m+1) Spark actions (a
    * TakeOrdered seeds collect and a Lloyd corpus pass PER book — 18
    * actions at m=8), every one of them a full corpus scan whose cost at
    * gate scale is fixed job overhead, not data. This fuses them into
    * TWO actions with bit-identical results:
    *
    *  - SEEDS: one [[firstVectors]] of max(nCells, ksub) rows. The flat
    *    seeds are those rows' full vectors; book j's seeds are the SAME
    *    rows' j-th subspace slices — exactly what a per-book
    *    `firstVectors` would collect (same unique order key, so the same
    *    rows win).
    *  - REFINE: one corpus pass assigns each row in all m+1 books at
    *    once (m+1 fused-kernel calls on the row's slices — the identical
    *    per-element work, just one scan instead of m+1) and one
    *    (book, cell, dim)-keyed avg replaces the per-book aggregates.
    *    The double summation order inside a group may differ from the
    *    sequential passes'; the FLOAT rounding of every centroid mean
    *    absorbs that, which is the established [[lloyd]] convention
    *    (the DuckDB oracle replays the same avg in its own order).
    *
    * Returns the flat book's refined centroids (what
    * `lloyd(e, nCells, 1)` returns — the hierarchy's top level
    * trains here too) and the [[PqBooks]]; `(Nil, None)` on an empty
    * corpus. */
  private def trainFlatAndBooks(e: DataFrame, nCells: Int, m: Int,
      ksub: Int): (Seq[(Int, Seq[Float])], Option[PqBooks]) = {
    val seedRows = firstVectors(e, math.max(nCells, ksub))
    if (seedRows.isEmpty) return (Nil, None)
    val dims = seedRows.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val flatSeeds = seedRows.take(nCells)
    val pqSeeds: IndexedSeq[IndexedSeq[Seq[Float]]] =
      (0 until m).map { j =>
        seedRows.take(ksub).map(v => v.slice(j * sub, (j + 1) * sub))
      }.toIndexedSeq
    // one fused assignment per book: same kernel, same pmod fold of the
    // all-NaN -1 as withCell (seed cids are 0..k-1, so withCell's cid
    // indirection is the identity here)
    val cellExprs: Seq[Column] = (0 until m).map { j =>
      pmod(call_function("nearest_centroid",
        slice(col("v"), j * sub + 1, sub),
        typedlit(pqSeeds(j).flatten.toArray), lit(sub)),
        lit(pqSeeds(j).size))
    } :+ pmod(call_function("nearest_centroid", col("v"),
        typedlit(flatSeeds.flatten.toArray), lit(dims)),
        lit(flatSeeds.size))
    // each exploded (dim, x) feeds TWO groups: subspace book dim/sub at
    // slot dim%sub, and the flat book (bid = m) at slot dim
    val rows = e.withColumn("__cells", array(cellExprs: _*))
      .select(col("__cells"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(expr(
        s"""explode(array(
           |  struct(CAST(dim / $sub AS INT) AS bid,
           |         __cells[CAST(dim / $sub AS INT)] AS cell,
           |         CAST(dim % $sub AS INT) AS sdim),
           |  struct($m AS bid, __cells[$m] AS cell, dim AS sdim)))"""
          .stripMargin).as("t"), col("x"))
      .groupBy(col("t.bid").as("bid"), col("t.cell").as("cell"),
        col("t.sdim").as("sdim"))
      .agg(avg("x").as("mv"))
      .collect()
    // driver assembly: per book, surviving cells sorted by cid, each
    // cell's means sorted by slot and FLOAT-rounded — lloyd's exact
    // output shape (cells that win no rows drop out here too)
    def bookOf(bid: Int): Seq[(Int, Seq[Float])] =
      rows.filter(_.getInt(0) == bid)
        .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
        .map { case (cell, rs) =>
          (cell, rs.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq)
        }
    (bookOf(m), Some(PqBooks.of(ksub, (0 until m).map(j => bookOf(j).map(_._2)))))
  }

  /** PQ codebooks → (kind=1, j=subspace, cid, centroid) rows (the
    * storable form; norms recompute on load with the same fold). */
  private[graft] def booksRows(b: PqBooks, spark: SparkSession): DataFrame = {
    import spark.implicits._
    (for { j <- 0 until b.m; c <- 0 until b.ksub } yield
      (1, j, c, b.flats(j).slice(c * b.sub, (c + 1) * b.sub).toSeq))
      .toDF("kind", "j", "cid", "centroid")
  }

  /** Rebuild [[PqBooks]] from stored kind-1 rows — bit-exact: floats
    * round-trip parquet, and [[PqBooks.of]] reruns the norm fold. */
  private[graft] def booksFromRows(rows: DataFrame, m: Int,
                                   ksub: Int): PqBooks = {
    val collected = rows.filter(col("kind") === 1).select("j", "cid", "centroid")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    require(collected.nonEmpty, "no PQ codebook rows in the index")
    PqBooks.of(ksub, (0 until m).map(j =>
      collected.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq))
  }

  /** PQ-encode an assigned corpus frame (`n_id`, `v`, `cell`): adds
    * `codes`, `eps`, `norm_x` (and the intermediate `x_sub_sq`). Encode
    * is m fused nearest-centroid kernel calls per row plus m
    * centroid-cosine scans for the residual norms (direction-nearest:
    * spherical PQ, matching the cosine metric).
    *
    * Residual norms come from the MATERIALIZED codes and x_sub_sq
    * columns (multiple references keep CollapseProject from re-inlining
    * either — the same contract as cellStructs' `scores`; an inlined
    * xSubSq would re-scan every corpus vector ~3× per row):
    *   ε_j² = ‖x_j‖² + ‖c‖² − 2·cos(x_j,c)·‖x_j‖·‖c‖
    * nanvl folds the zero-subvector case (cos NaN ⇒ dot 0 ⇒ ε = ‖c‖);
    * greatest(0, ·) guards fp cancellation under the sqrt. The kernel
    * returns -1 on all-NaN; pmod folds it to the last centroid, same as
    * withCell. */
  private[graft] def pqEncode(assigned: DataFrame, b: PqBooks): DataFrame = {
    val (m, ksub, sub) = (b.m, b.ksub, b.sub)
    def codeJ(j: Int): Column = pmod(
      call_function("nearest_centroid",
        slice(col("v"), j * sub + 1, sub), typedlit(b.flats(j)), lit(sub)),
      lit(ksub))
    def xSubSq(j: Int): Column = expr(
      s"aggregate(slice(v, ${j * sub + 1}, $sub), 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    def epsJ(j: Int): Column = {
      val code = element_at(col("codes"), j + 1)
      val xSq = element_at(col("x_sub_sq"), j + 1)
      val cSq = element_at(typedlit(b.normSqs(j)), code + 1)
      val dot = nanvl(
        element_at(call_function("centroid_cosines",
          slice(col("v"), j * sub + 1, sub), typedlit(b.flats(j)), lit(sub)),
          code + 1) * sqrt(xSq) * sqrt(cSq),
        lit(0.0))
      sqrt(greatest(lit(0.0), xSq + cSq - lit(2.0) * dot))
    }
    assigned
      .withColumn("codes", array((0 until m).map(codeJ): _*))
      .withColumn("x_sub_sq", array((0 until m).map(xSubSq): _*))
      .withColumn("eps", array((0 until m).map(epsJ): _*))
      .withColumn("norm_x", sqrt(expr(
        "aggregate(x_sub_sq, 0D, (a, x) -> a + x)")))
  }

  /** Query-side LUT build over (`n_id`, `v`) rows: per query,
    * `lut[j·ksub + c] = dot(qⱼ, c_{j,c})` flattened to one m·ksub-double
    * array (a broadcast-row payload), plus the per-subspace and total
    * query norms the error bound divides by. Returns
    * (q_id, v_q, lut, q_sub, q_norm). */
  private def pqQueries(queries: DataFrame, b: PqBooks): DataFrame = {
    val (m, sub) = (b.m, b.sub)
    def lutJ(j: Int): Column = {
      val qj = slice(col("v"), j * sub + 1, sub)
      val qNorm = sqrt(expr(
        s"aggregate(slice(v, ${j * sub + 1}, $sub), 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      val cNorms = typedlit(b.normSqs(j).map(math.sqrt))
      zip_with(call_function("centroid_cosines", qj, typedlit(b.flats(j)), lit(sub)),
        cNorms, (cs, cn) => cs * cn * qNorm)
    }
    val lut = concat((0 until m).map(lutJ): _*)
    val qSub = array((0 until m).map(j => sqrt(expr(
      s"aggregate(slice(v, ${j * sub + 1}, $sub), 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))): _*)
    queries
      .withColumn("lut", lut)
      .withColumn("q_sub", qSub)
      .select(col("n_id").as("q_id"), col("v").as("v_q"), col("lut"),
        col("q_sub"),
        sqrt(expr("aggregate(q_sub, 0D, (a, x) -> a + x * x)")).as("q_norm"))
  }

  /** The IVF-PQ candidate pipeline of an encoded corpus `index` for the
    * (`n_id`, `v`) `queries`: LUT build ([[pqQueries]]), probe,
    * [[cellPairs]], then the ADC estimate + Cauchy–Schwarz bound per
    * candidate — m lookups / m multiplies each. NaN-safety is
    * CONSERVATIVE (a NaN bound keeps the row: lb → -∞ never raises the
    * bar, ub → +∞ never prunes), and zero-norm corpus vectors are kept
    * outright — their exact cosine is NaN, which the final desc rank
    * orders FIRST, identical to ivfTopK's treatment of the same row.
    * Returns (bar frame — every bounded candidate with its `ub`/`__bar`
    * columns, pre-prune — and the [[pqSurvives]] survivors). */
  private def pqBars(index: DataFrame, quant: CoarseQuantizer, b: PqBooks,
                     queries: DataFrame, k: Int, nProbe: Int,
                     eligible: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val (m, ksub) = (b.m, b.ksub)
    val bounded = cellPairs(index, eligible,
        quant.probeCells(pqQueries(queries, b), "v_q", nProbe),
        probedBytesEstimate(queries, quant, nProbe, pqProbeRowBytes(quant.dims, b)))
      .withColumn("adc_dot", expr(
        s"aggregate(zip_with(codes, sequence(0, ${m - 1}), (c, j) -> element_at(lut, j * $ksub + c + 1)), 0D, (a, x) -> a + x)"))
      .withColumn("adc_err", expr(
        "aggregate(zip_with(eps, q_sub, (e, qn) -> e * qn), 0D, (a, x) -> a + x)"))
      // zero-norm guards run BEFORE the division on BOTH bounds — under
      // ANSI mode a double /0 must never evaluate, and the conservative
      // sentinels ([-∞, +∞] = "know nothing, keep the row") are what
      // matches ivfTopK's NaN-ranks-first treatment of the same vector
      .withColumn("lb", when(col("norm_x") === 0 || col("q_norm") === 0,
        lit(Double.NegativeInfinity))
        .otherwise(nanvl((col("adc_dot") - col("adc_err")) /
          (col("q_norm") * col("norm_x")), lit(Double.NegativeInfinity))))
      .withColumn("ub", when(col("norm_x") === 0 || col("q_norm") === 0,
        lit(Double.PositiveInfinity))
        .otherwise(nanvl((col("adc_dot") + col("adc_err")) /
          (col("q_norm") * col("norm_x")), lit(Double.PositiveInfinity))))
    val wQ = Window.partitionBy("q_id")
    val wLb = wQ.orderBy(col("lb").desc, col("n_id"))
    // the per-query bar: k-th best lower bound (null when a query has
    // fewer than k candidates — then nothing can be pruned)
    val withBar = bounded
      .withColumn("__rn_lb", row_number().over(wLb))
      .withColumn("__bar", max(when(col("__rn_lb") === k, col("lb"))).over(wQ))
    (withBar, withBar.filter(pqSurvives))
  }

  /** The bound-prune survivor predicate over a [[pqBars]] bar frame —
    * one definition, shared by the prune itself and the stats pass.
    * 2e-6 cushion: cos is compared at 6-dp rounding downstream. */
  private def pqSurvives: Column =
    col("__bar").isNull || col("ub") >= col("__bar") - lit(2e-6)

  /** SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — public literature):
    * cluster the embedding space with a coarse k-means quantizer, then
    * compare pairs ONLY within a cluster and drop all but one member of
    * each semantic-duplicate neighborhood. The clustering is what makes
    * the O(n²) cosine comparison tractable — pair candidates are an
    * equi-join on cell id, never a cross join, so at 100 TB the blowup is
    * bounded by the largest cell, which nCentroids controls.
    *
    * Keep rule (deterministic): a document is removed iff some SAME-CELL
    * neighbor with a smaller id has round-6 cosine ≥ `threshold` — i.e.
    * each intra-cell duplicate neighborhood keeps its lowest id. The
    * quantizer reuses [[ivfTopK]]'s deterministic recipe (first-K seeds,
    * one Lloyd iteration, FLOAT-rounded centroids, round-6 argmax with
    * cid tie-break), so the DuckDB oracle replays cells AND verdicts
    * exactly.
    *
    * @return (vec_id, cell, kept) for every corpus vector
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int = 0, threshold: Double = 0.4,
               knownCount: Option[Long] = None): DataFrame =
    cellBlocked("semDedup", emb, idCol, vecCol, nCentroids, knownCount)(
      _.limit(0).select(col("n_id").as("vec_id"),
        lit(null).cast("int").as("cell"), lit(true).as("kept"))) {
      (e, quant, _) => semDedupFromCells(quant.assign(e), threshold)
    }

  /** The verdict tail over an ASSIGNED corpus (`n_id`, `v`, `cell`) —
    * shared by [[semDedup]] and the index-backed
    * `Engine.semDedupIndexed` (the assignment is the expensive,
    * index-persistable half; this tail is the threshold-dependent
    * pair stage that must run per call). */
  private[graft] def semDedupFromCells(assigned: DataFrame,
                                       threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(assigned.sparkSession)
    val corpus = assigned.select(col("n_id"), col("v"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // within-cell pairs via the hot-cell salt grid: a hub cell's
    // occupancy² product spreads over ~(occ/bound)² reducers instead of
    // one; non-hot corpora take the plain-join path bit-identically
    val aS = corpus.select(col("n_id").as("a_id"), col("v").as("a_v"), col("cell"))
    val bS = corpus.select(col("n_id").as("b_id"), col("v").as("b_v"), col("cell"))
    val dups = SkewJoin.gridSalted(aS, bS, "cell", col("a_id"), col("b_id"),
        hotBoundFloor(assigned.sparkSession))
      .filter(col("a_id") < col("b_id"))
      .filter(round(cosine(col("a_v"), col("b_v")), 6) >= threshold)
      .select(col("b_id").as("dup_id")).distinct()
    corpus.join(dups, col("n_id") === col("dup_id"), "left")
      .select(col("n_id").as("vec_id"), col("cell"),
        col("dup_id").isNull.as("kept"))
  }

  /** Cluster-balanced (diversity) sampling: assign every vector to its
    * quantizer cell, then keep at most `perCell` rows per cell in
    * salted-hash order — prototype-based diversity selection (the
    * cluster-balance companion to [[semDedup]]'s within-cell pruning:
    * semantic clusters over-represented in the corpus contribute at
    * most their quota, so a sample covers the embedding space instead
    * of mirroring its density). Deterministic end to end: the
    * [[ivfTopK]] quantizer recipe assigns cells, and membership is
    * [[Sampling.quotaPerGroup]]'s salted-hash draw — both
    * oracle-replayable.
    *
    * Scale shape: two corpus-linear kernel passes (assign) + one
    * window shuffle keyed by cell. Cells ∝ corpus keeps partitions
    * bounded (same argument as semDedup's cell sizing).
    *
    * @return (idCol, cell) — the kept sample
    */
  def cellBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
                         nCentroids: Int = 0, perCell: Int = 10,
                         salt: String = "cbs",
                         knownCount: Option[Long] = None): DataFrame =
    cellBlocked("cellBalancedSample", emb, idCol, vecCol, nCentroids, knownCount)(
      _.limit(0).select(col("n_id").as(idCol),
        lit(null).cast("int").as("cell"))) { (e, quant, _) =>
      val cells = quant.assign(e)
        .select(col("n_id").as(idCol), col("cell"))
      Sampling.quotaPerGroup(cells, Seq("cell"), idCol, perCell, salt)
    }

  /** Mutual k-nearest-neighbor graph over the embedding corpus — the
    * backbone structure of graph-based curation (NN-descent-style
    * near-dup graphs, HNSW ground truth, diversity/coverage analyses).
    * An undirected edge (a, b) exists iff b is among a's k nearest
    * SAME-CELL neighbors AND a is among b's — the standard mutual-kNN
    * symmetrization, which drops the hub edges a one-directional kNN
    * graph accumulates around dense regions.
    *
    * All-pairs exact kNN is corpus² and cannot exist at 100 TB; the
    * scale path is the same coarse-quantizer blocking as [[semDedup]]:
    * candidates are an equi-join on cell id (largest cell bounds the
    * blowup, nCentroids ∝ corpus keeps cells constant-sized), ranking is
    * one window shuffle keyed by source vector. Because the quantizer is
    * the deterministic [[ivfTopK]] recipe, the DuckDB oracle replays
    * cells, ranks, and mutuality exactly (`knn_graph` gate).
    *
    * @return (id_a, id_b, cos) with id_a < id_b — one row per mutual edge
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, nCentroids: Int = 0,
               knownCount: Option[Long] = None): DataFrame =
    cellBlocked("knnGraph", emb, idCol, vecCol, nCentroids, knownCount)(
      _.limit(0).select(col("n_id").as("id_a"), col("n_id").as("id_b"),
        lit(0.0).as("cos"))) { (e, quant, _) => knnGraphFromCells(quant.assign(e), k) }

  /** The mutual-kNN tail over an ASSIGNED corpus (`n_id`, `v`, `cell`)
    * — shared by [[knnGraph]] and the index-backed
    * `Engine.knnGraphIndexed` (same split rationale as
    * [[semDedupFromCells]]). */
  private[graft] def knnGraphFromCells(assigned: DataFrame,
                                       k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(assigned.sparkSession)
    val cells = assigned.select(col("n_id"), col("v"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate pairs ride the hot-cell salt grid (see semDedup) — same
    // pairs, bounded per-reducer product under cell skew
    val aS = cells.select(col("n_id").as("src"), col("v").as("v_a"), col("cell"))
    val bS = cells.select(col("n_id").as("dst"), col("v").as("v_b"), col("cell"))
    val directed = SkewJoin.gridSalted(aS, bS, "cell", col("src"), col("dst"),
        hotBoundFloor(assigned.sparkSession))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val knn = directed.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    // cos is exactly symmetric (same elementwise products, same
    // left-to-right fold), so max() just collapses the two directions
    knn.select(least(col("src"), col("dst")).as("id_a"),
        greatest(col("src"), col("dst")).as("id_b"), col("cos"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("deg"), max("cos").as("cos"))
      .filter(col("deg") === 2)
      .select("id_a", "id_b", "cos")
  }

  /** Per-label centroid cohesion stats for labeled embeddings (classifier
    * training-data curation: low intra-class cohesion flags label noise).
    * Per label: vector count and mean cosine-to-centroid.
    *
    * Determinism recipe: centroid components round to FLOAT (like
    * [[ivfTopK]]'s Lloyd step); each cosine converts to integer
    * micro-units (`round(cos·1e6)`) so the per-label SUM is exact integer
    * arithmetic — summation order cannot perturb the mean, and the final
    * value is a single double division. Fully distributed: centroid build
    * is a (label, dim) aggregate with map-side combine; centroids
    * broadcast back (K×d metadata); one corpus-linear cosine pass.
    */
  def labelCentroidStats(emb: DataFrame, idCol: String, vecCol: String,
                         labelCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(labelCol).as("label"), col(vecCol).as("v"))
    val centroids = e
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(avg("x").as("m"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("ms"))
      .select(col("label"),
        expr("transform(ms, s -> CAST(s.m AS FLOAT))").as("centroid"))
    // null-safe join key: the unlabeled bucket is a real group (GROUP BY
    // keeps nulls), so the centroid re-join must not drop it
    e.join(broadcast(centroids.withColumnRenamed("label", "c_label")),
        col("label") <=> col("c_label"))
      .drop("c_label")
      .withColumn("micro",
        round(cosine(col("v"), col("centroid")) * 1000000L).cast("long"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("micro").as("sum_micro"))
      .withColumn("avg_cos",
        col("sum_micro").cast("double") / (col("n_vecs") * 1000000L))
      .select("label", "n_vecs", "avg_cos")
  }

  /** kNN label vote — classify query vectors by the majority label of
    * their k exact nearest neighbors (the standard embedding-space label
    * propagation / quality-classifier transfer step in data curation).
    *
    * Rides [[bruteForceTopK]]'s contract (queries broadcast, corpus
    * scans in place, cosines rounded to 6 dp with n_id tie-break), so
    * the vote is deterministic end-to-end; vote ties break by best
    * (smallest) neighbor rank holding that label, then by label value —
    * both reproducible in any engine.
    *
    * Scale shape: top-k is the broadcast×scan; the label lookup is an
    * equi-join on the neighbor id (k rows per query); the vote is a
    * (query, label) aggregate with map-side combine.
    *
    * @return (q_id, label, votes) — one row per query
    */
  def knnLabelVote(emb: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, queryPred: Column, k: Int): DataFrame = {
    val top = bruteForceTopK(emb, idCol, vecCol, queryPred, k)
    val labels = emb.select(col(idCol).as("n_id"), col(labelCol).as("n_label"))
    val votes = top.join(labels, "n_id")
      .groupBy("q_id", "n_label")
      .agg(count(lit(1)).as("votes"), min("rnk").as("best_rnk"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("best_rnk").asc, col("n_label").asc)
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("q_id"), col("n_label").as("label"), col("votes"))
  }

  /** Semantic decontamination — the embedding-space analog of
    * [[Decontaminate.contaminatedIds]]'s n-gram rule: ids of corpus rows
    * whose embedding lies within cosine ≥ `threshold` of ANY benchmark
    * vector (paraphrased eval contamination that exact n-gram overlap
    * misses).
    *
    * Scale shape: the benchmark set is eval-set-sized and BROADCASTS;
    * the corpus never shuffles. The plan is a BroadcastNestedLoopJoin
    * LeftSemi — the documented broadcast-small-side contract (same as
    * [[bruteForceTopK]]) — which short-circuits per corpus row on its
    * first matching bench vector. Cosines round to 6 dp for
    * cross-engine determinism. */
  def semanticContaminatedIds(emb: DataFrame, idCol: String, vecCol: String,
                              bench: DataFrame, benchVecCol: String,
                              threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val b = bench.select(col(benchVecCol).as("__bv"))
    emb.select(col(idCol), col(vecCol).as("__v"))
      .join(broadcast(b),
        round(cosine(col("__v"), col("__bv")), 6) >= threshold, "left_semi")
      .select(idCol)
  }

  /** `emb` minus the semantically contaminated IDS — the exact dual of
    * [[semanticContaminatedIds]]: every row sharing an id with a
    * contaminated row is removed, even when ids repeat (re-embedded
    * duplicates), so `decontaminate(emb) ∪ emb.semijoin(contaminatedIds)`
    * always partitions `emb`. Two corpus scans: the broadcast-bench
    * LeftSemi that finds the ids, then a LeftAnti on the id key. The id
    * anti-join carries NO broadcast hint — the contaminated set is
    * corpus-sized in the worst case (a forced broadcast would blow the
    * ceiling at scale); AQE broadcasts it dynamically in the common
    * small case. */
  def semanticDecontaminate(emb: DataFrame, idCol: String, vecCol: String,
                            bench: DataFrame, benchVecCol: String,
                            threshold: Double): DataFrame = {
    val bad = semanticContaminatedIds(
      emb, idCol, vecCol, bench, benchVecCol, threshold).distinct()
    emb.join(bad, Seq(idCol), "left_anti")
  }

  /** Symmetric per-vector int8 quantization — the storage/serving
    * compression step of a 100 TB embedding pipeline (4× smaller than
    * FLOAT, dot products stay SIMD-able): `scale = max|v| / 127`,
    * `q_i = round(v_i / scale)` ∈ [-127, 127]; an all-zero vector
    * quantizes to zeros with scale 0.
    *
    * Pure projection — no shuffle, no state. Determinism recipe: the
    * max is order-independent, each element's quantization and nano-unit
    * reconstruction error are per-element double arithmetic (exact in
    * both engines), and the error SUM is over pre-rounded integers so
    * summation order cannot perturb it.
    *
    * @return (idCol, n_dims, scale, q, q_sum, q_abs_max, err_nano_sum)
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("n_dims", size(col("__v")).cast("long"))
      .withColumn("scale", expr(
        "aggregate(__v, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127"))
      .withColumn("q", expr(
        "transform(__v, x -> CAST(CASE WHEN scale = 0 THEN 0 ELSE round(CAST(x AS DOUBLE) / scale) END AS INT))"))
      .withColumn("q_sum", expr("aggregate(q, 0L, (s, x) -> s + x)"))
      .withColumn("q_abs_max", expr("aggregate(q, 0L, (s, x) -> greatest(s, abs(CAST(x AS BIGINT))))"))
      .withColumn("err_nano_sum", expr(
        """aggregate(zip_with(__v, q, (x, qi) ->
          |  CAST(round(abs(CAST(x AS DOUBLE) - qi * scale) * 1e9) AS BIGINT)),
          |0L, (s, e) -> s + e)""".stripMargin))
      .drop("__v")

  /** Approximate top-k via LSH bucketing: corpus hashed to sign-signature
    * buckets once; each query multi-probes its own bucket plus every
    * 1- and 2-bit-flip neighbor (standard multi-probe — raises recall
    * several× at the cost of 1+p+C(p,2) probe rows per query, with the
    * corpus side untouched). Recall is asserted against
    * [[bruteForceTopK]] in the spec, not an oracle. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, dims: Int, planes: Int = 6): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val sig = planeSignature(col("v"), dims, planes)
    val corpus = emb.select(col(idCol).as("n_id"), col(vecCol).as("v"))
      .withColumn("bucket", sig)
      .withColumnRenamed("v", "v_n")
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("v"))
      .withColumn("__sig", sig)
      .withColumn("bucket", explode(array(
        Dedup.flipMasks(planes, 2).map(m => col("__sig").bitwiseXOR(lit(m))): _*)))
      .drop("__sig")
      .withColumnRenamed("v", "v_q")
    topKByCosine(corpus.join(broadcast(queries), "bucket")
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id"), k)
  }

  /** Margin-based parallel-corpus (bitext) mining over a shared embedding
    * space — the ratio-margin criterion of Artetxe & Schwenk 2019
    * ("Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", the method behind LASER/CCMatrix-scale harvesting).
    * A cross-side candidate pair (x ∈ A, y ∈ B) scores
    *
    *   margin(x, y) = cos(x, y) / (½·(avgᵏ(x) + avgᵏ(y)))
    *
    * where avgᵏ is the mean cosine to the vector's k nearest CROSS-side
    * candidates — dividing by local density is what suppresses the hub
    * sentences a raw-cosine cut mines thousands of false pairs around.
    * A pair is emitted iff each member is the other's best-margin
    * candidate (the mutual-argmax "max" strategy) and the margin clears
    * `threshold`.
    *
    * Scale shape: all-pairs cross-lingual scoring is |A|·|B| and cannot
    * exist at 100 TB; candidates come from the same deterministic
    * coarse-quantizer cell blocking as [[semDedup]]/[[knnGraph]] — the
    * quantizer trains on the UNION of both sides (one shared space, the
    * LASER premise), candidate volume is the per-cell cross-side product
    * (nCentroids ∝ corpus keeps occupancy constant), and every window /
    * aggregate downstream is keyed by a single vector id. Quantizer
    * metadata is the only collect (K×d).
    *
    * Determinism recipe: cosines round to 6 dp then convert to integer
    * micro-units, so each side's kNN mass is an exact integer sum and
    * the margin is ONE double division of exactly-representable
    * integers, rounded to 6 dp — the DuckDB oracle replays cells, ranks,
    * sums, and the division verbatim (`bitext_mine` gate).
    *
    * @param sideA     predicate marking source-side rows; the rest are
    *                  the target side
    * @param k         neighborhood size for the density normalizer
    * @param threshold minimum margin for a mined pair (1.0 = "better
    *                  than its neighborhood average")
    * @return (id_a, id_b, cos, margin) — id_a from side A; at most one
    *         row per id_a and per id_b (mutual argmax)
    */
  def bitextMine(emb: DataFrame, idCol: String, vecCol: String,
                 sideA: Column, k: Int = 4, threshold: Double = 1.0,
                 nCentroids: Int = 0,
                 knownCount: Option[Long] = None): DataFrame =
    cellBlocked("bitextMine", emb, idCol, vecCol, nCentroids, knownCount,
      extra = Seq(sideA.as("is_a")))(
      _.limit(0).select(col("n_id").as("id_a"), col("n_id").as("id_b"),
        lit(0.0).as("cos"), lit(0.0).as("margin"))) { (e, quant, _) =>
      // persisted: both sides, plus the grid occupancy scan, read it
      val cells = quant.assign(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = cells.filter(col("is_a"))
        .select(col("n_id").as("src"), col("v").as("v_a"), col("cell"))
      val b = cells.filter(!col("is_a"))
        .select(col("n_id").as("dst"), col("v").as("v_b"), col("cell"))
      // both kNN directions rank the SAME cell-blocked pair set, so the
      // candidate frame builds once; persisted because the normalizer
      // aggregates and the final scoring all consume it. Cross-cell pairs
      // ride the hot-cell salt grid (see semDedup) — identical pairs,
      // bounded per-reducer product under cell skew.
      val wA = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
      val wB = Window.partitionBy("dst").orderBy(col("cos").desc, col("src"))
      val ranked = SkewJoin.gridSalted(a, b, "cell", col("src"), col("dst"),
          hotBoundFloor(emb.sparkSession))
        .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
        // a zero-norm vector yields NaN cosines: meaningless as a mining
        // candidate, and the micro-unit cast of NaN is an error under
        // ANSI — drop the pair before the cast (the oracle filters
        // identically)
        .filter(!isnan(col("cos")))
        .withColumn("c_micro", round(col("cos") * 1000000L).cast("long"))
        .select("src", "dst", "cos", "c_micro")
        .withColumn("rnk_a", row_number().over(wA))
        .withColumn("rnk_b", row_number().over(wB))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sumsA = ranked.filter(col("rnk_a") <= k)
        .groupBy("src").agg(sum("c_micro").as("sa"), count(lit(1)).as("ca"))
      val sumsB = ranked.filter(col("rnk_b") <= k)
        .groupBy("dst").agg(sum("c_micro").as("sb"), count(lit(1)).as("cb"))
      // margin = cos / (½(sa/ca + sb/cb)) rearranged to a single division
      // of exact integer products (counts ≤ k, micro-sums ≤ k·10⁶ — all
      // exactly representable in double)
      val scored = ranked.filter(col("rnk_a") <= k && col("rnk_b") <= k)
        .join(sumsA, "src").join(sumsB, "dst")
        // a zero denominator (all-zero or exactly-canceling neighborhood
        // mass) makes the margin undefined — such pairs are unminable and
        // are dropped BEFORE the division (ANSI-safe; oracle matches)
        .filter(col("sa") * col("cb") + col("sb") * col("ca") =!= 0)
        .withColumn("margin",
          round(lit(2.0) * col("c_micro") * col("ca") * col("cb") /
            (col("sa") * col("cb") + col("sb") * col("ca")), 6))
      val wFa = Window.partitionBy("src").orderBy(col("margin").desc, col("dst"))
      val wFb = Window.partitionBy("dst").orderBy(col("margin").desc, col("src"))
      scored
        .withColumn("rf", row_number().over(wFa))
        .withColumn("rb", row_number().over(wFb))
        .filter(col("rf") === 1 && col("rb") === 1
          && col("margin") >= threshold)
        .select(col("src").as("id_a"), col("dst").as("id_b"),
          col("cos"), col("margin"))
    }

  /** Johnson–Lindenstrauss sign random projection: reduce a `dims`-wide
    * embedding to `k` coordinates p_j = Σ_i s(j,i)·v_i with a dense ±1
    * sign matrix (Achlioptas JCSS'03 — sign projections satisfy the JL
    * distance-preservation lemma with the same k = O(ε⁻²·ln n) bound as
    * Gaussian ones, and need no RNG state). The pre-step that makes the
    * pairwise operators (ANN shortlists, near-dup blocking, k-means on
    * corpora with wide embeddings) move k/dims of the bytes through
    * every downstream shuffle.
    *
    * Determinism: signs come from [[CrossHash]] over `"salt:j:i"` — a
    * plan-time constant matrix that replays bit-identically in DuckDB
    * SQL and plain Scala; coordinates are micro-integers
    * (`round(v·1e6)` BIGINT), so each projection is an EXACT integer
    * sum — no float summation order anywhere. Scale shape: the k×dims
    * sign matrix is a closure literal (no join, no broadcast exchange);
    * the projection is one narrow codegen'd map over the scan — zero
    * shuffles at any corpus size.
    *
    * @return (idCol, j, p) — k rows per vector, j ∈ [0, k) */
  def randomProjection(embs: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding", dims: Int = 64,
                       k: Int = 16, salt: String = "rp"): DataFrame = {
    require(k >= 1 && dims >= 1, "k and dims must be positive")
    val signs: Seq[Seq[Long]] = (0 until k).map { j =>
      (0 until dims).map { i =>
        if (CrossHash.scalaHash56(s"$salt:$j:$i") % 2 == 0) 1L else -1L
      }
    }
    val micros = transform(col(vecCol),
      x => round(x.cast("double") * lit(1e6)).cast("long"))
    val projs = signs.map { sj =>
      aggregate(
        zip_with(micros, typedLit(sj), (m, s) => m * s),
        lit(0L), (acc, x) => acc + x)
    }
    embs.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol), posexplode(array(projs: _*)).as(Seq("j", "p")))
      .select(col(idCol), col("j").cast("long").as("j"), col("p"))
  }

  /** Greedy k-center coreset (farthest-point traversal, Gonzalez TCS'85):
    * pick the `k` MOST MUTUALLY DISSIMILAR vectors — seed = lowest id,
    * then k−1 rounds of "the point least similar to its nearest chosen
    * center". The diverse-subset-selection primitive for eval-set
    * construction and prototype picking; the greedy rule is the classic
    * 2-approximation to the optimal k-center cover.
    *
    * Determinism is total, so the whole traversal replays in SQL: every
    * round scores the corpus against ALL chosen centers in one fused
    * [[graft.functions.CentroidCosines]] pass (centers ride into the
    * kernel as a plan literal — K×d floats, the same budget as the
    * IVF quantizer), similarities round to 6 dp, and the argmin breaks
    * ties on lowest id. The per-round reduction is a limit-1
    * TakeOrdered (top-1 per partition, then a driver pick of k
    * candidates) — never a global sort. Scale shape: k corpus scans,
    * zero shuffles, zero joins, driver traffic k rows + k×d floats.
    *
    * @return one row per selected center, plus its cover population:
    *         (step, center_id, sel_micro, n_assigned) — `sel_micro` =
    *         the center's similarity to its nearest PREDECESSOR center
    *         in micro units (NULL for the seed; monotone non-decreasing
    *         diversity gauge), `n_assigned` = corpus rows whose
    *         round-6-argmax center this is (ties → earliest step). */
  def kCenterCoreset(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("n_id"), col(vecCol).as("v"))
    val seed = e.orderBy("n_id").limit(1).collect()
    if (seed.isEmpty)
      return Seq.empty[(Int, Long, Option[Long], Long)]
        .toDF("step", "center_id", "sel_micro", "n_assigned")
    // (step, id, vector, sel_micro)
    var centers = Vector[(Int, Long, Seq[Float], Option[Long])](
      (0, seed(0).getLong(0), seed(0).getSeq[Float](1), None))
    def scoresOf(cs: Vector[(Int, Long, Seq[Float], Option[Long])]): Column = {
      val dims = cs.head._3.length
      val flat = cs.flatMap(_._3).toArray
      call_function("centroid_cosines", col("v"), typedlit(flat), lit(dims))
    }
    while (centers.size < k) {
      val next = e.withColumn("scores", scoresOf(centers))
        .withColumn("best",
          expr("array_max(transform(scores, s -> round(s, 6)))"))
        .withColumn("sel_micro", round(col("best") * lit(1e6)).cast("long"))
        .orderBy(col("best").asc, col("n_id").asc)
        .limit(1).select("n_id", "v", "sel_micro").collect()
      centers :+= ((centers.size, next(0).getLong(0),
        next(0).getSeq[Float](1), Some(next(0).getLong(2))))
    }
    // Final cover pass: argmax round-6 similarity, ties → earliest step.
    // One kernel evaluation per row (scores materialized as a column);
    // the struct-max is over the k-length score array, not the corpus.
    val picked = e.withColumn("scores", scoresOf(centers))
      .withColumn("pick", array_max(array(centers.map { c =>
        struct(round(element_at(col("scores"), c._1 + 1), 6).as("cos"),
          lit(-c._1).as("negstep"))
      }: _*)))
      .select((-col("pick.negstep")).as("step"))
    val sizes = picked.groupBy("step").agg(count(lit(1)).as("n_assigned"))
    val centDf = centers
      .map { case (s, id, _, m) => (s, id, m) }
      .toDF("step", "center_id", "sel_micro")
    centDf.join(sizes, Seq("step"), "left")
      .select(col("step"), col("center_id"), col("sel_micro"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
  }
}
