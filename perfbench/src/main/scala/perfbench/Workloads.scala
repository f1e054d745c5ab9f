package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.engine.{Engine, ModelConfig, ProjectRunner, Unchanged}
import graft.schema.StreamSchema
import graft.streaming.StreamingEngine

/** What every workload shares: the session, the generated inputs (`data`
  * at the sf0.1 shape, `small` at a tenth of it), the workload seed and
  * the recorder. */
final class Ctx(val spark: SparkSession, val data: String, val small: String,
                val seed: Long, val rec: Recorder) {
  /** A generator for one seeded choice (shard membership, preview order,
    * query ids, forget predicates); `salt` keeps the choices independent. */
  def rng(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
}

/** One closed-loop workload over a fresh engine root. The runner times
  * `setup`, runs an untimed warm-up iteration, then times whole
  * iterations; `checks` run after the timed region. Time spent in
  * `untimed` blocks inside an iteration is excluded from its timing.
  * Traced runs add a layer pass after the iterations: calls into the
  * layers the iterations do not reach, measured per layer only. */
abstract class Workload(val ctx: Ctx, val root: String) {
  protected def spark: SparkSession = ctx.spark
  protected def rec: Recorder = ctx.rec
  private var excludedNs = 0L

  def setup(): Unit
  def iterate(i: Int): Unit
  /** One layer pass (`k` counts the passes); traced runs only. */
  def layerPass(k: Int): Unit
  def checks(): Unit
  /** The engine under test, for the end-of-run storage and catalog reads. */
  def engine: Option[Engine]
  /** Streams whose storage the end-of-run gauges sum. */
  def storageStreams: Seq[String] = Nil
  def close(): Unit = engine.foreach(_.close())

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally excludedNs += System.nanoTime() - t0
  }
  def takeExcludedMs(): Double = { val v = excludedNs / 1e6; excludedNs = 0; v }

  protected def timed[T](series: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try body finally rec.sample(series, Clock.nowMs - t0)
  }

  /** One timed `Catalog.list()` probe (traced runs only). */
  def catalogProbe(): Unit = engine.foreach { e =>
    val t0 = Clock.nowMs
    val n = e.catalog.list().size
    rec.sample("catalog.list_ms", Clock.nowMs - t0)
    rec.gauge("catalog.streams", n)
  }

  def endGauges(): Unit = engine.foreach { e =>
    val st = storageStreams.map(e.describeStream)
    rec.gauge("storage.files", st.map(_.files).sum)
    rec.gauge("storage.bytes", st.map(_.bytes).sum)
  }
}

object Workload {
  def make(name: String, ctx: Ctx, root: String): Workload = name match {
    case "dbt_build" => new DbtBuild(ctx, root)
    case "stream_ingest" => new StreamIngest(ctx, root)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Seeded sample of `k` distinct elements, in seeded order. */
  def pick[T](r: scala.util.Random, xs: Seq[T], k: Int): Seq[T] = r.shuffle(xs).take(k)
}

/** dbt_build: the batch path. Each iteration: seeds → models → tests
  * under full refresh, a no-change rebuild of the models, then seeded
  * previews — the CLI path the reference is named after. Loads the driver
  * path (catalog reads, per-call view registration, analysis, spec-hash
  * diffing) and batch overwrites. The layer pass is a cold-cache run of
  * two operator gates: the `graft.operators` Vocab and Graphs kernels
  * through `Queries`. */
final class DbtBuild(ctx: Ctx, root: String) extends Workload(ctx, root) {
  import DbtBuild._
  private val project = s"$root/project"
  private var e: Engine = _
  private var runner: ProjectRunner = _
  private lazy val fns = graft.SparkEntry.queries
  private var gatesRan = false
  def engine: Option[Engine] = Option(e)
  override def storageStreams: Seq[String] = Seq("lineitem", "stg_orders", "nation_revenue")

  def setup(): Unit = {
    DbtProject.write(spark, ctx.small, project)
    e = new Engine(spark, s"$root/catalog")
    runner = new ProjectRunner(e)
    DbtProject.sources.foreach { t =>
      val df = Tables.load(spark, ctx.small, t)
      e.createStream(t, StreamSchema.fromStruct(df.schema))
      e.appendRows(t, df)
    }
  }

  /** Every preview shape once per iteration, with seeded parameters, in
    * seeded order. */
  private def previews(i: Int): Seq[String] = {
    val r = ctx.rng(1000 + i)
    r.shuffle(Seq(
      s"SELECT n_name, revenue, n_lines FROM nation_revenue WHERE n_nationkey = ${r.nextInt(25)}",
      s"SELECT custkey, acctbal FROM ${DbtProject.segmentModel} WHERE custkey % 50 = ${r.nextInt(50)}",
      s"SELECT orderkey, orderdate FROM stg_orders WHERE totalprice > ${r.nextInt(400000)} " +
        "ORDER BY totalprice DESC",
      s"SELECT n_name, count(*) AS n FROM customer_nation WHERE acctbal > ${r.nextInt(5000)} " +
        "GROUP BY n_name",
      s"SELECT orderkey, totalprice FROM stg_orders WHERE custkey = ${r.nextInt(1500)}"))
  }

  def iterate(i: Int): Unit = {
    val models = s"$project/models"
    val t0 = Clock.nowMs
    rec.span("project.seeds")(runner.runSeeds(s"$project/seeds", fullRefresh = true))
    rec.span("project.run")(runner.run(models, fullRefresh = true))
    val tests = rec.span("project.tests")(runner.runTests(models))
    rec.sample("build_ms", Clock.nowMs - t0)
    val pass = e.TestPass
    untimed(tests.foreach { case (n, t) => rec.check(s"schema test $n")(t.status == pass) })
    val noop = timed("noop_build_ms")(rec.span("project.noop_run")(runner.run(models)))
    untimed(rec.check("no-change rebuild leaves every model unchanged")(
      DbtProject.models.forall(m => noop.get(m._1).contains(Unchanged))))
    previews(i).foreach { sql =>
      val rows = timed("preview_ms")(rec.span("engine.preview")(e.preview(sql, 20)))
      untimed(rec.check(s"preview returns rows: $sql")(rows.nonEmpty))
    }
  }

  def layerPass(k: Int): Unit = {
    timed("gates_ms")(Gates.foreach { g =>
      spark.catalog.clearCache()
      rec.span(s"gate.$g")(fns(g)(spark, ctx.small).write.mode("overwrite").parquet(s"$root/out/$g"))
    })
    spark.catalog.clearCache()
    gatesRan = true
  }

  def checks(): Unit = {
    val li = spark.read.parquet(s"${ctx.small}/lineitem.parquet")
    val expected = li.agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
      .head().getDouble(0)
    val got = e.readStream("nation_revenue").agg(sum("revenue")).head().getDouble(0)
    rec.check(s"nation_revenue total $got == source parquet sum $expected")(
      math.abs(got - expected) <= 1e-9 * math.abs(expected))
    // the gate rows are compared with their DuckDB oracles by run.py (it
    // owns the DuckDB install); this writes the oracle SQL next to them
    if (gatesRan) {
      val oracle = graft.SparkEntry.oracleSql
      Json.write(s"$root/out/oracle_sql.json", Gates.map(g => g -> oracle(g)).toMap)
    }
  }
}

object DbtBuild {
  /** One Vocab and one Graphs gate: the `graft.operators` kernels at sf0.01. */
  val Gates = Seq("bigram_logppl", "triangle_counts")
}

/** stream_ingest: the write paths. Each iteration appends a fixed-size
  * event shard to a source stream, catches two inactive downstream models
  * up with `refreshAvailable` (an append-mode filter and a primary-key
  * aggregate change stream) and reads the change stream compacted. Loads
  * streaming query start, state store and checkpoint commits, and the
  * append path. The layer pass curates: it ingests a MinHash-deduplicated
  * document shard and an ANN-indexed embedding shard into their own
  * streams, serves indexed top-k queries and forgets one seeded residue
  * class of each curated stream — the Dedup/Similarity sibling-index
  * families. The first pass creates the curated streams and bootstraps
  * their indexes. */
final class StreamIngest(ctx: Ctx, root: String) extends Workload(ctx, root) {
  import StreamIngest._
  private var e: Engine = _
  private var se: StreamingEngine = _
  private var cursor = 0
  private lazy val docIds = ctx.rng(2).shuffle((0 until 5000).map(_.toLong))
  private lazy val vecIds = ctx.rng(3).shuffle((0 until 2000).map(_.toLong))
  private var docCursor = 0
  private var vecCursor = 0
  private val liveDocs = scala.collection.mutable.LinkedHashSet[Long]()
  private val liveVecs = scala.collection.mutable.LinkedHashSet[Long]()
  private val forgotDocs = scala.collection.mutable.ArrayBuffer[Long]()
  private val forgotVecs = scala.collection.mutable.ArrayBuffer[Long]()
  private val sampled = scala.collection.mutable.ArrayBuffer[Long]()
  private var offered = 0L
  private var dropped = 0L
  private var rebuilds = 0L
  private var trainedN: Option[String] = None
  def engine: Option[Engine] = Option(e)
  override def storageStreams: Seq[String] = Seq(Source, Filtered, Totals)

  private def shard(k: Int): DataFrame = {
    val (rows, schema) = plan(ctx)
    val n = rows.length / ShardRows
    val cycle = k / n
    val base = rows.slice((k % n) * ShardRows, (k % n + 1) * ShardRows)
    // beyond one pass over the table, ids shift so every event stays unique
    val shifted = if (cycle == 0) base else base.map(r =>
      Row.fromSeq(r.toSeq.updated(0, r.getLong(0) + cycle * 10000000L)))
    spark.createDataFrame(java.util.Arrays.asList(shifted: _*), schema)
  }

  private lazy val documents = spark.read.parquet(s"${ctx.data}/documents.parquet")
    .select("doc_id", "text", "lang", "source")
  private lazy val embeddings = spark.read.parquet(s"${ctx.data}/embeddings.parquet")
  private def take(ids: IndexedSeq[Long], from: Int, n: Int): Seq[Long] = {
    require(from + n <= ids.size, "stream_ingest ran past its curated corpus")
    ids.slice(from, from + n)
  }
  private def nextDocs(n: Int): Seq[Long] = { val s = take(docIds, docCursor, n); docCursor += n; s }
  private def nextVecs(n: Int): Seq[Long] = { val s = take(vecIds, vecCursor, n); vecCursor += n; s }

  /** A dedup ingest rebuilds the MinHash siblings when their pinned main
    * epoch no longer matches the stream; an ANN rebuild retrains the
    * codebooks, which changes the index's pinned training size. */
  private def mhIndexLive: Boolean =
    e.catalog.get(e.mhPostingsName(Docs)).exists(p => e.catalog.get(Docs).exists(d =>
      p.properties.get("mh_main_epoch").contains(d.writeEpoch.toString)))
  private def noteAnnRebuild(): Unit = {
    val now = e.catalog.get(e.annIndexName(Vecs)).flatMap(_.properties.get("ann_trained_n"))
    if (now != trainedN) rebuilds += 1
    trainedN = now
  }

  def setup(): Unit = {
    e = new Engine(spark, s"$root/catalog")
    se = new StreamingEngine(e)
    e.createStream(Source, StreamSchema.fromStruct(plan(ctx)._2))
    e.createModel(Filtered,
      s"SELECT event_id, user_id, event_type, value FROM $Source " +
        "WHERE event_type IN ('purchase', 'click') AND value > 10.0",
      ModelConfig(active = false))
    e.createModel(Totals,
      s"SELECT user_id, count(*) AS n, sum(value) AS total FROM $Source GROUP BY user_id",
      ModelConfig(primaryKey = Seq("user_id"), active = false))
    // source load: the first shards in one append (the first refresh of
    // each model catches them up)
    e.appendRows(Source, (0 until BaseShards).map(shard).reduce(_ union _))
    cursor = BaseShards
  }

  def iterate(i: Int): Unit = {
    val df = shard(cursor)
    cursor += 1
    val t0 = Clock.nowMs
    rec.span("engine.append_rows")(e.appendRows(Source, df))
    rec.span("streaming.refresh_available")(se.refreshAvailable(Filtered))
    rec.span("streaming.refresh_available")(se.refreshAvailable(Totals))
    val n = rec.span("engine.read_stream")(e.readStream(Totals).count())
    rec.sample("freshness_ms", Clock.nowMs - t0)
    rec.sample("shard_rows", ShardRows)
    untimed(rec.check("compacted change stream has one row per user")(n > 0 && n <= 1500))
  }

  /** The curated streams and their base corpus (first layer pass). */
  private def curatedSetup(): Unit = {
    e.createStream(Docs, StreamSchema.fromStruct(documents.schema))
    e.createStream(Vecs, StreamSchema.fromStruct(embeddings.schema))
    val d = nextDocs(BaseDocs)
    e.appendRows(Docs, documents.where(col("doc_id").isin(d: _*)))
    liveDocs ++= d
    val v = nextVecs(BaseVecs)
    e.appendRows(Vecs, embeddings.where(col("vec_id").isin(v: _*)))
    liveVecs ++= v
  }

  def layerPass(k: Int): Unit = {
    if (k == 0) curatedSetup()
    val r = ctx.rng(2000 + k)
    // ingest
    val docs = nextDocs(DocShard)
    if (!mhIndexLive) rebuilds += 1
    val dn = timed("dedup_ingest_ms")(rec.span("engine.append_deduped")(
      e.appendRowsDeduped(Docs, documents.where(col("doc_id").isin(docs: _*)), "doc_id", "text")))
    val kept = e.readStream(Docs).where(col("doc_id").isin(docs: _*))
      .select("doc_id").collect().map(_.getLong(0))
    rec.check(s"dedup survivors ${kept.length} + dropped $dn == offered ${docs.size}")(
      kept.length + dn == docs.size)
    offered += docs.size
    dropped += dn
    liveDocs ++= kept
    val vecs = nextVecs(VecShard)
    rec.span("engine.append_ann_indexed")(e.appendRowsAnnIndexed(Vecs,
      embeddings.where(col("vec_id").isin(vecs: _*)), "vec_id", "embedding"))
    liveVecs ++= vecs
    rec.span("engine.ensure_ann_index")(e.ensureAnnIndex(Vecs, "vec_id", "embedding"))
    noteAnnRebuild()
    // serve
    Workload.pick(r, liveVecs.toSeq, Queries).foreach { q =>
      val rows = timed("topk_ms")(rec.span("engine.ann_topk")(
        e.annTopKIndexed(Vecs, "vec_id", "embedding", col("vec_id") === q, k = 10).collect()))
      rec.check(s"top-10 for $q has 10 rows")(rows.length == 10)
      sampled += q
    }
    // forget: one seeded residue class of each stream's ids
    val dm = r.nextInt(ForgetModulus).toLong
    val vm = r.nextInt(ForgetModulus).toLong
    timed("forget_ms") {
      rec.span("engine.forget_rows")(e.forgetRows(Docs, col("doc_id") % ForgetModulus === dm))
      rec.span("engine.forget_rows")(e.forgetRows(Vecs, col("vec_id") % ForgetModulus === vm))
    }
    forgotDocs ++= liveDocs.filter(_ % ForgetModulus == dm)
    forgotVecs ++= liveVecs.filter(_ % ForgetModulus == vm)
    liveDocs.filterInPlace(_ % ForgetModulus != dm)
    liveVecs.filterInPlace(_ % ForgetModulus != vm)
  }

  def checks(): Unit = {
    val src = e.readStream(Source)
    val twinTotals = src.groupBy("user_id")
      .agg(count(lit(1)).as("n_b"), sum("value").as("total_b"))
    val bad = e.readStream(Totals).join(twinTotals, Seq("user_id"), "full_outer")
      .where(col("n").isNull || col("n_b").isNull || col("n") =!= col("n_b") ||
        abs(col("total") - col("total_b")) > lit(1e-6) * greatest(lit(1.0), abs(col("total_b"))))
      .count()
    rec.check(s"change stream equals its batch twin ($bad differing keys)")(bad == 0)
    val cols = Seq("event_id", "user_id", "event_type", "value").map(col)
    val twin = src.where(col("event_type").isin("purchase", "click") && col("value") > 10.0)
      .select(cols: _*)
    val got = e.readStream(Filtered).select(cols: _*)
    val diff = got.exceptAll(twin).count() + twin.exceptAll(got).count()
    rec.check(s"filter model equals its batch twin ($diff differing rows)")(diff == 0)
    if (offered > 0) curatedChecks()
  }

  private def curatedChecks(): Unit = {
    rec.gauge("index.dedup_drop_ratio", if (offered == 0) 0.0 else dropped.toDouble / offered)
    rec.gauge("index.rebuilds", rebuilds)
    // forgotten ids are gone from each main stream and all its siblings
    // (ids are never re-ingested: each shard draws fresh ones)
    def absent(main: String, idCol: String, ids: Seq[Long]): Unit = {
      def hits(stream: String, c: String): Long =
        e.readStream(stream).where(col(c).isin(ids: _*)).count()
      val sibs = e.catalog.list().map(_.name)
        .filter(n => n.startsWith(main + "__") && !n.endsWith("__anncent"))
      val found = hits(main, idCol) + sibs.map(hits(_, "ex_id")).sum
      rec.check(s"${ids.size} forgotten ids absent from $main and " +
        s"${sibs.mkString(", ")} ($found found)")(found == 0)
    }
    absent(Docs, "doc_id", forgotDocs.toSeq)
    absent(Vecs, "vec_id", forgotVecs.toSeq)
    // indexed top-k equals the inline operator on the same corpus
    e.rebuildAnnIndex(Vecs, "vec_id", "embedding", force = true)
    val corpus = e.readStream(Vecs).select("vec_id", "embedding")
    sampled.filter(liveVecs.contains).take(1).foreach { q =>
      val idx = e.annTopKIndexed(Vecs, "vec_id", "embedding", col("vec_id") === q, k = 10)
        .collect().map(_.toSeq).toSet
      val inline = graft.operators.Similarity.ivfTopK(corpus, "vec_id", "embedding",
        col("vec_id") === q, k = 10).collect().map(_.toSeq).toSet
      rec.check(s"indexed top-10 for $q equals inline ivfTopK")(idx == inline && idx.nonEmpty)
    }
  }

  override def close(): Unit = { if (se != null) se.deactivateAll(); super.close() }
}

object StreamIngest {
  val Source = "ev_src"
  val Filtered = "ev_filtered"
  val Totals = "ev_user_totals"
  val ShardRows = 2000
  val BaseShards = 2
  val Docs = "docs"
  val Vecs = "emb"
  val BaseDocs = 300
  val DocShard = 50
  val BaseVecs = 200
  val VecShard = 30
  val Queries = 2
  val ForgetModulus = 97

  /** The events table as local rows in seeded order: input preparation,
    * done once per process before any timed region. */
  private var cached: Option[(Long, (Array[Row], StructType))] = None
  def plan(ctx: Ctx): (Array[Row], StructType) = synchronized {
    cached.filter(_._1 == ctx.seed).map(_._2).getOrElse {
      val ev = Tables.load(ctx.spark, ctx.data, "events")
      val p = (ctx.rng(1).shuffle(ev.collect().toSeq).toArray, ev.schema)
      cached = Some(ctx.seed -> p)
      p
    }
  }
}
