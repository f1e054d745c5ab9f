package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.schema.StreamSchema

/** The persisted ANN retrieval index (round 10 — VERDICT r9 item 1):
  * `__anncent` codebooks + `__annidx` encoded corpus as managed sibling
  * streams, searches served from them bit-identical to the inline
  * retrain-per-call operators, with the same epoch-pinned lifecycle as
  * the `__lshidx`/`__mhpost` ingest indexes. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def newEngine(): Engine =
    new Engine(spark, tmpDir("graft-annidx"))

  /** Deterministic synthetic corpus: 60 vectors, 16 dims, clustered
    * around 4 axis directions with per-id jitter. */
  private def corpus(n: Int = 60, dims: Int = 16): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dims - 1}), j -> CAST(" +
        s"(CASE WHEN j % 4 = id % 4 THEN 4.0 ELSE 0.2 END) + " +
        "(pmod(xxhash64(id, j), 100) / 500.0) AS FLOAT))").as("embedding"))

  private def vecStream(e: Engine, name: String): Unit =
    e.createStream(name, StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("vec_id", "long", nullable = false)
        .add("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))

  test("indexed IVF and PQ return exactly the inline operators' rows") {
    val e = newEngine()
    vecStream(e, "emb")
    val data = corpus()
    e.appendRows("emb", data)

    assert(e.ensureAnnIndex("emb", "vec_id", "embedding"),
      "first ensure must build")
    assert(!e.ensureAnnIndex("emb", "vec_id", "embedding"),
      "second ensure must take the live fast path")

    val inlineIvf = Similarity.ivfTopK(data, "vec_id", "embedding",
      col("vec_id") < 5, k = 3, nProbe = 2).collect().toSet
    val idxIvf = e.annTopKIndexed("emb", "vec_id", "embedding",
      col("vec_id") < 5, k = 3, nProbe = 2).collect().toSet
    assert(idxIvf == inlineIvf, "indexed IVF must equal inline ivfTopK")
    assert(inlineIvf.nonEmpty)

    val inlinePq = Similarity.pqTopK(data, "vec_id", "embedding",
      col("vec_id") < 5, k = 3, nProbe = 2, m = 8, ksub = 16).collect().toSet
    val idxPq = e.annTopKIndexed("emb", "vec_id", "embedding",
      col("vec_id") < 5, k = 3, nProbe = 2, method = "pq").collect().toSet
    assert(idxPq == inlinePq, "indexed PQ must equal inline pqTopK")
    assert(idxPq == idxIvf, "PQ's bound prune is exact by construction")

    // the other two family members served from the same stored
    // assignment (round 10): identical rows to the inline operators
    val inlineSem = Similarity.semDedup(data, "vec_id", "embedding",
      threshold = 0.8).collect().map(_.toSeq).toSet
    val idxSem = e.semDedupIndexed("emb", "vec_id", "embedding",
      threshold = 0.8).collect().map(_.toSeq).toSet
    assert(idxSem == inlineSem, "indexed semDedup must equal inline")
    val inlineKnn = Similarity.knnGraph(data, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    val idxKnn = e.knnGraphIndexed("emb", "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    assert(idxKnn == inlineKnn, "indexed knnGraph must equal inline")
    assert(inlineKnn.nonEmpty)
  }

  test("out-of-band writes to the main stream OR a sibling force a rebuild") {
    val e = newEngine()
    vecStream(e, "emb2")
    e.appendRows("emb2", corpus(40))
    assert(e.ensureAnnIndex("emb2", "vec_id", "embedding"))
    assert(!e.ensureAnnIndex("emb2", "vec_id", "embedding"))

    // main-stream out-of-band append: the index no longer covers the
    // corpus — the next ensure must rebuild, and the new row must be
    // retrievable afterward
    e.appendRows("emb2", Seq((1000L, Array.tabulate(16)(j =>
      if (j % 4 == 0) 4.2f else 0.25f))).toDF("vec_id", "embedding"))
    assert(e.ensureAnnIndex("emb2", "vec_id", "embedding"),
      "main-stream write must invalidate the index")
    val hits = e.annTopKIndexed("emb2", "vec_id", "embedding",
      col("vec_id") === 0, k = 41, nProbe = 64)
      .select("n_id").as[Long].collect()
    assert(hits.contains(1000L), "rebuilt index must cover the new row")

    // sibling out-of-band write: truncating __annidx must not leave a
    // silently-empty index on the fast path
    e.truncate(e.annIndexName("emb2"))
    assert(e.ensureAnnIndex("emb2", "vec_id", "embedding"),
      "sibling write must invalidate the index")
    // ...and the centroid sibling likewise
    e.truncate(e.annCentroidsName("emb2"))
    assert(e.ensureAnnIndex("emb2", "vec_id", "embedding"),
      "centroid-sibling write must invalidate the index")
    // config change is an epoch boundary too
    assert(e.ensureAnnIndex("emb2", "vec_id", "embedding", m = 4),
      "a config change must rebuild")
  }

  test("appendRowsAnnIndexed encodes the shard under the STANDING codebooks") {
    val e = newEngine()
    vecStream(e, "emb3")
    val base = corpus(48)
    e.appendRows("emb3", base)
    assert(e.ensureAnnIndex("emb3", "vec_id", "embedding"))
    val centEpoch0 = e.catalog.get(e.annCentroidsName("emb3")).get.writeEpoch

    val shard = spark.range(48, 60).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), j -> CAST(" +
        "(CASE WHEN j % 4 = id % 4 THEN 4.0 ELSE 0.2 END) + " +
        "(pmod(xxhash64(id, j), 100) / 500.0) AS FLOAT))").as("embedding"))
    e.appendRowsAnnIndexed("emb3", shard, "vec_id", "embedding")

    // the codebooks did NOT retrain — shard-sized work only
    assert(e.catalog.get(e.annCentroidsName("emb3")).get.writeEpoch
      == centEpoch0, "shard ingest must not retrain the codebooks")
    assert(e.catalog.get(e.annIndexName("emb3")).get
      .properties("ann_n").toLong == 60L)
    // the fast path survives the ingest (epochs re-pinned)
    assert(!e.ensureAnnIndex("emb3", "vec_id", "embedding"))

    // with EVERY cell probed, IVF over the frozen codebook is exact —
    // the indexed search must equal brute force over the grown corpus
    val cells = e.catalog.get(e.annIndexName("emb3")).get
      .properties("ann_kind")
    assert(cells == "flat")
    val full = e.readStream("emb3")
    val brute = Similarity.bruteForceTopK(full, "vec_id", "embedding",
      col("vec_id") < 3, k = 5).collect().toSet
    val viaIdx = e.annTopKIndexed("emb3", "vec_id", "embedding",
      col("vec_id") < 3, k = 5, nProbe = 4096).collect().toSet
    assert(viaIdx == brute,
      "all-cells probe over the standing index must equal brute force")

    // codebook-drift bound: with the growth cap forced to 1×, the next
    // ensure sees the corpus grown past the trained size and retrains
    spark.conf.set("spark.graft.ann.growthCap", "1")
    try {
      assert(e.ensureAnnIndex("emb3", "vec_id", "embedding"),
        "growth past the cap must trigger a codebook retrain")
      assert(e.catalog.get(e.annIndexName("emb3")).get
        .properties("ann_trained_n").toLong == 60L)
      assert(!e.ensureAnnIndex("emb3", "vec_id", "embedding"),
        "freshly retrained index is live again")
    } finally spark.conf.unset("spark.graft.ann.growthCap")
  }

  test("lifecycle: rename carries the ANN siblings, cascade drop removes them") {
    val e = newEngine()
    vecStream(e, "emb4")
    e.appendRows("emb4", corpus(30))
    e.ensureAnnIndex("emb4", "vec_id", "embedding")
    e.renameStream("emb4", "emb5")
    assert(e.catalog.get(e.annIndexName("emb4")).isEmpty &&
      e.catalog.get(e.annCentroidsName("emb4")).isEmpty)
    assert(e.catalog.get(e.annIndexName("emb5")).nonEmpty &&
      e.catalog.get(e.annCentroidsName("emb5")).nonEmpty)
    // the carried index is named right and its pins follow the rename —
    // searches serve from it and return sane rows
    val rows = e.annTopKIndexed("emb5", "vec_id", "embedding",
      col("vec_id") < 2, k = 3, nProbe = 2)
    assert(rows.count() > 0)
    e.dropStream("emb5")
    assert(e.catalog.get(e.annIndexName("emb5")).isEmpty &&
      e.catalog.get(e.annCentroidsName("emb5")).isEmpty,
      "cascade drop must take both ANN siblings")
  }

  /** An index family as the lifecycle tests drive it: its stores on a
    * stream (the first carries the pins) and its managed ingest of a
    * (vec_id, text, embedding) shard. */
  private case class Family(name: String, stores: (Engine, String) => Seq[String],
                            ingest: (Engine, String, DataFrame) => Unit)

  private val families = Seq(
    Family("minhash", (e, s) => Seq(e.mhPostingsName(s), e.mhSignaturesName(s)),
      (e, s, df) => e.appendRowsDeduped(s, df, "vec_id", "text")),
    Family("lsh", (e, s) => Seq(e.lshIndexName(s)),
      (e, s, df) => e.appendRowsDedupedEmbedding(s, df, "vec_id", "embedding", dims = 16)),
    Family("ann", (e, s) => Seq(e.annIndexName(s), e.annCentroidsName(s)),
      (e, s, df) => e.appendRowsAnnIndexed(s, df, "vec_id", "embedding")))

  test("lifecycle: every index family stays live across a rename, rebuilds after an out-of-band append, and leaves no store after a drop") {
    for (f <- families) {
      val e = newEngine()
      def indexed(s: String): DataFrame = {
        docVecStream(e, s)
        e.appendRows(s, docVecCorpus(0, 30))
        f.ingest(e, s, docVecCorpus(100, 102)) // bootstraps the index
        e.readStream(s)
      }
      def exists(s: String): Seq[Boolean] = f.stores(e, s).map(e.catalog.exists)
      def epoch(s: String): Long = e.catalog.get(f.stores(e, s).head).get.writeEpoch
      indexed("a")
      e.renameStream("a", "b")
      assert(exists("a").forall(!_) && exists("b").forall(identity),
        s"${f.name}: rename must carry every store")
      // the carried index is live: the next ingest appends once, where a
      // rebuild would rewrite the store first
      val carried = epoch("b")
      f.ingest(e, "b", docVecCorpus(200, 202))
      assert(epoch("b") == carried + 1, s"${f.name}: the carried index must stay live")
      if (f.name == "ann")
        assert(e.annTopKIndexed("b", "vec_id", "embedding", col("vec_id") < 2,
          k = 3, nProbe = 2).count() > 0, "the carried ANN index must serve")
      val live = epoch("b")
      e.appendRows("b", docVecCorpus(300, 301))
      f.ingest(e, "b", docVecCorpus(400, 402))
      assert(epoch("b") > live + 1, s"${f.name}: an out-of-band append must force a rebuild")
      e.dropStream("b")
      assert(exists("b").forall(!_), s"${f.name}: cascade drop must take every store")
      indexed("c")
      e.dropStream("c", cascade = false)
      assert(exists("c").forall(!_), s"${f.name}: a drop without cascade must take every store")
      e.close()
    }
  }

  test("a rebuilt or re-created stream does not inherit its old index stores") {
    val e = newEngine()
    docVecStream(e, "src")
    e.appendRows("src", docVecCorpus(0, 40))
    def ids(s: String): Seq[Long] =
      e.readStream(s).select("vec_id").as[Long].collect().sorted.toSeq

    // ANN: the rebuilt model restarts at the write epoch its old index
    // pinned, yet holds other rows — its index must rebuild, not serve
    // the old rows
    e.createModel("am", "SELECT * FROM src WHERE vec_id < 20")
    assert(e.ensureAnnIndex("am", "vec_id", "embedding"))
    assert(e.createModel("am", "SELECT * FROM src WHERE vec_id >= 20") == Updated)
    assert(e.ensureAnnIndex("am", "vec_id", "embedding"), "the rebuilt model's index must rebuild")
    val hits = e.annTopKIndexed("am", "vec_id", "embedding", col("vec_id") >= 20,
      k = 3, nProbe = 64).select("n_id").as[Long].collect()
    assert(hits.nonEmpty && hits.forall(_ >= 20), "neighbours must come from the model")

    // MinHash: a model rebuilt from doc 1 to doc 2, then written back to
    // the epoch its old index pinned; 12 copies doc 1's text, 13 doc 2's
    e.createModel("mm", "SELECT * FROM src WHERE vec_id = 1")
    assert(e.appendRowsDeduped("mm", docVecCorpus(11, 12), "vec_id", "text") == 0L)
    e.createModel("mm", "SELECT * FROM src WHERE vec_id = 2")
    e.appendRows("mm", docVecCorpus(11, 12))
    assert(e.appendRowsDeduped("mm", docVecCorpus(1, 3)
      .withColumn("vec_id", col("vec_id") + 11), "vec_id", "text") == 1L)
    assert(ids("mm") == Seq(2L, 11L, 12L))

    // LSH: a stream dropped without cascade and re-created under its
    // name; id 24's vector equals id 8's, which only the new corpus holds
    docVecStream(e, "lv")
    e.appendRows("lv", docVecCorpus(0, 4))
    e.appendRowsDedupedEmbedding("lv", docVecCorpus(0, 0), "vec_id", "embedding", dims = 16)
    e.dropStream("lv", cascade = false)
    docVecStream(e, "lv")
    e.appendRows("lv", docVecCorpus(8, 12))
    e.appendRows("lv", docVecCorpus(12, 13))
    assert(e.appendRowsDedupedEmbedding("lv", docVecCorpus(24, 25), "vec_id",
      "embedding", dims = 16) == 1L, "the index must cover the re-created corpus")
    e.close()
  }

  test("HIERARCHICAL quantizer round-trips through the index (kind-2 rows)") {
    // past the (lowered) flat cap the stored codebook is two-level: top
    // centroids as kind-0 rows, per-top-cell sub-centroids as kind-2
    // rows re-packed on load — the indexed searches must still equal
    // the inline operators trained under the same cap
    val e = newEngine()
    vecStream(e, "embh")
    val data = corpus(120)
    e.appendRows("embh", data)
    spark.conf.set(graft.operators.Similarity.FlatCellCapKey, "4")
    try {
      assert(e.ensureAnnIndex("embh", "vec_id", "embedding"))
      assert(e.catalog.get(e.annIndexName("embh")).get
        .properties("ann_kind") == "hier", "cap 4 at n=120 must go hier")
      val inlineIvf = Similarity.ivfTopK(data, "vec_id", "embedding",
        col("vec_id") < 5, k = 3, nProbe = 2).collect().toSet
      val idxIvf = e.annTopKIndexed("embh", "vec_id", "embedding",
        col("vec_id") < 5, k = 3, nProbe = 2).collect().toSet
      assert(idxIvf == inlineIvf,
        "indexed hier IVF must equal inline hier ivfTopK")
      assert(idxIvf.nonEmpty)
      val inlinePq = Similarity.pqTopK(data, "vec_id", "embedding",
        col("vec_id") < 5, k = 3, nProbe = 2).collect().toSet
      val idxPq = e.annTopKIndexed("embh", "vec_id", "embedding",
        col("vec_id") < 5, k = 3, nProbe = 2, method = "pq").collect().toSet
      assert(idxPq == inlinePq,
        "indexed hier PQ must equal inline hier pqTopK")
      val inlineSem = Similarity.semDedup(data, "vec_id", "embedding",
        threshold = 0.8).collect().map(_.toSeq).toSet
      val idxSem = e.semDedupIndexed("embh", "vec_id", "embedding",
        threshold = 0.8).collect().map(_.toSeq).toSet
      assert(idxSem == inlineSem,
        "indexed hier semDedup must equal inline")
    } finally spark.conf.unset(graft.operators.Similarity.FlatCellCapKey)
  }

  test("ann_indexed_topk TVF is pure serving; ann_index_rebuild/drop defer their effect to execution") {
    val e = newEngine()
    vecStream(e, "embsql")
    val data = corpus(50)
    e.appendRows("embsql", data)
    e.registerViews() // binds this engine as the session's TVF target

    // round 11 (ADVICE r10 item 2): with no index, the serving TVF is a
    // LOUD analysis error naming the lifecycle op — it never builds
    // implicitly (so EXPLAIN / schema inference cannot mutate state)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM ann_indexed_topk('embsql', 'vec_id', " +
        "'embedding', 'vec_id < 4', 3, 2)").queryExecution.analyzed
    }
    assert(err.getMessage.contains("ann_index_rebuild"),
      s"error must name the lifecycle op: ${err.getMessage}")

    // the rebuild TVF's effect runs at EXECUTION, not analysis: merely
    // analyzing / EXPLAINing the statement must not build
    val rebuildDf = spark.sql(
      "SELECT * FROM ann_index_rebuild('embsql', 'vec_id', 'embedding')")
    rebuildDf.queryExecution.executedPlan // planned end to end
    assert(e.catalog.get(e.annIndexName("embsql")).isEmpty,
      "EXPLAIN-depth planning must not build the index")
    val status = rebuildDf.collect()
    assert(status.head.getBoolean(1) && status.head.getLong(2) == 50L,
      "executed rebuild must report (rebuilt=true, ann_n=50)")

    val viaSql = spark.sql(
      """SELECT q_id, n_id, rnk, cos
        |FROM ann_indexed_topk('embsql', 'vec_id', 'embedding',
        |  'vec_id < 4', 3, 2)""".stripMargin).collect().toSet
    val viaApi = e.annTopKIndexed("embsql", "vec_id", "embedding",
      col("vec_id") < 4, k = 3, nProbe = 2).collect().toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)

    // idempotent second rebuild is a live no-op; force retrains
    assert(!spark.sql("SELECT * FROM ann_index_rebuild('embsql', " +
      "'vec_id', 'embedding')").collect().head.getBoolean(1))
    assert(spark.sql("SELECT * FROM ann_index_rebuild('embsql', " +
      "'vec_id', 'embedding', 0, 8, 16, true)").collect()
      .head.getBoolean(1), "force must rebuild a live index")

    // drop: deferred to execution too, then serving errors again
    val dropDf = spark.sql("SELECT * FROM ann_index_drop('embsql')")
    dropDf.queryExecution.executedPlan
    assert(e.catalog.get(e.annIndexName("embsql")).nonEmpty,
      "planning the drop must not drop")
    assert(dropDf.collect().head.getBoolean(1))
    assert(e.catalog.get(e.annIndexName("embsql")).isEmpty &&
      e.catalog.get(e.annCentroidsName("embsql")).isEmpty)
    assertThrows[Exception] {
      spark.sql("SELECT * FROM ann_indexed_topk('embsql', 'vec_id', " +
        "'embedding', 'vec_id < 4', 3, 2)").queryExecution.analyzed
    }

    // without a bound engine the TVF is a loud analysis error, not a
    // silent empty result
    spark.conf.unset(Engine.RootConfKey)
    assertThrows[Exception] {
      spark.sql("SELECT * FROM ann_indexed_topk('embsql', 'vec_id', " +
        "'embedding', 'vec_id < 4', 3, 2)").queryExecution.analyzed
    }
  }

  test("TVF knob arguments: explicit NULL and over-arity are loud errors (ADVICE r10)") {
    val docs = spark.range(6).selectExpr("id AS doc_id",
      "concat('w', id, ' x', id, ' y', id) AS text")
    docs.createOrReplaceTempView("tvf_docs")
    // explicit NULL threshold must not silently run at the default
    val eNull = intercept[Exception] {
      spark.sql("SELECT * FROM minhash_pairs('tvf_docs', 'doc_id', " +
        "'text', NULL)").queryExecution.analyzed
    }
    assert(eNull.getMessage.contains("must not be NULL"))
    // trailing junk arguments must not be silently ignored
    val eArity = intercept[Exception] {
      spark.sql("SELECT * FROM semdedup('tvf_docs', 'doc_id', 'text', " +
        "0.4, 99)").queryExecution.analyzed
    }
    assert(eArity.getMessage.contains("too many arguments"))
  }

  // ------------------------------------------------------------------
  // Round 11 (VERDICT r10 item 1): cross-family sibling maintenance —
  // a managed ingest on a stream carrying OTHER live index families
  // keeps those families live (shard-sized encode under their standing
  // layouts), instead of leaving them stale for a corpus-linear rebuild
  // at ingest cadence.
  // ------------------------------------------------------------------

  /** (vec_id, text, embedding) corpus: distinct 4-word texts (tokens
    * embed the id, so cross-id shingle overlap is zero) and one-hot-ish
    * vectors. */
  private def docVecCorpus(from: Long, to: Long): DataFrame =
    spark.range(from, to).select(col("id").as("vec_id"),
      expr("concat('w', id, ' x', id * 7, ' y', id * 13, ' z', id * 29)")
        .as("text"),
      expr("transform(sequence(0, 15), j -> CAST(" +
        "CASE WHEN j = id % 16 THEN 1.0 ELSE 0.0 END AS FLOAT))")
        .as("embedding"))

  private def docVecStream(e: Engine, name: String): Unit =
    e.createStream(name, StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("vec_id", "long", nullable = false)
        .add("text", "string")
        .add("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))

  test("deduped TEXT ingest keeps a live ANN index live — no rebuild, survivors searchable") {
    val e = newEngine()
    docVecStream(e, "dv")
    e.appendRows("dv", docVecCorpus(0, 40))
    assert(e.ensureAnnIndex("dv", "vec_id", "embedding"))
    val centEpoch0 = e.catalog.get(e.annCentroidsName("dv")).get.writeEpoch

    // shard: one exact text duplicate of id 0 (dropped) + two novel rows
    val shard = docVecCorpus(1000, 1003)
      .withColumn("text", when(col("vec_id") === 1000L,
        lit("w0 x0 y0 z0")).otherwise(col("text")))
    val dropped = e.appendRowsDeduped("dv", shard, "vec_id", "text",
      threshold = 0.5)
    assert(dropped == 1L)

    // the ANN index is STILL LIVE: the next ensure is a no-op and the
    // codebooks never retrained — the survivors were shard-encoded
    assert(!e.ensureAnnIndex("dv", "vec_id", "embedding"),
      "deduped ingest must not invalidate the ANN index")
    assert(e.catalog.get(e.annCentroidsName("dv")).get.writeEpoch
      == centEpoch0, "deduped ingest must not retrain the ANN codebooks")
    assert(e.readStream(e.annIndexName("dv")).count()
      == e.readStream("dv").count(),
      "every survivor must be encoded into the standing index")
    val hits = e.annTopKIndexed("dv", "vec_id", "embedding",
      col("vec_id") === 0, k = 60, nProbe = 4096)
      .select("n_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(1001L) && hits.contains(1002L)
      && !hits.contains(1000L),
      "survivors searchable, the dropped duplicate absent")
  }

  test("deduped EMBEDDING ingest maintains the ANN siblings; ANN ingest maintains the LSH sibling") {
    val e = newEngine()
    vecStream(e, "dve")
    e.appendRows("dve", spark.range(40).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), j -> CAST(" +
        "CASE WHEN j = id % 16 THEN 1.0 ELSE 0.0 END AS FLOAT))")
        .as("embedding")))
    assert(e.ensureAnnIndex("dve", "vec_id", "embedding"))
    val centEpoch0 = e.catalog.get(e.annCentroidsName("dve")).get.writeEpoch

    import spark.implicits._
    val shard = Seq(
      (2000L, Array.tabulate(16)(j => if (j == 0) 1f else 0f)), // ≡ id 0
      (2001L, Array.tabulate(16)(j => if (j == 13 || j == 14) 1f else 0f)),
      (2002L, Array.tabulate(16)(j => if (j == 5 || j == 9) 1f else 0f)))
      .toDF("vec_id", "embedding")
    val dropped = e.appendRowsDedupedEmbedding("dve", shard, "vec_id",
      "embedding", threshold = 0.8, dims = 16)
    assert(dropped == 1L)
    assert(!e.ensureAnnIndex("dve", "vec_id", "embedding"),
      "embedding-deduped ingest must not invalidate the ANN index")
    assert(e.catalog.get(e.annCentroidsName("dve")).get.writeEpoch
      == centEpoch0)
    assert(e.readStream(e.annIndexName("dve")).count()
      == e.readStream("dve").count())

    // …and the REVERSE direction: an ANN-indexed ingest keeps the LSH
    // dedup sibling live (pinned main epoch tracks the append)
    val lshName = e.lshIndexName("dve")
    e.appendRowsAnnIndexed("dve",
      Seq((3000L, Array.tabulate(16)(j => if (j == 2 || j == 11) 1f else 0f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    val lshProps = e.catalog.get(lshName).get.properties
    assert(lshProps("lsh_main_epoch")
      == e.catalog.get("dve").get.writeEpoch.toString,
      "ANN ingest must re-pin the live LSH sibling")
    // the maintained LSH index actually catches a dup of the ANN-ingested
    // row on the next deduped ingest — and that ingest stays on the fast
    // path (postings appended once, never truncate+rebuilt)
    val lshEpochBefore = e.catalog.get(lshName).get.writeEpoch
    val dropped2 = e.appendRowsDedupedEmbedding("dve",
      Seq((3001L, Array.tabulate(16)(j => if (j == 2 || j == 11) 1f else 0f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding",
      threshold = 0.8, dims = 16)
    assert(dropped2 == 1L, "dup of the ANN-ingested row must be caught")
    assert(e.catalog.get(lshName).get.writeEpoch == lshEpochBefore + 1,
      "fast path: one (empty) survivor-postings append — a stale-index " +
        "rebuild would truncate + append (+2)")
  }

  test("ANN-indexed ingest maintains a live MinHash dedup sibling") {
    val e = newEngine()
    docVecStream(e, "dvm")
    // first deduped ingest bootstraps the MinHash siblings
    assert(e.appendRowsDeduped("dvm", docVecCorpus(0, 30), "vec_id", "text",
      threshold = 0.5) == 0L)
    assert(e.ensureAnnIndex("dvm", "vec_id", "embedding"))
    val postName = e.mhPostingsName("dvm")

    e.appendRowsAnnIndexed("dvm", docVecCorpus(500, 502), "vec_id",
      "embedding")
    assert(e.catalog.get(postName).get.properties("mh_main_epoch")
      == e.catalog.get("dvm").get.writeEpoch.toString,
      "ANN ingest must re-pin the live MinHash sibling")

    // the next deduped ingest takes the FAST path (one postings append,
    // epoch +1 — a rebuild would truncate + append, +2) and still drops
    // a dup of the ANN-ingested row
    val postEpoch0 = e.catalog.get(postName).get.writeEpoch
    val dupShard = docVecCorpus(600, 601)
      .withColumn("text", lit("w500 x3500 y6500 z14500"))
    assert(e.appendRowsDeduped("dvm", dupShard, "vec_id", "text",
      threshold = 0.5) == 1L)
    assert(e.catalog.get(postName).get.writeEpoch == postEpoch0 + 1,
      "fast path: exactly one postings append, no truncate+rebuild")
  }

  test("growth-cap crossing: deduped ingest leaves the index for the next ensure; ANN ingest retrains inline") {
    val e = newEngine()
    vecStream(e, "dvg")
    import spark.implicits._
    def twoHot(id: Long, a: Int, b: Int): (Long, Array[Float]) =
      (id, Array.tabulate(16)(j => if (j == a || j == b) 1f else 0f))
    e.appendRows("dvg", spark.range(40).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), j -> CAST(" +
        "CASE WHEN j = id % 16 THEN 1.0 ELSE 0.0 END AS FLOAT))")
        .as("embedding")))
    assert(e.ensureAnnIndex("dvg", "vec_id", "embedding"))
    spark.conf.set("spark.graft.ann.growthCap", "1")
    try {
      // deduped path: maintenance SKIPS past the cap (encoding first
      // would be wasted — the next ensure retrains, geometric epochs)
      e.appendRowsDedupedEmbedding("dvg",
        Seq(twoHot(100, 1, 2), twoHot(101, 3, 4)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.8, dims = 16)
      assert(e.ensureAnnIndex("dvg", "vec_id", "embedding"),
        "past-cap deduped ingest must leave the index stale for retrain")
      // ANN-ingest path: the retrain happens INSIDE the call
      e.appendRowsAnnIndexed("dvg",
        Seq(twoHot(102, 5, 6)).toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      assert(!e.ensureAnnIndex("dvg", "vec_id", "embedding"),
        "appendRowsAnnIndexed must hand back a live index even past cap")
      assert(e.catalog.get(e.annIndexName("dvg")).get
        .properties("ann_trained_n").toLong == 43L,
        "the inline retrain must have re-trained at the full corpus")
    } finally spark.conf.unset("spark.graft.ann.growthCap")
  }

  test("the indexed COLUMNS are pinned config: ensure over another vector column rebuilds") {
    val e = newEngine()
    e.createStream("dvc", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("vec_id", "long", nullable = false)
        .add("va", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
        .add("vb", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    e.appendRows("dvc", corpus(20).select(col("vec_id"),
      col("embedding").as("va"),
      expr("transform(embedding, x -> CAST(-x AS FLOAT))").as("vb")))
    assert(e.ensureAnnIndex("dvc", "vec_id", "va"))
    assert(!e.ensureAnnIndex("dvc", "vec_id", "va"))
    // pre-round-11 this silently served va's index for vb
    assert(e.ensureAnnIndex("dvc", "vec_id", "vb"),
      "a different vector column is a different index config")
    assert(e.ensureAnnIndex("dvc", "vec_id", "va"),
      "…and switching back rebuilds again (one config at a time)")
  }

  test("post-ingest indexed semDedup serves the FROZEN-codebook assignment (qualified equivalence, ADVICE r10)") {
    // the equivalence claim is exact only at a fresh index epoch; after
    // an index-preserving ingest the INTENDED behavior is: verdicts over
    // the STORED (frozen-quantizer) cells — approximate vs an inline
    // retrain, exact cosines within each stored cell
    val e = newEngine()
    vecStream(e, "drift")
    e.appendRows("drift", corpus(48))
    assert(e.ensureAnnIndex("drift", "vec_id", "embedding"))
    val shard = spark.range(48, 60).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), j -> CAST(" +
        "(CASE WHEN j % 4 = id % 4 THEN 4.0 ELSE 0.2 END) + " +
        "(pmod(xxhash64(id, j), 100) / 500.0) AS FLOAT))").as("embedding"))
    e.appendRowsAnnIndexed("drift", shard, "vec_id", "embedding")

    val sem = e.semDedupIndexed("drift", "vec_id", "embedding",
      threshold = 0.8)
    assert(sem.count() == 60, "one verdict per corpus row, shard included")
    val stored = e.readStream(e.annIndexName("drift"))
      .select(col("ex_id").as("vec_id"), col("cell").as("scell"))
    assert(sem.join(stored, Seq("vec_id"))
      .filter(col("cell") =!= col("scell")).count() == 0,
      "post-ingest verdict cells must be the stored frozen assignment")
    assert(e.knnGraphIndexed("drift", "vec_id", "embedding", k = 3)
      .count() > 0)
  }

  // ------------------------------------------------------------------
  // Round 11 (VERDICT r10 item 3): build-aside-then-swap — the
  // corpus-linear rebuild stages OUTSIDE the stream lock; the locked
  // commit is an epoch check + directory flips.
  // ------------------------------------------------------------------

  test("build-aside: searches serve the OLD generation and ingest proceeds while a rebuild is staging") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._

    val e = newEngine()
    vecStream(e, "swp")
    e.appendRows("swp", corpus(60))
    assert(e.ensureAnnIndex("swp", "vec_id", "embedding"))
    // make the index STALE with an out-of-band append (id 1000)
    e.appendRows("swp", Seq((1000L, Array.tabulate(16)(j =>
      if (j % 4 == 0) 4.2f else 0.25f))).toDF("vec_id", "embedding"))

    // pin the build-aside window: the rebuild blocks after staging (all
    // corpus-linear work done), before taking the commit lock
    val stagedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val staged = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val idxStore = e.catalog.qualify(e.annIndexName("swp"))
    e.commits.hook = (phase, store) =>
      if (phase == StagedCommit.Staged && store == idxStore &&
          stagedOnce.compareAndSet(false, true)) {
        staged.countDown()
        assert(release.await(60, TimeUnit.SECONDS), "spec release timeout")
      }
    try {
      val build = Future(e.ensureAnnIndex("swp", "vec_id", "embedding"))
      assert(staged.await(120, TimeUnit.SECONDS), "staging never reached")

      // (a) a SEARCH completes while the rebuild is in flight — served
      // from the standing generation (id 1000 not yet indexed), without
      // waiting for the builder
      val hits = e.annTopKIndexed("swp", "vec_id", "embedding",
        col("vec_id") === 0, k = 61, nProbe = 4096)
        .select("n_id").as[Long].collect().toSet
      assert(!hits.contains(1000L),
        "in-flight search must serve the OLD generation")
      assert(hits.nonEmpty)

      // (b) the lock is NOT held during staging: an ingest lands
      // immediately (it takes the stream lock the commit also needs)
      e.appendRows("swp", Seq((1001L, Array.tabulate(16)(j =>
        if (j % 4 == 1) 4.3f else 0.2f))).toDF("vec_id", "embedding"))

      // (c) release the builder: its commit sees the moved epoch,
      // discards the stage, and RETRIES against the grown corpus
      release.countDown()
      assert(Await.result(build, 300.seconds),
        "the rebuild must complete (retry after the epoch race)")
      assert(!e.ensureAnnIndex("swp", "vec_id", "embedding"),
        "post-build the index is live")
      val fresh = e.annTopKIndexed("swp", "vec_id", "embedding",
        col("vec_id") === 0, k = 62, nProbe = 4096)
        .select("n_id").as[Long].collect().toSet
      assert(fresh.contains(1000L) && fresh.contains(1001L),
        "the committed generation must cover BOTH the out-of-band row " +
          "and the row ingested mid-stage")
    } finally e.commits.hook = (_, _) => ()
  }

  test("concurrent ensures deduplicate on one builder (no duplicated corpus-linear work)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = newEngine()
    vecStream(e, "swp2")
    e.appendRows("swp2", corpus(60))
    val builds = (1 to 4).map(_ =>
      Future(e.ensureAnnIndex("swp2", "vec_id", "embedding")))
    val results = builds.map(Await.result(_, 300.seconds))
    assert(results.contains(true), "someone must have built")
    assert(!e.ensureAnnIndex("swp2", "vec_id", "embedding"))
    // the committed generation is complete and searchable
    assert(e.readStream(e.annIndexName("swp2")).count() == 60)
  }

  test("empty corpus: index builds empty, search returns empty with schema") {
    val e = newEngine()
    vecStream(e, "emb6")
    assert(e.ensureAnnIndex("emb6", "vec_id", "embedding"))
    val out = e.annTopKIndexed("emb6", "vec_id", "embedding",
      col("vec_id") < 5, k = 3)
    assert(out.columns.toSeq == Seq("q_id", "n_id", "rnk", "cos"))
    assert(out.count() == 0)
  }

  test("filtered search: pre-filter semantics, pq ≡ ivf under filtering, empty eligible set") {
    // label = parity; the planted clusters stride by id % 4, so query 0's
    // NEAREST neighbors (4, 8, 12, …) are all even — i.e. INELIGIBLE
    // under the odd-only predicate. That makes this the adversarial case
    // for a post-filter formulation: ineligible near neighbors would set
    // the PQ prune threshold (dropping eligible true top-k → pq ≠ ivf)
    // and post-filtering ivf's k rows would return fewer than k.
    val e = newEngine()
    e.createStream("embf", StreamSchema.fromStruct(
      new org.apache.spark.sql.types.StructType()
        .add("vec_id", "long", nullable = false)
        .add("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
        .add("label", "int")))
    e.appendRows("embf", corpus().withColumn("label",
      pmod(col("vec_id"), lit(2)).cast("int")))
    assert(e.ensureAnnIndex("embf", "vec_id", "embedding"))

    val oddOnly = Some(col("label") === 1)
    val ivfF = e.annTopKIndexed("embf", "vec_id", "embedding",
      col("vec_id") < 5, k = 3, nProbe = 2, corpusPred = oddOnly)
      .collect().toSet
    // only eligible neighbors, dense ranks per query
    assert(ivfF.nonEmpty)
    assert(ivfF.forall(_.getLong(1) % 2 == 1),
      "every returned neighbor must pass the corpus predicate")
    // the filter binds: unfiltered top-3 for query 0 is even-dominated
    val unf = e.annTopKIndexed("embf", "vec_id", "embedding",
      col("vec_id") === 0, k = 3, nProbe = 2).collect()
    assert(unf.exists(_.getLong(1) % 2 == 0),
      "test premise: unfiltered neighbors of query 0 include even ids")

    // exact oracle over the SAME probed cells: rank ALL candidates
    // (k = corpus size returns every probed-cell candidate with its
    // cos), drop ineligible rows, re-rank, truncate — must equal the
    // pre-filtered serve row for row
    val allRanked = e.annTopKIndexed("embf", "vec_id", "embedding",
      col("vec_id") < 5, k = 60, nProbe = 2).collect()
    val expected = allRanked.filter(_.getLong(1) % 2 == 1)
      .groupBy(_.getLong(0)).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(r => (-r.getDouble(3), r.getLong(1))).take(3)
          .zipWithIndex.map { case (r, i) =>
            (q, r.getLong(1), i + 1L, r.getDouble(3)) }.toSeq
      }.toSet
    assert(ivfF.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))) == expected,
      "pre-filtered serve must equal rank-all-then-filter-then-rerank")

    // the critical pin: the ADC bound-prune must see ELIGIBLE candidates
    // only — a post-filter regression surfaces here as pq ⊂ ivf
    val pqF = e.annTopKIndexed("embf", "vec_id", "embedding",
      col("vec_id") < 5, k = 3, nProbe = 2, method = "pq",
      corpusPred = oddOnly).collect().toSet
    assert(pqF == ivfF, "pq must equal ivf under filtering")

    // empty eligible set: zero rows, schema intact
    val none = e.annTopKIndexed("embf", "vec_id", "embedding",
      col("vec_id") < 5, k = 3, nProbe = 2,
      corpusPred = Some(col("label") > 100))
    assert(none.columns.toSeq == Seq("q_id", "n_id", "rnk", "cos"))
    assert(none.count() == 0)

    // the SQL surface (8th ann_indexed_topk argument) serves the same rows
    e.registerViews()
    val sqlRows = spark.sql(
      """SELECT q_id, n_id, rnk, cos
        |FROM ann_indexed_topk('embf', 'vec_id', 'embedding',
        |  'vec_id < 5', 3, 2, 'ivf', 'label = 1')""".stripMargin)
      .collect().toSet
    assert(sqlRows == ivfF, "TVF corpus predicate must match the Scala path")
  }
}
