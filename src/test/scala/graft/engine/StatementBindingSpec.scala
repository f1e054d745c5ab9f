package graft.engine

import graft.SparkSpec
import graft.schema._
import graft.types.FlinkType._

/** Per-statement view binding: an engine statement binds fresh views of
  * the streams it reads — found by a parse-level walk that sees CTE
  * bodies, subqueries and graft table-function table arguments, then
  * checked against the temp views the analyzed plan resolved — and
  * never reads a view an earlier statement left behind. */
class StatementBindingSpec extends SparkSpec {
  import spark.implicits._

  private def newEngine(ns: Option[String] = None): Engine =
    new Engine(spark, tmpDir("graft-binding"), namespace = ns)

  private def idStream(e: Engine, name: String, ids: Seq[Long]): Unit = {
    e.createStream(name, StreamSchema(Seq(PhysicalField("id", FBigInt))))
    e.appendRows(name, ids.toDF("id"))
  }

  // model SQL that reads `b` only inside the named shape
  private val shapes = Seq(
    "a CTE" -> ("WITH t AS (SELECT id FROM b) SELECT id FROM t", Seq("b")),
    "an IN subquery" -> ("SELECT id FROM a WHERE id IN (SELECT id FROM b)", Seq("a", "b")),
    "an EXISTS subquery" -> ("SELECT id FROM a WHERE EXISTS (SELECT 1 FROM b WHERE b.id = a.id)",
      Seq("a", "b")),
    "a scalar subquery" -> ("SELECT id, (SELECT max(id) FROM b) AS mx FROM a", Seq("a", "b")))

  for ((shape, (sql, reads)) <- shapes)
    test(s"sourcesOf sees a read inside $shape: consumers, cascade drop and rename follow it") {
      val e = newEngine()
      idStream(e, "a", Seq(1L, 2L, 3L))
      idStream(e, "b", Seq(2L, 3L))
      assert(e.sourcesOf(sql) == reads)
      e.createModel("m", sql)
      assert(e.catalog.get("m").get.sources == reads)
      assert(e.catalog.consumers("b").map(_.name) == Seq("m"))

      e.renameStream("b", "b2")
      val renamed = e.catalog.get("m").get
      assert(renamed.sources == reads.map(s => if (s == "b") "b2" else s))
      assert(renamed.sql.exists(_.contains("b2")), renamed.sql)
      e.runPipeline("m") // the rewritten SQL reads the renamed stream
      assert(e.readStream("m").count() > 0)

      e.dropStream("b2", cascade = true)
      assert(!e.catalog.exists("m"), "cascade drop must remove the model reading b2")
      assert(e.catalog.exists("a"))
    }

  test("sourcesOf: a CTE shadowing a stream name is not a read of that stream") {
    val e = newEngine()
    idStream(e, "a", Seq(1L))
    idStream(e, "b", Seq(1L))
    assert(e.sourcesOf("WITH a AS (SELECT id FROM b) SELECT id FROM a") == Seq("b"))
    // a CTE body sees only the CTEs before it: its own name is the stream
    assert(e.sourcesOf("WITH a AS (SELECT id FROM a) SELECT id FROM a") == Seq("a"))
    // names match stream names case-insensitively
    assert(e.sourcesOf("SELECT id FROM A JOIN B USING (id)") == Seq("a", "b"))
  }

  test("engine statements bind only the streams they read; registerViews binds every stream") {
    val e = newEngine(Some("bnd"))
    idStream(e, "solo_a", Seq(1L))
    idStream(e, "solo_b", Seq(2L))
    val names = Seq("bnd__solo_a", "solo_a", "bnd__solo_b", "solo_b")
    names.foreach(spark.catalog.dropTempView)
    assert(e.preview("SELECT id FROM solo_a").map(_.getLong(0)) == Seq(1L))
    assert(spark.catalog.tableExists("solo_a") && spark.catalog.tableExists("bnd__solo_a"))
    assert(!spark.catalog.tableExists("solo_b") && !spark.catalog.tableExists("bnd__solo_b"))
    assert(spark.conf.get(Engine.RootConfKey) == e.root)
    // a read the parser cannot see, of a stream no view exists for:
    // analysis fails once, then succeeds over every stream
    assert(e.preview("SELECT id FROM IDENTIFIER('solo_b')").map(_.getLong(0)) == Seq(2L))
    names.foreach(spark.catalog.dropTempView)
    e.registerViews()
    assert(names.forall(spark.catalog.tableExists))
  }

  test("per-statement binding reads fresh data through every read shape and engine entry point") {
    val e = newEngine(Some("fr"))
    e.createStream("src", StreamSchema(Seq(
      PhysicalField("k", FBigInt), PhysicalField("v", FString))))
    var n = 0L
    def append(): Unit = {
      n += 1
      e.appendRows("src", Seq((n, "a b c d e")).toDF("k", "v"))
    }
    append(); append()

    // each reads `src` only through the named shape; every text is
    // identical, so minhash_pairs finds one pair per two rows
    val shapes: Seq[(String, String, Long => Long)] = Seq(
      ("cte", "WITH t AS (SELECT k FROM src) SELECT count(*) AS n FROM t", identity),
      ("in", "SELECT count(*) AS n FROM range(1000) r WHERE r.id IN (SELECT k FROM src)",
        identity),
      ("exists", "SELECT count(*) AS n FROM range(1000) r " +
        "WHERE EXISTS (SELECT 1 FROM src s WHERE s.k = r.id)", identity),
      ("scalar", "SELECT (SELECT count(*) FROM src) AS n", identity),
      ("tvf", "SELECT count(*) AS n FROM minhash_pairs('src', 'k', 'v', 0.5)",
        x => x * (x - 1) / 2),
      ("short_name", "SELECT count(*) AS n FROM src", identity),
      ("other_case", "SELECT count(*) AS n FROM FR__Src", identity),
      ("identifier", "SELECT count(*) AS n FROM IDENTIFIER('src')", identity))

    for ((shape, sql, expected) <- shapes) {
      val model = s"m_$shape"
      val sink = s"i_$shape"
      e.createStream(sink, StreamSchema(Seq(PhysicalField("n", FBigInt))))
      val entryPoints: Seq[(String, () => Long)] = Seq(
        "preview" -> (() => e.preview(sql).head.getLong(0)),
        "createModel" -> { () =>
          e.createModel(model, sql, fullRefresh = true)
          e.readStream(model).head().getLong(0)
        },
        "runPipeline" -> { () =>
          e.runPipeline(model)
          e.readStream(model).head().getLong(0)
        },
        "insertInto" -> { () =>
          e.truncate(sink)
          e.insertInto(sink, sql)
          e.readStream(sink).head().getLong(0)
        })
      for ((entry, run) <- entryPoints) {
        // every stream view in the session is now a snapshot of the
        // current files; the statement must not read it
        e.registerViews()
        append()
        assert(run() == expected(n), s"$shape via $entry after an append")
        e.registerViews()
        e.compactStorage("src")
        assert(run() == expected(n), s"$shape via $entry after compactStorage")
      }
    }
  }

  test("a preview timeout cancels only its own job group") {
    val e = new Engine(spark, tmpDir("graft-binding"), previewTimeoutMs = 1500L)
    spark.udf.register("binding_spec_sleep", (x: Long) => { Thread.sleep(500L); x })
    val sc = spark.sparkContext
    val other = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      sc.setJobGroup("binding-spec-other", "another caller's job", interruptOnCancel = true)
      try sc.parallelize(1 to 2, 2).map { x => Thread.sleep(3000L); x }.sum()
      finally sc.clearJobGroup()
    }
    Thread.sleep(300L) // the other job is running when the preview starts
    val err = intercept[RuntimeException] {
      e.preview("SELECT binding_spec_sleep(id) AS x FROM range(0, 40, 1, 4)")
    }
    assert(err.getMessage.contains("timed out"), err.getMessage)
    assert(other.get(60, java.util.concurrent.TimeUnit.SECONDS) == 3.0,
      "the other group's job must complete")
  }
}
