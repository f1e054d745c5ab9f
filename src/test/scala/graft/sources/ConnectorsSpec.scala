package graft.sources

import graft.SparkSpec
import graft.engine.Engine
import graft.schema._
import graft.types.FlinkType._

/** Connector catalog (SURVEY §2.1 S4/S5): datagen → stream binding,
  * file-source streaming, unsupported-connector errors. */
class ConnectorsSpec extends SparkSpec {

  test("datagen (rate) source binds to a stream and feeds rows (S4)") {
    val e = new Engine(spark, tmpDir("graft-conn"))
    e.createStream("gen", StreamSchema(Seq(
      PhysicalField("timestamp", FTimestampLtz(3)),
      PhysicalField("value", FBigInt))))
    val src = Connectors.open(spark,
      Connectors.ConnectorSpec("datagen", Map("rows.per.second" -> "500")))
    assert(src.isStreaming)
    val q = Connectors.bindSource(e, "gen", src, tmpDir("ckpt"))
    try {
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = e.readStream("gen").count()
      }
      assert(n > 0, "datagen produced no rows within 30s")
    } finally q.stop()
  }

  test("file source streams with explicit schema; earliest replays all (S5)") {
    import spark.implicits._
    val dir = tmpDir("filesrc")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data")
    val src = Connectors.open(spark, Connectors.ConnectorSpec("file",
      Map("path" -> s"$dir/data", "schema" -> "id BIGINT, v STRING")))
    assert(src.isStreaming)
    val e = new Engine(spark, tmpDir("graft-conn2"))
    e.createStream("ingested", StreamSchema(Seq(
      PhysicalField("id", FBigInt), PhysicalField("v", FString))))
    val q = Connectors.bindSource(e, "ingested", src, tmpDir("ckpt2"))
    try {
      q.processAllAvailable()
      assert(e.readStream("ingested").count() == 2)
    } finally q.stop()
  }

  test("metadata fields bind to source metadata, not stored NULLs (schema.py:63-106)") {
    import spark.implicits._
    val dir = tmpDir("metasrc")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data")
    val src = Connectors.open(spark, Connectors.ConnectorSpec("file",
      Map("path" -> s"$dir/data", "schema" -> "id BIGINT, v STRING")))
    val e = new Engine(spark, tmpDir("graft-conn-meta"))
    e.createStream("with_meta", StreamSchema(Seq(
      PhysicalField("id", FBigInt),
      PhysicalField("v", FString),
      MetadataField("ingest_ts", "file.modification-time", FTimestampLtz(3)),
      MetadataField("src_file", "file.path", FString))))
    val q = Connectors.bindSource(e, "with_meta", src, tmpDir("ckpt-meta"))
    try {
      q.processAllAvailable()
      val rows = e.readStream("with_meta").orderBy("id").collect()
      assert(rows.length == 2)
      assert(rows.forall(r => !r.isNullAt(r.fieldIndex("ingest_ts"))),
        "file.modification-time metadata not populated")
      assert(rows.forall(_.getString(3).contains("/data")),
        "file.path metadata not populated")
    } finally q.stop()
  }

  test("latest start position skips pre-existing files, ingests only new data (S5)") {
    import spark.implicits._
    val dir = tmpDir("latestsrc")
    Seq((1L, "old"), (2L, "old")).toDF("id", "v").write.parquet(s"$dir/data")
    val e = new Engine(spark, tmpDir("graft-conn-latest"))
    e.createStream("tail_only", StreamSchema(Seq(
      PhysicalField("id", FBigInt), PhysicalField("v", FString))))
    def openSrc() = Connectors.open(spark, Connectors.ConnectorSpec("file",
      Map("path" -> s"$dir/data", "schema" -> "id BIGINT, v STRING"),
      startPosition = Connectors.Latest))
    val ckpt = tmpDir("ckpt-latest")
    val q = Connectors.bindSource(e, "tail_only", openSrc(), ckpt,
      startPosition = Connectors.Latest)
    try {
      q.processAllAvailable()
      assert(e.readStream("tail_only").count() == 0,
        "latest must not replay pre-existing files")
      Seq((3L, "new")).toDF("id", "v")
        .write.mode("append").parquet(s"$dir/data")
      q.processAllAvailable()
      val rows = e.readStream("tail_only").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(3L))
    } finally q.stop()
  }

  test("a bind interrupted before its first batch was logged restarts from a clean checkpoint") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = tmpDir("interruptedsrc")
    Seq((1L, "old"), (2L, "old")).toDF("id", "v").write.parquet(s"$dir/data")
    val e = new Engine(spark, tmpDir("graft-conn-interrupted"))
    def openSrc() = Connectors.open(spark, Connectors.ConnectorSpec("file",
      Map("path" -> s"$dir/data", "schema" -> "id BIGINT, v STRING")))
    // a first start stopped inside its offsets write: the write's temp
    // file is left in offsets/ and no batch id is logged
    def plantInterruptedStart(): String = {
      val ckpt = tmpDir("ckpt-interrupted")
      val offsets = Files.createDirectories(Paths.get(ckpt, "offsets"))
      Files.createDirectories(Paths.get(ckpt, "commits"))
      Files.writeString(offsets.resolve(s".0.${java.util.UUID.randomUUID}.tmp"), "v1\n")
      assert(!Connectors.hasCommittedOffsets(ckpt))
      ckpt
    }
    def ids(stream: String): Seq[Long] =
      e.readStream(stream).select("id").as[Long].collect().toSeq.sorted

    e.createStream("replayed", StreamSchema(Seq(
      PhysicalField("id", FBigInt), PhysicalField("v", FString))))
    val q = Connectors.bindSource(e, "replayed", openSrc(), plantInterruptedStart())
    try {
      q.processAllAvailable()
      assert(ids("replayed") == Seq(1L, 2L), "earliest ingests every file present")
    } finally q.stop()

    e.createStream("tailed", StreamSchema(Seq(
      PhysicalField("id", FBigInt), PhysicalField("v", FString))))
    val tail = Connectors.bindSource(e, "tailed", openSrc(), plantInterruptedStart(),
      startPosition = Connectors.Latest)
    try {
      tail.processAllAvailable()
      assert(ids("tailed").isEmpty, "latest must skip the files present at first bind")
      Seq((3L, "new")).toDF("id", "v").write.mode("append").parquet(s"$dir/data")
      tail.processAllAvailable()
      assert(ids("tailed") == Seq(3L))
    } finally tail.stop()
  }

  test("unsupported / invalid connectors error clearly") {
    intercept[IllegalArgumentException](
      Connectors.open(spark, Connectors.ConnectorSpec("rest")))
    intercept[IllegalArgumentException](
      Connectors.open(spark, Connectors.ConnectorSpec("file"))) // missing path
    intercept[IllegalArgumentException](
      Connectors.open(spark, Connectors.ConnectorSpec("pulsar"))) // unknown
  }

  test("kinesis: catalogued like the reference (api.py:38-44), degrades with guidance without the 3rd-party jar (S4)") {
    // all five reference connectors are claimed
    assert(Set("datagen", "kafka", "kinesis", "rest", "s3")
      .subsetOf(Connectors.Supported))
    // this sandbox has no spark-sql-kinesis jar: the probe must say so
    // and open() must fail actionably (not claim 'unsupported connector')
    assert(Connectors.kinesisProviderAvailable.isEmpty)
    val err = intercept[IllegalStateException](
      Connectors.open(spark, Connectors.ConnectorSpec("kinesis")))
    assert(err.getMessage.contains("spark-sql-kinesis"))
    assert(err.getMessage.contains("classpath"))
  }

  test("kinesis open() maps stream/region/start-position options onto the provider dialect (api.py:22-44)") {
    // a stub spark-sql-kinesis source (StreamSourceProvider, qubole option
    // dialect) sits on the TEST classpath; inject it through the provider
    // seam so open() exercises the real mapping code — not the degradation
    // path — against a resolvable format
    Connectors.extraKinesisProviders = Seq(Connectors.KinesisProvider(
      classOf[StubKinesisSourceProvider].getName, "stub-kinesis",
      "startingposition"))
    try {
      assert(Connectors.kinesisProviderAvailable.contains("stub-kinesis"))
      val df = Connectors.open(spark, Connectors.ConnectorSpec("kinesis",
        Map("streamName" -> "events", "awsRegion" -> "us-east-1")))
      assert(df.isStreaming)
      val opts = StubKinesisSourceProvider.lastOptions
      // earliest → the provider's TRIM_HORIZON dialect, user properties
      // pass through untouched (api.py:22-44 semantics)
      assert(opts.get("startingposition").contains("TRIM_HORIZON"), opts)
      assert(opts.get("streamName").contains("events"), opts)
      assert(opts.get("awsRegion").contains("us-east-1"), opts)

      Connectors.open(spark, Connectors.ConnectorSpec("kinesis",
        Map("streamName" -> "events"),
        startPosition = Connectors.Latest))
      assert(StubKinesisSourceProvider.lastOptions
        .get("startingposition").contains("LATEST"))
    } finally Connectors.extraKinesisProviders = Nil
  }

  test("connection lifecycle: create/activate/reactivate/delete as catalog entities (impl.py:577-637)") {
    val e = new Engine(spark, tmpDir("graft-conn-life"))
    e.createStream("fed", StreamSchema(Seq(PhysicalField("id", FBigInt))))
    val c = e.createConnection("fed_src", "kafka", stream = "fed",
      properties = Map("kafka.bootstrap.servers" -> "broker:9092"))
    assert(!c.active, "connections start inactive like the reference's created state")
    assert(e.catalog.getConnection("fed_src").exists(!_.active))

    e.activateConnection("fed_src")
    assert(e.catalog.getConnection("fed_src").exists(_.active))
    e.deactivateConnection("fed_src")
    assert(e.catalog.getConnection("fed_src").exists(!_.active))
    e.reactivateConnection("fed_src")
    assert(e.catalog.getConnection("fed_src").exists(_.active))

    // delete = deactivate + remove; missing names raise like
    // raise_database_error (impl.py:626-637)
    e.deleteConnection("fed_src")
    assert(!e.catalog.connectionExists("fed_src"))
    intercept[IllegalArgumentException](e.deleteConnection("fed_src"))
    intercept[IllegalArgumentException](e.reactivateConnection("nope"))
    intercept[IllegalArgumentException](e.createConnection("x", "carrier-pigeon", "fed"))
  }

  test("seeds create their rest connection; cleanup removes it with the stream (operations.sql:96-98)") {
    val e = new Engine(spark, tmpDir("graft-conn-seed"))
    val csv = java.nio.file.Paths.get(tmpDir("seedcsv"), "people.csv")
    java.nio.file.Files.write(csv, "id,name\n1,ada\n2,lin\n".getBytes)
    e.seed("people", csv.toString)

    // the seed ingested through a rest connection named after it, left
    // deactivated after sending (impl.py:560-575)
    val conn = e.catalog.getConnection("people")
    assert(conn.exists(c => c.connector == "rest" && c.stream == "people" && !c.active))
    assert(e.readStream("people").count() == 2)

    // cleanup drops per resource type: connection AND stream
    e.cleanup(Some(Seq("people")))
    assert(!e.catalog.connectionExists("people"))
    assert(!e.catalog.exists("people"))
  }

  test("cleanup deactivates and removes a BOUND connection (running ingest stops)") {
    import spark.implicits._
    val dir = tmpDir("boundsrc")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data")
    val e = new Engine(spark, tmpDir("graft-conn-bound"))
    e.createStream("bound", StreamSchema(Seq(
      PhysicalField("id", FBigInt), PhysicalField("v", FString))))
    e.createConnection("bound_src", "file", stream = "bound", properties = Map(
      "path" -> s"$dir/data", "schema" -> "id BIGINT, v STRING"))
    val q = e.bindConnection("bound_src", tmpDir("ckpt-bound"))
    q.processAllAvailable()
    assert(e.readStream("bound").count() == 2)
    assert(e.catalog.getConnection("bound_src").exists(_.active))

    e.cleanup(Some(Seq("bound")))
    assert(!q.isActive, "cleanup must stop the bound ingest query")
    assert(!e.catalog.connectionExists("bound_src"))
    assert(!e.catalog.exists("bound"))
  }
}
