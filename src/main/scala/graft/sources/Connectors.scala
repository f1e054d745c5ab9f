package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.Engine
import graft.schema.{MetadataField, PhysicalField, StreamSchema}

/** Connector catalog — the engine analog of the reference's connector set
  * `datagen | kafka | kinesis | rest | s3`
  * (/root/reference/decodable/client/api.py:38-44) with connection types
  * source/sink (api.py:46-48), mapped onto Spark's own source formats:
  *
  * | reference | here | notes |
  * |---|---|---|
  * | datagen  | `rate` source | rows/sec generator, remapped through a projection |
  * | kafka    | `kafka` source/sink | passes options through; needs the kafka connector jar + brokers at runtime |
  * | kinesis  | third-party `spark-sql-kinesis` behind a classpath probe | Spark ships no first-party kinesis source; [[open]] degrades with actionable guidance when the jar is absent |
  * | rest     | direct DataFrame append | [[Engine.appendRows]] — the seed-ingest path (impl.py:502-574) |
  * | s3       | file source (parquet/csv/json on s3a://) | start positions via checkpoint fast-forward |
  *
  * Start positions (api.py:22-35, `earliest`/`latest`): Kafka maps to
  * `startingOffsets` natively. File sources have no skip-existing option
  * (`latestFirst` only reorders processing), so `latest` is implemented in
  * [[bindSource]] by a checkpoint fast-forward: an AvailableNow pass that
  * commits source offsets past everything currently present while
  * discarding the batches — after it, only data arriving later flows.
  */
object Connectors {

  sealed trait StartPosition { def kafkaOffsets: String }
  case object Earliest extends StartPosition { val kafkaOffsets = "earliest" }
  case object Latest extends StartPosition { val kafkaOffsets = "latest" }

  final case class ConnectorSpec(
      connector: String,
      properties: Map[String, String] = Map.empty,
      startPosition: StartPosition = Earliest)

  /** The reference's five connectors (api.py:38-44) plus the local `file`
    * alias for `s3`. */
  val Supported: Set[String] = Set("datagen", "kafka", "kinesis", "rest", "s3", "file")

  /** The two community kinesis connectors (qubole/awslabs
    * spark-sql-kinesis and its DSv2 successor), each with ITS OWN
    * registered short format name and start-position option dialect —
    * the qubole DSv1 source registers `kinesis` and reads
    * `startingposition`; the awslabs DSv2 catalog provider registers
    * `aws-kinesis` and reads `kinesis.startingPosition`. Spark has no
    * first-party kinesis source, so availability is a runtime classpath
    * question — probed, never linked. */
  private[sources] final case class KinesisProvider(cls: String, format: String,
                                                    startPosOption: String)
  private val KinesisProviders = Seq(
    KinesisProvider("org.apache.spark.sql.kinesis.KinesisSourceProvider",
      "kinesis", "startingposition"),
    KinesisProvider("org.apache.spark.sql.connector.kinesis.KinesisV2TableProvider",
      "aws-kinesis", "kinesis.startingPosition"))

  /** Test seam: provider rows probed AFTER the real ones, so the suite can
    * drive [[open]]'s kinesis option-mapping against a stub source on the
    * test classpath (this sandbox cannot run the 3rd-party jar itself) —
    * the default empty value leaves production behavior untouched. */
  @volatile private[sources] var extraKinesisProviders: Seq[KinesisProvider] = Nil

  /** The connector-specific source format name if a kinesis provider is
    * on the classpath. */
  def kinesisProviderAvailable: Option[String] = kinesisProvider.map(_.format)

  private def kinesisProvider: Option[KinesisProvider] =
    (KinesisProviders ++ extraKinesisProviders).find { p =>
      try { Class.forName(p.cls, false, getClass.getClassLoader); true }
      catch { case _: ClassNotFoundException => false }
    }

  /** Open a streaming source for a connector spec. The returned frame is
    * unbounded; bind it to a stream with [[bindSource]]. */
  def open(spark: SparkSession, spec: ConnectorSpec): DataFrame = spec.connector match {
    case "datagen" =>
      val rps = spec.properties.getOrElse("rows.per.second", "100")
      spark.readStream.format("rate").option("rowsPerSecond", rps).load()
    case "kafka" =>
      val reader = spark.readStream.format("kafka")
        .option("startingOffsets", spec.startPosition.kafkaOffsets)
      spec.properties.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }.load()
    case "s3" | "file" =>
      val path = spec.properties.getOrElse("path",
        throw new IllegalArgumentException("file/s3 connector requires 'path'"))
      val format = spec.properties.getOrElse("format", "parquet")
      val schema = spec.properties.getOrElse("schema",
        throw new IllegalArgumentException(
          "file/s3 streaming source requires an explicit 'schema' (DDL string)"))
      // `latest` is NOT latestFirst (that only reorders; all existing files
      // still process) — it's handled by bindSource's checkpoint fast-forward
      spark.readStream.format(format).schema(schema).load(path)
    case "kinesis" =>
      kinesisProvider match {
        case Some(p) =>
          // each provider's own format name and start-position option
          // dialect; every user property passes through untouched on top
          val reader = spark.readStream.format(p.format)
            .option(p.startPosOption,
              spec.startPosition match {
                case Earliest => "TRIM_HORIZON"
                case Latest => "LATEST"
              })
          spec.properties.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }.load()
        case None =>
          throw new IllegalStateException(
            "kinesis connector requires the third-party spark-sql-kinesis " +
              "connector on the classpath (Spark has no first-party kinesis " +
              "source; add the qubole/awslabs spark-sql-kinesis jar to " +
              "spark.jars) — probed for: " +
              KinesisProviders.map(_.cls).mkString(", "))
      }
    case "rest" =>
      throw new IllegalArgumentException(
        "rest connector has no continuous source; append events with Engine.appendRows " +
          "(the reference's seed-ingest path)")
    case other =>
      throw new IllegalArgumentException(
        s"unsupported connector '$other' (supported: ${Supported.mkString(", ")})")
  }

  /** Resolve a declared metadata key (reference schema.py:63-106 — a field
    * "bound to" source metadata) to the Spark source's actual metadata
    * column. Kafka-style keys are real columns on the source frame
    * (timestamp/topic/partition/offset); the Flink filesystem keys map to
    * Spark's hidden `_metadata` struct on file sources. */
  def metadataColumn(source: DataFrame, key: String): Column =
    if (source.columns.contains(key)) col(key) // kafka: timestamp, topic, …
    else key match {
      case "file.path" => col("_metadata.file_path")
      case "file.name" => col("_metadata.file_name")
      case "file.size" => col("_metadata.file_size")
      case "file.modification-time" | "file.modification_time" | "timestamp" =>
        col("_metadata.file_modification_time")
      case other =>
        throw new IllegalArgumentException(
          s"metadata key '$other' is not provided by this source " +
            s"(source columns: ${source.columns.mkString(", ")})")
    }

  /** Bind a connector source to a catalog stream: project the source frame
    * onto the stream's declared schema — physical fields by name, metadata
    * fields resolved from source metadata ([[metadataColumn]]) and cast to
    * their declared type — and continuously append — the analog of a
    * source connection feeding a stream (client.py:433-501).
    *
    * The query starts through [[graft.streaming.QueryRunner.start]], so
    * `checkpoint` belongs to it: with no logged batch there it is cleared
    * first, and with `startPosition = Latest` a fast-forward AvailableNow
    * pass then commits offsets past all current contents (discarding the
    * rows), so the returned query only ingests data that arrives after
    * binding — Kafka `startingOffsets=latest` semantics for sources that
    * lack a native skip-existing switch.
    *
    * Returns the running query. */
  def bindSource(engine: Engine, name: String, source: DataFrame,
                 checkpoint: String,
                 startPosition: StartPosition = Earliest): StreamingQuery = {
    val schema = engine.catalog(name).schema
    val projected = source.select(schema.fields.collect {
      case PhysicalField(n, _) => col(n)
      case MetadataField(n, key, t) =>
        metadataColumn(source, key).cast(t.toSpark).as(n)
    }: _*)
    // ProcessingTime(0): Spark's default trigger, a batch as soon as the
    // previous one ends
    graft.streaming.QueryRunner.start(projected, checkpoint, "append",
      Trigger.ProcessingTime(0L), skipExisting = startPosition == Latest)(
      (batch, _) => engine.appendRows(name, batch))
  }

  /** "No prior checkpoint" means no logged batch — the checkpoint
    * DIRECTORY may pre-exist (callers often create it), so test for a
    * batch-id file in the `offsets/` log Spark writes on the first batch.
    * Only batch ids count: a start interrupted mid-write leaves a temp or
    * checksum file there, and Spark does not count it as a batch either. */
  def hasCommittedOffsets(checkpoint: String): Boolean = {
    val offsets = Paths.get(checkpoint).resolve("offsets")
    Files.isDirectory(offsets) &&
      scala.util.Using.resource(Files.list(offsets))(
        _.anyMatch(p => p.getFileName.toString.toLongOption.isDefined))
  }

  /** Batch read of an external file table (the s3 connector's bounded
    * form; `s3a://` URIs work unchanged when the hadoop-aws jars are on
    * the cluster classpath). */
  def readBatch(spark: SparkSession, path: String, format: String = "parquet",
                schema: Option[StreamSchema] = None): DataFrame = {
    val reader = spark.read.format(format)
    schema.map(s => reader.schema(s.toStruct)).getOrElse(reader).load(path)
  }
}
