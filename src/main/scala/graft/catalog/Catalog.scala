package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.schema._
import graft.types.FlinkType

/** One stream's definition: the engine analog of the reference's
  * stream + pipeline resource pair (a dbt model materializes as both,
  * sharing a name — /root/reference/dbt/adapters/decodable/impl.py:449-480).
  *
  * @param name      fully-qualified name (namespace prefix already applied)
  * @param schema    declared schema (drives storage struct, PK, watermarks)
  * @param sql       pipeline SELECT, if this stream is pipeline-fed
  *                  (`INSERT INTO name <sql>`, impl.py:690-692); None for
  *                  seeds / externally-fed streams
  * @param sources   stream names the pipeline reads FROM (consumer tracking
  *                  for cascading drop, impl.py:246-254)
  * @param active    pipeline activation state (target_state RUNNING,
  *                  impl.py:218; default true, impl.py:458-460)
  * @param properties free-form engine properties
  * @param writeEpoch monotone counter bumped per write — the ingest-order
  *                   tiebreak that makes change-stream compaction
  *                   deterministic (SURVEY §7.5)
  */
final case class StreamDef(
    name: String,
    schema: StreamSchema,
    sql: Option[String] = None,
    sources: Seq[String] = Nil,
    active: Boolean = true,
    properties: Map[String, String] = Map.empty,
    writeEpoch: Long = 0L) {

  /** Spec hash driving has_changed (impl.py:402-417 dry-run diff → here a
    * content hash over everything that defines the resource pair). */
  def specHash: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val content = schema.canonicalJson + "|" + sql.getOrElse("") + "|" +
      sources.mkString(",") + "|" + active + "|" +
      properties.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
    md.digest(content.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

/** A connection resource: the catalog entity that binds an external
  * connector to a stream (reference connections are first-class resources
  * with their own id + activation lifecycle, client.py:433-501; seeds
  * create one per table, impl.py:536-547, and `cleanup` deletes them per
  * resource type, macros/operations.sql:90-104).
  *
  * @param name       fully-qualified connection name (seeds share the
  *                   stream's name, impl.py:539-541)
  * @param connector  connector kind (`datagen|kafka|rest|s3|file`)
  * @param connType   `source` or `sink` (api.py:46-48)
  * @param stream     the stream this connection feeds/reads
  * @param properties connector properties (bootstrap servers, path, …)
  * @param active     activation state (activate/deactivate_connection,
  *                   client.py:470-487)
  */
final case class ConnectionDef(
    name: String,
    connector: String,
    connType: String = "source",
    stream: String = "",
    properties: Map[String, String] = Map.empty,
    active: Boolean = false)

/** One store of a commit manifest ([[graft.engine.StagedCommit]]): the
  * def the commit puts, whether a staged directory flips into place
  * first, and the store's write epoch when the commit was logged (a
  * replay puts the def only while the store is still at that epoch or
  * already at the target's). */
final case class CommitEntry(target: StreamDef, staged: Boolean, fromEpoch: Long)

/** File-backed stream registry: `<root>/_catalog/<name>.json` beside the
  * stream data dirs `<root>/<name>`. The namespace is flat (reference
  * create/drop/list_schemas are no-ops, impl.py:178-189) with an optional
  * `ns__name` prefix (macros/adapters.sql:17-28, connections.py:47).
  * Connections live under `_catalog/_connections/<name>.json` — a separate
  * resource type, as in the reference control plane.
  */
final class Catalog(val root: String, val namespace: Option[String] = None) {

  private val mapper = new ObjectMapper()

  private def catalogDir: Path = Paths.get(root, "_catalog")
  Files.createDirectories(catalogDir)

  /** `ns__name` prefixing, idempotent. */
  def qualify(name: String): String = namespace match {
    case Some(ns) if !name.startsWith(s"${ns}__") => s"${ns}__$name"
    case _ => name
  }

  def dataPath(name: String): String = s"$root/${qualify(name)}"

  private def defPath(name: String): Path = catalogDir.resolve(s"${qualify(name)}.json")

  def exists(name: String): Boolean = Files.exists(defPath(name))

  def list(): Seq[StreamDef] =
    scala.util.Using.resource(Files.list(catalogDir)) { s =>
      s.iterator().asScala
        .filter(_.toString.endsWith(".json"))
        .map(p => fromNode(mapper.readTree(Files.readAllBytes(p))))
        .toSeq
    }.sortBy(_.name)

  /** Every stream's qualified name, from the def file names alone (no
    * def is parsed). */
  def names(): Seq[String] =
    scala.util.Using.resource(Files.list(catalogDir)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).toSeq
    }.sorted

  def get(name: String): Option[StreamDef] =
    if (!exists(name)) None
    else Some(fromNode(mapper.readTree(Files.readAllBytes(defPath(name)))))

  def put(d: StreamDef): Unit = {
    val qualified = d.copy(name = qualify(d.name))
    writeAtomically(defPath(qualified.name),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(toNode(qualified)))
  }

  /** Replace `p`'s content all-or-nothing: write a sibling temp file, then
    * ATOMIC_MOVE it over `p`. A crash mid-write leaves the previous
    * content, never a truncated file; the temp name
    * (`.<file>.<uuid>.tmp`) never matches the `.json` listings. */
  private[graft] def writeAtomically(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(s".${p.getFileName}.${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  def delete(name: String): Unit = {
    Files.deleteIfExists(defPath(name))
    deleteRecursively(Paths.get(dataPath(name)))
  }

  /** Streams whose pipeline reads `name` as a source — the consumers that a
    * cascading drop must remove first (impl.py:246-254). */
  def consumers(name: String): Seq[StreamDef] = {
    val q = qualify(name)
    list().filter(_.sources.contains(q))
  }

  def rename(oldName: String, newName: String): Unit = {
    val d = get(oldName).getOrElse(
      throw new IllegalArgumentException(s"stream '$oldName' not found"))
    val qNew = qualify(newName)
    // move data dir
    val oldData = Paths.get(dataPath(oldName))
    if (Files.exists(oldData))
      Files.move(oldData, Paths.get(dataPath(newName)), StandardCopyOption.ATOMIC_MOVE)
    Files.deleteIfExists(defPath(oldName))
    put(d.copy(name = qNew))
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
    }

  // --- connection resources (client.py:433-501) ---

  private def connDir: Path = catalogDir.resolve("_connections")

  private def connPath(name: String): Path = {
    Files.createDirectories(connDir)
    connDir.resolve(s"${qualify(name)}.json")
  }

  def connectionExists(name: String): Boolean = Files.exists(connPath(name))

  def putConnection(c: ConnectionDef): Unit = {
    val q = c.copy(name = qualify(c.name), stream = qualify(c.stream))
    val node = mapper.createObjectNode()
    node.put("name", q.name)
    node.put("connector", q.connector)
    node.put("conn_type", q.connType)
    node.put("stream", q.stream)
    val props = node.putObject("properties")
    q.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    node.put("active", q.active)
    writeAtomically(connPath(q.name),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
  }

  def getConnection(name: String): Option[ConnectionDef] =
    if (!connectionExists(name)) None
    else {
      val n = mapper.readTree(new String(Files.readAllBytes(connPath(name)), "UTF-8"))
      Some(ConnectionDef(
        name = n.get("name").asText(),
        connector = n.get("connector").asText(),
        connType = n.get("conn_type").asText(),
        stream = n.get("stream").asText(),
        properties = Option(n.get("properties")).map(p =>
          p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty),
        active = Option(n.get("active")).exists(_.asBoolean())))
    }

  def listConnections(): Seq[ConnectionDef] =
    if (!Files.isDirectory(connDir)) Nil
    else scala.util.Using.resource(Files.list(connDir)) { s =>
      s.iterator().asScala
        .filter(_.toString.endsWith(".json"))
        .map(p => p.getFileName.toString.stripSuffix(".json"))
        .toSeq
    }.sorted.flatMap(getConnection)

  def deleteConnection(name: String): Unit =
    Files.deleteIfExists(connPath(name))

  /** Connections bound to a stream (for per-resource cleanup parity). */
  def connectionsOf(stream: String): Seq[ConnectionDef] = {
    val q = qualify(stream)
    listConnections().filter(_.stream == q)
  }

  // --- commit manifests (graft.engine.StagedCommit): one JSON file per
  // logged, not yet fully applied commit, in `_catalog/_commits/` ---

  private def commitDir: Path = catalogDir.resolve("_commits")

  private[graft] def putManifest(id: String, entries: Seq[CommitEntry]): Unit = {
    val node = mapper.createObjectNode()
    val stores = node.putArray("stores")
    entries.foreach { e =>
      val s = stores.addObject()
      s.set[ObjectNode]("def", toNode(e.target))
      s.put("staged", e.staged)
      s.put("from_epoch", e.fromEpoch)
    }
    Files.createDirectories(commitDir)
    writeAtomically(commitDir.resolve(s"$id.json"), mapper.writeValueAsString(node))
  }

  /** Every logged commit as (id, entries), oldest first (ids sort by
    * creation time). */
  private[graft] def manifests(): Seq[(String, Seq[CommitEntry])] =
    if (!Files.isDirectory(commitDir)) Nil
    else scala.util.Using.resource(Files.list(commitDir)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".json")).toSeq
    }.sortBy(_.getFileName.toString).map { p =>
      val n = mapper.readTree(Files.readAllBytes(p))
      p.getFileName.toString.stripSuffix(".json") ->
        n.get("stores").elements().asScala.map(s => CommitEntry(
          fromNode(s.get("def")), s.get("staged").asBoolean(),
          s.get("from_epoch").asLong())).toSeq
    }

  private[graft] def deleteManifest(id: String): Unit =
    Files.deleteIfExists(commitDir.resolve(s"$id.json"))

  // --- JSON (de)serialization via jackson tree model (on Spark's classpath) ---

  private def toNode(d: StreamDef): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("name", d.name)
    node.set[ObjectNode]("schema", mapper.readTree(d.schema.canonicalJson).asInstanceOf[ObjectNode])
    d.sql.foreach(node.put("sql", _))
    val srcs = node.putArray("sources"); d.sources.foreach(srcs.add)
    node.put("active", d.active)
    val props = node.putObject("properties")
    d.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    node.put("write_epoch", d.writeEpoch)
    node
  }

  private def fromNode(n: JsonNode): StreamDef = {
    val schemaNode = n.get("schema")
    val fields = schemaNode.get("fields").elements().asScala.map { f =>
      f.get("kind").asText() match {
        case "physical" =>
          PhysicalField(f.get("name").asText(), FlinkType.parseOrThrow(f.get("type").asText()))
        case "metadata" =>
          MetadataField(f.get("name").asText(), f.get("key").asText(),
            FlinkType.parseOrThrow(f.get("type").asText()))
        case "computed" =>
          ComputedField(f.get("name").asText(), f.get("expression").asText())
        case k => throw new IllegalArgumentException(s"Unknown field kind: $k")
      }
    }.toSeq
    val watermarks = schemaNode.get("watermarks").elements().asScala
      .map(w => Watermark(w.get("name").asText(), w.get("expression").asText())).toSeq
    val pk = schemaNode.get("constraints").get("primary_key").elements().asScala
      .map(_.asText()).toSeq
    def textSeq(field: String): Seq[String] =
      Option(n.get(field)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    StreamDef(
      name = n.get("name").asText(),
      schema = StreamSchema(fields, watermarks, pk),
      sql = Option(n.get("sql")).map(_.asText()),
      sources = textSeq("sources"),
      active = Option(n.get("active")).forall(_.asBoolean()),
      properties = Option(n.get("properties")).map(p =>
        p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      writeEpoch = Option(n.get("write_epoch")).map(_.asLong()).getOrElse(0L))
  }
}
