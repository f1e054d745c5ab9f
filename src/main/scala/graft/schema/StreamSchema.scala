package graft.schema

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{StructField, StructType}

import graft.types.FlinkType

/** Stream schema model (reference `SchemaV2`,
  * /root/reference/decodable/client/schema.py:120-149): ordered fields of
  * three kinds + watermarks + primary-key constraint.
  *
  * Field kinds (schema.py:32-36):
  *   - physical: name + type → a real [[StructField]];
  *   - metadata: name + key + type (e.g. a Kafka timestamp) → supplied by the
  *     source; materialized as a physical column whose provenance is the key;
  *   - computed: name + SQL expression → `df.withColumn(name, expr(...))`.
  */
sealed trait SchemaField {
  def name: String
  def kind: String
}

final case class PhysicalField(name: String, fieldType: FlinkType) extends SchemaField {
  def kind = "physical"
}

final case class MetadataField(name: String, key: String, fieldType: FlinkType) extends SchemaField {
  def kind = "metadata"
}

final case class ComputedField(name: String, expression: String) extends SchemaField {
  def kind = "computed"
}

/** Watermark declaration (schema.py:114-117): `name` is the event-time
  * column, `expression` the Flink-style bounded-delay expression, e.g.
  * `` `timestamp` - INTERVAL '0.001' SECOND ``.
  */
final case class Watermark(name: String, expression: String) {
  /** Parse the delay into a Spark `withWatermark` threshold string.
    * Recognizes `col - INTERVAL 'x' UNIT` (the only shape the reference's
    * shipped models use — http_events.sql:6-11, events_count.sql:5-9,
    * case-insensitive `interval`). Returns e.g. "0.001 seconds".
    */
  def delayThreshold: Option[String] = Watermark.IntervalRe.findFirstMatchIn(expression)
    .map(m => s"${m.group(1)} ${m.group(2).toLowerCase}s")
}

object Watermark {
  private val IntervalRe =
    """(?i)INTERVAL\s+'([\d.]+)'\s+(SECOND|MINUTE|HOUR|DAY|MILLISECOND)""".r
}

final case class StreamSchema(
    fields: Seq[SchemaField],
    watermarks: Seq[Watermark] = Nil,
    primaryKey: Seq[String] = Nil) {

  /** Physical shape of the stream's storage: physical + metadata fields
    * become stored columns; computed fields are applied on read.
    * NOT NULL renders as nullable=false; PRIMARY KEY wrapper implies both
    * membership in [[primaryKeyColumns]] and non-nullability.
    */
  def toStruct: StructType = StructType(fields.collect {
    case PhysicalField(n, t) => structField(n, t)
    case MetadataField(n, _, t) => structField(n, t)
  })

  private def structField(n: String, t: FlinkType): StructField = t match {
    case FlinkType.FNotNull(inner) => StructField(n, stripWrappers(inner).toSpark, nullable = false)
    case FlinkType.FPrimaryKey(inner) => StructField(n, stripWrappers(inner).toSpark, nullable = false)
    case other => StructField(n, other.toSpark, nullable = true)
  }

  private def stripWrappers(t: FlinkType): FlinkType = t match {
    case FlinkType.FNotNull(i) => stripWrappers(i)
    case FlinkType.FPrimaryKey(i) => stripWrappers(i)
    case other => other
  }

  /** PK = explicit constraint list ∪ fields declared `T PRIMARY KEY`. */
  def primaryKeyColumns: Seq[String] =
    (primaryKey ++ fields.collect {
      case PhysicalField(n, FlinkType.FPrimaryKey(_)) => n
    }).distinct

  /** A PK makes the stream a change stream (README.md:104). */
  def isChangeStream: Boolean = primaryKeyColumns.nonEmpty

  /** Apply computed columns + watermark-readiness to a raw DataFrame. */
  def applyComputed(df: DataFrame): DataFrame =
    fields.foldLeft(df) {
      case (d, ComputedField(n, e)) => d.withColumn(n, expr(e))
      case (d, _) => d
    }

  /** Canonical JSON used for hashing/diffing (reference SchemaV2.__hash__,
    * schema.py:143-145 hashes the dict dump). Stable field order; the
    * catalog stores this node as the def's schema. */
  def canonicalNode: ObjectNode = {
    val node = StreamSchema.mapper.createObjectNode()
    val fs = node.putArray("fields")
    fields.foreach { f =>
      val o = fs.addObject().put("kind", f.kind).put("name", f.name)
      f match {
        case PhysicalField(_, t) => o.put("type", t.render)
        case MetadataField(_, k, t) => o.put("key", k).put("type", t.render)
        case ComputedField(_, e) => o.put("expression", e)
      }
    }
    val ws = node.putArray("watermarks")
    watermarks.foreach(w => ws.addObject().put("name", w.name).put("expression", w.expression))
    val pk = node.putObject("constraints").putArray("primary_key")
    primaryKey.foreach(pk.add)
    node
  }

  def canonicalJson: String = StreamSchema.mapper.writeValueAsString(canonicalNode)

  def contentHash: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canonicalJson.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

object StreamSchema {
  private val mapper = new ObjectMapper()

  /** The inverse of [[StreamSchema.canonicalNode]]: a field's kind defaults
    * to physical, and an absent array reads as empty (a model config may
    * declare only some of them). */
  def fromNode(n: JsonNode): StreamSchema = {
    def elements(path: String*): Seq[JsonNode] =
      path.foldLeft(Option(n))((o, p) => o.flatMap(x => Option(x.get(p))))
        .toSeq.flatMap(_.elements().asScala)
    def text(f: JsonNode, key: String) = f.get(key).asText()
    StreamSchema(
      elements("fields").map { f =>
        Option(f.get("kind")).fold("physical")(_.asText()) match {
          case "physical" => PhysicalField(text(f, "name"), FlinkType.parseOrThrow(text(f, "type")))
          case "metadata" => MetadataField(text(f, "name"), text(f, "key"),
            FlinkType.parseOrThrow(text(f, "type")))
          case "computed" => ComputedField(text(f, "name"), text(f, "expression"))
          case k => throw new IllegalArgumentException(s"Unknown field kind: $k")
        }
      },
      elements("watermarks").map(w => Watermark(text(w, "name"), text(w, "expression"))),
      elements("constraints", "primary_key").map(_.asText()))
  }

  /** Infer a StreamSchema from a Spark schema (the S7 schema-from-SQL path:
    * `spark.sql(select).schema` analyzed lazily, then rendered as Flink
    * types — reference POST /pipelines/outputStream, client.py:292-297). */
  def fromStruct(st: StructType, primaryKey: Seq[String] = Nil,
                 watermarks: Seq[Watermark] = Nil): StreamSchema =
    StreamSchema(
      st.fields.toSeq.map { f =>
        val base = FlinkType.fromSpark(f.dataType)
        PhysicalField(f.name, if (f.nullable) base else FlinkType.FNotNull(base))
      },
      watermarks, primaryKey)
}
