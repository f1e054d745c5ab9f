package graft.schema

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.types.FlinkType
import graft.types.FlinkType._

/** Analog of /root/reference/tests/unit/decodable/client/test_schema.py:
  * field factory kinds, SchemaV2 hash/eq, plus our watermark-expression
  * parsing (SURVEY §2.5 ST1).
  */
class StreamSchemaSpec extends AnyFunSuite {

  private val schema = StreamSchema(
    fields = Seq(
      PhysicalField("id", FNotNull(FBigInt)),
      PhysicalField("name", FString),
      MetadataField("ktime", "timestamp", FTimestampLtz(3)),
      ComputedField("name_upper", "upper(name)")),
    watermarks = Seq(Watermark("ktime", "`ktime` - INTERVAL '0.001' SECOND")),
    primaryKey = Seq("id"))

  test("physical struct: physical+metadata stored, computed applied on read") {
    val st = schema.toStruct
    assert(st.fieldNames.toSeq == Seq("id", "name", "ktime"))
    assert(st("id").dataType == LongType && !st("id").nullable)
    assert(st("ktime").dataType == TimestampType)
  }

  test("primary key from constraint list and from PRIMARY KEY wrapper") {
    assert(schema.primaryKeyColumns == Seq("id"))
    assert(schema.isChangeStream)
    val wrapped = StreamSchema(Seq(
      PhysicalField("k", FPrimaryKey(FString)), PhysicalField("v", FInt)))
    assert(wrapped.primaryKeyColumns == Seq("k"))
    assert(StreamSchema(Seq(PhysicalField("v", FInt))).primaryKeyColumns.isEmpty)
  }

  test("watermark delay parsing (http_events.sql:6-11 / events_count.sql:5-9 shapes)") {
    assert(Watermark("ts", "`ts` - INTERVAL '0.001' SECOND").delayThreshold
      .contains("0.001 seconds"))
    // lowercase `interval` appears in events_count.sql:7
    assert(Watermark("ts", "`ts` - interval '0.100' second").delayThreshold
      .contains("0.100 seconds"))
    assert(Watermark("ts", "`ts` - INTERVAL '5' MINUTE").delayThreshold
      .contains("5 minutes"))
    assert(Watermark("ts", "some_other_expr(ts)").delayThreshold.isEmpty)
  }

  test("content hash is stable and change-sensitive (test_schema.py hash/eq analog)") {
    val same = StreamSchema(
      fields = Seq(
        PhysicalField("id", FNotNull(FBigInt)),
        PhysicalField("name", FString),
        MetadataField("ktime", "timestamp", FTimestampLtz(3)),
        ComputedField("name_upper", "upper(name)")),
      watermarks = Seq(Watermark("ktime", "`ktime` - INTERVAL '0.001' SECOND")),
      primaryKey = Seq("id"))
    assert(schema.contentHash == same.contentHash)
    assert(schema.contentHash !=
      same.copy(primaryKey = Nil).contentHash)
    assert(schema.contentHash !=
      same.copy(fields = same.fields.tail).contentHash)
  }

  test("control characters in expressions survive a catalog round trip") {
    val expr = "CASE WHEN name = '\t' THEN 1\r\nELSE 0 END"
    val wm = "`ktime` -\tINTERVAL '1' SECOND\r"
    val d = graft.catalog.StreamDef("ctl", StreamSchema(
      fields = Seq(PhysicalField("name", FString),
        PhysicalField("ktime", FTimestampLtz(3)),
        ComputedField("is_tab", expr)),
      watermarks = Seq(Watermark("ktime", wm))))
    val dir = java.nio.file.Files.createTempDirectory("graft-ctl").toFile
    try {
      val cat = new graft.catalog.Catalog(dir.toString)
      cat.put(d)
      val back = cat("ctl")
      assert(back.schema == d.schema)
      assert(back.specHash == d.specHash)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("the canonical form of a storable def is unchanged") {
    // quotes, backslashes, newlines and non-ASCII text: everything the
    // catalog could already store keeps its spec hash
    val d = graft.catalog.StreamDef("fixed", StreamSchema(
      fields = Seq(PhysicalField("id", FNotNull(FBigInt)),
        PhysicalField("na\"me", FString),
        MetadataField("ktime", "timestamp", FTimestampLtz(3)),
        ComputedField("c", "concat(`na\"me`, '\\', '\n', 'é→')")),
      watermarks = Seq(Watermark("ktime", "`ktime` - INTERVAL '0.001' SECOND")),
      primaryKey = Seq("id")),
      sql = Some("SELECT 1"), sources = Seq("src"),
      properties = Map("start_position.src" -> "latest"))
    assert(d.specHash == "0729c30e83d64fd26564544ca23682955eaa537bb2262e626d219b897720230f")
  }

  test("fromNode inverts canonicalNode; a field's kind defaults to physical") {
    assert(StreamSchema.fromNode(schema.canonicalNode) == schema)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(StreamSchema.fromNode(mapper.readTree(
      """{"fields": [{"name": "x", "type": "INT"}], "watermarks": []}""")) ==
      StreamSchema(Seq(PhysicalField("x", FInt))))
    assert(intercept[IllegalArgumentException](StreamSchema.fromNode(mapper.readTree(
      """{"fields": [{"kind": "virtual", "name": "x"}]}"""))).getMessage.contains("virtual"))
  }

  test("a def file reads back and is rewritten byte for byte") {
    // written by the catalog before its schema reader moved to fromNode
    val stored = """{
  "name" : "ns__fixed",
  "schema" : {
    "fields" : [ {
      "kind" : "physical",
      "name" : "id",
      "type" : "BIGINT NOT NULL"
    }, {
      "kind" : "physical",
      "name" : "na\"me",
      "type" : "STRING"
    }, {
      "kind" : "metadata",
      "name" : "ktime",
      "key" : "timestamp",
      "type" : "TIMESTAMP_LTZ(3)"
    }, {
      "kind" : "computed",
      "name" : "c",
      "expression" : "concat(`na\"me`, '\\', '\n', 'é→')"
    } ],
    "watermarks" : [ {
      "name" : "ktime",
      "expression" : "`ktime` - INTERVAL '0.001' SECOND"
    } ],
    "constraints" : {
      "primary_key" : [ "id" ]
    }
  },
  "sql" : "SELECT 1",
  "sources" : [ "ns__src" ],
  "active" : true,
  "properties" : {
    "start_position.ns__src" : "latest"
  },
  "write_epoch" : 3
}"""
    val dir = java.nio.file.Files.createTempDirectory("graft-defbytes")
    try {
      val file = dir.resolve("_catalog").resolve("ns__fixed.json")
      java.nio.file.Files.createDirectories(file.getParent)
      java.nio.file.Files.writeString(file, stored)
      val cat = new graft.catalog.Catalog(dir.toString, Some("ns"))
      val d = cat("fixed")
      assert(d.schema == StreamSchema(
        fields = Seq(PhysicalField("id", FNotNull(FBigInt)),
          PhysicalField("na\"me", FString),
          MetadataField("ktime", "timestamp", FTimestampLtz(3)),
          ComputedField("c", "concat(`na\"me`, '\\', '\n', 'é→')")),
        watermarks = Seq(Watermark("ktime", "`ktime` - INTERVAL '0.001' SECOND")),
        primaryKey = Seq("id")))
      assert(d.sources == Seq("ns__src") && d.writeEpoch == 3L)
      cat.put(d)
      assert(java.nio.file.Files.readString(file) == stored)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("fromStruct renders nullability as NOT NULL") {
    val st = StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("b", StringType, nullable = true)))
    val ss = StreamSchema.fromStruct(st)
    assert(ss.fields == Seq(
      PhysicalField("a", FNotNull(FInt)), PhysicalField("b", FString)))
  }
}
