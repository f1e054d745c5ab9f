package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.schema.PhysicalField
import graft.types.FlinkType
import graft.types.FlinkType._

/** Seed typing from the rows of one all-STRING read, checked against the
  * classification it replaced: Spark's `inferSchema` CSV read for the
  * column classes plus a raw-string read for TIME columns (three reads of
  * the file). Each fixture exercises one corner of the CSV sniffer. */
class SeedInferenceSpec extends SparkSpec {

  private val TimeRe = """\d{2}:\d{2}:\d{2}(\.\d{1,9})?""".r

  /** The three-read classification: the `inferSchema` read's types, TIME
    * where the first 1,000 raw strings all look like 'HH:mm:ss'. */
  private def threeReadTypes(csv: String): Seq[(String, FlinkType)] = {
    val sniffed = spark.read.option("header", "true").option("inferSchema", "true").csv(csv)
    val raw = spark.read.option("header", "true").csv(csv)
    val sample = raw.limit(1000).collect()
    val timeCols = raw.columns.zipWithIndex.collect { case (c, i)
      if sample.exists(!_.isNullAt(i)) &&
        sample.forall(r => r.isNullAt(i) || TimeRe.matches(r.getString(i))) => c
    }.toSet
    sniffed.schema.fields.toSeq.map { f =>
      f.name -> (if (timeCols(f.name)) FTime(3) else f.dataType match {
        case _: NumericType => FDecimal(10, 0)
        case BooleanType => FBoolean
        case TimestampType | TimestampNTZType => FTimestampLtz(3)
        case DateType => FDate
        case _ => FString
      })
    }
  }

  private val fixtures: Seq[(String, String)] = Seq(
    "integers" -> "a,b\n1,-7\n2,3000000000\n",
    "decimals" -> "price,rate\n10.5,0.001\n20.25,1000.5\n",
    "int_double_mix" -> "x,y\n1,2.5\n3,4\n",
    "booleans" -> "flag,mixed\ntrue,true\nFALSE,1\n",
    "timestamps" -> "ts,mixed\n2024-01-02 03:04:05,2024-01-02\n2024-02-03T04:05:06,2024-01-03 10:00:00\n",
    "dates" -> "day,notday\n2024-01-02,2024-13-45\n2024-12-31,x\n",
    "times" -> "t,frac,almost\n12:34:56,01:02:03.250,12:34\n23:59:59,,12:34:56\n",
    "quoted_commas" -> "name,n\n\"Smith, John\",1\n\"a,b,c\",2\n",
    "empty_cells" -> "k,v,all_empty\na,,\n,2,\nc,3,\n",
    "duplicate_header" -> "a,a,B,b\n1,x,true,2024-01-01\n2,y,false,2024-01-02\n",
    "header_only" -> "p,q,r\n")

  test("one-read seed typing gives the three-read Flink types on every fixture") {
    val dir = tmpDir("seedinfer")
    val e = new Engine(spark, tmpDir("graft-seedinfer"))
    try fixtures.foreach { case (name, content) =>
      val csv = Paths.get(dir, s"$name.csv")
      Files.writeString(csv, content)
      val expected = threeReadTypes(csv.toString)
      e.seed(name, csv.toString)
      val stored = e.catalog(name).schema.fields.collect { case PhysicalField(n, t) => n -> t }
      assert(stored == expected, s"fixture $name")
    } finally e.close()
  }

  test("TIME detection reads every row, not a leading sample") {
    val csv = Paths.get(tmpDir("seedinfer-long"), "t.csv")
    Files.writeString(csv, (Seq.fill(1200)("12:00:00") :+ "noon").mkString("t\n", "\n", "\n"))
    val e = new Engine(spark, tmpDir("graft-seedinfer"))
    try {
      e.seed("t", csv.toString)
      assert(e.catalog("t").schema.fields == Seq(PhysicalField("t", FString)))
      assert(e.preview("SELECT count(*) FROM t").head.getLong(0) == 1201L)
    } finally e.close()
  }
}
