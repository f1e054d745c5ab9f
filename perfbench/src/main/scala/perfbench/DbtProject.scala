package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The generated dbt project driven by the `dbt_build` workload: two CSV
  * seeds (nation, region), four models over three source streams, and a
  * schema.yml of unique/not_null tests.
  *
  * Model families: a staging projection, joins,
  * a primary-key aggregate (a change stream), and a fan-out segment
  * model filtering a shared parent. */
object DbtProject {
  val sources = Seq("customer", "orders", "lineitem")
  val segmentModel = "seg_automobile"

  private def pk(cols: String*): String =
    cols.map(c => s""""$c"""").mkString(
      """{{ config(output_stream={"schema_v2": {"constraints": {"primary_key": [""",
      ", ", "]}}}) }}\n")

  val models: Seq[(String, String)] = Seq(
    // staging projection
    "stg_orders" -> """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      |  o_totalprice AS totalprice, CAST(o_orderdate AS DATE) AS orderdate
      |FROM {{ source('tpch', 'orders') }}""",
    // joins
    "customer_nation" -> """SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
      |  c.c_acctbal AS acctbal, CAST(n.n_nationkey AS INT) AS n_nationkey,
      |  n.n_name, r.r_name
      |FROM {{ source('tpch', 'customer') }} c
      |JOIN {{ ref('nation') }} n ON c.c_nationkey = n.n_nationkey
      |JOIN {{ ref('region') }} r ON n.n_regionkey = r.r_regionkey""",
    // primary-key aggregate (a change stream)
    "nation_revenue" -> (pk("n_nationkey") +
      """SELECT cn.n_nationkey, cn.n_name,
      |  sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue, count(*) AS n_lines
      |FROM {{ source('tpch', 'lineitem') }} l
      |JOIN {{ ref('stg_orders') }} o ON l.l_orderkey = o.orderkey
      |JOIN {{ ref('customer_nation') }} cn ON o.custkey = cn.custkey
      |GROUP BY cn.n_nationkey, cn.n_name"""),
    // fan-out segment model: a filter over a shared parent
    segmentModel -> """SELECT custkey, acctbal, n_name, r_name
      |FROM {{ ref('customer_nation') }} WHERE segment = 'AUTOMOBILE'"""
  ).map { case (n, s) => n -> s.stripMargin }

  /** (model, column) pairs carrying both a unique and a not_null test. */
  val tested: Seq[(String, String)] = Seq("nation_revenue" -> "n_nationkey")

  private def schemaYml: String =
    tested.groupBy(_._1).toSeq.sortBy(_._1).map { case (m, cols) =>
      s"  - name: $m\n    columns:\n" + cols.map { case (_, c) =>
        s"      - name: $c\n        tests:\n          - unique\n          - not_null\n"
      }.mkString
    }.mkString("version: 2\nmodels:\n", "", "")

  /** Write the project under `dir` (seeds from the generated tables). */
  def write(spark: SparkSession, dataDir: String, dir: String): Unit = {
    val seeds = Paths.get(dir, "seeds")
    val models = Paths.get(dir, "models")
    Files.createDirectories(seeds)
    Files.createDirectories(models)
    Seq("nation", "region").foreach { t =>
      val df = spark.read.parquet(s"$dataDir/$t.parquet")
      val rows = df.collect().map(_.toSeq.mkString(","))
      Files.writeString(seeds.resolve(s"$t.csv"),
        (df.columns.mkString(",") +: rows).mkString("", "\n", "\n"))
    }
    this.models.foreach { case (n, sql) =>
      Files.writeString(models.resolve(s"$n.sql"), sql + "\n")
    }
    Files.writeString(models.resolve("schema.yml"), schemaYml)
  }
}
