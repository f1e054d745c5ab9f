package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The operator-query matrix (SURVEY.md §7.3): one named query per operator
  * row of SURVEY.md §2, each with a DuckDB oracle where ANSI-expressible.
  *
  * Oracle-parity rules used throughout (the driver hash-compares values):
  *   - double aggregations go through DECIMAL (exact) and are cast back to
  *     DOUBLE at the end — identical bits in Spark and DuckDB;
  *   - counts/ranks are cast to BIGINT (DuckDB's native width);
  *   - every query has a total deterministic ORDER BY on non-null keys;
  *   - `events.ts` reaches every gate as an epoch-nano BIGINT regardless
  *     of the file's physical timestamp type ([[Tables.load]] canonicalizes);
  *     DuckDB reads the column as a naive TIMESTAMP; both sides truncate
  *     toward -inf to micro/milli precision consistently.
  */
object Queries {

  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Engine roots gates made in this JVM, deleted when it exits. A gate's
    * frame reads its root lazily, so the root can only go once every
    * action on the frame is done; deleting it inside the gate would mean
    * materializing there, a different plan. */
  private val gateRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  sys.addShutdownHook(gateRoots.forEach(r =>
    scala.util.Try(graft.catalog.Catalog.deleteRecursively(r))))

  /** A fresh engine root for a gate, deleted at JVM exit. */
  private def gateRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    gateRoots.add(root)
    root.toString
  }

  /** Run the same SQL text on Spark (over temp views of the parquet tables)
    * and hand it to DuckDB as the oracle — the engine's core contract is
    * "SQL pipelines over named streams", so same-text queries are the purest
    * statement of parity.
    */
  private def sqlBoth(name: String, tables: Seq[String], sql: String): Q =
    Q(name, (s, dir) => {
      GraftFunctions.register(s)
      tables.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql(sql)
    }, Some(sql))

  private def q(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))

  // ---------------------------------------------------------------------
  // §2.1/§2.2 scans, projection, filters, scalar expressions
  // ---------------------------------------------------------------------

  val scanProject: Q = sqlBoth("scan_project", Seq("region"),
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")

  val filterPushdown: Q = q("filter_pushdown",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      | WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_quantity > 30
      | ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        && col("l_quantity") > 30)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val projectCast: Q = q("project_cast",
    """SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS custkey_str,
      |  CAST(length(c_name) AS BIGINT) AS name_len FROM customer
      | ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"),
      col("c_custkey").cast("string").as("custkey_str"),
      length(col("c_name")).cast("long").as("name_len"))
      .orderBy("c_custkey")
  }

  val grokExtract: Q = q("grok_extract",
    """SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k
      | FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    // props is '{"k": 87}' — the analog of envoy_raw.value
    // (http_events.sql:41-46): grok -> MAP<STRING,STRING> -> element access.
    GraftFunctions.register(s)
    Tables.events(s, dir).select(
      col("event_id"),
      GraftFunctions.grok(col("props"), lit("""\{"k": %{NUMBER:k}\}"""))
        .getItem("k").cast("int").as("k"))
      .orderBy("event_id")
  }

  val subqueryCoalesce: Q = sqlBoth("subquery_coalesce", Seq("orders"),
    """SELECT o_orderstatus, coalesce(o_orderpriority, '__UNKNOWN__') AS prio,
      |  count(1) AS n
      | FROM (SELECT * FROM orders) t
      | GROUP BY o_orderstatus, o_orderpriority
      | ORDER BY o_orderstatus, prio""".stripMargin)

  val neqDialect: Q = Q("neq_dialect", (s, dir) => {
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    // The reference rewrites != to <> before submission (impl.py:637-639);
    // Spark accepts both, but we keep the dialect hook live.
    s.sql(engine.SqlDialect.rewrite(
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        | WHERE l_linestatus != 'F' GROUP BY l_returnflag
        | ORDER BY l_returnflag""".stripMargin))
  }, Some(
    """SELECT l_returnflag, count(*) AS n FROM lineitem
      | WHERE l_linestatus <> 'F' GROUP BY l_returnflag
      | ORDER BY l_returnflag""".stripMargin))

  val toTimestampRoundtrip: Q = q("to_timestamp_roundtrip",
    """SELECT o_orderkey,
      |  strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ'), '%Y-%m-%dT%H:%M:%SZ') AS ots
      | FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    // TO_TIMESTAMP with Java patterns incl. quoted literals (P7,
    // http_events.sql:23).
    t(s, dir, "orders").select(
      col("o_orderkey"),
      to_timestamp(
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'")
        // session is UTC; NTZ output matches DuckDB's naive TIMESTAMP
        .cast("timestamp_ntz").as("ots"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------------
  // §2.3 aggregation
  // ---------------------------------------------------------------------

  /** The reference's own flagship model, events_count.sql:18-25, adapted to
    * the `events` table: coalesce + count(1) + min/max(to_timestamp_ltz).
    */
  val eventsCount: Q = Q("events_count", (s, dir) => {
    GraftFunctions.register(s)
    Tables.load(s, dir, "events").createOrReplaceTempView("events")
    s.sql(
      """SELECT coalesce(event_type, '__UNKNOWN__') AS event_type,
        |  count(1) AS count_observed,
        |  CAST(min(to_timestamp_ltz(ts div 1000000, 3)) AS TIMESTAMP_NTZ) AS min_timestamp,
        |  CAST(max(to_timestamp_ltz(ts div 1000000, 3)) AS TIMESTAMP_NTZ) AS max_timestamp
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  }, Some(
    """SELECT coalesce(event_type, '__UNKNOWN__') AS event_type,
      |  count(1) AS count_observed,
      |  min(date_trunc('millisecond', CAST(ts AS TIMESTAMP))) AS min_timestamp,
      |  max(date_trunc('millisecond', CAST(ts AS TIMESTAMP))) AS max_timestamp
      | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  val aggSumQ1: Q = sqlBoth("agg_sum_q1", Seq("lineitem"),
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      | FROM lineitem GROUP BY l_returnflag, l_linestatus
      | ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val distinctAgg: Q = sqlBoth("distinct_agg", Seq("orders"),
    """SELECT count(DISTINCT o_custkey) AS n_custs, count(*) AS n_orders
      | FROM orders""".stripMargin)

  val rollupAgg: Q = sqlBoth("rollup_agg", Seq("lineitem"),
    """SELECT coalesce(l_returnflag, '<all>') AS returnflag,
      |  coalesce(l_linestatus, '<all>') AS linestatus, count(*) AS n
      | FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      | ORDER BY returnflag, linestatus""".stripMargin)

  val cubeAgg: Q = sqlBoth("cube_agg", Seq("lineitem"),
    """SELECT coalesce(l_returnflag, '<all>') AS returnflag,
      |  coalesce(l_linestatus, '<all>') AS linestatus, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      | FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      | ORDER BY returnflag, linestatus""".stripMargin)

  val groupingSetsAgg: Q = sqlBoth("grouping_sets_agg", Seq("orders"),
    """SELECT coalesce(o_orderstatus, '<all>') AS status,
      |  coalesce(o_orderpriority, '<all>') AS prio, count(*) AS n
      | FROM orders
      | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      | ORDER BY status, prio""".stripMargin)

  /** P10: backtick-quoted identifiers — Spark side uses backticks (the
    * reference's quoting, impl.py:191-195); the oracle plain identifiers. */
  val backtickIdent: Q = Q("backtick_ident", (s, dir) => {
    Tables.load(s, dir, "part").createOrReplaceTempView("part")
    s.sql(
      """SELECT `p_partkey`, `p_brand`, `p_retailprice` FROM `part`
        | WHERE `p_size` > 30 ORDER BY `p_partkey`""".stripMargin)
  }, Some(
    """SELECT p_partkey, p_brand, p_retailprice FROM part
      | WHERE p_size > 30 ORDER BY p_partkey""".stripMargin))

  /** ST5 tumbling window, batch-checkable: Spark `window()` 1-hour buckets
    * ≡ DuckDB date_trunc('hour'). Exact aggregates only (count/min/max). */
  val windowTumbling: Q = q("window_tumbling",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
      |  event_type, count(*) AS n, min(value) AS min_v, max(value) AS max_v
      | FROM events GROUP BY hour_start, event_type
      | ORDER BY hour_start, event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n"), col("min_v"), col("max_v"))
      .orderBy("hour_start", "event_type")
  }

  /** ST5 hopping (sliding) windows: 1-hour windows every 30 minutes —
    * each event lands in exactly two windows. The oracle derives both
    * epoch-aligned window starts per event explicitly. */
  val windowHopping: Q = q("window_hopping",
    """WITH e AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events),
      |b AS (
      |  SELECT t, event_type, value,
      |    date_trunc('hour', t) + CASE WHEN minute(t) >= 30
      |      THEN INTERVAL '30 minutes' ELSE INTERVAL '0 minutes' END AS slot
      |  FROM e),
      |w AS (
      |  SELECT event_type, value,
      |    unnest([slot, slot - INTERVAL '30 minutes']) AS win_start
      |  FROM b)
      |SELECT win_start, event_type, count(*) AS n,
      |  min(value) AS min_v, max(value) AS max_v
      |FROM w GROUP BY win_start, event_type
      |ORDER BY win_start, event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("event_time"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))
      .select(col("window.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n"), col("min_v"), col("max_v"))
      .orderBy("win_start", "event_type")
  }

  /** Pivot: event counts per user, one static column per event type —
    * the dynamic-to-columnar reshape (`RelationalGroupedDataset.pivot`);
    * the oracle spells the same thing as conditional aggregates. */
  val pivotCounts: Q = q("pivot_counts",
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(coalesce(count(lit(1)), lit(0L)))
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy("user_id")
  }

  /** ST5 session windows, batch-checkable: Spark `session_window` (30-min
    * gap) vs a gaps-and-islands oracle. Spark's window end is exclusive —
    * an event exactly gap-after the previous one starts a NEW session —
    * hence `>=` in the oracle's new-session predicate. */
  val sessionWindows: Q = q("session_windows",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
      |m AS (
      |  SELECT user_id, t,
      |    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |           OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
      |              >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (
      |  SELECT user_id, t,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, min(t) AS session_start, count(*) AS n_events
      | FROM s GROUP BY user_id, sid
      | ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(min(col("event_time")).cast("timestamp_ntz").as("session_start"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "n_events")
      .orderBy("user_id", "session_start")
  }

  val tpchQ3: Q = sqlBoth("tpch_q3", Seq("customer", "orders", "lineitem"),
    """SELECT l_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      | FROM customer, orders, lineitem
      | WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |   AND l_orderkey = o_orderkey
      |   AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |   AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      | GROUP BY l_orderkey, o_orderdate
      | ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)

  val tpchQ5: Q = sqlBoth("tpch_q5",
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region"),
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      | FROM customer, orders, lineitem, supplier, nation, region
      | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |   AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |   AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |   AND r_name = 'ASIA'
      | GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)

  val tpchQ14: Q = sqlBoth("tpch_q14_promo", Seq("lineitem", "part"),
    """SELECT CAST(100 * promo / total AS DOUBLE) AS promo_revenue_pct FROM (
      |  SELECT
      |    CAST(SUM(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
      |        * CAST(1 - l_discount AS DECIMAL(18,2))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM lineitem, part WHERE l_partkey = p_partkey) t""".stripMargin)

  /** approx_count_distinct (§2.7): sketch internals differ between engines,
    * so the HLL estimate itself can never hash-match a DuckDB oracle. The
    * gate therefore emits only DETERMINISTIC columns — the exact distinct
    * count plus a `within_5_sigma` boolean — while the approx value stays an
    * internal comparison input. The self-check rides INSIDE the plan:
    * assert_true evaluates when the driver materializes the frame, so the
    * gate throws on sketch drift beyond 5 standard errors (Spark's default
    * rsd = 0.05 ⇒ |approx−exact|/exact ≤ 0.25) without a second aggregation
    * pass, and the surviving output is hash-stable: (exact, true). */
  val approxDistinct: Q = q("approx_distinct",
    """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
      |  TRUE AS within_5_sigma FROM orders""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").agg(
      approx_count_distinct("o_custkey").cast("long").as("approx_custs"),
      countDistinct("o_custkey").cast("long").as("exact_custs"))
      .withColumn("rel_err",
        round(abs(col("approx_custs") - col("exact_custs"))
          .cast("double") / col("exact_custs"), 6))
      .withColumn("within_5_sigma",
        when(assert_true(col("rel_err") <= lit(0.25),
          concat(lit("approx_count_distinct drifted beyond 5 sigma: rel_err="),
            col("rel_err"))).isNull,
          col("rel_err") <= lit(0.25)))
      .select("exact_custs", "within_5_sigma")
  }

  /** A6/ST2: change-stream read = latest row per primary key. Batch
    * emulation of the reference's retract folding (handler.py:87-94),
    * ordered by event time with event_id as the deterministic tiebreak.
    */
  val changeStreamCompact: Q = q("change_stream_compact",
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      | WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.load(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  val testNotNullFailures: Q = sqlBoth("test_notnull_failures", Seq("events"),
    """SELECT count(*) AS failures
      | FROM (SELECT event_type FROM events WHERE event_type IS NULL) t""".stripMargin)

  // ---------------------------------------------------------------------
  // §2.4 joins / windows / sorts / set ops
  // ---------------------------------------------------------------------

  val joinInnerAgg: Q = q("join_inner_agg",
    """SELECT n_name, count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      | FROM orders JOIN customer ON o_custkey = c_custkey
      |   JOIN nation ON c_nationkey = n_nationkey
      | GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    // nation is tiny: broadcast it explicitly; orders⋈customer shuffles on
    // the key (the right plan at 100 TB too — dims broadcast, facts shuffle).
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
      .orderBy("n_name")
  }

  val joinLeft: Q = q("join_left",
    """SELECT o_orderkey, count(l_orderkey) AS n_items
      | FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
      | GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(count(col("l_orderkey")).as("n_items"))
      .orderBy("o_orderkey")
  }

  val joinSemi: Q = q("join_semi",
    """SELECT c_custkey, c_name FROM customer
      | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      | ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinAnti: Q = q("join_anti",
    """SELECT c_custkey, c_name FROM customer
      | WHERE NOT EXISTS (SELECT 1 FROM orders
      |                   WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      | ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val hiValue = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
    t(s, dir, "customer")
      .join(hiValue, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Full outer join — both sides restricted so left-only (small customers
    * without a jumbo order) AND right-only (jumbo orders of large-key
    * customers) rows survive; the coalesced key keeps the ORDER BY total
    * and null-free on both engines. */
  val joinFull: Q = q("join_full",
    """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
      |  c.c_custkey AS matched_cust, o.o_orderkey, o.o_totalprice
      | FROM (SELECT * FROM customer WHERE c_custkey <= 100) c
      | FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
      |   ON c.c_custkey = o.o_custkey
      | ORDER BY custkey, coalesce(o.o_orderkey, -1)""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "customer").filter(col("c_custkey") <= 100)
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
    c.join(o, col("c_custkey") === col("o_custkey"), "full")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_custkey").as("matched_cust"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("custkey"), coalesce(col("o_orderkey"), lit(-1L)))
  }

  val windowRank: Q = q("window_rank",
    """SELECT o_custkey, o_orderkey, rnk FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      |  FROM orders) t
      | WHERE rnk <= 2 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 2)
      .select("o_custkey", "o_orderkey", "rnk")
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** As-of temporal join (event enrichment with latest prior state per
    * key), oracle = DuckDB's native ASOF LEFT JOIN. Raw ns timestamps on
    * both sides so ordering is precision-exact. */
  val asofJoin: Q = q("asof_join",
    """SELECT v.event_id, v.user_id, p.value AS last_purchase_value
      | FROM (SELECT * FROM events WHERE event_type = 'view') v
      | ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |   ON v.user_id = p.user_id AND v.ts >= p.ts
      | ORDER BY v.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events") // ts = epoch-nano bigint
    val views = ev.filter(col("event_type") === "view")
    val purchases = ev.filter(col("event_type") === "purchase")
    operators.AsOfJoin.asOfPrefixed(views, purchases, Seq("user_id"),
      "ts", "ts", Seq("value"), prefix = "p_", tiebreak = Some("event_id"))
      .select(col("event_id"), col("user_id"),
        col("p_value").as("last_purchase_value"))
      .orderBy("event_id")
  }

  /** Regular-grid resample with forward fill (feature-pipeline
    * "resample + LOCF"): a literal (user × hour) grid as-of-joins the
    * last observed event value at each grid instant — gap filling by
    * composition over [[operators.AsOfJoin]] (one window shuffle keyed
    * by user, the asOf contract), grid built by pure projection from
    * `range` (no join). Oracle = DuckDB's native ASOF LEFT JOIN on the
    * same generated grid. Ties on (user_id, ts) are broken by max
    * event_id on BOTH sides (asOf's tiebreak / a QUALIFY pre-reduce in
    * the oracle) — (user_id, ts) happens to be unique at every tested
    * SF, but the gate must not be green by data luck (round-5 advice). */
  val resampleFfill: Q = q("resample_ffill",
    """WITH grid AS (
      |  SELECT x % 5 AS user_id,
      |    (1704067200 + (x // 5) * 3600) * 1000000000 AS gts
      |  FROM (SELECT unnest(range(3600)) AS x)),
      |e AS (SELECT user_id, epoch_ns(ts) AS t, value FROM events
      |  WHERE user_id < 5 AND value IS NOT NULL
      |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ns(ts)
      |                             ORDER BY event_id DESC) = 1)
      |SELECT grid.user_id, grid.gts, e.value AS last_value,
      |  e.t AS last_seen
      |FROM grid ASOF LEFT JOIN e
      |  ON grid.user_id = e.user_id AND grid.gts >= e.t
      |ORDER BY grid.user_id, grid.gts""".stripMargin) { (s, dir) =>
    val grid = s.range(0, 3600).select(
      (col("id") % 5).as("user_id"),
      ((expr("id div 5") * 3600L + 1704067200L) * 1000000000L).as("gts"))
    val e = t(s, dir, "events")
      .filter(col("user_id") < 5 && col("value").isNotNull)
      .select(col("user_id"), col("ts").cast("long").as("t"),
        col("value").as("last_value"), col("ts").cast("long").as("last_seen"),
        col("event_id"))
    operators.AsOfJoin.asOf(grid, e, Seq("user_id"), "gts", "t",
      Seq("last_value", "last_seen"), tiebreak = Some("event_id"))
      .orderBy("user_id", "gts")
  }

  val windowRunningSum: Q = sqlBoth("window_running_sum", Seq("orders"),
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      | FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)

  val topk: Q = q("topk",
    """SELECT o_orderkey, o_totalprice FROM orders
      | ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(10)
  }

  val setUnion: Q = q("set_union",
    """SELECT c_nationkey AS nationkey FROM customer
      | UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")
  }

  val setIntersect: Q = q("set_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
      | INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")
  }

  val setExcept: Q = q("set_except",
    """SELECT c_custkey AS custkey FROM customer
      | EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000
      | ORDER BY custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(col("c_custkey").as("custkey"))
      .except(t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** EXCEPT ALL — multiplicity-preserving set difference (a distinct
    * planner path from the distinct-folding EXCEPT). */
  val setExceptAll: Q = q("set_except_all",
    """SELECT et FROM (SELECT event_type AS et FROM events
      |   EXCEPT ALL SELECT event_type FROM events WHERE event_id % 2 = 0) t
      | ORDER BY et""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events").createOrReplaceTempView("events")
    s.sql(
      """SELECT et FROM (SELECT event_type AS et FROM events
        |   EXCEPT ALL SELECT event_type FROM events WHERE event_id % 2 = 0) t
        | ORDER BY et""".stripMargin)
  }

  /** Correlated scalar subquery (RewriteCorrelatedScalarSubquery path):
    * each order's share of its customer's total spend. DECIMAL sums are
    * order-independent; one double division, round-6. */
  val correlatedScalar: Q = q("correlated_scalar",
    """SELECT o_orderkey,
      |  round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
      |    / CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
      |            FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS DOUBLE),
      |    6) AS spend_share
      | FROM orders o ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderkey,
        |  round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |    / CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
        |            FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS DOUBLE),
        |    6) AS spend_share
        | FROM orders o ORDER BY o_orderkey""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // §2.6 engine lifecycle proven through the driver gate: the full
  // seed → stream → model → read path runs inside these queries.
  // ---------------------------------------------------------------------

  /** L6 seed round-trip: nation → CSV → Engine.seed (strings cast to the
    * inferred Flink schema: number → DECIMAL(10, 0), impl.py:150-172) →
    * read back through the compacted stream view. The stream STORES
    * DECIMAL(10,0) (the thing under test); the gate's final projection
    * casts to BIGINT on both engines because DECIMAL values hash
    * differently across the two parquet readers (DuckDB→pandas floats vs
    * Spark Decimals — the round-1 red row). */
  val seedRoundtrip: Q = q("seed_roundtrip",
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |  CAST(n_regionkey AS BIGINT) AS n_regionkey
      | FROM nation ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val tmp = gateRoot("graft-seed")
    t(s, dir, "nation").coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$tmp/nation_csv")
    val e = new engine.Engine(s, s"$tmp/cat")
    e.seed("nation_seed", s"$tmp/nation_csv")
    val stored = e.readStream("nation_seed")
    require(stored.schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 0),
      "seed must store DECIMAL(10,0) per impl.py:150-172 inference")
    stored
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  /** Tombstone deletes (handler.py:87-94 empty-`after` change events):
    * nation ingested as a PK change stream, region-0 keys deleted via
    * [[graft.engine.Engine.deleteKeys]], compacted state read back — the
    * oracle is the equivalent anti-filter over the raw table. */
  val tombstoneDelete: Q = q("tombstone_delete",
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
      | FROM nation WHERE n_regionkey <> 0 ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val tmp = gateRoot("graft-del")
    val e = new engine.Engine(s, s"$tmp/cat")
    val nat = t(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
      col("n_regionkey").cast("long").as("n_regionkey"))
    e.createStream("nation_cs",
      graft.schema.StreamSchema.fromStruct(nat.schema, primaryKey = Seq("n_nationkey")))
    e.appendRows("nation_cs", nat)
    e.deleteKeys("nation_cs",
      nat.filter(col("n_regionkey") === 0).select("n_nationkey"))
    e.readStream("nation_cs")
      .select(col("n_nationkey"), col("n_name"))
      .orderBy("n_nationkey")
  }

  /** L1 model materialization: stream ingest → createModel (schema
    * inference + pipeline run) → compacted read. */
  val engineModel: Q = q("engine_model",
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      | FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val tmp = gateRoot("graft-model")
    val e = new engine.Engine(s, tmp)
    val orders = t(s, dir, "orders")
    e.createStream("orders_stream",
      graft.schema.StreamSchema.fromStruct(orders.schema))
    e.appendRows("orders_stream", orders)
    e.createModel("orders_by_status",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        | FROM orders_stream GROUP BY o_orderstatus""".stripMargin)
    e.readStream("orders_by_status").orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------------
  // §7.5 LLM-pipeline extras (first slice; more in operators/*)
  // ---------------------------------------------------------------------

  val dedupExact: Q = q("dedup_exact",
    """SELECT min(doc_id) AS doc_id, count(1) AS n_copies FROM documents
      | GROUP BY text ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
      .orderBy("doc_id")
  }

  /** Hash-shuffle exact dedup (the 100 TB plan: 16-byte keys through the
    * shuffle instead of document text). Same oracle as content-key dedup. */
  val dedupExactHash: Q = q("dedup_exact_hash",
    """SELECT min(doc_id) AS doc_id, count(1) AS n_copies FROM documents
      | GROUP BY md5(text) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Dedup.exactByHash(t(s, dir, "documents"), Seq("text"), "doc_id")
      .orderBy("doc_id")
  }

  val textQuality: Q = q("text_quality",
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |  CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS DOUBLE) AS DOUBLE) AS avg_token_len
      | FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.quality(t(s, dir, "documents")).orderBy("doc_id")
  }

  val fingerprintMd5: Q = q("fingerprint_md5",
    """SELECT doc_id, md5(lower(text)) AS fp FROM documents
      | ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .orderBy("doc_id")
  }

  /** DuckDB-side distinct word-n-gram shingle expression (the oracle twin
    * of [[operators.Dedup.shingles]]). */
  private def duckShingles(n: Int): String = {
    val w = "string_split(text, ' ')"
    val gram = (0 until n).map(j => s"$w[i+${j + 1}]")
      .mkString("concat(", ", ' ', ", ")")
    s"list_distinct(list_transform(range(len($w) - ${n - 1}), i -> $gram))"
  }

  /** Union-free Jaccard (`i / (|a|+|b|-i)`) — the same integer arithmetic
    * as `Dedup.jaccardSorted`, so doubles match bit-for-bit.
    *
    * Formulated as a GRAM EQUI-JOIN, not an all-pairs `list_intersect`
    * self-join: shingle sets are distinct per doc, so counting matching
    * (gram, pair) rows IS |A∩B| — identical integers, identical
    * division, identical doubles. The all-pairs form was Θ(n²·|s|) in
    * DuckDB and ground for CPU-hours on the sf1 differential corpus
    * (1.25e9 pairs × 100-element intersections); the equi-join is
    * Σ_gram df² — minutes at sf1. Pairs sharing zero grams never
    * materialize, and cannot pass any threshold > 0. */
  private def duckJaccardPairs(n: Int, threshold: Double, leftPred: String): String =
    s"""WITH sh AS (
       |  SELECT doc_id, ${duckShingles(n)} AS s FROM documents
       |  WHERE len(string_split(text, ' ')) >= $n),
       |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
       |  FROM shg a JOIN shg b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  WHERE $leftPred
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |FROM inter
       |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash+LSH near-dup pairs vs a brute-force Jaccard oracle: with 32
    * bands × 4 rows the sketch's miss probability at j≥0.8 is ~5e-8, and
    * the corpus has no pairs in (0.13, 0.8), so sketch == exact here. */
  val dedupMinhashLsh: Q = q("dedup_minhash_lsh",
    duckJaccardPairs(n = 2, threshold = 0.5, leftPred = "true")) { (s, dir) =>
    operators.Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Incremental (shard-vs-index) near-dup: the corpus splits into an
    * "existing" index (doc_id % 5 ≠ 0) and an "incoming" shard
    * (doc_id % 5 = 0); only cross pairs may appear. The oracle is the
    * brute-force cross comparison — the banding is exact at the
    * threshold (same argument as `dedup_minhash_lsh`). */
  val incrementalDedup: Q = q("incremental_dedup",
    s"""WITH sh AS (
       |  SELECT doc_id, ${duckShingles(2)} AS s FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS in_id, b.doc_id AS ex_id,
       |    count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
       |  FROM shg a JOIN shg b ON a.gram = b.gram
       |    AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |  GROUP BY 1, 2)
       |SELECT in_id, ex_id, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |FROM inter
       |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5
       |ORDER BY in_id, ex_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    operators.Dedup.incrementalNearDups(
      existing = docs.filter(col("doc_id") % 5 =!= 0),
      incoming = docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", shingleN = 2, numHashes = 128, bands = 32,
      threshold = 0.5)
      .orderBy("in_id", "ex_id")
  }

  /** Round 9: the PERSISTED-INDEX text ingest path — the standing
    * side's `(ex_id, band, bkey)` postings and `(ex_id, hs)` signatures
    * are built once ([[operators.Dedup.minhashIndexFrames]], what
    * `Engine.appendRowsDeduped` materializes as the `__mhpost`/`__mhsig`
    * siblings) and the shard probes THEM
    * ([[operators.Dedup.incrementalNearDupsIndexed]]) — no corpus
    * re-shingle in the per-ingest plan. Same brute-force oracle as
    * `incremental_dedup`: hash-match proves the index+probe split loses
    * nothing vs the inline path. */
  val incrementalDedupIndexed: Q = q("incremental_dedup_indexed",
    s"""WITH sh AS (
       |  SELECT doc_id, ${duckShingles(2)} AS s FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS in_id, b.doc_id AS ex_id,
       |    count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
       |  FROM shg a JOIN shg b ON a.gram = b.gram
       |    AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |  GROUP BY 1, 2)
       |SELECT in_id, ex_id, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
       |FROM inter
       |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5
       |ORDER BY in_id, ex_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val (post, sigs, _) = operators.Dedup.minhashIndexFrames(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32)
    operators.Dedup.incrementalNearDupsIndexed(
      post, sigs, docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", shingleN = 2, numHashes = 128, bands = 32,
      threshold = 0.5)._1
      .orderBy("in_id", "ex_id")
  }

  /** Bloom-prefiltered exact incremental dedup ([[operators.Bloom
    * .newRowsVia]], round 6): which shard rows are NEW vs the standing
    * corpus, with the standing Bloom filter absorbing the definite
    * misses so only probable hits pay the exact anti-join. No false
    * negatives ⇒ the output is EXACTLY the anti-join, which is all the
    * oracle computes — the filter moves work, never the answer. */
  val incrementalDedupBloom: Q = q("incremental_dedup_bloom",
    // head-fingerprint key (md5 of the first 50 chars — the doc-head
    // near-dup heuristic) rather than whole-text md5: the testdata's
    // exact duplicates never straddle the %10 split, and the gate must
    // exercise BOTH Bloom paths (definite-miss skip AND confirm-join)
    """WITH st AS (SELECT md5(substring(text, 1, 50)) AS key FROM documents
      |  WHERE doc_id % 10 <> 0 AND text IS NOT NULL),
      |sh AS (SELECT doc_id, md5(substring(text, 1, 50)) AS key FROM documents
      |  WHERE doc_id % 10 = 0 AND text IS NOT NULL)
      |SELECT doc_id, key FROM sh WHERE key NOT IN (SELECT key FROM st)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
      .select(md5(substring(col("text"), 1, 50)).as("key"))
    val shard = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), md5(substring(col("text"), 1, 50)).as("key"))
    val filterTbl = operators.Bloom.buildFilter(standing, "key", buckets = 64)
    operators.Bloom.newRowsVia(filterTbl, standing, shard, "key",
      buckets = 64)
      .orderBy("doc_id")
  }

  /** Weighted-cosine tf·idf pairs ([[operators.Dedup.tfidfCosinePairs]],
    * round 6): the weighted sibling of ngram_jaccard_pairs — integer
    * milli-unit idf × exact tf, BIGINT numerators/norms, one final
    * IEEE division per pair; the oracle replays every integer and the
    * division verbatim. */
  val tfidfCosineGate: Q = q("tfidf_cosine_pairs",
    """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(len(ws) - 2),
      |    i -> concat(ws[i+1], ' ', ws[i+2], ' ', ws[i+3]))) AS gram
      |  FROM w0 WHERE len(ws) >= 3),
      |tf AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
      |  FROM g GROUP BY 1, 2),
      |dfs AS (SELECT gram, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |w AS (SELECT doc_id, gram,
      |    CAST(round(ln(n.n / df) * 1000, 0) AS BIGINT) * tf AS w
      |  FROM tf JOIN dfs USING (gram) CROSS JOIN n),
      |wp AS (SELECT * FROM w WHERE w > 0),
      |nrm AS (SELECT doc_id, sum(w * w) AS nrm FROM wp GROUP BY 1),
      |num AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    sum(a.w * b.w) AS num
      |  FROM wp a JOIN wp b ON a.gram = b.gram
      |    AND a.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, round(CAST(num AS DOUBLE)
      |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))), 6)
      |  AS cos
      |FROM num JOIN nrm na ON na.doc_id = id_a
      |  JOIN nrm nb ON nb.doc_id = id_b
      |WHERE CAST(num AS DOUBLE)
      |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
      |  >= 0.3
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    operators.Dedup.tfidfCosinePairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.3, queryPred = col("id") % 10 === 0)
      .orderBy("id_a", "id_b")
  }

  /** Exact brute-force 3-gram Jaccard pairs (the verify path alone). */
  val ngramJaccard: Q = q("ngram_jaccard_pairs",
    duckJaccardPairs(n = 3, threshold = 0.3, leftPred = "a.doc_id % 10 = 0")) { (s, dir) =>
    operators.Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.3, queryPred = col("id") % 10 === 0)
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup pairs, oracle-checked bit-for-bit: both engines build
    * the same 56-bit hash from md5 hex ([[operators.CrossHash]]), vote per
    * bit, and compare hamming distance — a sketch with an exact oracle. */
  /** Perceptual image near-dup ([[operators.Multimodal.dhash56]] +
    * [[operators.Dedup.hammingPairs]], round 6): REAL PNG decode →
    * 9×7 grid dHash → the same 56-bit Hamming-LSH banding the text
    * simhash uses. The oracle replays pixels, grid indices, comparison
    * bits, the hash, and the 4×14-bit pigeonhole band join in SQL —
    * every step integer arithmetic. */
  val imageDhashNearDup: Q = q("image_dhash_neardup",
    """WITH d AS (
      |  SELECT doc_id, doc_id % 40 AS seed,
      |    CAST(16 + (doc_id % 40) % 32 AS BIGINT) AS w,
      |    CAST(16 + ((doc_id % 40) * 3) % 32 AS BIGINT) AS h
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, seed, gx.x AS x, gy.y AS y,
      |    ((y * h // 7) * w + (x * w // 9)) * 3 AS i0
      |  FROM d, (SELECT unnest(range(9)) AS x) gx,
      |    (SELECT unnest(range(7)) AS y) gy),
      |gr AS (
      |  SELECT doc_id, x, y,
      |      (seed*31 + i0*7 + CASE WHEN doc_id % 5 = 0 AND i0 % 13 = 0
      |        THEN 11 ELSE 0 END) % 256
      |    + (seed*31 + (i0+1)*7 + CASE WHEN doc_id % 5 = 0
      |        AND (i0+1) % 13 = 0 THEN 11 ELSE 0 END) % 256
      |    + (seed*31 + (i0+2)*7 + CASE WHEN doc_id % 5 = 0
      |        AND (i0+2) % 13 = 0 THEN 11 ELSE 0 END) % 256 AS gray
      |  FROM g),
      |bits AS (
      |  SELECT a.doc_id, a.y * 8 + a.x AS pos
      |  FROM gr a JOIN gr b ON a.doc_id = b.doc_id AND a.y = b.y
      |    AND b.x = a.x + 1
      |  WHERE a.x < 8 AND b.gray > a.gray),
      |hs AS (
      |  SELECT d.doc_id, CAST(COALESCE(sum(CASE WHEN b.pos IS NOT NULL
      |    THEN 1::BIGINT << b.pos END), 0) AS BIGINT) AS hash
      |  FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
      |bk AS (
      |  SELECT doc_id, hash, bb.b AS band,
      |    (hash >> (bb.b * 14)) & 16383 AS bits
      |  FROM hs, (SELECT unnest(range(4)) AS b) bb),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.hash AS ha, b.hash AS hb
      |  FROM bk a JOIN bk b ON a.band = b.band AND a.bits = b.bits
      |    AND a.doc_id % 10 = 0 AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val hashes = operators.Multimodal.dhash56(
      operators.Multimodal.asPngTableGrouped(t(s, dir, "documents")))
    operators.Dedup.hammingPairs(hashes, "doc_id", "dhash", 56,
      maxHamming = 3, queryPred = col("id") % 10 === 0)
      .orderBy("id_a", "id_b")
  }

  /** Perceptual audio near-dup ([[operators.Multimodal
    * .audioFingerprint56]] + [[operators.Dedup.hammingPairs]], round 6):
    * real WAV decode → 57-point waveform grid → 56-bit
    * sign-of-difference fingerprint → the shared Hamming-LSH banding.
    * Oracle replays samples, grid indices, bits, and the band join. */
  val audioFpNearDup: Q = q("audio_fp_neardup",
    """WITH d AS (
      |  SELECT doc_id, doc_id % 40 AS seed,
      |    CAST(400 + (doc_id % 40) % 256 AS BIGINT) AS n
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, seed, gj.j AS j,
      |    (gj.j * n // 57) AS i
      |  FROM d, (SELECT unnest(range(57)) AS j) gj),
      |sv AS (
      |  SELECT doc_id, j,
      |    (seed*7 + i*13 + CASE WHEN doc_id % 5 = 0 AND i % 17 = 0
      |      THEN 7777 ELSE 0 END) % 65536 - 32768 AS s
      |  FROM g),
      |bits AS (
      |  SELECT a.doc_id, a.j AS pos
      |  FROM sv a JOIN sv b ON a.doc_id = b.doc_id AND b.j = a.j + 1
      |  WHERE a.j < 56 AND b.s > a.s),
      |hs AS (
      |  SELECT d.doc_id, CAST(COALESCE(sum(CASE WHEN b.pos IS NOT NULL
      |    THEN 1::BIGINT << b.pos END), 0) AS BIGINT) AS hash
      |  FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
      |bk AS (
      |  SELECT doc_id, hash, bb.b AS band,
      |    (hash >> (bb.b * 14)) & 16383 AS bits
      |  FROM hs, (SELECT unnest(range(4)) AS b) bb),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.hash AS ha, b.hash AS hb
      |  FROM bk a JOIN bk b ON a.band = b.band AND a.bits = b.bits
      |    AND a.doc_id % 10 = 0 AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val hashes = operators.Multimodal.audioFingerprint56(
      operators.Multimodal.asWavTableGrouped(t(s, dir, "documents")))
    operators.Dedup.hammingPairs(hashes, "doc_id", "afp", 56,
      maxHamming = 3, queryPred = col("id") % 10 === 0)
      .orderBy("id_a", "id_b")
  }

  /** Perceptual video near-dup ([[operators.Multimodal
    * .videoFrameHashes]] + [[operators.Multimodal.videoNearDups]],
    * round 6): real AVI demux → per-frame 56-bit dHash → videos pair on
    * ≥2 shared distinct frame hashes (posting equi-join). The oracle
    * replays frames, pixels, bits, hashes, and the set join. */
  val videoFpNearDup: Q = q("video_fp_neardup",
    """WITH d AS (
      |  SELECT doc_id, doc_id % 40 AS seed,
      |    CAST(3 + (doc_id % 40) % 5 AS BIGINT) AS nf
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, seed, ff.f AS f
      |  FROM d, (SELECT unnest(range(8)) AS f) ff WHERE ff.f < nf),
      |g AS (
      |  SELECT doc_id, seed, f, gx.x AS x, gy.y AS y,
      |    (y * 8 + x) * 3 AS j0
      |  FROM fr, (SELECT unnest(range(8)) AS x) gx,
      |    (SELECT unnest(range(8)) AS y) gy),
      |gr AS (
      |  SELECT doc_id, f, x, y,
      |      (seed*11 + f*17 + j0*5 + CASE WHEN doc_id % 5 = 0 AND f = 0
      |        AND j0 % 29 = 0 THEN 9 ELSE 0 END) % 256
      |    + (seed*11 + f*17 + (j0+1)*5 + CASE WHEN doc_id % 5 = 0
      |        AND f = 0 AND (j0+1) % 29 = 0 THEN 9 ELSE 0 END) % 256
      |    + (seed*11 + f*17 + (j0+2)*5 + CASE WHEN doc_id % 5 = 0
      |        AND f = 0 AND (j0+2) % 29 = 0 THEN 9 ELSE 0 END) % 256
      |    AS gray
      |  FROM g),
      |bits AS (
      |  SELECT a.doc_id, a.f, a.y * 7 + a.x AS pos
      |  FROM gr a JOIN gr b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.y = b.y AND b.x = a.x + 1
      |  WHERE a.x < 7 AND b.gray > a.gray),
      |hs AS (
      |  SELECT fr.doc_id, fr.f, CAST(COALESCE(sum(
      |    CASE WHEN b.pos IS NOT NULL THEN 1::BIGINT << b.pos END), 0)
      |    AS BIGINT) AS hash
      |  FROM fr LEFT JOIN bits b ON b.doc_id = fr.doc_id AND b.f = fr.f
      |  GROUP BY fr.doc_id, fr.f),
      |sets AS (SELECT DISTINCT doc_id, hash FROM hs)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM sets a JOIN sets b ON a.hash = b.hash
      |  AND a.doc_id % 10 = 0 AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val fh = operators.Multimodal.videoFrameHashes(
      operators.Multimodal.asAviTableGrouped(t(s, dir, "documents")))
    operators.Multimodal.videoNearDups(fh, minShared = 2,
      queryPred = col("id") % 10 === 0)
      .orderBy("id_a", "id_b")
  }

  val dedupSimhash: Q = q("dedup_simhash", {
    val h = operators.CrossHash.duckdbHash56("tok")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |hs AS (SELECT doc_id, $h AS h FROM toks),
       |votes AS (
       |  SELECT doc_id, bits.bit AS bit,
       |    SUM(CASE WHEN (h >> bits.bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
       |  FROM hs, (SELECT unnest(range(56)) AS bit) bits
       |  GROUP BY doc_id, bits.bit),
       |sh AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN votes > 0 THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END) AS simhash
       |  FROM votes GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }) { (s, dir) =>
    // exercises the DEFAULT radius (3 — round 8, VERDICT r7 item 5: the
    // old ≤10/56 default was a diffuse relation whose OUTPUT was the
    // scale wall; ≤10 is now the documented opt-in)
    operators.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("id_a", "id_b")
  }

  /** Embedding near-dup pairs (cosine ≥ 0.45; double math + round-6 keeps
    * both engines bit-identical). Since round 6 this gate exercises the
    * DEFAULT entry point, which dimensions the LSH layout (planes/tables)
    * by the corpus size — the exact cosine verify makes the oracle
    * layout-independent, so recall is the only thing the layout can
    * break and the hash-match pins it. */
  val embeddingNearDup: Q = q("embedding_neardup",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
      | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      | WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
      | ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    operators.Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.45)
      .orderBy("id_a", "id_b")
  }

  /** Corpus-dimensioned embedding near-dup with EXPLICIT scale
    * parameters (round 6): `knownCount` skips the sizing count action
    * (the metadata path a 100 TB pipeline uses — the corpus cardinality
    * is already known from the ingest ledger) and a tighter 1e-5 miss
    * target compensates with more tables. Same exact all-pairs oracle —
    * the layout only affects candidate generation, never the verified
    * output. */
  val embeddingNearDupScaled: Q = q("embedding_neardup_scaled",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
      | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      | WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
      | ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    operators.Dedup.embeddingNearDup(emb, "vec_id", "embedding",
      threshold = 0.45, missTarget = 1e-5, knownCount = Some(emb.count()))
      .orderBy("id_a", "id_b")
  }

  /** Incremental embedding dedup (round 7): an incoming shard
    * (vec_id % 5 = 0) probed against the standing corpus (the rest) via
    * the sign-plane LSH index dimensioned by the EXISTING side — never
    * an existing×existing pair. The exact cosine verify makes the
    * oracle the brute-force incoming×existing comparison; hash-match
    * pins LSH recall, exactly as `embedding_neardup` does for the
    * self-join path. Streaming twin: StreamingCurationSpec probes the
    * same kernel per micro-batch with the index growing in place. */
  val incrementalEmbeddingDedup: Q = q("incremental_embedding_dedup",
    """SELECT a.vec_id AS in_id, b.vec_id AS ex_id,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
      | FROM embeddings a JOIN embeddings b
      |   ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
      | WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
      | ORDER BY in_id, ex_id""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    operators.Dedup.embeddingIncrementalNearDups(
      emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", threshold = 0.45)
      .orderBy("in_id", "ex_id")
  }

  /** Round 9 (VERDICT r8 task 2): the PERSISTED-INDEX ingest path —
    * the standing side's `(ex_id, tbl, bucket)` postings are built once
    * ([[operators.Dedup.embeddingPostings]], what
    * `Engine.appendRowsDedupedEmbedding` materializes as the
    * `<stream>__lshidx` sibling) and the shard probes THEM
    * ([[operators.Dedup.embeddingIncrementalNearDupsIndexed]]) — no
    * standing-corpus signature in the per-ingest plan. Same brute-force
    * oracle as `incremental_embedding_dedup`: hash-match proves the
    * index+probe split loses nothing vs the inline re-signature path. */
  val incrementalEmbeddingDedupIndexed: Q = q("incremental_embedding_dedup_indexed",
    """SELECT a.vec_id AS in_id, b.vec_id AS ex_id,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
      | FROM embeddings a JOIN embeddings b
      |   ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
      | WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
      | ORDER BY in_id, ex_id""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val existing = emb.filter(col("vec_id") % 5 =!= 0)
    val incoming = emb.filter(col("vec_id") % 5 === 0)
    val (planes, tables, radius) = operators.Dedup.lshLayout(
      existing.count(), threshold = 0.45, targetOccupancy = 16,
      missTarget = 1e-6, probeRadius = 2, maxTables = 512)
    val postings = operators.Dedup.embeddingPostings(
      existing, "vec_id", "embedding", planes, tables)
    operators.Dedup.embeddingIncrementalNearDupsIndexed(
      postings, existing, incoming, "vec_id", "embedding",
      threshold = 0.45, planes, tables, radius)._1
      .orderBy("in_id", "ex_id")
  }

  /** Exact ANN baseline: top-5 cosine neighbors for query vectors id<10. */
  val annTopK: Q = q("ann_topk",
    """SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |      c.vec_id) AS BIGINT) AS rnk,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                 CAST(c.embedding AS DOUBLE[])), 6) AS cos
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10) t
      | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    operators.Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 10, k = 5)
      .orderBy("q_id", "rnk")
  }

  /** Hard-negative mining band (round 5): neighbors ranked [4, 8] per
    * anchor — the ANCE-style contrastive mining step; exact ranked-frame
    * replay in the oracle, same shape as `ann_topk`. */
  val hardNegativesGate: Q = q("hard_negatives",
    """SELECT id_anchor, id_neg, rnk, cos FROM (
      |  SELECT q.vec_id AS id_anchor, c.vec_id AS id_neg,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |      c.vec_id) AS BIGINT) AS rnk,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                 CAST(c.embedding AS DOUBLE[])), 6) AS cos
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id % 20 = 0) t
      | WHERE rnk BETWEEN 4 AND 8 ORDER BY id_anchor, rnk""".stripMargin) { (s, dir) =>
    operators.Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id", "embedding",
      anchorPred = col("vec_id") % 20 === 0, loRank = 4, hiRank = 8)
      .orderBy("id_anchor", "rnk")
  }

  /** ANN quality measurement as a first-class operator
    * ([[operators.Similarity.recallAtK]], round 11): recall@5 of a
    * dimension-truncated search (first 16 of 64 dims — the JL/PCA-style
    * cheap-projection retrieval shape) against the full-dimension exact
    * ranking. Both rankings are exactly SQL-expressible, so the oracle
    * replays the entire measurement — searches AND the recall join —
    * making this the value-exact anchor for the quantizer recall curves
    * in PERF.md (`Probe gates` over ScaleData K× directories profiles
    * this gate at scale), whose IVF/PQ side DuckDB cannot reproduce. */
  /** Shared DuckDB replay of the truncated-vs-full recall measurement —
    * consumed by `ann_recall_truncated` (operator path) and
    * `sql_ann_recall` (TVF path): one string, so a tie-break or
    * rounding tweak cannot silently diverge the two gates. */
  private val truncatedRecallOracle: String =
    """WITH ex AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |        c.vec_id) AS rnk
      |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |    WHERE q.vec_id < 20) t WHERE rnk <= 5),
      |ap AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        round(list_cosine_similarity(
      |          list_slice(CAST(q.embedding AS DOUBLE[]), 1, 16),
      |          list_slice(CAST(c.embedding AS DOUBLE[]), 1, 16)), 6) DESC,
      |        c.vec_id) AS rnk
      |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |    WHERE q.vec_id < 20) t WHERE rnk <= 5)
      |SELECT ex.q_id, CAST(count(ap.n_id) AS BIGINT) AS n_hit,
      |  CAST(count(*) AS BIGINT) AS n_true,
      |  round(CAST(count(ap.n_id) AS DOUBLE) / count(*), 6) AS recall
      |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
      |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin

  val annRecallTruncated: Q = q("ann_recall_truncated",
    truncatedRecallOracle) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val exact = operators.Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", queryPred = col("vec_id") < 20, k = 5)
    val truncated = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("emb16"))
    val approx = operators.Similarity.bruteForceTopK(
      truncated, "vec_id", "emb16", queryPred = col("vec_id") < 20, k = 5)
    operators.Similarity.recallAtK(approx, exact, k = 5)
      .orderBy("q_id")
  }

  /** kNN label vote (embedding-space label propagation): majority label
    * of each query's 5 exact nearest neighbors, vote ties broken by best
    * neighbor rank then label — both engines replay the identical
    * ranked-neighbor frame, so the vote is value-exact. */
  val knnLabelVote: Q = q("knn_label_vote",
    """WITH top AS (
      |  SELECT q_id, n_id, rnk FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |        c.vec_id) AS rnk
      |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |    WHERE q.vec_id < 10) t
      |  WHERE rnk <= 5),
      | votes AS (
      |  SELECT t.q_id, c.label AS n_label,
      |    count(*) AS votes, min(t.rnk) AS best_rnk
      |  FROM top t JOIN embeddings c ON t.n_id = c.vec_id
      |  GROUP BY t.q_id, c.label)
      |SELECT q_id, n_label AS label, CAST(votes AS BIGINT) AS votes
      |FROM (SELECT q_id, n_label, votes, best_rnk,
      |        row_number() OVER (PARTITION BY q_id
      |          ORDER BY votes DESC, best_rnk, n_label) AS rk FROM votes) v
      |WHERE rk = 1 ORDER BY q_id""".stripMargin) { (s, dir) =>
    operators.Similarity.knnLabelVote(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label", queryPred = col("vec_id") < 10, k = 5)
      .orderBy("q_id")
  }

  /** LSH-bucketed ANN (the scale path — equi-join on sign-signature
    * buckets instead of a cross join). The sign-plane signatures are
    * deterministic (±1 weights from [[operators.CrossHash]], sequential
    * double fold), so the oracle replays them exactly: a bit is set when
    * the same left-fold dot product is positive, and the 22 multi-probe
    * masks (≤2-bit flips over 6 planes) make the candidate set precisely
    * the hamming≤2 signature pairs. A sketch with an exact value oracle,
    * like `dedup_simhash`. */
  val annLshTopK: Q = q("ann_lsh_topk", {
    val h = operators.CrossHash.duckdbHash56(
      "'hp' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)")
    s"""WITH w AS (
       |  SELECT p, list_transform(range(64), d ->
       |    CASE WHEN $h % 2 = 0 THEN CAST(1 AS DOUBLE)
       |         ELSE CAST(-1 AS DOUBLE) END) AS wl
       |  FROM (SELECT unnest(range(6)) AS p) ps),
       |vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sigs AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN list_reduce(
       |          list_transform(range(64), d -> wl[d+1] * v[d+1]),
       |          (a, b) -> a + b) > 0
       |        THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM vecs CROSS JOIN w GROUP BY vec_id),
       |side AS (SELECT s.vec_id, s.sig, x.v FROM sigs s JOIN vecs x USING (vec_id)),
       |cand AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    round(list_cosine_similarity(q.v, c.v), 6) AS cos
       |  FROM side q JOIN side c
       |    ON q.vec_id <> c.vec_id AND bit_count(xor(q.sig, c.sig)) <= 2
       |  WHERE q.vec_id < 10)
       |SELECT q_id, n_id, rnk, cos FROM (
       |  SELECT q_id, n_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS BIGINT) AS rnk, cos
       |  FROM cand) t
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }) { (s, dir) =>
    operators.Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 10, k = 5, dims = 64, planes = 6)
      .orderBy("q_id", "rnk")
  }

  /** IVF ANN (coarse quantizer + nProbe cells — the third ANN path beside
    * brute force and LSH). Fully deterministic: seeds are the first 16
    * corpus vectors by id, one Lloyd iteration averages per (cell, dim)
    * and rounds centroids to FLOAT, and every cell argmax compares
    * round-6 cosines with a cid tie-break — so the oracle replays the
    * whole quantizer exactly. */
  /** The deterministic IVF coarse quantizer as DuckDB CTEs (shared by the
    * `ann_ivf_topk` and `semdedup` oracles): seeds = first `nCentroids`
    * vectors by id, one Lloyd iteration with FLOAT-rounded centroids,
    * round-6 assignment cosines with a cid tie-break — the exact replay of
    * [[operators.Similarity]]'s quantizer. `a1 WHERE r = 1` is the final
    * cell assignment; `a1 WHERE r <= nProbe` gives probe cells. */
  /** SQL replay of [[operators.Similarity.kmeansTrain]]: `iters` full
    * Lloyd passes unrolled as assignment/refine CTE pairs (the same
    * round-6 cosine + highest-cid tie-break + FLOAT-rounded means as
    * [[duckIvfCells]]'s single pass), closing with the final assignment's
    * cell sizes. */
  private def duckKmeansChain(k: Int, iters: Int): String = {
    def assign(i: Int, centTable: String): String =
      s"""a$i AS (
         |  SELECT vec_id, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS r
         |  FROM (SELECT x.vec_id, x.v, s.cid,
         |          round(list_cosine_similarity(x.v, s.v), 6) AS cos
         |        FROM vecs x CROSS JOIN $centTable s) t$i)""".stripMargin
    def refine(i: Int): String =
      s"""r$i AS (
         |  SELECT cell AS cid, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY dim) AS v
         |  FROM (SELECT cell, dim, avg(x) AS m
         |        FROM (SELECT cid AS cell, unnest(v) AS x,
         |                unnest(range(len(v))) AS dim
         |              FROM a${i - 1} WHERE r = 1) e
         |        GROUP BY cell, dim) g
         |  GROUP BY cell)""".stripMargin
    val steps = (1 to iters).flatMap { i =>
      Seq(assign(i - 1, if (i == 1) "seeds" else s"r${i - 1}"), refine(i))
    } :+ assign(iters, s"r$iters")
    (Seq(
      s"""vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seeds AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v
         |  FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT $k))""".stripMargin
    ) ++ steps).mkString(",\n")
  }

  val kmeansTrainGate: Q = q("kmeans_train",
    s"""WITH ${duckKmeansChain(8, 3)},
       |sizes AS (SELECT cid, count(*) AS n FROM a3 WHERE r = 1 GROUP BY 1),
       |cent AS (SELECT cid, unnest(v) AS c, unnest(range(len(v))) AS dim FROM r3)
       |SELECT cent.cid, CAST(cent.dim AS BIGINT) AS dim, cent.c,
       |  CAST(COALESCE(s.n, 0) AS BIGINT) AS n
       |FROM cent LEFT JOIN sizes s USING (cid)
       |ORDER BY cent.cid, dim""".stripMargin) { (s, dir) =>
    operators.Similarity.kmeansTrain(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 8, iters = 3)
      .orderBy("cid", "dim")
  }

  /** SQL replay of [[operators.Similarity.kCenterCoreset]]: the greedy
    * farthest-point traversal unrolled as (score, argmin) CTE pairs —
    * seed = lowest vec_id, each round's `best` = running max round-6
    * cosine to the chosen set, next center = (best ASC, vec_id ASC)
    * LIMIT 1 — closing with the earliest-step argmax cover count. */
  private def duckKCenterChain(k: Int): String = {
    def pick(i: Int, from: String, sel: String): String =
      s"""c$i AS (
         |  SELECT $i AS step, vec_id AS center_id, v, $sel AS sel_micro
         |  FROM $from ORDER BY ${if (i == 0) "" else "best ASC, "}vec_id ASC
         |  LIMIT 1)""".stripMargin
    def score(i: Int): String = {
      val (from, acc) =
        if (i == 0) ("vecs", "round(list_cosine_similarity(x.v, c.v), 6)")
        else (s"b${i - 1}",
          s"greatest(x.best, round(list_cosine_similarity(x.v, c.v), 6))")
      s"""b$i AS (
         |  SELECT x.vec_id, x.v, $acc AS best
         |  FROM $from x CROSS JOIN c$i c)""".stripMargin
    }
    val steps = (0 until k).map { i =>
      if (i == 0) pick(0, "vecs", "CAST(NULL AS BIGINT)")
      else pick(i, s"b${i - 1}", "CAST(round(best * 1000000) AS BIGINT)")
    }
    val scores = (0 until k - 1).map(score)
    val chain = (0 until k - 1).flatMap(i => Seq(steps(i), scores(i))) :+
      steps(k - 1)
    val union = (0 until k).map(i =>
      s"SELECT step, center_id, v, sel_micro FROM c$i").mkString(" UNION ALL ")
    (Seq(
      """vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL)""".stripMargin
    ) ++ chain :+ s"cent AS ($union)").mkString(",\n")
  }

  /** Greedy k-center coreset ([[operators.Similarity.kCenterCoreset]],
    * round 6 cont.): the 6 most mutually dissimilar embeddings plus
    * their cover populations. The oracle replays the ENTIRE traversal —
    * seed, every argmin round, and the final earliest-step-tie-break
    * cover — so a drift anywhere in the k corpus passes is a hash
    * mismatch. */
  val kCenterGate: Q = q("kcenter_coreset",
    s"""WITH ${duckKCenterChain(6)},
       |assign AS (
       |  SELECT x.vec_id, c.step,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY round(list_cosine_similarity(x.v, c.v), 6) DESC,
       |        c.step ASC) AS r
       |  FROM vecs x CROSS JOIN cent c),
       |sizes AS (SELECT step, count(*) AS n FROM assign WHERE r = 1 GROUP BY 1)
       |SELECT c.step, c.center_id, c.sel_micro,
       |  CAST(COALESCE(s.n, 0) AS BIGINT) AS n_assigned
       |FROM cent c LEFT JOIN sizes s USING (step)
       |ORDER BY c.step""".stripMargin) { (s, dir) =>
    operators.Similarity.kCenterCoreset(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 6)
      .orderBy("step")
  }

  /** Corpus-dimensioned seed count (round 7): the exact SQL twin of
    * [[operators.Similarity.ivfCellCount]] — clamp(4, 4096, round(√n))
    * computed over the SAME corpus the quantizer trains on, so the
    * oracle follows the auto default at ANY scale factor (DuckDB
    * accepts a scalar subquery in LIMIT). */
  private val duckAutoCells: String =
    "(SELECT GREATEST(4, LEAST(4096, CAST(round(sqrt(count(*))) AS BIGINT))) FROM vecs)"

  private def duckIvfCells(nCentroids: String = duckAutoCells): String =
    s"""vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v
       |  FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT $nCentroids)),
       |a0 AS (
       |  SELECT vec_id, v, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS r
       |  FROM (SELECT x.vec_id, x.v, s.cid,
       |          round(list_cosine_similarity(x.v, s.v), 6) AS cos
       |        FROM vecs x CROSS JOIN seeds s) t0),
       |refined AS (
       |  SELECT cell AS cid, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY dim) AS v
       |  FROM (SELECT cell, dim, avg(x) AS m
       |        FROM (SELECT cid AS cell, unnest(v) AS x,
       |                unnest(range(len(v))) AS dim
       |              FROM a0 WHERE r = 1) e
       |        GROUP BY cell, dim) g
       |  GROUP BY cell),
       |a1 AS (
       |  SELECT vec_id, v, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS r
       |  FROM (SELECT x.vec_id, x.v, c.cid,
       |          round(list_cosine_similarity(x.v, c.v), 6) AS cos
       |        FROM vecs x CROSS JOIN refined c) t1)""".stripMargin

  val annIvfTopK: Q = q("ann_ivf_topk",
    s"""WITH ${duckIvfCells()},
      |corpus AS (SELECT vec_id AS n_id, v AS v_n, cid AS cell FROM a1 WHERE r = 1),
      |qprobe AS (
      |  SELECT vec_id AS q_id, v AS v_q, cid AS cell
      |  FROM a1 WHERE vec_id < 10 AND r <= 3),
      |cand AS (
      |  SELECT q.q_id, c.n_id,
      |    round(list_cosine_similarity(q.v_q, c.v_n), 6) AS cos
      |  FROM qprobe q JOIN corpus c USING (cell)
      |  WHERE q.q_id <> c.n_id)
      |SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q_id, n_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, n_id) AS BIGINT) AS rnk, cos
      |  FROM cand) t
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    operators.Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 10, k = 5, nProbe = 3)
      .orderBy("q_id", "rnk")
  }

  /** SemDedup (cluster-then-dedup over embeddings): the oracle replays the
    * whole quantizer via [[duckIvfCells]], then the intra-cell lowest-id
    * keep rule — a semantic-dedup sketch with an exact value oracle. */
  val semDedupGate: Q = q("semdedup",
    s"""WITH ${duckIvfCells()},
      |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
      |dups AS (
      |  SELECT DISTINCT b.vec_id AS vec_id
      |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
      |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
      |  (d.vec_id IS NULL) AS kept
      |FROM corpus c LEFT JOIN dups d ON c.vec_id = d.vec_id
      |ORDER BY c.vec_id""".stripMargin) { (s, dir) =>
    operators.Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4)
      .withColumn("cell", col("cell").cast("long"))
      .orderBy("vec_id")
  }

  /** Cluster-balanced diversity sample — round 4: quantizer cells +
    * per-cell salted-hash quota ([[operators.Similarity.cellBalancedSample]]);
    * the oracle replays the quantizer via [[duckIvfCells]] and the
    * quota draw via [[operators.Sampling.duckdbHashBucket]]. */
  val cellBalancedGate: Q = q("cell_balanced_sample", {
    val b = operators.Sampling.duckdbHashBucket("vec_id", "cbs", 1 << 30)
    s"""WITH ${duckIvfCells()},
       |cells AS (SELECT vec_id, cid AS cell FROM a1 WHERE r = 1),
       |rr AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY cell ORDER BY $b, vec_id) AS rn
       |  FROM cells)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM rr WHERE rn <= 10
       |ORDER BY vec_id""".stripMargin }) { (s, dir) =>
    operators.Similarity.cellBalancedSample(t(s, dir, "embeddings"),
      "vec_id", "embedding", perCell = 10, salt = "cbs")
      .withColumn("cell", col("cell").cast("long"))
      .orderBy("vec_id")
  }

  /** Metadata-pre-filtered vector search — round 4: the corpus
    * restriction (here the scan-pushable `label <= 4`) applies BELOW the
    * scoring join, so every query still receives exactly k eligible
    * neighbors — the filtered-ANN contract a post-filter formulation
    * breaks (it returns < k rows whenever a near neighbor fails the
    * predicate). PlanShapeSpec asserts the label predicate reaches the
    * parquet scan. */
  val annFilteredTopK: Q = q("ann_filtered_topk",
    """SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |      c.vec_id) AS BIGINT) AS rnk,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                 CAST(c.embedding AS DOUBLE[])), 6) AS cos
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id <> c.vec_id AND c.label <= 4
      |  WHERE q.vec_id < 10) t
      | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    operators.Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id",
      "embedding", queryPred = col("vec_id") < 10, k = 5,
      corpusPred = col("label") <= 4)
      .orderBy("q_id", "rnk")
  }

  /** Mutual kNN graph — round 4: cell-blocked directed kNN symmetrized
    * to mutual edges ([[operators.Similarity.knnGraph]]); the oracle
    * replays the quantizer via [[duckIvfCells]] and the rank/mutuality
    * rules exactly. */
  val knnGraphGate: Q = q("knn_graph",
    s"""WITH ${duckIvfCells()},
       |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
       |directed AS (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM (SELECT a.vec_id AS src, b.vec_id AS dst,
       |          round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |        FROM corpus a JOIN corpus b
       |          ON a.cell = b.cell AND a.vec_id <> b.vec_id) d),
       |knn AS (SELECT src, dst, cos FROM directed WHERE rnk <= 5)
       |SELECT least(src, dst) AS id_a, greatest(src, dst) AS id_b,
       |  max(cos) AS cos
       |FROM knn GROUP BY 1, 2 HAVING count(*) = 2
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    operators.Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 5)
      .orderBy("id_a", "id_b")
  }

  /** Triangle counts over the mutual-kNN graph ([[operators.Graphs
    * .triangleCounts]], round 6): the degree-ordered wedge join
    * (Cohen / Suri–Vassilvitskii) on the sparsified similarity graph —
    * the oracle replays the kNN edge list via the shared quantizer CTE,
    * then the identical orientation, wedge, and closing joins. */
  val triangleCountGate: Q = q("triangle_counts",
    s"""WITH ${duckIvfCells()},
       |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
       |directed AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM (SELECT a.vec_id AS src, b.vec_id AS dst,
       |          round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |        FROM corpus a JOIN corpus b
       |          ON a.cell = b.cell AND a.vec_id <> b.vec_id) d),
       |knn AS (SELECT src, dst FROM directed WHERE rnk <= 5),
       |edges AS MATERIALIZED (
       |  SELECT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM knn GROUP BY 1, 2 HAVING count(*) = 2),
       |deg AS (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
       |  GROUP BY 1),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN du < dv OR (du = dv AND u < v)
       |      THEN u ELSE v END AS src,
       |    CASE WHEN du < dv OR (du = dv AND u < v)
       |      THEN v ELSE u END AS dst,
       |    CASE WHEN du < dv OR (du = dv AND u < v)
       |      THEN dv ELSE du END AS ddst
       |  FROM (SELECT e.u, e.v, da.deg AS du, db.deg AS dv
       |        FROM edges e JOIN deg da ON da.id = e.u
       |          JOIN deg db ON db.id = e.v)),
       |w AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM o e1 JOIN o e2 ON e1.src = e2.src
       |  WHERE e1.ddst < e2.ddst
       |    OR (e1.ddst = e2.ddst AND e1.dst < e2.dst)),
       |t AS (SELECT a, b, c FROM w
       |  JOIN o ON o.src = w.b AND o.dst = w.c),
       |pn AS (
       |  SELECT id, count(*) AS triangles FROM (
       |    SELECT a AS id FROM t UNION ALL SELECT b FROM t
       |    UNION ALL SELECT c FROM t) GROUP BY 1)
       |SELECT d.id, CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles
       |FROM deg d LEFT JOIN pn USING (id)
       |ORDER BY id""".stripMargin) { (s, dir) =>
    val edges = operators.Similarity.knnGraph(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 5)
    operators.Graphs.triangleCounts(edges, "id_a", "id_b")
      .orderBy("id")
  }

  /** Deterministic synchronous label propagation ([[operators.Graphs
    * .labelPropagation]], round 6 cont.): 4 rounds of most-frequent-
    * neighbor-label adoption (self-vote, ties to the smallest label)
    * over the mutual-kNN similarity graph — communities, not
    * components: propagation stops at sparse cuts. The oracle replays
    * the kNN edge list via the shared quantizer CTE, then each round
    * verbatim as a vote aggregate + (cnt DESC, lbl) pick. */
  val labelPropagationGate: Q = q("label_propagation", {
    val roundCtes = (1 to 4).map { i =>
      s"""v$i AS (
         |  SELECT id, lbl, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT b.u AS id, l.lbl FROM bid b
         |      JOIN l${i - 1} l ON l.id = b.v
         |    UNION ALL SELECT id, lbl FROM l${i - 1})
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT id, lbl FROM v$i
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY cnt DESC, lbl) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${duckIvfCells()},
       |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
       |directed AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM (SELECT a.vec_id AS src, b.vec_id AS dst,
       |          round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |        FROM corpus a JOIN corpus b
       |          ON a.cell = b.cell AND a.vec_id <> b.vec_id) d),
       |knn AS (SELECT src, dst FROM directed WHERE rnk <= 5),
       |edges AS MATERIALIZED (
       |  SELECT least(src, dst) AS ea, greatest(src, dst) AS eb
       |  FROM knn GROUP BY 1, 2 HAVING count(*) = 2),
       |bid AS (SELECT ea AS u, eb AS v FROM edges
       |  UNION SELECT eb, ea FROM edges),
       |l0 AS (SELECT vec_id AS id, vec_id AS lbl FROM embeddings),
       |$roundCtes
       |SELECT id AS vec_id, lbl AS community
       |FROM l4 ORDER BY vec_id""".stripMargin
  }) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val edges = operators.Similarity.knnGraph(emb, "vec_id", "embedding",
      k = 5)
    operators.Graphs.labelPropagation(emb.select("vec_id"), edges,
      idCol = "vec_id", rounds = 4)
      .orderBy("vec_id")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019) — round 6: the
    * cross-lingual pair-harvesting step of multilingual corpus builds.
    * Sides split by vec_id parity (a synthetic two-language corpus over
    * the shared space); the oracle replays the shared quantizer via
    * [[duckIvfCells]], then kNN ranks, integer micro-unit neighborhood
    * sums, the single-division margin, and the mutual argmax — exact. */
  val bitextMineGate: Q = q("bitext_mine",
    s"""WITH ${duckIvfCells()},
       |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
       |pairs AS (
       |  SELECT src, dst, cos,
       |    CAST(round(cos * 1000000) AS BIGINT) AS c_micro
       |  FROM (SELECT a.vec_id AS src, b.vec_id AS dst,
       |          round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |        FROM corpus a JOIN corpus b ON a.cell = b.cell
       |        WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1) p
       |  WHERE NOT isnan(cos)),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk_a,
       |    row_number() OVER (PARTITION BY dst ORDER BY cos DESC, src) AS rnk_b
       |  FROM pairs),
       |na AS (SELECT src, sum(c_micro) AS sa, count(*) AS ca
       |       FROM ranked WHERE rnk_a <= 4 GROUP BY src),
       |nb AS (SELECT dst, sum(c_micro) AS sb, count(*) AS cb
       |       FROM ranked WHERE rnk_b <= 4 GROUP BY dst),
       |scored AS (
       |  SELECT r.src, r.dst, r.cos,
       |    round(2.0 * r.c_micro * na.ca * nb.cb /
       |          (na.sa * nb.cb + nb.sb * na.ca), 6) AS margin
       |  FROM ranked r
       |  JOIN na ON r.src = na.src JOIN nb ON r.dst = nb.dst
       |  WHERE r.rnk_a <= 4 AND r.rnk_b <= 4
       |    AND na.sa * nb.cb + nb.sb * na.ca <> 0),
       |best AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY src ORDER BY margin DESC, dst) AS rf,
       |    row_number() OVER (PARTITION BY dst ORDER BY margin DESC, src) AS rb
       |  FROM scored)
       |SELECT src AS id_a, dst AS id_b, cos, margin FROM best
       |WHERE rf = 1 AND rb = 1 AND margin >= 1.0
       |ORDER BY id_a""".stripMargin) { (s, dir) =>
    operators.Similarity.bitextMine(t(s, dir, "embeddings"), "vec_id",
      "embedding", sideA = col("vec_id") % 2 === 0, k = 4,
      threshold = 1.0)
      .orderBy("id_a")
  }

  /** Misra-Gries heavy hitters — round 4: bounded-memory sketch pass +
    * candidate-restricted exact restore ([[operators.HeavyHitters]]);
    * the MG superset guarantee makes the sketch-routed plan equal the
    * oracle's exact HAVING filter value-for-value. k=64 ⇒ threshold
    * N/65. */
  val heavyHittersGate: Q = q("heavy_hitters",
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |  WHERE text IS NOT NULL),
      |tot AS (SELECT count(*) AS n FROM toks)
      |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      |FROM toks GROUP BY tok
      |HAVING count(*) * 65 > (SELECT n FROM tot)
      |ORDER BY cnt DESC, tok""".stripMargin) { (s, dir) =>
    operators.HeavyHitters.exactHeavyHitters(t(s, dir, "documents"), "text",
      k = 64)
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Adaptive per-language length window — round 4: keep docs inside the
    * group's [p5, p95] ORDER-STATISTIC window
    * ([[operators.TextAnalysis.adaptiveRangeFilter]]); rank selection in
    * integer arithmetic means the verdict can never flip on an
    * interpolation ulp, so the oracle is exact. */
  val adaptiveLengthFilter: Q = q("adaptive_length_filter",
    """WITH n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |r AS (SELECT lang, n_chars,
      |        row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk
      |      FROM documents),
      |b AS (SELECT r.lang, min(n_chars) AS lo, max(n_chars) AS hi
      |      FROM r JOIN n USING (lang)
      |      WHERE rk = (5 * cnt + 99) // 100 OR rk = (95 * cnt + 99) // 100
      |      GROUP BY r.lang)
      |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
      |FROM documents d JOIN b USING (lang)
      |WHERE d.n_chars >= lo AND d.n_chars <= hi
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.adaptiveRangeFilter(t(s, dir, "documents"),
      "lang", "n_chars", pLoPct = 5, pHiPct = 95)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Robust per-source outlier docs — round 6: Hampel ×3 MAD rule on
    * doc length ([[operators.Outliers.madOutliers]]). Medians are exact
    * LOWER medians computed on the value histogram (domain-sized windows,
    * never corpus-sized; see the operator scaladoc), so the whole
    * statistic replays in integer SQL and hash-compares. k=2 rather than
    * the textbook 3 so the gate output is non-empty at every tested
    * scale. */
  val madOutliersGate: Q = q("mad_outliers",
    """WITH hist AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
      |cum AS (SELECT source, v,
      |          CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
      |        FROM hist),
      |med AS (SELECT c.source, min(v) AS med FROM cum c JOIN tot t USING (source)
      |        WHERE c.cum * 2 >= t.n GROUP BY 1),
      |dev AS (SELECT d.doc_id, d.source, d.n_chars, m.med,
      |          abs(d.n_chars - m.med) AS ad
      |        FROM documents d JOIN med m USING (source)),
      |dhist AS (SELECT source, ad AS v, count(*) AS cnt FROM dev GROUP BY 1, 2),
      |dtot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM dhist GROUP BY 1),
      |dcum AS (SELECT source, v,
      |           CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
      |         FROM dhist),
      |mad AS (SELECT c.source, min(v) AS mad FROM dcum c JOIN dtot t USING (source)
      |        WHERE c.cum * 2 >= t.n GROUP BY 1)
      |SELECT dev.doc_id, dev.source, dev.n_chars, dev.med, mad.mad
      |FROM dev JOIN mad USING (source)
      |WHERE dev.ad > 2 * mad.mad
      |ORDER BY dev.doc_id""".stripMargin) { (s, dir) =>
    // k=2: the synthetic corpus has no 3×-MAD tail at scale (uniform-ish
    // length generator), and an empty gate proves nothing — k=2 keeps the
    // differential populated at sf0.01 (51) through sf1 (2.9k)
    operators.Outliers.madOutliers(t(s, dir, "documents"), "source",
      "n_chars", k = 2)
      .select(col("doc_id"), col("source"), col("n_chars"), col("med"),
        col("mad"))
      .orderBy("doc_id")
  }

  /** Sorted-neighborhood blocking — round 6: candidate pairs within a
    * 4-wide window of the length-sorted corpus
    * ([[operators.Dedup.sortedNeighborhoodPairs]]). The oracle is the
    * textbook row_number() self-join; the engine plan is the bucketed
    * two-pass rank + a rank-offset equi-join, so the hash match proves
    * the scalable plan reproduces the single-sort semantics exactly. */
  val sortedNeighborhoodGate: Q = q("sorted_neighborhood",
    """WITH r AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS rk
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(b.rk - a.rk AS BIGINT) AS dist
      |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    operators.Dedup.sortedNeighborhoodPairs(
      t(s, dir, "documents"), "doc_id", "n_chars", window = 4)
      .orderBy("id_a", "id_b")
  }

  /** Per-source moment panel — round 6: mean/variance/skewness/kurtosis
    * of doc length from exact DECIMAL(38,0) power sums
    * ([[operators.Metrics.momentsByGroup]]; DuckDB's HUGEINT sums mirror
    * them), closed by identical IEEE double formulas on both engines —
    * so even the third- and fourth-moment micro values hash-match. */
  val momentsAggGate: Q = q("moments_agg",
    """WITH s AS (
      |  SELECT source, count(*) AS n,
      |    sum(n_chars) AS s1, sum(n_chars * n_chars) AS s2,
      |    sum(n_chars * n_chars * n_chars) AS s3,
      |    sum(n_chars * n_chars * n_chars * n_chars) AS s4
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      |m AS (
      |  SELECT source, CAST(n AS BIGINT) AS n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
      |      + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
      |      + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
      |      - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m4
      |  FROM s)
      |SELECT source, n,
      |  CAST(round(mean * 1e6) AS BIGINT) AS mean_micro,
      |  CAST(round(m2 * 1e6) AS BIGINT) AS var_micro,
      |  CASE WHEN m2 > 0
      |    THEN CAST(round(m3 / sqrt(m2 * m2 * m2) * 1e6) AS BIGINT) END AS skew_micro,
      |  CASE WHEN m2 > 0
      |    THEN CAST(round((m4 / (m2 * m2) - 3.0) * 1e6) AS BIGINT) END AS kurt_micro
      |FROM m ORDER BY source""".stripMargin) { (s, dir) =>
    operators.Metrics.momentsByGroup(t(s, dir, "documents"), "source",
      "n_chars")
      .orderBy("source")
  }

  /** Per-source ROC-AUC — round 6: Mann–Whitney rank-sum AUC of doc
    * length as a predictor of English-ness
    * ([[operators.Metrics.aucByGroup]]). Computed on the score
    * histogram (no global sort, no per-row ranks); `auc2_num` = 2U is
    * integral so ties cost no floating error, and the closing division
    * is one double op on exact integers — hash-stable. */
  val aucRankGate: Q = q("auc_rank",
    """WITH h AS (
      |  SELECT source, n_chars AS s,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
      |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS q
      |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
      |  GROUP BY 1, 2),
      |c AS (SELECT source, p, q,
      |        CAST(sum(q) OVER (PARTITION BY source ORDER BY s) - q AS BIGINT) AS qb
      |      FROM h),
      |a AS (SELECT source, CAST(sum(p) AS BIGINT) AS pos_n,
      |        CAST(sum(q) AS BIGINT) AS neg_n,
      |        CAST(sum(p * (qb * 2 + q)) AS BIGINT) AS auc2_num
      |      FROM c GROUP BY 1)
      |SELECT source, pos_n, neg_n, auc2_num,
      |  CAST(auc2_num AS DOUBLE) / (2.0 * pos_n * neg_n) AS auc
      |FROM a WHERE pos_n > 0 AND neg_n > 0
      |ORDER BY source""".stripMargin) { (s, dir) =>
    operators.Metrics.aucByGroup(
      t(s, dir, "documents").withColumn("is_en", col("lang") === "en"),
      "source", "n_chars", "is_en")
      .orderBy("source")
  }

  /** Per-language winsorization — round 6: clip doc length into the
    * [p5, p95] order-statistic window ([[operators.Outliers.winsorize]]).
    * Same exact-rank bound selection as `adaptive_length_filter`, but
    * clipping instead of filtering, and the ranks run through the
    * bucketed grouped rank rather than a per-group window. */
  val winsorizeGate: Q = q("winsorize",
    """WITH n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |r AS (SELECT lang, n_chars,
      |        row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk
      |      FROM documents),
      |b AS (SELECT r.lang, min(n_chars) AS lo, max(n_chars) AS hi
      |      FROM r JOIN n USING (lang)
      |      WHERE rk = (5 * cnt + 99) // 100 OR rk = (95 * cnt + 99) // 100
      |      GROUP BY r.lang)
      |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
      |  CAST(least(greatest(d.n_chars, b.lo), b.hi) AS BIGINT) AS winsorized
      |FROM documents d JOIN b USING (lang)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    operators.Outliers.winsorize(t(s, dir, "documents"), "lang", "n_chars",
      tieCol = "doc_id", pLoPct = 5, pHiPct = 95)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        col("winsorized").cast("long").as("winsorized"))
      .orderBy("doc_id")
  }

  /** Systematic (every-k-th) sampling — round 6: exact ⌈n/k⌉ sample by
    * hash-order rank ([[operators.Sampling.systematicSample]]); the
    * oracle replays hash, rank, and the modular selection. */
  val systematicSampleGate: Q = q("systematic_sample", {
    val h = operators.CrossHash.duckdbHash56("'s3:' || CAST(doc_id AS VARCHAR)")
    s"""WITH r AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY ($h), doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id FROM r WHERE (rk - 1) % 7 = 0
       |ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    operators.Sampling.systematicSample(t(s, dir, "documents"), "doc_id",
      k = 7, salt = "s3")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Capstone v7 — round 6: the robust-stats curation chain as ONE lazy
    * DAG: per-language winsorization (bounds from the full corpus) →
    * per-source MAD outlier removal (anti-join) → exact stratified
    * 90/10 split over the SURVIVORS (ranks computed post-filter, which
    * the oracle must — and does — replay) → per-(lang, split) report
    * with id/value checksums. Every stage is individually hash-gated;
    * this gate proves their composition end to end. */
  val pipelineCurationV7: Q = q("pipeline_curation_v7", {
    val h = operators.CrossHash.duckdbHash56("'v7:' || CAST(doc_id AS VARCHAR)")
    s"""WITH wn AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |wr AS (SELECT lang, n_chars,
       |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk
       |       FROM documents),
       |wb AS (SELECT wr.lang, min(n_chars) AS lo, max(n_chars) AS hi
       |       FROM wr JOIN wn USING (lang)
       |       WHERE rk = (5 * cnt + 99) // 100 OR rk = (95 * cnt + 99) // 100
       |       GROUP BY wr.lang),
       |wins AS (
       |  SELECT d.doc_id, d.lang, d.source, d.n_chars,
       |    least(greatest(d.n_chars, wb.lo), wb.hi) AS w
       |  FROM documents d JOIN wb USING (lang)),
       |hist AS (SELECT source, n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
       |cum AS (SELECT source, v,
       |          CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
       |        FROM hist),
       |med AS (SELECT c.source, min(v) AS med FROM cum c JOIN tot t USING (source)
       |        WHERE c.cum * 2 >= t.n GROUP BY 1),
       |dev AS (SELECT d.doc_id, d.source, abs(d.n_chars - m.med) AS ad
       |        FROM documents d JOIN med m USING (source)),
       |dhist AS (SELECT source, ad AS v, count(*) AS cnt FROM dev GROUP BY 1, 2),
       |dcum AS (SELECT source, v,
       |           CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
       |         FROM dhist),
       |dtot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM dhist GROUP BY 1),
       |mad AS (SELECT c.source, min(v) AS mad FROM dcum c JOIN dtot t USING (source)
       |        WHERE c.cum * 2 >= t.n GROUP BY 1),
       |bad AS (SELECT dev.doc_id FROM dev JOIN mad USING (source)
       |        WHERE dev.ad > 2 * mad.mad),
       |kept AS (SELECT * FROM wins WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
       |r AS (SELECT doc_id, lang, w,
       |        row_number() OVER (PARTITION BY lang ORDER BY ($h), doc_id) AS rk,
       |        count(*) OVER (PARTITION BY lang) AS n
       |      FROM kept)
       |SELECT lang,
       |  CASE WHEN rk * 100 <= 90 * n THEN 'train' ELSE 'heldout' END AS split,
       |  CAST(count(*) AS BIGINT) AS cnt, CAST(sum(w) AS BIGINT) AS w_sum,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM r GROUP BY 1, 2 ORDER BY lang, split""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val wins = operators.Outliers.winsorize(docs, "lang", "n_chars",
      tieCol = "doc_id", pLoPct = 5, pHiPct = 95, outCol = "w")
    val outliers = operators.Outliers.madOutliers(docs, "source", "n_chars",
      k = 2).select("doc_id")
    val kept = wins.join(outliers, Seq("doc_id"), "left_anti")
    operators.Sampling.stratifiedSplit(kept, "doc_id", "lang",
      Seq("train" -> 90, "heldout" -> 10), salt = "v7")
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("cnt"), sum("w").as("w_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")
  }

  /** Semantic (embedding-space) decontamination — round 4: corpus rows
    * within cosine ≥ 0.35 of ANY benchmark vector are removed (the
    * paraphrased-contamination rule n-gram overlap misses). Bench
    * broadcasts; corpus never shuffles. */
  val semanticDecontaminateGate: Q = q("semantic_decontaminate",
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT v FROM e WHERE vec_id % 50 = 0),
      |c AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 0),
      |bad AS (
      |  SELECT DISTINCT c.vec_id FROM c JOIN b
      |    ON round(list_cosine_similarity(c.v, b.v), 6) >= 0.35)
      |SELECT c.vec_id FROM c
      |WHERE c.vec_id NOT IN (SELECT vec_id FROM bad)
      |ORDER BY c.vec_id""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    operators.Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") % 50 =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") % 50 === 0), "embedding", threshold = 0.35)
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** Per-vector symmetric int8 quantization — round 4: the 4× embedding
    * compression step, value-oracled end to end (scale is one double
    * division off an order-free max; per-element errors pre-round to
    * nano-units so the sum is exact integer arithmetic). Scalars only in
    * the gate frame (driver sorts every column). */
  val embeddingQuantize: Q = q("embedding_quantize",
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (
      |  SELECT vec_id, v, len(v) AS n_dims,
      |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
      |  FROM e)
      |SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims, scale,
      |  CAST(list_sum(list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0
      |    ELSE round(x / scale) END AS INT))) AS BIGINT) AS q_sum,
      |  CAST(list_max(list_transform(v, x -> abs(CAST(CASE WHEN scale = 0 THEN 0
      |    ELSE round(x / scale) END AS INT)))) AS BIGINT) AS q_abs_max,
      |  CAST(list_sum(list_transform(v, x -> CAST(round(abs(x -
      |    CAST(CASE WHEN scale = 0 THEN 0 ELSE round(x / scale) END AS INT)
      |    * scale) * 1e9) AS BIGINT))) AS BIGINT) AS err_nano_sum
      |FROM s ORDER BY vec_id""".stripMargin) { (s, dir) =>
    operators.Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
      .drop("q")
      .orderBy("vec_id")
  }

  /** Johnson–Lindenstrauss sign projection
    * ([[operators.Similarity.randomProjection]]) — round 6: 64-dim
    * embeddings → 16 exact-integer coordinates under a CrossHash-derived
    * ±1 matrix. The matrix is a plan-time constant, so the oracle
    * rebuilds the identical signs from the same md5 fold and the
    * projection replays as an exact BIGINT sum. */
  val randomProjectionGate: Q = q("random_projection", {
    val h = operators.CrossHash.duckdbHash56(
      "'rp:' || CAST(jj.j AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)")
    s"""WITH s AS (
       |  SELECT jj.j AS j, ii.i AS i,
       |    CASE WHEN ($h) % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM range(16) jj(j), range(64) ii(i)),
       |e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(round(x * 1000000) AS BIGINT)) AS m
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = 64
       |    AND vec_id < 200)
       |SELECT e.vec_id, CAST(s.j AS BIGINT) AS j,
       |  CAST(sum(s.sgn * e.m[s.i + 1]) AS BIGINT) AS p
       |FROM e, s
       |GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin
  }) { (s, dir) =>
    operators.Similarity.randomProjection(
      t(s, dir, "embeddings").filter(col("vec_id") < 200),
      dims = 64, k = 16, salt = "rp")
      .orderBy("vec_id", "j")
  }

  /** Time-travel (as-of epoch) read over a PK change stream — round 4:
    * base rows, then an update epoch, then a delete epoch; reading AS OF
    * the update epoch must show the updates and not the deletes. The
    * oracle replays the expected state from the source table. */
  val timeTravelAsOf: Q = q("time_travel_asof",
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_regionkey = 0 THEN n_name || '_v2' ELSE n_name END AS n_name
      | FROM nation ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val tmp = gateRoot("graft-asof")
    val e = new engine.Engine(s, s"$tmp/cat")
    val nat = t(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
      col("n_regionkey").cast("long").as("n_regionkey"))
    e.createStream("nation_tt",
      graft.schema.StreamSchema.fromStruct(nat.schema, primaryKey = Seq("n_nationkey")))
    e.appendRows("nation_tt", nat)
    e.appendRows("nation_tt", nat.filter(col("n_regionkey") === 0)
      .withColumn("n_name", concat(col("n_name"), lit("_v2"))))
    val asOf = e.catalog.get("nation_tt").get.writeEpoch
    e.deleteKeys("nation_tt",
      nat.filter(col("n_regionkey") === 1).select("n_nationkey"))
    e.readStreamAsOf("nation_tt", asOf)
      .select(col("n_nationkey"), col("n_name"))
      .orderBy("n_nationkey")
  }

  /** Range (interval-containment) join — round 4: every ~1%-sampled
    * order's 7-day window counts the lineitem shipments falling inside
    * it. The operator rewrites the inequality join into bucket-explode +
    * EQUI-join + exact filter (PlanShapeSpec asserts no BNLJ/cartesian);
    * the oracle states the same join as the plain inequality. */
  val rangeJoinGate: Q = q("range_join",
    """WITH iv AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ws,
      |    CAST(o_orderdate AS TIMESTAMP) + INTERVAL 7 DAY AS we
      |  FROM orders WHERE o_orderkey % 97 = 1),
      |pt AS (SELECT l_shipdate, l_quantity FROM lineitem)
      |SELECT iv.o_orderkey, CAST(count(*) AS BIGINT) AS n_ship,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM iv JOIN pt ON pt.l_shipdate >= iv.ws AND pt.l_shipdate < iv.we
      |GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey""".stripMargin) { (s, dir) =>
    val iv = t(s, dir, "orders").filter(col("o_orderkey") % 97 === 1)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("ws"),
        (col("o_orderdate").cast("timestamp") + expr("INTERVAL 7 DAYS")).as("we"))
    val pt = t(s, dir, "lineitem").select(
      col("l_shipdate").cast("timestamp").as("l_shipdate"), col("l_quantity"))
    operators.RangeJoin.pointInInterval(pt, "l_shipdate", iv, "ws", "we",
      bucketSeconds = 7L * 86400)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_ship"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy("o_orderkey")
  }

  /** Custom typed Aggregator: per-source MinHash union sketches →
    * estimated cross-source Jaccard. The estimate itself is
    * deterministic — shingles hash through the cross-engine 56-bit hash
    * and the SplitMix64 permutations are pure 64-bit wraparound
    * arithmetic — so the oracle replays the whole sketch: per (group,
    * permutation) min of mix64(h ⊕ saltⱼ) over the group's shingle-hash
    * union (elementwise-min union == min over the union), then the
    * match-fraction estimator. 64-bit wraparound is emulated in DuckDB
    * with UBIGINT lanes + HUGEINT split multiplication (BIGINT overflow
    * throws there), and mins compare SIGNED like the JVM kernel. */
  val sourceSimilarity: Q = q("source_similarity", {
    val numHashes = 128
    val phi = 0x9E3779B97F4A7C15L
    val m1 = java.lang.Long.toUnsignedString(0xBF58476D1CE4E5B9L)
    val m2 = java.lang.Long.toUnsignedString(0x94D049BB133111EBL)
    val salts = (1 to numHashes)
      .map(j => java.lang.Long.toUnsignedString(j * phi) + "::UBIGINT")
      .mkString(", ")
    // 64-bit wraparound multiply: split v into 32-bit halves so each
    // HUGEINT partial product stays under 2^96
    def mw(v: String, m: String): String =
      s"CAST((CAST($v % 4294967296 AS HUGEINT) * $m + " +
        s"((CAST($v >> 32 AS HUGEINT) * $m) % 4294967296) * 4294967296) " +
        s"% 18446744073709551616 AS UBIGINT)"
    s"""WITH docs AS (
       |  SELECT source AS grp, text FROM documents
       |  WHERE source IN ('src0', 'src1', 'src2', 'src3')),
       |toks AS (
       |  SELECT grp, unnest(${duckShingles(2)}) AS sh FROM docs
       |  WHERE len(string_split(text, ' ')) >= 2),
       |hs AS (SELECT DISTINCT grp, ${operators.CrossHash.duckdbHash56("sh")} AS h FROM toks),
       |salts AS (SELECT unnest(range($numHashes)) AS j, unnest([$salts]) AS salt),
       |m0 AS (SELECT grp, j, xor(CAST(h AS UBIGINT), salt) AS v FROM hs CROSS JOIN salts),
       |m1 AS (SELECT grp, j, xor(v, v >> 30) AS v FROM m0),
       |m2 AS (SELECT grp, j, ${mw("v", m1)} AS v FROM m1),
       |m3 AS (SELECT grp, j, xor(v, v >> 27) AS v FROM m2),
       |m4 AS (SELECT grp, j, ${mw("v", m2)} AS v FROM m3),
       |m5 AS (SELECT grp, j, xor(v, v >> 31) AS v FROM m4),
       |mins AS (
       |  SELECT grp, j, min(CAST(CASE WHEN v >= 9223372036854775808
       |      THEN CAST(v AS HUGEINT) - 18446744073709551616
       |      ELSE CAST(v AS HUGEINT) END AS BIGINT)) AS m
       |  FROM m5 GROUP BY grp, j)
       |SELECT a.grp AS grp_a, b.grp AS grp_b,
       |  CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $numHashes AS est_jaccard
       |FROM mins a JOIN mins b ON a.grp < b.grp AND a.j = b.j
       |GROUP BY a.grp, b.grp
       |ORDER BY grp_a, grp_b""".stripMargin
  }) { (s, dir) =>
    operators.MinHashAgg.groupSimilarity(
      t(s, dir, "documents").filter(col("source").isin("src0", "src1", "src2", "src3")),
      "source", "text")
      .orderBy("grp_a", "grp_b")
  }

  /** P3: map construction + `m['key']` element access. */
  val mapAccess: Q = q("map_access",
    """SELECT event_id, event_type AS et, CAST(user_id AS VARCHAR) AS uid
      | FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events").createOrReplaceTempView("events")
    s.sql(
      """SELECT event_id,
        |  map('type', event_type, 'user', CAST(user_id AS STRING))['type'] AS et,
        |  map('type', event_type, 'user', CAST(user_id AS STRING))['user'] AS uid
        | FROM events ORDER BY event_id""".stripMargin)
  }

  /** Quality scoring: punctuation / stopword / whitespace ratios. */
  val textQualityExt: Q = q("text_quality_ext",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
      |  CAST(len(regexp_extract_all(lower(text), '(?:^| )(?:the|and|of|a|in)(?: |$)')) AS BIGINT) AS n_stop,
      |  CAST(CAST(len(regexp_extract_all(text, '\s')) AS DOUBLE)
      |    / length(text) AS DOUBLE) AS ws_ratio
      | FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0)))
        .cast("long").as("n_punct"),
      size(regexp_extract_all(lower(col("text")),
        lit("(?:^| )(?:the|and|of|a|in)(?: |$)"), lit(0)))
        .cast("long").as("n_stop"),
      (size(regexp_extract_all(col("text"), lit("\\s"), lit(0))).cast("double")
        / length(col("text")).cast("double")).cast("double").as("ws_ratio"))
      .orderBy("doc_id")
  }

  /** Composed training-data pipeline: quality filter → language filter →
    * exact dedup → fingerprint, in one lazy plan (no intermediate
    * materialization — the shape a 100 TB curation job takes). */
  val pipelineComposed: Q = q("pipeline_composed",
    """WITH scored AS (
      |  SELECT doc_id, text,
      |    len(regexp_extract_all(lower(text), '(?:^| )(?:the|and|of|a|in)(?: |$)')) AS n_stop,
      |    len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |filtered AS (
      |  SELECT doc_id, text FROM scored WHERE n_tok >= 50 AND n_stop >= 1),
      |deduped AS (
      |  SELECT min(doc_id) AS doc_id, text FROM filtered GROUP BY text)
      |SELECT doc_id, md5(lower(text)) AS fp FROM deduped
      | ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val scored = docs.select(col("doc_id"), col("text"),
      size(regexp_extract_all(lower(col("text")),
        lit("(?:^| )(?:the|and|of|a|in)(?: |$)"), lit(0))).as("n_stop"),
      size(split(col("text"), " ")).as("n_tok"))
    val filtered = scored.filter(col("n_tok") >= 50 && col("n_stop") >= 1)
      .select("doc_id", "text")
    val deduped = filtered.groupBy("text").agg(min("doc_id").as("doc_id"))
    deduped.select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .orderBy("doc_id")
  }

  /** Heuristic language ID via marker-word counts, fixed-order argmax. */
  val langId: Q = q("lang_id", {
    def cnt(w: String) =
      s"len(regexp_extract_all(lower(text), '(?:^| )$w(?: |$$)'))"
    val scores = operators.TextAnalysis.LangMarkers.map { case (lang, ws) =>
      lang -> ws.map(cnt).mkString(" + ")
    }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (lang, e) =>
      s"WHEN ($e) = __best AND __best > 0 THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, text, $best AS __best FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    operators.TextAnalysis.langId(t(s, dir, "documents"))
      .select("doc_id", "lang_pred")
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix — round 6: the classifier-evaluation
    * view of `lang_id` (predicted vs labeled language, one count cell
    * per pair). One (lang, lang_pred) hash aggregate over the row-local
    * classifier; the oracle re-derives predictions with the same marker
    * arithmetic and groups identically. */
  val langConfusionGate: Q = q("lang_confusion", {
    def cnt(w: String) =
      s"len(regexp_extract_all(lower(text), '(?:^| )$w(?: |$$)'))"
    val scores = operators.TextAnalysis.LangMarkers.map { case (lang, ws) =>
      lang -> ws.map(cnt).mkString(" + ")
    }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (lang, e) =>
      s"WHEN ($e) = __best AND __best > 0 THEN '$lang'"
    }.mkString(" ")
    s"""WITH p AS (
       |  SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred
       |  FROM (SELECT doc_id, lang, text, $best AS __best FROM documents) t)
       |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS cnt
       |FROM p GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin
  }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    operators.TextAnalysis.langId(docs)
      .select("doc_id", "lang_pred")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "lang_pred")
  }

  /** Segment-level language mixture / code-switching detection
    * ([[operators.TextAnalysis.langMixture]]): German and French
    * sentences planted into a subset of docs (own segments — the
    * prepended '.' closes the original text's last segment); the oracle
    * replays the per-segment marker argmax with a struct-carrying
    * list_transform so the tie-break chain binds one `greatest` per
    * segment, exactly like the Spark fold. */
  val langMixtureGate: Q = q("lang_mixture", {
    def segCnt(w: String) =
      s"len(regexp_extract_all(x, '(?:^| )$w(?: |$$)'))"
    val scores = operators.TextAnalysis.LangMarkers.map { case (lang, ws) =>
      lang -> ws.map(segCnt).mkString(" + ")
    }
    // score struct per segment, so the argmax CASE binds each score once
    val scoreStruct = "{" + scores.map { case (l, e) =>
      s"'e_$l': ($e)" }.mkString(", ") + "}"
    val langNames = scores.map(_._1)
    val bestOfStruct = s"greatest(${langNames.map(l => s"v.e_$l").mkString(", ")})"
    val langCase = "CASE " + langNames.map(l =>
      s"WHEN v.e_$l = $bestOfStruct AND $bestOfStruct > 0 THEN '$l'")
      .mkString(" ") + " ELSE 'und' END"
    val cnts = langNames.map(l =>
      s"len(list_filter(langs, y -> y = '$l')) AS c_$l").mkString(", ")
    val bestC = s"greatest(${langNames.map(l => s"c_$l").mkString(", ")})"
    val primCase = "CASE " + langNames.map(l =>
      s"WHEN c_$l = b AND b > 0 THEN '$l'").mkString(" ") + " ELSE 'und' END"
    val indSum = langNames.map(l =>
      s"CASE WHEN c_$l > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH synth AS (SELECT doc_id, text
       |    || CASE WHEN doc_id % 4 = 0 THEN '. Der und ist die und der.' ELSE '' END
       |    || CASE WHEN doc_id % 6 = 0 THEN '. Le et la est le.' ELSE '' END AS s
       |  FROM documents),
       |segs AS (SELECT doc_id,
       |    list_filter(list_transform(string_split_regex(s, '[.!?]'),
       |      x -> trim(lower(x))), x -> x <> '') AS segs
       |  FROM synth),
       |l AS (SELECT doc_id, segs,
       |    list_transform(
       |      list_transform(segs, x -> $scoreStruct),
       |      v -> $langCase) AS langs
       |  FROM segs),
       |c AS (SELECT doc_id, segs, $cnts FROM l),
       |f AS (SELECT doc_id, len(segs) AS n, $bestC AS b,
       |    ${langNames.map(l => s"c_$l").mkString(", ")} FROM c)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_segments,
       |  $primCase AS primary_lang,
       |  round(CASE WHEN b > 0 THEN CAST(b AS DOUBLE) / n ELSE 0.0 END, 6)
       |    AS primary_share,
       |  CAST($indSum AS BIGINT) AS n_langs,
       |  ($indSum) >= 2 AS code_switched
       |FROM f ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    val synth = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(". Der und ist die und der."))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(". Le et la est le."))
          .otherwise(lit(""))).as("text"))
    operators.TextAnalysis.langMixture(synth).orderBy("doc_id")
  }

  /** BPE-ish pre-tokenizer token count (GPT-2 pre-tokenization regex —
    * no lookaround, so Java and RE2 agree). */
  val tokenCountBpe: Q = q("token_count_bpe", {
    val re = operators.TextAnalysis.BpeTokenRe.replace("'", "''")
    s"""SELECT doc_id, CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    operators.TextAnalysis.tokenCountBpe(t(s, dir, "documents"))
      .select("doc_id", "n_bpe_tokens")
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints, now FULLY oracle-checked: the selected set
    * per document is {min of each w-window of k-gram hashes} — the
    * rightmost-min tie rule only affects which INDEX is chosen, never
    * the value, so DuckDB reproduces the exact fingerprint set with
    * list ops (the base-31 polynomial can't overflow at k=5: max hash
    * ≈ 122·31⁴ ≈ 1.1e8). */
  val winnowFingerprint: Q = q("winnow_fingerprint",
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    list_transform(range(len(s) - 4), i ->
      |      ascii(s[i+1]) * 923521 + ascii(s[i+2]) * 29791 +
      |      ascii(s[i+3]) * 961 + ascii(s[i+4]) * 31 + ascii(s[i+5])) AS hs
      |  FROM n),
      |w AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) = 0 THEN []
      |         WHEN len(hs) <= 4 THEN [list_min(hs)]
      |         ELSE list_distinct(list_transform(range(len(hs) - 3),
      |                j -> list_min(hs[j+1 : j+4]))) END AS fps
      |  FROM h)
      |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
      |  CAST(list_min(fps) AS BIGINT) AS min_fp
      |FROM w ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.winnowSummary(t(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Memorization probe ([[operators.TextAnalysis.memorizationProbe]],
    * round 6 cont.): verbatim prefixes (probe_id < 1e7) and spliced
    * excerpts (+1e7) of every 29th document probed against the corpus
    * winnowing index — coverage (hit fraction) and attribution (the
    * doc sharing the most fingerprints, ties to the smaller id). A
    * contiguous excerpt's fingerprints are a SUBSET of its source's
    * (every window of a substring's hash sequence is a window of the
    * full text's), so verbatim probes are asserted in-plan at
    * hit_frac = 1.0 with top_share = n_fp. The oracle replays the
    * winnow fingerprint sets for corpus and probes verbatim, then the
    * identical coverage/attribution aggregates. */
  val memorizationProbeGate: Q = q("memorization_probe", {
    def winnowCtes(p: String, src: String) =
      s"""${p}n AS (
         |  SELECT id, trim(regexp_replace(lower(t), '[^a-z0-9]+', ' ', 'g')) AS s
         |  FROM $src),
         |${p}h AS (
         |  SELECT id, list_transform(range(len(s) - 4), i ->
         |    ascii(s[i+1]) * 923521 + ascii(s[i+2]) * 29791 +
         |    ascii(s[i+3]) * 961 + ascii(s[i+4]) * 31 + ascii(s[i+5])) AS hs
         |  FROM ${p}n),
         |${p}w AS (
         |  SELECT id, CASE WHEN len(hs) = 0 THEN []
         |    WHEN len(hs) <= 4 THEN [list_min(hs)]
         |    ELSE list_distinct(list_transform(range(len(hs) - 3),
         |      j -> list_min(hs[j+1 : j+4]))) END AS fps
         |  FROM ${p}h)""".stripMargin
    s"""WITH ${winnowCtes("c",
          "(SELECT doc_id AS id, text AS t FROM documents WHERE text IS NOT NULL)")},
       |idx0 AS (SELECT id AS src_doc, unnest(fps) AS fp FROM cw),
       |nd AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
       |boiler AS (
       |  SELECT fp FROM (SELECT fp, count(*) AS dfc FROM idx0 GROUP BY 1), nd
       |  WHERE dfc > ceil(0.05 * n)),
       |idx AS (SELECT src_doc, fp FROM idx0 ANTI JOIN boiler USING (fp)),
       |praw AS (
       |  SELECT doc_id AS id, substr(text, 1, 120) AS t
       |  FROM documents
       |  WHERE doc_id % 29 = 0 AND doc_id < 15000 AND text IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id + 10000000,
       |    substr(text, 1, 60) || ' qq ' || substr(text, 200, 60)
       |  FROM documents
       |  WHERE doc_id % 29 = 0 AND doc_id < 15000 AND text IS NOT NULL),
       |${winnowCtes("p", "praw")},
       |pidx AS (
       |  SELECT id AS probe_id, fp
       |  FROM (SELECT id, unnest(fps) AS fp FROM pw)
       |  ANTI JOIN boiler USING (fp)),
       |pbase AS (
       |  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_fp
       |  FROM pidx GROUP BY 1),
       |hits AS (SELECT p.probe_id, i.src_doc, p.fp
       |  FROM pidx p JOIN idx i USING (fp)),
       |cov AS (SELECT probe_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_hit
       |  FROM hits GROUP BY 1),
       |pd AS (SELECT probe_id, src_doc, CAST(count(*) AS BIGINT) AS shared
       |  FROM hits GROUP BY 1, 2),
       |best AS (SELECT probe_id, src_doc AS top_doc, shared AS top_share
       |  FROM pd QUALIFY row_number() OVER (PARTITION BY probe_id
       |    ORDER BY shared DESC, src_doc) = 1)
       |SELECT p.probe_id, p.n_fp, COALESCE(c.n_hit, 0) AS n_hit,
       |  round(CAST(COALESCE(c.n_hit, 0) AS DOUBLE) / p.n_fp, 6) AS hit_frac,
       |  b.top_doc, b.top_share
       |FROM pbase p
       |LEFT JOIN cov c USING (probe_id)
       |LEFT JOIN best b USING (probe_id)
       |ORDER BY probe_id""".stripMargin
  }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val base = docs.filter(col("doc_id") % 29 === 0 &&
      col("doc_id") < 15000 && col("text").isNotNull)
    val probes = base.select(col("doc_id").as("probe_id"),
        substring(col("text"), 1, 120).as("text"))
      .unionByName(base.select((col("doc_id") + 10000000L).as("probe_id"),
        concat(substring(col("text"), 1, 60), lit(" qq "),
          substring(col("text"), 200, 60)).as("text")))
    operators.TextAnalysis.memorizationProbe(docs, probes)
      // in-plan: a verbatim excerpt probes at full coverage and its
      // best attribution shares every fingerprint
      .withColumn("hit_frac",
        when(assert_true(col("probe_id") >= 10000000L ||
          (col("hit_frac") === 1.0 && col("top_share") === col("n_fp")),
          concat(lit("verbatim probe under-covered: probe="),
            col("probe_id"), lit(" frac="), col("hit_frac"))).isNull,
          col("hit_frac")))
      .orderBy("probe_id")
  }

  /** Multimodal plumbing for OPAQUE payloads: binary column + typed
    * metadata struct, stats oracle-checked metadata-only (decodable
    * containers have their own full-decode gates below). */
  val multimodalStats: Q = q("multimodal_stats",
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  CAST(length(text) % 640 AS INT) AS width,
      |  CAST((length(text) * 7) % 480 AS INT) AS height,
      |  CAST(CAST(length(text) % 640 AS BIGINT)
      |    * CAST((length(text) * 7) % 480 AS BIGINT) * 3 AS BIGINT) AS n_pixels
      | FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.mediaStats(
      operators.Multimodal.asMediaTable(t(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** REAL generic feature extraction with a FULL value oracle (round-3
    * verdict item #2): genuine PNG payloads, container-sniffed decode,
    * integer-exact features (component sums ≤ 48·48·255 < 2²⁴, so FLOAT
    * carries them exactly). The gate projects the features as scalars
    * (the driver harness sorts every column — a raw array<float> crashed
    * pandas in round 1); the array-valued API stays for library users. */
  val multimodalFeatures: Q = q("multimodal_features",
    """WITH d AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 3) % 32 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(w * h * 3)) AS i FROM d),
      |v AS (
      |  SELECT doc_id, w, h, i % 3 AS ch, (doc_id * 31 + i * 7) % 256 AS v
      |  FROM px)
      |SELECT doc_id,
      |  CAST(w AS FLOAT) AS f_width, CAST(h AS FLOAT) AS f_height,
      |  CAST(3 AS FLOAT) AS f_channels,
      |  CAST(sum(CASE WHEN ch = 0 THEN v END) AS FLOAT) AS f_sum_r,
      |  CAST(sum(CASE WHEN ch = 1 THEN v END) AS FLOAT) AS f_sum_g,
      |  CAST(sum(CASE WHEN ch = 2 THEN v END) AS FLOAT) AS f_sum_b,
      |  CAST(max(v) AS FLOAT) AS f_max,
      |  CAST(sum(CASE WHEN v > 127 THEN 1 ELSE 0 END) AS FLOAT) AS f_hi
      |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val featNames = Seq("f_width", "f_height", "f_channels", "f_sum_r",
      "f_sum_g", "f_sum_b", "f_max", "f_hi")
    operators.Multimodal.extractFeatures(
      operators.Multimodal.asPngTable(t(s, dir, "documents")))
      .select(col("doc_id") +: featNames.zipWithIndex.map { case (n, i) =>
        element_at(col("features"), i + 1).as(n) }: _*)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Curation operators: deterministic sampling/splitting, duplicate
  // clustering, PII redaction, repetition signals (SURVEY §7.5 extras)
  // ---------------------------------------------------------------------

  /** Deterministic train/val/test split by salted [[operators.CrossHash]]
    * bucket — membership is a pure projection (no shuffle, no RNG state),
    * checked here by split counts. */
  val sampleSplit: Q = q("sample_split", {
    val b = operators.Sampling.duckdbHashBucket("doc_id", "s1", 10000)
    s"""WITH b AS (SELECT doc_id, $b AS bucket FROM documents)
       |SELECT CASE WHEN bucket < 8000 THEN 'train'
       |            WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM b GROUP BY 1 ORDER BY split""".stripMargin }) { (s, dir) =>
    operators.Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s1")
      .groupBy("split").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy("split")
  }

  /** Exact stratified split — round 6: per-language split sizes are
    * exact (rank-thresholded, [[operators.Sampling.stratifiedSplit]]),
    * not just expected as in `sample_split`. The per-stratum order is
    * the bucketed grouped rank ([[operators.Ranks.groupedRowNumber]] —
    * strata are corpus-sized, so no per-stratum window); the oracle is
    * the textbook per-stratum row_number. `id_sum` checksums the exact
    * row assignment, so proportions can't pass with shuffled members. */
  val stratifiedSplitGate: Q = q("stratified_split", {
    val h = operators.CrossHash.duckdbHash56("'s2:' || CAST(doc_id AS VARCHAR)")
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY ($h), doc_id) AS rk,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN rk * 100 <= 80 * n THEN 'train'
       |       WHEN rk * 100 <= 90 * n THEN 'val' ELSE 'test' END AS split,
       |  CAST(count(*) AS BIGINT) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM r GROUP BY 1, 2 ORDER BY lang, split""".stripMargin }) { (s, dir) =>
    operators.Sampling.stratifiedSplit(t(s, dir, "documents"), "doc_id",
      "lang", Seq("train" -> 80, "val" -> 10, "test" -> 10), salt = "s2")
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("cnt"), sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")
  }

  /** Per-group quota sampling: at most 10 docs per language, drawn in
    * salted-hash order — deterministic, so the DuckDB oracle reproduces
    * the exact row set with the same hash + row_number. */
  /** Mixture planning report (round 5): target token shares, sampling
    * rates and implied epochs per source for a declared mixture — the
    * pre-flight check before committing a pretraining mix. n_chars
    * stands in for tokens (same column both sides). */
  val mixturePlanGate: Q = q("mixture_plan",
    """WITH avail AS (
      |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail_tokens
      |  FROM documents GROUP BY source),
      |w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2),
      |                            ('missing_src', 9.9)) AS t(source, w)),
      |j AS (SELECT a.source, a.avail_tokens, coalesce(w.w, 0) AS w
      |      FROM avail a LEFT JOIN w USING (source)),
      |t AS (SELECT sum(w) AS wtot FROM j)
      |SELECT source, avail_tokens,
      |  CAST(floor(w / wtot * 1e6) AS BIGINT) AS weight_micro,
      |  CAST(floor(w / wtot * 100000) AS BIGINT) AS target_tokens,
      |  CAST(floor(CAST(floor(w / wtot * 100000) AS BIGINT) * 1000000.0
      |             / avail_tokens) AS BIGINT) AS rate_micro,
      |  CAST(ceil(CAST(floor(w / wtot * 100000) AS BIGINT) * 1.0
      |            / avail_tokens) AS BIGINT) AS epochs_ceil
      |FROM j CROSS JOIN t
      |ORDER BY source""".stripMargin) { (s, dir) =>
    operators.Sampling.mixturePlan(
      t(s, dir, "documents"), "source", "n_chars",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2, "missing_src" -> 9.9),
      budgetTokens = 100000L)
  }

  /** Deterministic contrastive negative mining (round 5): k hash-drawn
    * negatives per anchor resolved through the bucketed global rank —
    * no cross join, no RNG; the oracle replays the rank table and the
    * position hash exactly. */
  val negativeSampleGate: Q = q("negative_sample", {
    val h = operators.CrossHash.duckdbHash56(
      "'neg:' || CAST(id_anchor AS VARCHAR) || '#' || CAST(j AS VARCHAR)")
    s"""WITH r AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
       |  FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |a AS (SELECT doc_id AS id_anchor FROM documents WHERE doc_id % 50 = 0),
       |e AS (SELECT id_anchor, CAST(j AS BIGINT) AS j
       |      FROM a CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS j)),
       |t AS (SELECT id_anchor, j, (($h) % n) + 1 AS target
       |      FROM e CROSS JOIN n)
       |SELECT id_anchor, j, r.doc_id AS id_neg
       |FROM t JOIN r ON r.rnk = t.target
       |WHERE r.doc_id <> t.id_anchor
       |ORDER BY id_anchor, j""".stripMargin }) { (s, dir) =>
    operators.Sampling.negativeSample(
      t(s, dir, "documents").select("doc_id"),
      "doc_id", col("doc_id") % 50 === 0, k = 5, salt = "neg")
      .orderBy("id_anchor", "j")
  }

  /** U2-class scale twin of `sample_quota`: the SAME rows through the
    * bounded-heap typed aggregator ([[operators.Sampling.quotaPerGroupAgg]])
    * instead of a window sort — map-side partial aggregation keeps ≤ n
    * candidates per (partition, group); nothing group-wide is ever
    * sorted. Same oracle text as `sample_quota` — identical output is
    * the point. */
  val sampleQuotaAgg: Q = q("sample_quota_agg", {
    val b = operators.Sampling.duckdbHashBucket("doc_id", "q1", 1 << 30)
    s"""WITH r AS (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY $b, doc_id) AS rn
       |  FROM documents)
       |SELECT lang, doc_id FROM r WHERE rn <= 10
       |ORDER BY lang, doc_id""".stripMargin }) { (s, dir) =>
    operators.Sampling.quotaPerGroupAgg(
      t(s, dir, "documents").select("lang", "doc_id"),
      Seq("lang"), "doc_id", n = 10, salt = "q1")
      .orderBy("lang", "doc_id")
  }

  val sampleQuota: Q = q("sample_quota", {
    val b = operators.Sampling.duckdbHashBucket("doc_id", "q1", 1 << 30)
    s"""WITH r AS (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY $b, doc_id) AS rn
       |  FROM documents)
       |SELECT lang, doc_id FROM r WHERE rn <= 10
       |ORDER BY lang, doc_id""".stripMargin }) { (s, dir) =>
    operators.Sampling.quotaPerGroup(
      t(s, dir, "documents").select("lang", "doc_id"),
      Seq("lang"), "doc_id", n = 10, salt = "q1")
      .orderBy("lang", "doc_id")
  }

  /** Duplicate clustering: MinHash-LSH candidate pairs closed into
    * connected components (min-label propagation); the oracle closes the
    * exact brute-force Jaccard pairs with a recursive CTE. Same sketch ==
    * exact argument as `dedup_minhash_lsh` (no pairs in (0.13, 0.8)). */
  val dupClusters: Q = q("dup_clusters", {
    val pairsSql = duckJaccardPairs(n = 2, threshold = 0.5, leftPred = "true")
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
       |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = operators.Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
    operators.Dedup.duplicateClusters(
      docs.select(col("doc_id").cast("long").as("doc_id")), pairs,
      idCol = "doc_id")
      .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Connected components via large/small-star contraction — round 6:
    * the O(log n)-round alternative to `dup_clusters`' O(diameter)
    * propagation ([[operators.Graphs.connectedComponentsLss]]), same
    * min-label contract, same candidate pairs, same recursive-CTE
    * oracle — so the hash match proves both algorithms agree with the
    * exact transitive closure. */
  val dupClustersLss: Q = q("dup_clusters_lss", {
    val pairsSql = duckJaccardPairs(n = 2, threshold = 0.5, leftPred = "true")
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
       |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = operators.Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
    operators.Graphs.connectedComponentsLss(
      docs.select(col("doc_id").cast("long").as("doc_id")), pairs,
      idCol = "doc_id")
      .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** PII redaction over text with synthesized deterministic PII (the
    * corpus itself is clean word-soup): email + IP on every doc, SSN on
    * doc_id%3==0, phone on doc_id%5==0. Counts and the redacted text are
    * compared byte-for-byte — the patterns live in the Java∩RE2 regex
    * subset. */
  val piiRedact: Q = q("pii_redact", {
    val synth =
      """text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com'
        | || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
        | || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END
        | || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END"""
        .stripMargin.replaceAll("\n", "")
    val pats = operators.TextAnalysis.PiiPatterns
    val counts = pats.map { case (k, p) =>
      s"CAST(len(regexp_extract_all(s, '${p.replace("'", "''")}')) AS BIGINT) AS n_$k" }
    val redacted = pats.foldLeft("s") { case (e, (k, p)) =>
      s"regexp_replace($e, '${p.replace("'", "''")}', '<${k.toUpperCase}>', 'g')" }
    s"""WITH synth AS (SELECT doc_id, $synth AS s FROM documents)
       |SELECT doc_id, ${counts.mkString(", ")}, $redacted AS redacted
       |FROM synth ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    val synth = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@ex.com"),
        lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" call 555-867-5309"))
          .otherwise(lit(""))).as("text"))
    operators.TextAnalysis.redactPii(synth).orderBy("doc_id")
  }

  /** Luhn-validated card redaction ([[operators.TextAnalysis
    * .redactCardNumbers]]): three planted shapes — a Luhn-valid spaced
    * card, a Luhn-FAILING dashed digit run (must survive redaction, must
    * count as rejected), a bare 16-digit valid run. The oracle re-derives
    * the mod-10 check digit in SQL list arithmetic. */
  val piiLuhn: Q = q("pii_luhn",
    """WITH synth AS (SELECT doc_id, text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' card 4539 5787 6362 1486' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0 THEN ' ref 1234-5678-1234-5678' ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0 THEN ' acct 4539578763621486' ELSE '' END AS s
      |  FROM documents),
      |cand AS (SELECT doc_id, s,
      |    regexp_extract_all(s, '\b(?:\d{4}[- ]){3}\d{4}\b|\b\d{16}\b') AS cs
      |  FROM synth),
      |j AS (SELECT doc_id, s, cs,
      |    list_transform(cs, c -> {'c': c,
      |      'ds': list_transform(string_split(reverse(
      |        replace(replace(c, '-', ''), ' ', '')), ''),
      |        x -> CAST(x AS INT))}) AS cds
      |  FROM cand),
      |v AS (SELECT doc_id, s, cs,
      |    list_transform(list_filter(cds, u ->
      |      list_sum(list_transform(range(len(u.ds)), i ->
      |        CASE WHEN i % 2 = 1 THEN
      |          CASE WHEN u.ds[i+1] * 2 > 9 THEN u.ds[i+1] * 2 - 9
      |               ELSE u.ds[i+1] * 2 END
      |        ELSE u.ds[i+1] END)) % 10 = 0), u -> u.c) AS valid
      |  FROM j)
      |SELECT doc_id, CAST(len(valid) AS BIGINT) AS n_card_valid,
      |  CAST(len(cs) - len(valid) AS BIGINT) AS n_card_rejected,
      |  list_reduce(list_prepend(s, valid),
      |    (a, b) -> replace(a, b, '<CARD>')) AS redacted
      |FROM v ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val synth = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" card 4539 5787 6362 1486"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" ref 1234-5678-1234-5678"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" acct 4539578763621486"))
          .otherwise(lit(""))).as("text"))
    operators.TextAnalysis.redactCardNumbers(synth).orderBy("doc_id")
  }

  /** Corpus snapshot diff ([[operators.CorpusDiff]]): v2 derived from v1
    * by dropping every 13th doc, editing every 7th, and re-adding every
    * 11th under a shifted id — all four statuses exercised, including
    * the drop-dominates-edit overlap (doc 0 is removed AND its shifted
    * copy added). */
  val corpusDiffGate: Q = q("corpus_diff",
    """WITH v1 AS (SELECT doc_id, text FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 11 = 0),
      |k1 AS (SELECT doc_id, md5(coalesce(text, '')) AS h1 FROM v1),
      |k2 AS (SELECT doc_id, md5(coalesce(text, '')) AS h2 FROM v2)
      |SELECT doc_id,
      |  CASE WHEN h1 IS NULL THEN 'added'
      |       WHEN h2 IS NULL THEN 'removed'
      |       WHEN h1 = h2 THEN 'unchanged'
      |       ELSE 'modified' END AS status
      |FROM k1 FULL OUTER JOIN k2 USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val v1 = docs.select("doc_id", "text")
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    operators.CorpusDiff.diff(v1, v2, "doc_id", Seq("text"))
      .orderBy("doc_id")
  }

  /** HLL sketch rollup ([[operators.Sketches]]): per-event-type distinct
    * users from mergeable sketches, plus the GLOBAL row answered by
    * UNIONING the per-type sketches (never rescanning events). Output
    * follows the self-checking-sketch convention: deterministic columns
    * only (exact distinct + in-plan 5%-drift assertion). */
  val hllRollupGate: Q = q("hll_rollup",
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  TRUE AS sketch_ok
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT '__total', CAST(count(DISTINCT user_id) AS BIGINT), TRUE
      |FROM events
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select("event_type", "user_id")
    val sk = operators.Sketches.distinctSketch(e, Seq("event_type"), "user_id")
    val per = sk.withColumn("est", hll_sketch_estimate(col("sketch")))
      .select("event_type", "est")
      .join(e.groupBy("event_type")
        .agg(count_distinct(col("user_id")).cast("long").as("n_exact")),
        "event_type")
      .select(col("event_type"), col("n_exact"),
        operators.Sketches.withinTolerance(col("est"), col("n_exact"), 0.05)
          .as("sketch_ok"))
    val global = e.agg(count_distinct(col("user_id")).cast("long").as("n_exact"))
      .crossJoin(broadcast(
        operators.Sketches.rollup(sk, Nil).select(col("estimate").as("est"))))
      .select(lit("__total").as("event_type"), col("n_exact"),
        operators.Sketches.withinTolerance(col("est"), col("n_exact"), 0.05)
          .as("sketch_ok"))
    per.unionByName(global).orderBy("event_type")
  }

  /** Mergeable quantile-sketch rollup ([[operators.Sketches]], round 6) —
    * the quantile twin of `hll_rollup`: per-language document-length
    * sketches (log-linear integer buckets, the HDR-histogram design),
    * p50/p90/p99 answered from the sketch, and the GLOBAL row answered
    * by MERGING the per-language sketches — the corpus is never
    * rescanned. Every bucket step is bin()/shift/compare integer
    * arithmetic, so the oracle replays the sketch EXACTLY (no floating
    * log whose last ulp could flip a bucket across engines); the q·N
    * target rank is IEEE double in both engines (the oracle casts its
    * q literals to DOUBLE — DuckDB decimals would ceil differently). */
  val quantileSketchRollup: Q = q("quantile_sketch_rollup",
    """WITH vals AS (
      |  SELECT lang, CAST(length(text) AS BIGINT) AS v FROM documents
      |  WHERE text IS NOT NULL),
      |bk AS (
      |  SELECT lang,
      |    CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS msb,
      |    CASE WHEN v <= 0 THEN 0
      |         ELSE v >> GREATEST(length(bin(v)) - 5, 0) END AS mant,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM vals GROUP BY 1, 2, 3),
      |allbk AS (
      |  SELECT lang, msb, mant, cnt FROM bk
      |  UNION ALL
      |  SELECT '__total', msb, mant, CAST(sum(cnt) AS BIGINT)
      |  FROM bk GROUP BY 2, 3),
      |cum AS (
      |  SELECT lang, msb, mant,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY msb, mant) AS cum,
      |    sum(cnt) OVER (PARTITION BY lang) AS n
      |  FROM allbk),
      |pick AS (
      |  SELECT lang, q, msb, mant,
      |    row_number() OVER (PARTITION BY lang, q ORDER BY msb, mant) AS rn
      |  FROM cum CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
      |    CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q) qs
      |  WHERE cum >= ceil(q * n))
      |SELECT lang, q,
      |  CAST((mant << GREATEST(msb - 5, 0))
      |     + (((mant + 1) << GREATEST(msb - 5, 0)) - 1) AS DOUBLE) / 2 AS est
      |FROM pick WHERE rn = 1 ORDER BY lang, q""".stripMargin) { (s, dir) =>
    val vals = t(s, dir, "documents")
      .select(col("lang"), length(col("text")).cast("long").as("v"))
    val sk = operators.Sketches.quantileSketch(vals, Seq("lang"), "v")
    val qs = Seq(0.5, 0.9, 0.99)
    val per = operators.Sketches.sketchQuantiles(sk, Seq("lang"), qs)
    val global = operators.Sketches
      .sketchQuantiles(operators.Sketches.mergeQuantileSketch(sk, Nil), Nil, qs)
      .select(lit("__total").as("lang"), col("q"), col("est"))
    per.unionByName(global).orderBy("lang", "q")
  }

  /** Token-mass-weighted exact quantiles ([[operators.Sketches
    * .exactWeightedQuantiles]], round 6 cont.): per language, the doc
    * length at which 50% / 90% of the TOKEN MASS sits — the statistic
    * a mixture/budget decision needs (row-quantiles over-weight short
    * docs). Oracle is the plain weighted order statistic: min v with
    * cumulative weight ≥ ⌈q·W⌉ in (v) order. */
  val weightedQuantileGate: Q = q("weighted_quantile",
    """WITH v AS (
      |  SELECT lang, CAST(n_chars AS BIGINT) AS v,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS wt
      |  FROM documents
      |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
      |p AS (SELECT lang, v, wt FROM v WHERE wt > 0),
      |r AS (SELECT lang, v,
      |    sum(wt) OVER (PARTITION BY lang ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(wt) OVER (PARTITION BY lang) AS w
      |  FROM p)
      |SELECT lang, q, CAST(min(v) AS BIGINT) AS val
      |FROM r CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
      |  CAST(0.9 AS DOUBLE)]) AS q)
      |WHERE cum >= ceil(q * w)
      |GROUP BY 1, 2 ORDER BY lang, q""".stripMargin) { (s, dir) =>
    val vals = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("lang"), col("n_chars").cast("long").as("v"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("wt"))
    operators.Sketches.exactWeightedQuantiles(vals, Seq("lang"), "v", "wt",
      Seq(0.5, 0.9))
      .orderBy("lang", "q")
  }

  /** Hourly exact latency-style quantiles ([[operators.Sketches
    * .exactQuantiles]] composed over a time bucket, round 6 cont.):
    * per-hour exact p50/p95 of the event value in micro units — the
    * SLA report shape (exact percentiles per time bucket, no global
    * sort, no per-group value buffering). Values quantize to micros
    * BEFORE the order statistic, so both engines rank identical
    * integers. */
  val hourlyQuantilesGate: Q = q("hourly_quantiles",
    """WITH v AS (
      |  SELECT epoch_ns(ts) // 3600000000000 AS hour_id,
      |    CAST(round(value * 1000000) AS BIGINT) AS v
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |r AS (SELECT hour_id, v,
      |    row_number() OVER (PARTITION BY hour_id ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY hour_id) AS n
      |  FROM v)
      |SELECT hour_id, q, CAST(min(v) AS BIGINT) AS val
      |FROM r CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
      |  CAST(0.95 AS DOUBLE)]) AS q)
      |WHERE rn >= ceil(q * n)
      |GROUP BY 1, 2 ORDER BY hour_id, q""".stripMargin) { (s, dir) =>
    val vals = t(s, dir, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      // integer DIV: epoch nanos exceed 2^53, a double division here
      // would drift hour boundaries
      .select(expr("CAST(ts DIV 3600000000000 AS BIGINT)").as("hour_id"),
        round(col("value") * lit(1e6)).cast("long").as("v"))
    operators.Sketches.exactQuantiles(vals, Seq("hour_id"), "v",
      Seq(0.5, 0.95))
      .orderBy("hour_id", "q")
  }

  /** Two-pass EXACT order statistics ([[operators.Sketches
    * .exactQuantiles]], round 6 cont.): exact per-language and global
    * p50/p99 of document length without a global sort and without
    * buffering values per group — the sketch locates each rank's
    * bucket, a targeted rescan resolves the exact value. The oracle is
    * the plain order-statistic definition (min v with rank ≥ ⌈q·N⌉),
    * so any convention drift in the two-pass machinery is a hash
    * mismatch. */
  val exactQuantileGate: Q = q("exact_quantile",
    """WITH v AS (
      |  SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
      |  WHERE n_chars IS NOT NULL),
      |g AS (SELECT lang AS grp, v FROM v
      |  UNION ALL SELECT '__total', v FROM v),
      |r AS (SELECT grp, v,
      |    row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY grp) AS n
      |  FROM g)
      |SELECT grp AS lang, q, CAST(min(v) AS BIGINT) AS val
      |FROM r CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
      |  CAST(0.99 AS DOUBLE)]) AS q)
      |WHERE rn >= ceil(q * n)
      |GROUP BY 1, 2 ORDER BY lang, q""".stripMargin) { (s, dir) =>
    val vals = t(s, dir, "documents").filter(col("n_chars").isNotNull)
      .select(col("lang"), col("n_chars").cast("long").as("v"))
    val qs = Seq(0.5, 0.99)
    val per = operators.Sketches.exactQuantiles(vals, Seq("lang"), "v", qs)
    val global = operators.Sketches.exactQuantiles(vals, Nil, "v", qs)
      .select(lit("__total").as("lang"), col("q"), col("val"))
    per.unionByName(global).orderBy("lang", "q")
  }

  /** Sketch-based distribution drift ([[operators.Sketches
    * .sketchKsDistance]], round 6): the two-sample KS statistic between
    * per-language length distributions of two corpus halves, computed
    * entirely from the mergeable quantile sketches — the ingest-time
    * drift monitor (standing sketch vs shard sketch) with the raw
    * corpus never rescanned. Exact integer cross-products; one final
    * division — the oracle replays buckets, cumsums, and the max gap
    * verbatim. */
  val sketchDrift: Q = q("sketch_drift",
    """WITH vals AS (
      |  SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS v
      |  FROM documents WHERE text IS NOT NULL),
      |bk AS (
      |  SELECT lang, doc_id % 2 AS side,
      |    CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS msb,
      |    CASE WHEN v <= 0 THEN 0
      |         ELSE v >> GREATEST(length(bin(v)) - 5, 0) END AS mant,
      |    count(*) AS cnt
      |  FROM vals GROUP BY 1, 2, 3, 4),
      |al AS (
      |  SELECT lang, msb, mant,
      |    COALESCE(sum(CASE WHEN side = 0 THEN cnt END), 0) AS cnt_a,
      |    COALESCE(sum(CASE WHEN side = 1 THEN cnt END), 0) AS cnt_b
      |  FROM bk GROUP BY 1, 2, 3),
      |cums AS (
      |  SELECT lang,
      |    sum(cnt_a) OVER (PARTITION BY lang ORDER BY msb, mant) AS cum_a,
      |    sum(cnt_b) OVER (PARTITION BY lang ORDER BY msb, mant) AS cum_b,
      |    sum(cnt_a) OVER (PARTITION BY lang) AS n_a,
      |    sum(cnt_b) OVER (PARTITION BY lang) AS n_b
      |  FROM al)
      |SELECT lang, CAST(max(n_a) AS BIGINT) AS n_a,
      |  CAST(max(n_b) AS BIGINT) AS n_b,
      |  round(CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
      |    / CAST(max(n_a) * max(n_b) AS DOUBLE), 6) AS ks
      |FROM cums WHERE n_a > 0 AND n_b > 0
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val vals = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        length(col("text")).cast("long").as("v"))
    val a = operators.Sketches.quantileSketch(
      vals.filter(col("doc_id") % 2 === 0), Seq("lang"), "v")
    val b = operators.Sketches.quantileSketch(
      vals.filter(col("doc_id") % 2 === 1), Seq("lang"), "v")
    operators.Sketches.sketchKsDistance(a, b, Seq("lang"))
      .orderBy("lang")
  }

  /** Sketch 1-Wasserstein drift ([[operators.Sketches.sketchW1Distance]],
    * round 6 cont.): the earth-mover magnitude between the same two
    * corpus halves the KS gate compares — exact integer micros over the
    * union bucket support, replayed by a window-cumsum oracle. */
  val sketchW1Gate: Q = q("sketch_w1_drift",
    """WITH vals AS (
      |  SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS v
      |  FROM documents WHERE text IS NOT NULL),
      |bk AS (
      |  SELECT lang, doc_id % 2 AS side,
      |    CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS msb,
      |    CASE WHEN v <= 0 THEN 0
      |         ELSE v >> GREATEST(length(bin(v)) - 5, 0) END AS mant,
      |    count(*) AS cnt
      |  FROM vals GROUP BY 1, 2, 3, 4),
      |al AS (
      |  SELECT lang, msb, mant,
      |    COALESCE(sum(CASE WHEN side = 0 THEN cnt END), 0) AS cnt_a,
      |    COALESCE(sum(CASE WHEN side = 1 THEN cnt END), 0) AS cnt_b
      |  FROM bk GROUP BY 1, 2, 3),
      |cums AS (
      |  SELECT lang,
      |    sum(cnt_a) OVER (PARTITION BY lang ORDER BY msb, mant) AS cum_a,
      |    sum(cnt_b) OVER (PARTITION BY lang ORDER BY msb, mant) AS cum_b,
      |    sum(cnt_a) OVER (PARTITION BY lang) AS n_a,
      |    sum(cnt_b) OVER (PARTITION BY lang) AS n_b
      |  FROM al)
      |SELECT lang, CAST(max(n_a) AS BIGINT) AS n_a,
      |  CAST(max(n_b) AS BIGINT) AS n_b,
      |  CAST(sum(abs(cum_a * n_b - cum_b * n_a)) * 1000000
      |    // (max(n_a) * max(n_b)) AS BIGINT) AS emd_micro
      |FROM cums WHERE n_a > 0 AND n_b > 0
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val vals = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        length(col("text")).cast("long").as("v"))
    val a = operators.Sketches.quantileSketch(
      vals.filter(col("doc_id") % 2 === 0), Seq("lang"), "v")
    val b = operators.Sketches.quantileSketch(
      vals.filter(col("doc_id") % 2 === 1), Seq("lang"), "v")
    operators.Sketches.sketchW1Distance(a, b, Seq("lang"))
      .orderBy("lang")
  }

  /** Sketch-based corpus overlap ([[operators.Sketches.overlapEstimate]],
    * round 6): inclusion–exclusion over standing HLL sketches — the two
    * slices are never joined for the ESTIMATE; the gate also computes
    * the exact overlap (the deterministic output) and asserts the
    * estimate in-plan against it, the approx_distinct convention. */
  val corpusOverlapSketch: Q = q("corpus_overlap_sketch",
    """WITH a AS (SELECT DISTINCT lang, md5(text) AS k FROM documents
      |  WHERE doc_id % 2 = 0 AND text IS NOT NULL),
      |b AS (SELECT DISTINCT lang, md5(text) AS k FROM documents
      |  WHERE doc_id % 3 = 0 AND text IS NOT NULL)
      |SELECT lang, CAST(count(*) AS BIGINT) AS exact_overlap,
      |  TRUE AS within_band
      |FROM a JOIN b USING (lang, k) GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    def slice(m: Int) = docs.filter(col("doc_id") % m === 0)
      .select(col("lang"), md5(col("text")).as("k")).distinct()
    val (a, b) = (slice(2), slice(3))
    val est = operators.Sketches.overlapEstimate(
      operators.Sketches.distinctSketch(a, Seq("lang"), "k"),
      operators.Sketches.distinctSketch(b, Seq("lang"), "k"), Seq("lang"))
    val exact = a.join(b, Seq("lang", "k"))
      .groupBy("lang").agg(count(lit(1)).as("exact_overlap"))
    exact.join(est, Seq("lang"))
      .withColumn("rel_err",
        round(abs(col("est_overlap") - col("exact_overlap")).cast("double") /
          col("est_union"), 6))
      .withColumn("within_band",
        when(assert_true(col("rel_err") <= lit(0.05),
          concat(lit("sketch overlap drifted beyond band: rel_err="),
            col("rel_err"))).isNull,
          col("rel_err") <= lit(0.05)))
      .select("lang", "exact_overlap", "within_band")
      .orderBy("lang")
  }

  /** Count-min frequency rollup ([[operators.Sketches.countMinSketch]],
    * round 6 cont.) — the frequency member of the mergeable-sketch
    * family: per-source token counters in depth×width cells, global
    * top-20 words' counts answered by probing the MERGED sketch (the
    * corpus is never rescanned; standing state is corpus-size-
    * independent, unlike the vocabulary-sized exact table). Cell
    * indices come from the salted cross-engine hash, so every collision
    * replays bit-for-bit in DuckDB and the estimates compare EXACTLY;
    * the deterministic direction (est ≥ exact — counters only add) is
    * additionally asserted in-plan. */
  val cmSketchTopK: Q = q("cm_sketch_topk", {
    val slots = (0 until 3).map(r =>
      operators.Sketches.duckdbCmSlot("w.word", r, 1024))
    val probeSlots = (0 until 3).map(r =>
      operators.Sketches.duckdbCmSlot("p.word", r, 1024))
    s"""WITH w AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |ex AS (
       |  SELECT source, word, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM w GROUP BY 1, 2),
       |top AS (
       |  SELECT word FROM ex GROUP BY word
       |  QUALIFY row_number() OVER (ORDER BY sum(n_exact) DESC, word) <= 20),
       |cells AS (
       |  ${(0 until 3).map(r =>
            s"""SELECT source, $r AS r, ${slots(r)} AS slot,
               |    CAST(count(*) AS BIGINT) AS cnt
               |  FROM w GROUP BY 1, 2, 3""".stripMargin)
            .mkString("\n  UNION ALL\n  ")}),
       |probes AS (
       |  SELECT s.source, p.word, rr.r,
       |    CASE ${(0 until 3).map(r =>
              s"WHEN rr.r = $r THEN ${probeSlots(r)}").mkString(" ")}
       |    END AS slot
       |  FROM (SELECT DISTINCT source FROM documents) s,
       |       (SELECT word FROM top) p, range(3) rr(r))
       |SELECT p.source, p.word,
       |  CAST(COALESCE(any_value(e.n_exact), 0) AS BIGINT) AS n_exact,
       |  CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
       |FROM probes p
       |LEFT JOIN cells c ON c.source = p.source AND c.r = p.r
       |  AND c.slot = p.slot
       |LEFT JOIN ex e ON e.source = p.source AND e.word = p.word
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val words = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val exact = words.groupBy("source", "word")
      .agg(count(lit(1)).as("n_exact"))
    // global top-20 words: vocabulary-sized input, rank-limit idiom
    val top = exact.groupBy("word").agg(sum("n_exact").as("g"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("g").desc, col("word"))))
      .filter(col("rn") <= 20).select("word")
    val sk = operators.Sketches.countMinSketch(words, Seq("source"), "word")
    val items = t(s, dir, "documents").select("source").distinct()
      .crossJoin(broadcast(top))
    operators.Sketches.cmEstimate(sk, items, Seq("source"), "word")
      .join(exact, Seq("source", "word"), "left")
      .na.fill(0L, Seq("n_exact"))
      // in-plan self-check: a count-min counter can only over-count
      .withColumn("est",
        when(assert_true(col("est") >= col("n_exact"),
          concat(lit("count-min under-counted: est="), col("est"),
            lit(" exact="), col("n_exact"))).isNull, col("est")))
      .select("source", "word", "n_exact", "est")
      .orderBy("source", "word")
  }

  /** Join-size estimation from count-min sketches
    * ([[operators.Sketches.cmJoinSizeEstimate]], round 6 cont.):
    * |orders ⋈ lineitem| on orderkey, estimated from standing
    * corpus-size-independent sketch state — the planner's cardinality
    * question answered without executing the join. Every hash slot and
    * therefore every collision cross-term replays in SQL, so the
    * ESTIMATE itself hash-compares; the deterministic est ≥ exact
    * direction is additionally asserted in-plan. */
  val cmJoinSizeGate: Q = q("cm_join_size", {
    def cells(tbl: String, key: String, as: String) =
      (0 until 3).map(r =>
        s"""SELECT $r AS r,
           |    ${operators.Sketches.duckdbCmSlot(key, r, 8192, "js")} AS slot,
           |    CAST(count(*) AS BIGINT) AS $as
           |  FROM $tbl GROUP BY 1, 2""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
    s"""WITH oa AS (
       |  ${cells("orders", "o_orderkey", "ca")}),
       |lb AS (
       |  ${cells("lineitem", "l_orderkey", "cb")}),
       |perrow AS (
       |  SELECT oa.r, sum(CAST(oa.ca AS HUGEINT) * lb.cb) AS est
       |  FROM oa JOIN lb ON oa.r = lb.r AND oa.slot = lb.slot
       |  GROUP BY oa.r),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS exact
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
       |SELECT CAST(min(est) AS BIGINT) AS join_size_est,
       |  CAST(any_value(exact) AS BIGINT) AS exact,
       |  CAST(min(est) * 1000000 // any_value(exact) AS BIGINT)
       |    AS over_micro
       |FROM perrow CROSS JOIN ex""".stripMargin }) { (s, dir) =>
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val ska = operators.Sketches.countMinSketch(
      o, Nil, "o_orderkey", depth = 3, width = 8192, salt = "js")
    val skb = operators.Sketches.countMinSketch(
      l, Nil, "l_orderkey", depth = 3, width = 8192, salt = "js")
    val est = operators.Sketches.cmJoinSizeEstimate(ska, skb)
    val exact = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("exact"))
    est.crossJoin(exact)
      .select(col("join_size_est").cast("long").as("join_size_est"),
        col("exact"),
        // est rides DECIMAL(38,0) through the ×1e6 so the micro ratio
        // cannot overflow BIGINT where the oracle's HUGEINT succeeds
        // (est > ~9.2e12 at large SFs); DIV on decimals is integral
        expr("CAST(CAST(join_size_est AS DECIMAL(38,0)) * 1000000 DIV exact AS BIGINT)")
          .as("over_micro"))
      // in-plan self-check: collision cross-terms can only over-count
      .withColumn("join_size_est",
        when(assert_true(col("join_size_est") >= col("exact"),
          concat(lit("CM join-size under-counted: est="),
            col("join_size_est"), lit(" exact="), col("exact"))).isNull,
          col("join_size_est")))
      .select("join_size_est", "exact", "over_micro")
  }

  /** IVF-PQ ANN ([[operators.Similarity.pqTopK]], round 6): ADC codes
    * score the probed-cell candidates and carry a Cauchy–Schwarz error
    * bound, so only candidates whose bound can still reach the top-k
    * pay the exact cosine — survivors ⊇ the true top-k ALWAYS (the
    * first fixed-shortlist design lost a neighbor at sf1; the bound
    * made the operator exact by construction), so this gate shares
    * `ann_ivf_topk`'s oracle verbatim at any scale (PqSpec pins the
    * equality; PERF.md records the measured pruning power). */
  val annPqTopK: Q = q("ann_pq_topk",
    s"""WITH ${duckIvfCells()},
      |corpus AS (SELECT vec_id AS n_id, v AS v_n, cid AS cell FROM a1 WHERE r = 1),
      |qprobe AS (
      |  SELECT vec_id AS q_id, v AS v_q, cid AS cell
      |  FROM a1 WHERE vec_id < 10 AND r <= 3),
      |cand AS (
      |  SELECT q.q_id, c.n_id,
      |    round(list_cosine_similarity(q.v_q, c.v_n), 6) AS cos
      |  FROM qprobe q JOIN corpus c USING (cell)
      |  WHERE q.q_id <> c.n_id)
      |SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q_id, n_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, n_id) AS BIGINT) AS rnk, cos
      |  FROM cand) t
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    operators.Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 10, k = 5, nProbe = 3,
      m = 8, ksub = 16)
      .orderBy("q_id", "rnk")
  }

  /** Round 10 (VERDICT r9 item 1): ANN served from the PERSISTED index —
    * the corpus ingests into an engine stream, `ensureAnnIndex`
    * materializes the codebooks (`__anncent`) and the encoded corpus
    * (`__annidx`, bucketed on cell) once, and the search runs probe +
    * cell-join only: no Lloyd retrain, no corpus re-assignment in the
    * query plan. Same oracle as `ann_ivf_topk` — hash-match proves the
    * store/load split loses nothing vs the inline retrain-per-call
    * path (floats round-trip parquet bit-exactly; the training recipe
    * is storage-order-independent). */
  private def annIndexedGate(name: String, method: String): Q =
    q(name,
      s"""WITH ${duckIvfCells()},
        |corpus AS (SELECT vec_id AS n_id, v AS v_n, cid AS cell FROM a1 WHERE r = 1),
        |qprobe AS (
        |  SELECT vec_id AS q_id, v AS v_q, cid AS cell
        |  FROM a1 WHERE vec_id < 10 AND r <= 3),
        |cand AS (
        |  SELECT q.q_id, c.n_id,
        |    round(list_cosine_similarity(q.v_q, c.v_n), 6) AS cos
        |  FROM qprobe q JOIN corpus c USING (cell)
        |  WHERE q.q_id <> c.n_id)
        |SELECT q_id, n_id, rnk, cos FROM (
        |  SELECT q_id, n_id,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, n_id) AS BIGINT) AS rnk, cos
        |  FROM cand) t
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
      withAnnEngine(s, dir)(_.annTopKIndexed("emb_idx", "vec_id", "embedding",
          queryPred = col("vec_id") < 10, k = 5, nProbe = 3, method = method))
        .orderBy("q_id", "rnk")
    }

  val annIvfTopKIndexed: Q = annIndexedGate("ann_ivf_topk_indexed", "ivf")
  val annPqTopKIndexed: Q = annIndexedGate("ann_pq_topk_indexed", "pq")

  /** Shared oracle for the PRE-FILTERED index-served search (round 11):
    * the quantizer replays as usual, the corpus joins back to
    * `embeddings` for the metadata column, and the predicate applies to
    * the NEIGHBOR side below the ranking — so each query's top-5 are
    * the best ELIGIBLE rows in its probed cells, the filtered-ANN
    * contract ([[operators.Similarity.ivfTopKFromIndex]] `eligible`). */
  private val annFilteredIndexedOracle: String =
    s"""WITH ${duckIvfCells()},
      |corpus AS (
      |  SELECT a1.vec_id AS n_id, a1.v AS v_n, cid AS cell, e.label
      |  FROM a1 JOIN embeddings e ON a1.vec_id = e.vec_id WHERE r = 1),
      |qprobe AS (
      |  SELECT vec_id AS q_id, v AS v_q, cid AS cell
      |  FROM a1 WHERE vec_id < 10 AND r <= 3),
      |cand AS (
      |  SELECT q.q_id, c.n_id,
      |    round(list_cosine_similarity(q.v_q, c.v_n), 6) AS cos
      |  FROM qprobe q JOIN corpus c USING (cell)
      |  WHERE q.q_id <> c.n_id AND c.label <= 4)
      |SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q_id, n_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, n_id) AS BIGINT) AS rnk, cos
      |  FROM cand) t
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** Pre-filtered vector search served from the PERSISTED index
    * (round 11): "top-k neighbors among rows WHERE label <= 4" with no
    * retrain and no corpus re-encode — the predicate evaluates on the
    * main stream (pushdown scan, one metadata column), projects to an
    * eligible-id set, and semi-joins the stored `__annidx` encoding
    * BEFORE scoring. The pq twin shares the oracle verbatim: the ADC
    * bound-prune sees eligible candidates only, so pq ≡ ivf holds
    * under filtering exactly as it does unfiltered (the post-filter
    * formulation this design rejects breaks that equality — an
    * ineligible near neighbor would set the prune threshold). */
  private def annIndexedFilteredGate(name: String, method: String): Q =
    q(name, annFilteredIndexedOracle) { (s, dir) =>
      withAnnEngine(s, dir, withLabel = true)(
        _.annTopKIndexed("emb_idx", "vec_id", "embedding",
          queryPred = col("vec_id") < 10, k = 5, nProbe = 3, method = method,
          corpusPred = Some(col("label") <= 4)))
        .orderBy("q_id", "rnk")
    }

  val annIvfFilteredIndexed: Q =
    annIndexedFilteredGate("ann_indexed_filtered_topk", "ivf")
  val annPqFilteredIndexed: Q =
    annIndexedFilteredGate("ann_indexed_filtered_pq", "pq")

  /** Forgotten rows stay forgotten ([[engine.Engine.forgetRows]],
    * round 11 — the physical takedown path): build the index, delete
    * every 7th vector via the `forget_rows` SQL TVF, then search. The
    * oracle replays the FULL-corpus quantizer — the codebooks froze
    * BEFORE the forget, so a hash-match simultaneously proves (a) the
    * forgotten ids left the index and the query set, and (b) forget
    * re-pinned the index LIVE rather than forcing a rebuild (a retrain
    * on the survivor corpus would pick different centroids and
    * diverge). */
  val annForgetTopK: Q = q("ann_forget_topk",
    s"""WITH ${duckIvfCells()},
      |corpus AS (SELECT vec_id AS n_id, v AS v_n, cid AS cell
      |  FROM a1 WHERE r = 1 AND vec_id % 7 <> 0),
      |qprobe AS (
      |  SELECT vec_id AS q_id, v AS v_q, cid AS cell
      |  FROM a1 WHERE vec_id < 10 AND vec_id % 7 <> 0 AND r <= 3),
      |cand AS (
      |  SELECT q.q_id, c.n_id,
      |    round(list_cosine_similarity(q.v_q, c.v_n), 6) AS cos
      |  FROM qprobe q JOIN corpus c USING (cell)
      |  WHERE q.q_id <> c.n_id)
      |SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q_id, n_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, n_id) AS BIGINT) AS rnk, cos
      |  FROM cand) t
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    withAnnEngine(s, dir) { e =>
      e.registerViews()
      e.ensureAnnIndex("emb_idx", "vec_id", "embedding")
      val fr = s.sql(
        "SELECT * FROM forget_rows('emb_idx', 'vec_id % 7 = 0')").collect()
      assert(fr.head.getLong(1) > 0, "forget must remove rows")
      e.annTopKIndexed("emb_idx", "vec_id", "embedding",
        queryPred = col("vec_id") < 10, k = 5, nProbe = 3)
    }.orderBy("q_id", "rnk")
  }

  /** Cascading takedown ([[engine.Engine.forgetRowsCascade]], round 11):
    * forget propagates through a TWO-level derived-model chain (doc →
    * per-doc length → length histogram). The oracle recomputes the
    * second-level aggregate from the post-forget corpus, so a hash
    * match proves both derivation levels re-materialized — a takedown
    * is not complete while a downstream aggregate still counts the
    * forgotten rows. */
  val forgetCascade: Q = q("forget_cascade",
    """SELECT CAST(length(text) AS BIGINT) AS len, count(1) AS n
      | FROM documents WHERE doc_id % 10 <> 0
      | GROUP BY 1 ORDER BY len""".stripMargin) { (s, dir) =>
    val tmp = gateRoot("graft-forgetc")
    val e = new engine.Engine(s, tmp)
    try {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      e.createStream("docs", schema.StreamSchema.fromStruct(docs.schema))
      e.appendRows("docs", docs)
      e.createModel("doclen",
        "SELECT doc_id, CAST(CHAR_LENGTH(text) AS BIGINT) AS len FROM docs")
      e.createModel("lenhist",
        "SELECT len, count(1) AS n FROM doclen GROUP BY len")
      e.registerViews()
      val fr = s.sql(
        "SELECT * FROM forget_rows('docs', 'doc_id % 10 = 0', true)")
        .collect()
      require(fr.head.getLong(1) > 0 && fr.head.getLong(2) == 2L,
        s"expected forgotten>0 and exactly 2 models refreshed, got " +
          fr.head)
      e.readStream("lenhist").orderBy("len")
    } finally e.close()
  }

  /** Shared engine-setup for the index-served quantizer-family gates:
    * corpus into a stream, one `ensureAnnIndex`, then `run` against the
    * standing index. */
  private def withAnnEngine(s: SparkSession, dir: String,
                            withLabel: Boolean = false)(
      run: engine.Engine => DataFrame): DataFrame = {
    val e = new engine.Engine(s, gateRoot("graft-annidx-gate"))
    val base = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long", nullable = false)
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    // the filtered-search gates need a metadata column on the MAIN
    // stream (the index siblings store only the encoding) — the
    // predicate evaluates there and semi-joins in as an eligible set
    val st = if (withLabel) base.add("label", "int") else base
    e.createStream("emb_idx", schema.StreamSchema.fromStruct(st))
    val cols = if (withLabel) Seq("vec_id", "embedding", "label")
               else Seq("vec_id", "embedding")
    e.appendRows("emb_idx",
      t(s, dir, "embeddings").select(cols.map(col): _*))
    // close releases the process-global registry/conf bindings only —
    // the returned (lazy) serving plan reads parquet, not the registry
    try run(e) finally e.close()
  }

  /** SemDedup served from the persisted index (round 10): the cell
    * assignment reads from `__annidx`; only the threshold pair stage
    * runs. Shares `semdedup`'s replayed-quantizer oracle — hash-match
    * proves assignment store/load loses nothing. */
  val semDedupIndexedGate: Q = q("semdedup_indexed",
    s"""WITH ${duckIvfCells()},
      |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
      |dups AS (
      |  SELECT DISTINCT b.vec_id AS vec_id
      |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
      |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
      |  (d.vec_id IS NULL) AS kept
      |FROM corpus c LEFT JOIN dups d ON c.vec_id = d.vec_id
      |ORDER BY c.vec_id""".stripMargin) { (s, dir) =>
    withAnnEngine(s, dir)(_.semDedupIndexed("emb_idx", "vec_id", "embedding",
        threshold = 0.4))
      .withColumn("cell", col("cell").cast("long"))
      .orderBy("vec_id")
  }

  /** Mutual-kNN graph served from the persisted index (round 10);
    * shares `knn_graph`'s oracle. */
  val knnGraphIndexedGate: Q = q("knn_graph_indexed",
    s"""WITH ${duckIvfCells()},
       |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
       |directed AS (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM (SELECT a.vec_id AS src, b.vec_id AS dst,
       |          round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |        FROM corpus a JOIN corpus b
       |          ON a.cell = b.cell AND a.vec_id <> b.vec_id) d),
       |knn AS (SELECT src, dst, cos FROM directed WHERE rnk <= 5)
       |SELECT least(src, dst) AS id_a, greatest(src, dst) AS id_b,
       |  max(cos) AS cos
       |FROM knn GROUP BY 1, 2 HAVING count(*) = 2
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    withAnnEngine(s, dir)(_.knnGraphIndexed("emb_idx", "vec_id", "embedding",
        k = 5))
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------------
  // SQL-reachable LLM operators (round 10 — VERDICT r9 item 4): the
  // reference's entire pipeline surface is SQL text, so the dedup /
  // retrieval stages must be expressible IN SQL, not just via the Scala
  // API. These gates run the registered table-valued functions
  // ([[functions.GraftTableFunctions]], injected by GraftExtensions)
  // through plain `spark.sql` over temp views — the exact path a graft
  // model's SQL takes — against the same oracles as their Scala-API
  // twins.
  // ---------------------------------------------------------------------

  private def sqlTvf(name: String, tables: Seq[String], sql: String,
                     oracle: String): Q =
    Q(name, (s, dir) => {
      tables.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql(sql)
    }, Some(oracle))

  val sqlMinhashPairs: Q = sqlTvf("sql_minhash_pairs", Seq("documents"),
    """SELECT id_a, id_b, jaccard
      | FROM minhash_pairs('documents', 'doc_id', 'text', 0.5)
      | ORDER BY id_a, id_b""".stripMargin,
    duckJaccardPairs(n = 2, threshold = 0.5, leftPred = "true"))

  val sqlAnnTopK: Q = sqlTvf("sql_ann_topk", Seq("embeddings"),
    """SELECT q_id, n_id, rnk, cos
      | FROM ann_topk('embeddings', 'vec_id', 'embedding', 'vec_id < 10', 5)
      | ORDER BY q_id, rnk""".stripMargin,
    """SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
      |      c.vec_id) AS BIGINT) AS rnk,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                 CAST(c.embedding AS DOUBLE[])), 6) AS cos
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10) t
      | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)

  /** The PERSISTED-index ANN search from plain SQL (round 10): the
    * engine binds itself to the session in `registerViews`, and the
    * `ann_indexed_topk` TVF resolves through it — so a model's SQL can
    * express the SCALE retrieval path (standing `__annidx`, no per-call
    * retrain), not just the inline operators. Shares `ann_ivf_topk`'s
    * replayed-quantizer oracle. */
  val sqlAnnIndexedTopK: Q = q("sql_ann_indexed_topk",
    s"""WITH ${duckIvfCells()},
      |corpus AS (SELECT vec_id AS n_id, v AS v_n, cid AS cell FROM a1 WHERE r = 1),
      |qprobe AS (
      |  SELECT vec_id AS q_id, v AS v_q, cid AS cell
      |  FROM a1 WHERE vec_id < 10 AND r <= 3),
      |cand AS (
      |  SELECT q.q_id, c.n_id,
      |    round(list_cosine_similarity(q.v_q, c.v_n), 6) AS cos
      |  FROM qprobe q JOIN corpus c USING (cell)
      |  WHERE q.q_id <> c.n_id)
      |SELECT q_id, n_id, rnk, cos FROM (
      |  SELECT q_id, n_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, n_id) AS BIGINT) AS rnk, cos
      |  FROM cand) t
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    withAnnEngine(s, dir) { e =>
      e.registerViews() // binds this engine as the session's TVF target
      // round 11: the serving TVF is PURE (no implicit build — ADVICE
      // r10 item 2), so the SQL surface builds the index explicitly
      // first; the rebuild's effect runs at EXECUTION (collect), which
      // this also exercises end to end
      val status = s.sql(
        """SELECT * FROM ann_index_rebuild('emb_idx', 'vec_id',
          |  'embedding')""".stripMargin).collect()
      assert(status.head.getBoolean(1), "first rebuild must build")
      s.sql(
        """SELECT q_id, n_id, rnk, cos
          |FROM ann_indexed_topk('emb_idx', 'vec_id', 'embedding',
          |  'vec_id < 10', 5, 3)
          |ORDER BY q_id, rnk""".stripMargin)
    }
  }

  /** The filtered-search SQL surface (round 11): the 8th
    * `ann_indexed_topk` argument is a corpus predicate evaluated on the
    * MAIN stream — "top-k among rows WHERE label <= 4" in one SQL call
    * against the standing index. Shares the filtered gates' oracle. */
  val sqlAnnFilteredTopK: Q = q("sql_ann_filtered_topk",
    annFilteredIndexedOracle) { (s, dir) =>
    withAnnEngine(s, dir, withLabel = true) { e =>
      e.registerViews()
      val status = s.sql(
        """SELECT * FROM ann_index_rebuild('emb_idx', 'vec_id',
          |  'embedding')""".stripMargin).collect()
      assert(status.head.getBoolean(1), "first rebuild must build")
      s.sql(
        """SELECT q_id, n_id, rnk, cos
          |FROM ann_indexed_topk('emb_idx', 'vec_id', 'embedding',
          |  'vec_id < 10', 5, 3, 'ivf', 'label <= 4')
          |ORDER BY q_id, rnk""".stripMargin)
    }
  }

  val sqlSemDedup: Q = sqlTvf("sql_semdedup", Seq("embeddings"),
    """SELECT vec_id, CAST(cell AS BIGINT) AS cell, kept
      | FROM semdedup('embeddings', 'vec_id', 'embedding', 0.4)
      | ORDER BY vec_id""".stripMargin,
    s"""WITH ${duckIvfCells()},
      |corpus AS (SELECT vec_id, v, cid AS cell FROM a1 WHERE r = 1),
      |dups AS (
      |  SELECT DISTINCT b.vec_id AS vec_id
      |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
      |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
      |  (d.vec_id IS NULL) AS kept
      |FROM corpus c LEFT JOIN dups d ON c.vec_id = d.vec_id
      |ORDER BY c.vec_id""".stripMargin)

  /** The recall measurement from plain SQL (round 11, with
    * `ann_recall_truncated`): the two neighbor frames register as temp
    * views and the `ann_recall` TVF joins them — so a model's SQL can
    * gate a retrieval index on measured quality (e.g. a test that
    * fails when recall drops below a floor). Same truncated-vs-full
    * measurement and oracle as `ann_recall_truncated`. */
  val sqlAnnRecall: Q = q("sql_ann_recall",
    truncatedRecallOracle) { (s, dir) =>
    GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    operators.Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", queryPred = col("vec_id") < 20, k = 5)
      .createOrReplaceTempView("recall_exact")
    operators.Similarity.bruteForceTopK(
      emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16")),
      "vec_id", "emb16", queryPred = col("vec_id") < 20, k = 5)
      .createOrReplaceTempView("recall_approx")
    s.sql(
      """SELECT q_id, n_hit, n_true, recall
        |FROM ann_recall('recall_approx', 'recall_exact', 5)
        |ORDER BY q_id""".stripMargin)
  }

  /** Parameterized-knob TVF (round 11 — VERDICT r10 item 4: round 10's
    * minhash_pairs hardcoded shingleN/numHashes/bands): the knobs drive
    * from SQL — 3-shingles under 64 bands × r=2 banding (P(miss |
    * J≥0.5) ≈ 1e-8, so sketch == exact here as in `dedup_minhash_lsh`)
    * — against the exact 3-gram Jaccard oracle. */
  val sqlMinhashPairsKnobs: Q = sqlTvf("sql_minhash_pairs_knobs",
    Seq("documents"),
    """SELECT id_a, id_b, jaccard
      | FROM minhash_pairs('documents', 'doc_id', 'text', 0.5, 3, 128, 64)
      | ORDER BY id_a, id_b""".stripMargin,
    duckJaccardPairs(n = 3, threshold = 0.5, leftPred = "true"))

  /** Benchmark decontamination from SQL (round 11 — VERDICT r10 item 4):
    * the `decontaminate` TVF reads TWO tables (corpus + benchmark), so
    * this also exercises multi-table dependency extraction through the
    * TVF layer. Same split and oracle as the Scala-API gate. */
  val sqlDecontaminate: Q = q("sql_decontaminate", {
    val sh = duckShingles(4)
    s"""WITH sh AS (
       |  SELECT doc_id, unnest($sh) AS g FROM documents
       |  WHERE len(string_split(text, ' ')) >= 4),
       |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
       |bad AS (
       |  SELECT DISTINCT doc_id FROM sh JOIN bench USING (g)
       |  WHERE doc_id % 50 <> 0)
       |SELECT d.doc_id, d.lang FROM documents d
       |WHERE d.doc_id % 50 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY d.doc_id""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    docs.filter(col("doc_id") % 50 =!= 0)
      .createOrReplaceTempView("decon_corpus")
    docs.filter(col("doc_id") % 50 === 0)
      .createOrReplaceTempView("decon_bench")
    s.sql(
      """SELECT doc_id, lang
        |FROM decontaminate('decon_corpus', 'doc_id', 'text',
        |  'decon_bench', 'text', 4)
        |ORDER BY doc_id""".stripMargin)
  }

  /** DSIR importance weighting from SQL (round 11): the data-SELECTION
    * stage joins the TVF family — a model's SQL can score every doc
    * against a target subset (here `source = 'src0'`) without touching
    * the Scala API. Same oracle as the Scala-API `dsir_weights` gate. */
  val sqlDsirWeights: Q = sqlTvf("sql_dsir_weights", Seq("documents"),
    """SELECT doc_id, n_tokens, avg_logratio
      | FROM dsir_weights('documents', 'doc_id', 'text', 'source = ''src0''')
      | ORDER BY doc_id""".stripMargin,
    """WITH words AS (
      |  SELECT doc_id, (source = 'src0') AS tgt,
      |         unnest(string_split(text, ' ')) AS word FROM documents),
      |dtf AS (SELECT doc_id, tgt, word, count(*) AS tf
      |        FROM words GROUP BY doc_id, tgt, word),
      |vocab AS (
      |  SELECT word, sum(tf) AS raw_cnt,
      |         sum(CASE WHEN tgt THEN tf ELSE 0 END) AS tgt_cnt
      |  FROM dtf GROUP BY word),
      |totals AS (
      |  SELECT CAST(sum(raw_cnt) AS DOUBLE) AS raw_total,
      |         CAST(sum(tgt_cnt) AS DOUBLE) AS tgt_total,
      |         CAST(count(*) AS DOUBLE) AS v FROM vocab),
      |scored AS (
      |  SELECT word, CAST(round(
      |      (ln(CAST(tgt_cnt + 1 AS DOUBLE) / (tgt_total + v))
      |     - ln(CAST(raw_cnt + 1 AS DOUBLE) / (raw_total + v)))
      |      * 1000000) AS BIGINT) AS lr
      |  FROM vocab CROSS JOIN totals)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  CAST(sum(lr * tf) AS DOUBLE) / (sum(tf) * 1000000) AS avg_logratio
      |FROM dtf JOIN scored USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Deterministic multi-epoch training shuffle
    * ([[operators.Sampling.epochShuffle]], round 6): every doc gets an
    * (epoch, shard, pos) address per epoch — independent permutations
    * from the salted (epoch, id) hash, no RNG state, no global sort. */
  val epochShuffleGate: Q = q("epoch_shuffle", {
    val h = operators.CrossHash.duckdbHash56(
      "'ep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH k AS (
       |  SELECT doc_id, epoch, ($h) AS key
       |  FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch))
       |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, key % 8 AS shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, key % 8
       |    ORDER BY key, doc_id) AS BIGINT) AS pos
       |FROM k ORDER BY epoch, shard, pos""".stripMargin }) { (s, dir) =>
    operators.Sampling.epochShuffle(t(s, dir, "documents").select("doc_id"),
      "doc_id", epochs = 2, nShards = 8, salt = "ep")
      .select("epoch", "doc_id", "shard", "pos")
      .orderBy("epoch", "shard", "pos")
  }

  /** Rendezvous sharding ([[operators.Sampling.rendezvousShard]], round
    * 6 cont.): every doc_id placed under 8 shards AND under 9, emitted
    * as the (s8, s9) movement grid — the minimal-movement law (a moved
    * key may only move INTO the new shard 8) is asserted in-plan, and
    * the weights replay bit-identically in DuckDB (row_number over
    * `h DESC, s DESC` ≡ array_max over (h, s) structs). */
  val rendezvousShardGate: Q = q("rendezvous_shard", {
    val h = operators.CrossHash.duckdbHash56(
      "'hrw:' || CAST(ss.s AS VARCHAR) || ':' || CAST(k.doc_id AS VARCHAR)")
    def pick(n: Int, as: String) =
      s"""(SELECT doc_id, CAST(s AS BIGINT) AS $as FROM (
         |  SELECT k.doc_id, ss.s, ($h) AS h
         |  FROM (SELECT doc_id FROM documents) k, range($n) ss(s))
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY h DESC, s DESC) = 1)""".stripMargin
    s"""SELECT s8, s9, CAST(count(*) AS BIGINT) AS n_keys
       |FROM ${pick(8, "s8")} h8 JOIN ${pick(9, "s9")} h9 USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }) { (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"))
      .withColumn("s8",
        operators.Sampling.rendezvousShard(col("doc_id"), 8))
      .withColumn("s9",
        operators.Sampling.rendezvousShard(col("doc_id"), 9))
      // minimal movement, in-plan: on 8 -> 9 a key never moves between
      // two OLD shards — if it moves at all, it moves to shard 8
      .withColumn("s9",
        when(assert_true(col("s9") === col("s8") || col("s9") === 8L,
          concat(lit("HRW moved a key between old shards: s8="),
            col("s8"), lit(" s9="), col("s9"))).isNull, col("s9")))
      .groupBy("s8", "s9").agg(count(lit(1)).as("n_keys"))
      .orderBy("s8", "s9")
  }

  /** The shared DuckDB CTE chain replaying [[operators.Vocab.bpeTrain]]:
    * w0 = the word-frequency table in padded double-space symbol form;
    * stage i counts adjacent symbol pairs over w(i-1), picks the
    * (count desc, pair) argmax into b_i, and applies it into w_i with
    * the same boundary-preserving replace the Scala side uses. */
  private def duckBpeStages(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """w0 AS (
      |  SELECT word, '  ' || regexp_replace(word, '(.)', """.stripMargin
    sb ++= "'\\1  ', 'g') AS w, freq FROM (\n"
    sb ++= """    SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |    WHERE word <> '' GROUP BY word))""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
        |p$i AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(len(sy) - 1),
        |      j -> sy[j + 1] || ' ' || sy[j + 2])) AS pair, freq
        |    FROM (SELECT list_filter(string_split(w, '  '), x -> x <> '') AS sy,
        |            freq FROM w${i - 1}))
        |  GROUP BY pair),
        |b$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
        |w$i AS (
        |  SELECT word, CASE WHEN pair IS NULL THEN w ELSE replace(w,
        |    ' ' || string_split(pair, ' ')[1] || '  ' || string_split(pair, ' ')[2] || ' ',
        |    ' ' || replace(pair, ' ', '') || ' ') END AS w, freq
        |  FROM w${i - 1} LEFT JOIN b$i ON TRUE)""".stripMargin
    }
    sb.toString
  }

  /** Iterative BPE merge training ([[operators.Vocab.bpeTrain]], round 6):
    * 6 true merge rounds (recount → argmax → rewrite), not one round's
    * candidates — the oracle replays every round as a chained CTE. */
  val bpeTrainGate: Q = q("bpe_train", {
    val finalSel = (1 to 6).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, string_split(pair, ' ')[1] AS left_sym,
         |  string_split(pair, ' ')[2] AS right_sym, cnt FROM b$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"WITH ${duckBpeStages(6)}\n$finalSel\nORDER BY rank" }) { (s, dir) =>
    val merges = operators.Vocab.bpeTrain(t(s, dir, "documents"), k = 6)
    s.createDataFrame(merges.map(m => (m._1.toLong, m._2, m._3, m._4)))
      .toDF("rank", "left_sym", "right_sym", "cnt")
      .orderBy("rank")
  }

  /** BPE corpus encode ([[operators.Vocab.bpeEncode]], round 6): the
    * trained merges apply to the DISTINCT-WORD table (vocabulary-scale
    * compute) which broadcasts back onto the corpus — per doc, word and
    * BPE-symbol counts. Wrong merges or a boundary-eating replace chain
    * would shift n_symbols, so the oracle pins train AND apply. */
  val bpeEncodeGate: Q = q("bpe_encode",
    s"""WITH ${duckBpeStages(6)},
      |enc AS (
      |  SELECT word, CAST(len(list_filter(string_split(w, '  '),
      |    x -> x <> '')) AS BIGINT) AS n_sym FROM w6),
      |docw AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(n_sym) AS BIGINT) AS n_symbols
      |FROM (SELECT doc_id, word FROM docw WHERE word <> '') d
      |JOIN enc USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val merges = operators.Vocab.bpeTrain(docs, k = 6)
    operators.Vocab.bpeEncode(docs, "doc_id", "text",
      merges.map(m => (m._2, m._3)))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language ([[operators.Vocab.bpeFertility]],
    * round 6 cont.): tokens-per-word under the 6 trained merges, rolled
    * up by language in exact integer micro units. The oracle replays
    * train + encode + rollup end to end, so a drift in any stage (or a
    * float sneaking into the ratio) is a hash mismatch. */
  val bpeFertilityGate: Q = q("bpe_fertility",
    s"""WITH ${duckBpeStages(6)},
      |enc AS (
      |  SELECT word, CAST(len(list_filter(string_split(w, '  '),
      |    x -> x <> '')) AS BIGINT) AS n_sym FROM w6),
      |docw AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |perdoc AS (
      |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(n_sym) AS BIGINT) AS n_symbols
      |  FROM (SELECT doc_id, lang, word FROM docw WHERE word <> '') d
      |  JOIN enc USING (word)
      |  GROUP BY doc_id, lang)
      |SELECT lang, CAST(sum(n_words) AS BIGINT) AS n_words,
      |  CAST(sum(n_symbols) AS BIGINT) AS n_symbols,
      |  CAST(sum(n_symbols) * 1000000 // sum(n_words) AS BIGINT)
      |    AS fert_micro
      |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val merges = operators.Vocab.bpeTrain(docs, k = 6)
    operators.Vocab.bpeFertility(docs, "doc_id", "text", "lang",
      merges.map(m => (m._2, m._3)))
      .orderBy("lang")
  }

  /** Length-bucketed batching ([[operators.Ranks.lengthBucketBatches]],
    * round 6 cont.): documents cut into (bucket, batch) cells of 32 by
    * in-bucket length order, with the padded-tensor waste of every
    * batch in exact micros. The oracle orders with a plain per-bucket
    * row_number window — the grouped bucketed rank must match it
    * row-for-row through the batch cut. */
  val lengthBatchGate: Q = q("length_batches",
    """WITH d AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
      |    CASE WHEN n_chars <= 200 THEN 0
      |         WHEN n_chars <= 400 THEN 1
      |         WHEN n_chars <= 800 THEN 2 ELSE 3 END AS bucket
      |  FROM documents WHERE n_chars IS NOT NULL),
      |r AS (
      |  SELECT bucket, len,
      |    row_number() OVER (PARTITION BY bucket ORDER BY len, doc_id)
      |      AS rn
      |  FROM d)
      |SELECT CAST(bucket AS INTEGER) AS bucket,
      |  CAST((rn - 1) // 32 AS BIGINT) AS batch,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(max(len) AS BIGINT) AS max_len,
      |  CAST(sum(len) AS BIGINT) AS sum_len,
      |  CASE WHEN max(len) > 0 THEN
      |    CAST((max(len) * count(*) - sum(len)) * 1000000
      |      // (max(len) * count(*)) AS BIGINT) ELSE 0 END AS waste_micro
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    operators.Ranks.lengthBucketBatches(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", edges = Seq(200L, 400L, 800L), batchSize = 32)
      .orderBy("bucket", "batch")
  }

  /** Exact 2-D skyline ([[operators.Ranks.skyline2D]], round 6 cont.):
    * the Pareto frontier of lineitem on (price, quantity), computed by
    * the bucketed running-max decomposition. The oracle replays the
    * classical global-sort formulation with a plain window, so the
    * bucket carry-in logic must reproduce its keep set exactly. */
  val skylineGate: Q = q("skyline_pareto",
    """WITH p AS (
      |  SELECT l_extendedprice AS x, max(l_quantity) AS ymax
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |  GROUP BY 1),
      |r AS (SELECT x, ymax, max(ymax) OVER (ORDER BY x DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
      |  FROM p),
      |k AS (SELECT x, ymax FROM r WHERE prior IS NULL OR ymax > prior)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, l.l_quantity
      |FROM lineitem l
      |JOIN k ON l.l_extendedprice = k.x AND l.l_quantity = k.ymax
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    operators.Ranks.skyline2D(
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
        "l_extendedprice", "l_quantity"),
      "l_extendedprice", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Blocklist scan ([[operators.TextAnalysis.blocklistHits]], round 6
    * cont.): per-pattern document hit counts from the fused
    * Aho–Corasick kernel — one text pass for the whole pattern list,
    * including a phrase, a mid-word substring, and an absent term. The
    * oracle runs P independent contains() scans; the automaton must
    * reproduce every count. */
  val blocklistGate: Q = q("blocklist_scan", {
    val pats = Seq("table", "table value", "art", "scan slow", "zzz_absent")
    pats.zipWithIndex.map { case (p, i) =>
      s"""SELECT $i AS pid, '$p' AS pattern,
         |  CAST((SELECT count(*) FROM documents
         |    WHERE text IS NOT NULL AND contains(text, '$p')) AS BIGINT)
         |    AS n_docs""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY pid" }) { (s, dir) =>
    import s.implicits._
    val pats = Seq("table", "table value", "art", "scan slow", "zzz_absent")
    val counts = operators.TextAnalysis.blocklistHits(
      t(s, dir, "documents"), "doc_id", "text", pats)
      .select(explode(col("hits")).as("pid"))
      .groupBy("pid").agg(count(lit(1)).as("n_docs"))
    pats.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pid", "pattern")
      .join(counts, Seq("pid"), "left")
      .select(col("pid"), col("pattern"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("pid")
  }

  /** Blocklist severity ([[operators.TextAnalysis.blocklistCounts]],
    * round 6 cont.): per-pattern OCCURRENCE totals (all occurrences,
    * overlapping included — "a a" in "a a a" counts twice) plus hit-doc
    * counts, from one automaton pass per document. The oracle counts
    * occurrences by a positional substring scan, the exact
    * all-occurrences semantics. */
  val blocklistSeverityGate: Q = q("blocklist_severity", {
    val pats = Seq("table", "a a", "value", "zz_absent")
    pats.zipWithIndex.map { case (p, i) =>
      val L = p.length
      s"""SELECT $i AS pid, '$p' AS pattern,
         |  CAST((SELECT COALESCE(sum(len(list_filter(
         |      range(1, len(text) - $L + 2),
         |      j -> substring(text, j, $L) = '$p'))), 0)
         |    FROM documents WHERE text IS NOT NULL) AS BIGINT)
         |    AS n_occurrences,
         |  CAST((SELECT count(*) FROM documents
         |    WHERE text IS NOT NULL AND contains(text, '$p')) AS BIGINT)
         |    AS n_docs""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY pid" }) { (s, dir) =>
    import s.implicits._
    val pats = Seq("table", "a a", "value", "zz_absent")
    val counts = operators.TextAnalysis.blocklistCounts(
      t(s, dir, "documents"), "doc_id", "text", pats)
      .select(posexplode(col("counts")).as(Seq("pid", "c")))
      .groupBy("pid")
      .agg(sum("c").as("n_occurrences"),
        sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_docs"))
    pats.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pid", "pattern")
      .join(counts, Seq("pid"), "left")
      .select(col("pid"), col("pattern"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("pid")
  }

  /** Per-source bigram conditional entropy
    * ([[operators.Metrics.entropyRate]], round 6 cont.): corpus
    * predictability in exact integer micro-nats (low = templated text).
    * Same determinism recipe as the logppl gates: per-cell ln rounds to
    * micros before the exact integer sum. */
  val entropyRateGate: Q = q("entropy_rate",
    """WITH w AS (
      |  SELECT source, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |p AS (
      |  SELECT source, w[i] AS w1, w[i + 1] AS w2
      |  FROM (SELECT source, w, unnest(range(1, len(w))) AS i FROM w
      |        WHERE len(w) >= 2)
      |  WHERE w[i] <> '' AND w[i + 1] <> ''),
      |c AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM p GROUP BY 1, 2, 3),
      |cx AS (SELECT source, w1, sum(c12) AS c1 FROM c GROUP BY 1, 2),
      |t AS (
      |  SELECT c.source, c12,
      |    CAST(round(ln(CAST(c12 AS DOUBLE) / c1) * 1000000) AS BIGINT)
      |      AS lp
      |  FROM c JOIN cx USING (source, w1))
      |SELECT source, CAST(sum(c12) AS BIGINT) AS n_bigrams,
      |  CAST((-sum(CAST(c12 AS HUGEINT) * lp)) // sum(c12) AS BIGINT)
      |    AS entropy_micro
      |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    operators.Metrics.entropyRate(t(s, dir, "documents"), "source")
      .orderBy("source")
  }

  /** Association audit ([[operators.Metrics.associationAudit]], round 6
    * cont.): the G-test and mutual information between lang and source
    * on the contingency table, accumulated in integer micro-nats (each
    * cell's single transcendental rounds to micros BEFORE the sum, the
    * logppl recipe). */
  val assocGTestGate: Q = q("assoc_gtest",
    """WITH cells AS (
      |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
      |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      |  GROUP BY 1, 2),
      |ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
      |cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
      |n AS (SELECT sum(o) AS n FROM cells),
      |t AS (
      |  SELECT o, CAST(round(ln(CAST(o AS DOUBLE) * n.n
      |    / (CAST(ra.ra AS DOUBLE) * cb.cb)) * 1000000) AS BIGINT) AS lp
      |  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN n),
      |s AS (SELECT sum(CAST(o AS HUGEINT) * lp) AS s FROM t)
      |SELECT CAST(n.n AS BIGINT) AS n,
      |  CAST(2 * s.s AS BIGINT) AS g_micro,
      |  CAST(s.s // n.n AS BIGINT) AS mi_micro
      |FROM n CROSS JOIN s""".stripMargin) { (s, dir) =>
    operators.Metrics.associationAudit(t(s, dir, "documents"),
      "lang", "source")
  }

  /** Referential-integrity audit ([[operators.Metrics.refIntegrity]],
    * round 6 cont.): orphan and null-key rates for three FK relations —
    * two clean TPC-H ones and one deliberately broken (parent filtered
    * to a third of its keys) proving the counter counts. Anti-join on
    * distinct parent keys; rates in floor-division micros. */
  val refIntegrityGate: Q = q("ref_integrity", {
    def one(rel: String, child: String, ck: String, parent: String,
            pk: String, pPred: String) =
      s"""SELECT '$rel' AS relation,
         |  CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_rows,
         |  CAST((SELECT count(*) FROM $child WHERE $ck IS NULL) AS BIGINT)
         |    AS n_null_keys,
         |  CAST((SELECT count(*) FROM $child c WHERE c.$ck IS NOT NULL
         |    AND NOT EXISTS (SELECT 1 FROM $parent p
         |      WHERE p.$pk = c.$ck AND ($pPred))) AS BIGINT) AS n_orphans""".stripMargin
    val rels = Seq(
      one("lineitem->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey", "true"),
      one("orders->customer", "orders", "o_custkey",
        "customer", "c_custkey", "true"),
      one("lineitem->orders_third", "lineitem", "l_orderkey",
        "orders", "o_orderkey", "o_orderkey % 3 = 0"))
      .mkString("\nUNION ALL\n")
    s"""SELECT relation, n_rows, n_null_keys, n_orphans,
       |  CASE WHEN n_rows - n_null_keys > 0
       |    THEN CAST(n_orphans * 1000000 // (n_rows - n_null_keys) AS BIGINT)
       |    ELSE 0 END AS orphan_micro
       |FROM ($rels) ORDER BY relation""".stripMargin }) { (s, dir) =>
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    operators.Metrics.refIntegrity(li, "l_orderkey", o, "o_orderkey",
        "lineitem->orders")
      .unionByName(operators.Metrics.refIntegrity(o, "o_custkey",
        c, "c_custkey", "orders->customer"))
      .unionByName(operators.Metrics.refIntegrity(li, "l_orderkey",
        o.filter(col("o_orderkey") % 3 === 0), "o_orderkey",
        "lineitem->orders_third"))
      .orderBy("relation")
  }

  /** Key-skew profile ([[operators.Ranks.skewProfile]], round 6 cont.):
    * the pre-shuffle salting diagnostic over lineitem's orderkey —
    * key count, hottest-key/mean ratio, and exact Gini, all integer
    * micros. The oracle ranks with a plain row_number window; the
    * bucketed two-pass rank must reproduce the identical Gini sum. */
  val skewProfileGate: Q = q("skew_profile",
    """WITH c AS (
      |  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS r FROM c),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cnt) AS BIGINT) AS tot, CAST(max(cnt) AS BIGINT) AS mx
      |  FROM r),
      |g AS (SELECT sum((2 * CAST(r AS HUGEINT)
      |    - (SELECT n FROM n) - 1) * cnt) AS gnum FROM r)
      |SELECT n.n AS n_keys, n.tot AS total_rows, n.mx AS max_cnt,
      |  CAST(CAST(n.mx AS HUGEINT) * n.n * 1000000 // n.tot AS BIGINT)
      |    AS maxmean_micro,
      |  CAST(g.gnum * 1000000 // (CAST(n.n AS HUGEINT) * n.tot) AS BIGINT)
      |    AS gini_micro
      |FROM n CROSS JOIN g""".stripMargin) { (s, dir) =>
    operators.Ranks.skewProfile(t(s, dir, "lineitem"), "l_orderkey")
  }

  /** Shard novelty curve ([[operators.Vocab.shardNovelty]], round 6
    * cont.): per ingest-order shard, the fraction of its distinct
    * 3-grams unseen in earlier shards — exact floor-division micros,
    * replayed by a first-shard min + gram equi-join oracle. */
  val shardNoveltyGate: Q = q("shard_novelty",
    s"""WITH g AS (
      |  SELECT DISTINCT doc_id % 8 AS shard, unnest(${duckShingles(3)})
      |    AS gram
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (SELECT gram, min(shard) AS first_shard FROM g GROUP BY 1)
      |SELECT g.shard, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN f.first_shard = g.shard THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN f.first_shard = g.shard THEN 1 ELSE 0 END)
      |    * 1000000 // count(*) AS BIGINT) AS novelty_micro
      |FROM g JOIN f USING (gram)
      |GROUP BY g.shard ORDER BY g.shard""".stripMargin) { (s, dir) =>
    operators.Vocab.shardNovelty(t(s, dir, "documents"))
      .orderBy("shard")
  }

  /** Heaps' law fit ([[operators.Vocab.heapsFit]], round 6 cont.): the
    * vocabulary-growth exponent over 8 ingest prefixes, log-log least
    * squares in the integer-micro recipe. */
  val heapsFitGate: Q = q("heaps_fit",
    """WITH w AS (
      |  SELECT doc_id % 8 AS s, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |ww AS (SELECT s, w FROM w WHERE w <> ''),
      |nt AS (SELECT s, count(*) AS new_types FROM (
      |  SELECT w, min(s) AS s FROM (SELECT DISTINCT s, w FROM ww)
      |  GROUP BY w) GROUP BY s),
      |tk AS (SELECT s, count(*) AS n_tok FROM ww GROUP BY s),
      |c AS (
      |  SELECT sum(COALESCE(new_types, 0)) OVER (ORDER BY s) AS v,
      |    sum(n_tok) OVER (ORDER BY tk.s) AS ntk
      |  FROM tk LEFT JOIN nt USING (s)),
      |xy AS (SELECT
      |  CAST(round(ln(CAST(ntk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
      |  CAST(round(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT) AS y
      |  FROM c),
      |sm AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(sum(x * y) AS BIGINT) AS sxy,
      |  CAST(sum(x * x) AS BIGINT) AS sxx FROM xy)
      |SELECT n AS n_points,
      |  CAST(round(CASE WHEN n >= 2 THEN
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) END * 1e6)
      |    AS BIGINT) AS beta_micro,
      |  CAST(round((CAST(sy AS DOUBLE)
      |      - CASE WHEN n >= 2 THEN
      |        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) END
      |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT)
      |    AS intercept_micro
      |FROM sm""".stripMargin) { (s, dir) =>
    operators.Vocab.heapsFit(t(s, dir, "documents"))
  }

  /** Vocabulary coverage curve ([[operators.Vocab.vocabCoverage]],
    * round 6 cont.): token mass covered by the top-V types for three
    * vocabulary sizes, in exact floor-division micros. The oracle ranks
    * with a plain `row_number() OVER (ORDER BY cnt DESC, word)`, so the
    * bucketed two-pass rank must equal the single window row-for-row. */
  val vocabCoverageGate: Q = q("vocab_coverage",
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
      |  FROM documents WHERE text IS NOT NULL),
      |t AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w
      |  WHERE word <> '' GROUP BY word),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk
      |  FROM t),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM r)
      |SELECT CAST(v AS BIGINT) AS v,
      |  CAST(COALESCE(sum(CASE WHEN rnk <= v THEN cnt END), 0) AS BIGINT)
      |    AS covered_tokens,
      |  CAST(any_value(total) AS BIGINT) AS total_tokens,
      |  CAST(COALESCE(sum(CASE WHEN rnk <= v THEN cnt END), 0) * 1000000
      |    // any_value(total) AS BIGINT) AS coverage_micro
      |FROM r CROSS JOIN tot
      |CROSS JOIN (SELECT unnest([100, 1000, 10000]) AS v)
      |GROUP BY v ORDER BY v""".stripMargin) { (s, dir) =>
    operators.Vocab.vocabCoverage(t(s, dir, "documents"))
      .orderBy("v")
  }

  /** Gopher-style repetition signals: duplicate-word fraction (array ops,
    * zero shuffle) and top-bigram share (two doc-keyed hash aggregates). */
  val repetitionSignals: Q = q("repetition_signals",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |    ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
      |      AS dup_word_frac
      |  FROM w),
      |big AS (
      |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w)),
      |cnt AS (
      |  SELECT doc_id, MAX(c) AS top_bigram FROM (
      |    SELECT doc_id, bigram, count(*) AS c FROM big GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT b.doc_id, b.n_words, b.dup_word_frac,
      |  ROUND(CAST(COALESCE(cnt.top_bigram, 0) AS DOUBLE)
      |    / GREATEST(b.n_words - 1, 1), 6) AS top_bigram_share
      |FROM base b LEFT JOIN cnt ON b.doc_id = cnt.doc_id
      |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.repetitionSignals(t(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: docs sharing any distinct 4-gram with the
    * "benchmark" subset (doc_id % 50 = 0) are removed from the corpus
    * (the GPT-3-style n-gram overlap rule). Spark joins on xxhash64 of
    * the gram, the oracle on the gram itself — equal sets modulo 64-bit
    * collisions (~1e-11 here). */
  val decontaminate: Q = q("decontaminate", {
    val sh = duckShingles(4)
    s"""WITH sh AS (
       |  SELECT doc_id, unnest($sh) AS g FROM documents
       |  WHERE len(string_split(text, ' ')) >= 4),
       |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
       |bad AS (
       |  SELECT DISTINCT doc_id FROM sh JOIN bench USING (g)
       |  WHERE doc_id % 50 <> 0)
       |SELECT d.doc_id, d.lang FROM documents d
       |WHERE d.doc_id % 50 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY d.doc_id""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    operators.Decontaminate.decontaminate(
      corpus, "doc_id", "text", bench, "text", n = 4)
      .select("doc_id", "lang").orderBy("doc_id")
  }

  /** Domain-weighted mixture sampling: per-lang keep rates as a plan-time
    * literal map over the same salted hash bucket as `sample_split`. */
  val mixtureSample: Q = q("mixture_sample", {
    val b = operators.Sampling.duckdbHashBucket("doc_id", "mx", 10000)
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, $b AS bucket FROM documents)
       |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 9000
       |                         ELSE 7000 END
       |ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    operators.Sampling.mixtureSample(
      t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
      rates = Seq("en" -> 0.5, "de" -> 0.9), defaultRate = 0.7, salt = "mx")
      .orderBy("doc_id")
  }

  /** Token-budget shard packing: 4 parallel packing domains, 2000-token
    * cuts, deterministic content-keyed ordering — the oracle reproduces
    * the window cumsum exactly (integer arithmetic only). */
  val packShards: Q = q("pack_shards", {
    val grp = operators.Sampling.duckdbHashBucket("doc_id", "pk", 4)
    val ord = operators.Sampling.duckdbHashBucket("doc_id", "pk:ord", 1 << 30)
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    $grp AS pack_group, $ord AS ord FROM documents),
       |c AS (
       |  SELECT doc_id, pack_group,
       |    CAST(sum(n_tok) OVER (PARTITION BY pack_group ORDER BY ord, doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok
       |         AS BIGINT) AS start_offset
       |  FROM d)
       |SELECT doc_id, pack_group, start_offset,
       |  CAST(floor(start_offset / 2000) AS BIGINT) AS shard
       |FROM c ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    operators.Sampling.packShards(docs, "doc_id", "n_tok",
      budget = 2000L, groups = 4, salt = "pk")
      .select(col("doc_id"), col("pack_group").cast("long").as("pack_group"),
        col("start_offset"), col("shard"))
      .orderBy("doc_id")
  }

  /** TPC-H Q10 shape (returned-item revenue by customer, one quarter):
    * fact-fact join on orderkey + two broadcast dims, top-20. */
  val tpchQ10: Q = sqlBoth("tpch_q10",
    Seq("customer", "orders", "lineitem", "nation"),
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name
      | FROM customer, orders, lineitem, nation
      | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |   AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |   AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      | GROUP BY c_custkey, c_name, c_acctbal, n_name
      | ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  /** Exact interpolated quantiles of doc length per language (Spark
    * `percentile` == DuckDB `quantile_cont`, both linear interpolation;
    * round-6 absorbs last-ulp differences). */
  val lengthQuantiles: Q = q("length_quantiles",
    """SELECT lang,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(quantile_cont(n_chars, 0.25), 6) AS p25,
      |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
      |  round(quantile_cont(n_chars, 0.9), 6) AS p90
      | FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").groupBy("lang").agg(
      count(lit(1)).cast("long").as("n"),
      round(expr("percentile(n_chars, 0.25)"), 6).as("p25"),
      round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
      round(expr("percentile(n_chars, 0.9)"), 6).as("p90"))
      .orderBy("lang")
  }

  /** Top-5 terms per language by document frequency — the explode →
    * two-level aggregate → windowed top-k shape of corpus vocabulary
    * analysis (shuffle keys: (lang, word), then lang). */
  val topTerms: Q = q("top_terms",
    """WITH w AS (
      |  SELECT DISTINCT lang, doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |cnt AS (
      |  SELECT lang, word, CAST(count(*) AS BIGINT) AS df FROM w GROUP BY 1, 2),
      |rnk AS (
      |  SELECT lang, word, df,
      |    row_number() OVER (PARTITION BY lang ORDER BY df DESC, word) AS rn
      |  FROM cnt)
      |SELECT lang, word, df, CAST(rn AS BIGINT) AS rn FROM rnk
      |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("lang").orderBy(col("df").desc, col("word"))
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
      .groupBy("lang", "word").agg(count(lit(1)).cast("long").as("df"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy("lang", "rn")
  }

  /** Dataset "data card": per (source, lang) corpus statistics — one
    * tiny-cardinality hash aggregate, fully map-side-combined. */
  val datasetCard: Q = q("dataset_card",
    """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  CAST(min(n_tok) AS BIGINT) AS min_tokens,
      |  CAST(max(n_tok) AS BIGINT) AS max_tokens,
      |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS avg_tokens,
      |  round(CAST(sum(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS short_doc_frac
      |FROM (SELECT source, lang,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |      FROM documents)
      |GROUP BY source, lang ORDER BY source, lang""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.datasetCard(t(s, dir, "documents"))
      .orderBy("source", "lang")
  }

  /** Duplicate canonicalization: LSH pairs → connected components →
    * keep the highest-priority source per cluster (src0 > src1 > … ties
    * by doc_id). Oracle closes the exact pair graph with a recursive CTE
    * and replays the same window rank. */
  val dedupCanonical: Q = q("dedup_canonical", {
    val pairsSql = duckJaccardPairs(n = 2, threshold = 0.5, leftPred = "true")
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |clu AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |rnk AS (
       |  SELECT d.doc_id, d.source, CAST(clu.cluster_id AS BIGINT) AS cluster_id,
       |    row_number() OVER (PARTITION BY clu.cluster_id
       |      ORDER BY CASE d.source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1
       |               ELSE 2 END, d.doc_id) AS rn
       |  FROM documents d JOIN clu USING (doc_id))
       |SELECT doc_id, source, cluster_id FROM rnk WHERE rn = 1
       |ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = operators.Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
    val clusters = operators.Dedup.duplicateClusters(
      docs.select(col("doc_id").cast("long").as("doc_id")), pairs,
      idCol = "doc_id")
    operators.Dedup.canonicalBySource(
      docs.select("doc_id", "source"), clusters, "doc_id", "source",
      priority = Seq("src0", "src1"))
      .select(col("doc_id"), col("source"),
        col("cluster_id").cast("long").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** N-way content overlap ([[operators.Dedup.contentOverlapUpset]],
    * round 6 cont.): the UpSet inclusion table over four sources —
    * counts of exact content classes per source-subset bitmask. */
  val upsetOverlapGate: Q = q("source_overlap_upset", {
    val srcs = Seq("src0", "src1", "src2", "src3")
    val bitCase = srcs.zipWithIndex
      .map { case (s, i) => s"WHEN source = '$s' THEN ${1L << i}" }
      .mkString("CASE ", " ", " END")
    val nameExpr = srcs.zipWithIndex.map { case (s, i) =>
      s"CASE WHEN (mask & ${1L << i}) <> 0 THEN ['$s'] ELSE [] END"
    }.mkString(" || ")
    s"""WITH h AS (
       |  SELECT md5(text) AS h, $bitCase AS b
       |  FROM documents
       |  WHERE text IS NOT NULL AND source IN ('src0','src1','src2','src3')),
       |m AS (SELECT h, bit_or(b) AS mask FROM h GROUP BY h),
       |c AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_contents
       |  FROM m GROUP BY mask)
       |SELECT CAST(mask AS BIGINT) AS mask,
       |  array_to_string($nameExpr, '+') AS subset, n_contents
       |FROM c ORDER BY mask""".stripMargin }) { (s, dir) =>
    operators.Dedup.contentOverlapUpset(t(s, dir, "documents"),
      "source", "text", Seq("src0", "src1", "src2", "src3"))
      .orderBy("mask")
  }

  /** Dedup attribution matrix ([[operators.Dedup.attributionMatrix]],
    * round 6 cont.): the cross-source flow of dropped documents under
    * the same LSH clusters + source-priority canonical rule as
    * `dedup_canonical` — who lost how many docs to whom. The oracle
    * replays clusters (recursive reach), the keeper window, and the
    * flow count end to end. */
  val dedupAttribution: Q = q("dedup_attribution", {
    val pairsSql = duckJaccardPairs(n = 2, threshold = 0.5, leftPred = "true")
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |clu AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |rnk AS (
       |  SELECT d.doc_id, d.source, clu.cluster_id,
       |    row_number() OVER (PARTITION BY clu.cluster_id
       |      ORDER BY CASE d.source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1
       |               ELSE 2 END, d.doc_id) AS rn
       |  FROM documents d JOIN clu USING (doc_id)),
       |keep AS (SELECT cluster_id, doc_id AS keep_id, source AS source_kept
       |  FROM rnk WHERE rn = 1)
       |SELECT k.source_kept, m.source AS source_dropped,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM rnk m JOIN keep k USING (cluster_id)
       |WHERE m.doc_id <> k.keep_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = operators.Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
    val clusters = operators.Dedup.duplicateClusters(
      docs.select(col("doc_id").cast("long").as("doc_id")), pairs,
      idCol = "doc_id")
    operators.Dedup.attributionMatrix(
      docs.select("doc_id", "source"), clusters, "doc_id", "source",
      priority = Seq("src0", "src1"))
      .orderBy("source_kept", "source_dropped")
  }

  /** Real WAV decode, differentially tested like the PNG gates: Spark
    * synthesizes genuine RIFF/PCM16 bytes per doc, decodes them, and
    * computes integer audio features; DuckDB evaluates the sample
    * generator's closed form. */
  val audioDecode: Q = q("audio_decode",
    """WITH d AS (
      |  SELECT doc_id, 400 + doc_id % 256 AS n FROM documents),
      |v AS (
      |  SELECT doc_id, n, i, (doc_id * 7 + i * 13) % 65536 - 32768 AS s
      |  FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM d)),
      |w AS (
      |  SELECT *, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM v)
      |SELECT doc_id, CAST(16000 AS BIGINT) AS sample_rate,
      |  CAST(max(n) AS BIGINT) AS n_samples,
      |  CAST(sum(s * s) AS BIGINT) AS energy,
      |  CAST(sum(CASE WHEN i > 0 AND (s < 0) <> (prev < 0) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS zero_crossings,
      |  CAST(sum(CASE WHEN i < 160 THEN s * s ELSE 0 END) AS BIGINT)
      |    AS frame0_energy
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeAudioFeatures(
      operators.Multimodal.asWavTable(t(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** TPC-H Q1, full aggregate set, in EXACT INTEGER CENTS: quantities,
    * prices, discounts, and taxes are 2-dp money, so every product and
    * sum is integer arithmetic summed in DECIMAL(38,0) (128-bit exact in
    * both engines) with ONE double conversion at the end — averages as
    * exact-sum / count divisions. One shuffle with map-side partial
    * aggregation. The earlier DECIMAL(18,2)-product formulation went red
    * at the sf1 differential: the 3-factor product's precision exceeds
    * 38, and Spark's and DuckDB's overflow-rescale rounding diverge in
    * the last ulp once group sums reach 5e10. */
  val tpchQ1: Q = sqlBoth("tpch_q1", Seq("lineitem"),
    """WITH c AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
      |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
      |    CAST(round(l_tax * 100) AS BIGINT) AS tax_c
      |  FROM lineitem
      |  WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00')
      |SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(qty_c AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sum_qty,
      |  CAST(SUM(CAST(price_c AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sum_base_price,
      |  CAST(SUM(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))) AS DOUBLE)
      |    / 10000 AS sum_disc_price,
      |  CAST(SUM(CAST(price_c * (100 - disc_c) * (100 + tax_c)
      |    AS DECIMAL(38,0))) AS DOUBLE) / 1000000 AS sum_charge,
      |  round(CAST(SUM(CAST(qty_c AS DECIMAL(38,0))) AS DOUBLE) / 100
      |    / count(*), 6) AS avg_qty,
      |  round(CAST(SUM(CAST(price_c AS DECIMAL(38,0))) AS DOUBLE) / 100
      |    / count(*), 6) AS avg_price,
      |  round(CAST(SUM(CAST(disc_c AS DECIMAL(38,0))) AS DOUBLE) / 100
      |    / count(*), 6) AS avg_disc,
      |  count(*) AS count_order
      | FROM c
      | GROUP BY l_returnflag, l_linestatus
      | ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** TPC-H Q6 (forecasting revenue change): the pure filter-aggregate —
    * every predicate must push to the scan, no shuffle but the final
    * 1-row combine. */
  val tpchQ6: Q = sqlBoth("tpch_q6", Seq("lineitem"),
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |  * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      | FROM lineitem
      | WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |   AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |   AND l_discount BETWEEN 0.05 AND 0.07
      |   AND l_quantity < 24""".stripMargin)

  /** TPC-H Q13 (customer order-count distribution): left join preserving
    * order-less customers → two-level aggregate histogram. */
  val tpchQ13: Q = sqlBoth("tpch_q13", Seq("customer", "orders"),
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) c_orders
      | GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  /** TPC-H Q22 shape (global sales opportunity; adapted — the testdata's
    * customer has no phone cntrycode and every customer has SOME order,
    * so the anti-join keys on recent orders): above-average-balance
    * customers lapsed since 2001, per nation. Scalar subquery threshold
    * + anti join with a pushed-down date predicate. */
  val tpchQ22: Q = sqlBoth("tpch_q22_shape", Seq("customer", "orders"),
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      | FROM customer
      | WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                   AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      | GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  /** TPC-H Q12 shape (priority shipping audit; adapted — the testdata has
    * no l_shipmode, so lines group by l_linestatus): orders⋈lineitem with
    * a pushed-down shipdate range, conditional counts by order priority. */
  val tpchQ12: Q = sqlBoth("tpch_q12_shape", Seq("orders", "lineitem"),
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      | FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      | WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |   AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      | GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)

  /** TPC-H Q19 shape (discounted revenue over disjunctive brand/size/
    * quantity clauses; adapted — no p_container in the testdata). The
    * planner-interesting part survives: each disjunct spans both join
    * sides, so only the per-side OR-envelope can push below the join. */
  val tpchQ19: Q = sqlBoth("tpch_q19_shape", Seq("lineitem", "part"),
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |  * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      | FROM lineitem JOIN part ON p_partkey = l_partkey
      | WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity BETWEEN 1 AND 21)
      |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
      |        AND l_quantity BETWEEN 10 AND 30)
      |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 45
      |        AND l_quantity BETWEEN 20 AND 40)""".stripMargin)

  /** TPC-H Q18 shape (large-quantity orders): per-order aggregate →
    * semi-join back to the fact, customer broadcast. */
  val tpchQ18: Q = sqlBoth("tpch_q18", Seq("customer", "orders", "lineitem"),
    """SELECT c_custkey, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      | FROM customer, orders, lineitem
      | WHERE o_orderkey IN (
      |     SELECT l_orderkey FROM lineitem
      |     GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 180)
      |   AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      | GROUP BY c_custkey, o_orderkey, o_totalprice
      | ORDER BY total DESC, o_orderkey LIMIT 100""".stripMargin)

  // ---------------------------------------------------------------------
  // Remaining TPC-H shapes (round 4) — the eleven queries not yet gated,
  // adapted to the testdata star schema (no partsupp table, no
  // l_shipmode/commitdate/receiptdate; substitutions documented per
  // query). Together with q1/q3/q5/q6/q10/q12/q13/q14/q18/q19/q22 this
  // completes all 22 TPC-H planner shapes.
  // ---------------------------------------------------------------------

  /** TPC-H Q2 shape (minimum-cost supplier; adapted — no partsupp, so
    * "supplied the part" comes from lineitem and the cost being minimized
    * is s_acctbal): correlated scalar MIN subquery re-joining four tables
    * against the outer part, the classic decorrelate-to-aggregate-join
    * planner test. DISTINCT collapses the lineitem fan-out. */
  val tpchQ2: Q = sqlBoth("tpch_q2_shape",
    Seq("part", "supplier", "lineitem", "nation", "region"),
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
      | FROM part, supplier, lineitem, nation, region
      | WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |   AND p_size = 15 AND p_type = 'SMALL'
      |   AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |   AND r_name = 'EUROPE'
      |   AND s_acctbal = (SELECT min(s2.s_acctbal)
      |                    FROM supplier s2, lineitem l2, nation n2, region r2
      |                    WHERE p_partkey = l2.l_partkey
      |                      AND s2.s_suppkey = l2.l_suppkey
      |                      AND s2.s_nationkey = n2.n_nationkey
      |                      AND n2.n_regionkey = r2.r_regionkey
      |                      AND r2.r_name = 'EUROPE')
      | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)

  /** TPC-H Q4 (order-priority checking; adapted — no commit/receipt
    * dates, so the "late line" marker is l_returnflag = 'R'): EXISTS
    * decorrelated to a left-semi join on the order key, priority
    * histogram on top. */
  val tpchQ4: Q = sqlBoth("tpch_q4_shape", Seq("orders", "lineitem"),
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      | FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      |   AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      |   AND EXISTS (SELECT 1 FROM lineitem
      |               WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** TPC-H Q7 (volume shipping between two nations): the double-aliased
    * nation dimension (supplier side vs customer side) with a disjunctive
    * cross-pair predicate — only the OR-envelope can push below the
    * joins — and a year extraction feeding the group. */
  val tpchQ7: Q = sqlBoth("tpch_q7_shape",
    Seq("supplier", "lineitem", "orders", "customer", "nation"),
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(volume) AS DOUBLE) AS revenue
      | FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |         CAST(l_extendedprice AS DECIMAL(18,2))
      |           * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume
      |       FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |       WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |         AND c_custkey = o_custkey
      |         AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      |         AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |         AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                            AND TIMESTAMP '1997-12-31 00:00:00') shipping
      | GROUP BY supp_nation, cust_nation, l_year
      | ORDER BY supp_nation, cust_nation, l_year""".stripMargin)

  /** TPC-H Q8 (national market share): eight-table join, the share ratio
    * as a conditional-sum / sum division — both sums DECIMAL-exact so the
    * quotient is deterministic across engines. */
  val tpchQ8: Q = sqlBoth("tpch_q8_shape",
    Seq("part", "supplier", "lineitem", "orders", "customer", "nation", "region"),
    """SELECT o_year,
      |  round(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
      |                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |        / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
      | FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
      |         CAST(l_extendedprice AS DECIMAL(18,2))
      |           * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
      |         n2.n_name AS nation
      |       FROM part, supplier, lineitem, orders, customer,
      |            nation n1, nation n2, region
      |       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |         AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |         AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |         AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
      |         AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                             AND TIMESTAMP '1997-12-31 00:00:00'
      |         AND p_type = 'STANDARD') all_nations
      | GROUP BY o_year ORDER BY o_year""".stripMargin)

  /** TPC-H Q9 (product-type profit; adapted — no ps_supplycost, so cost
    * is modeled as 10% of p_retailprice per unit): profit expression
    * spanning three tables, LIKE-filtered part, nation×year rollup. All
    * arithmetic DECIMAL-exact. */
  val tpchQ9: Q = sqlBoth("tpch_q9_shape",
    Seq("part", "supplier", "lineitem", "orders", "nation"),
    """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      | FROM (SELECT n_name AS nation,
      |         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
      |         CAST(l_extendedprice AS DECIMAL(18,2))
      |           * CAST(1 - l_discount AS DECIMAL(18,2))
      |         - CAST(p_retailprice AS DECIMAL(18,2))
      |           * CAST(l_quantity AS DECIMAL(18,2))
      |           * CAST(0.1 AS DECIMAL(2,1)) AS amount
      |       FROM part, supplier, lineitem, orders, nation
      |       WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |         AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |         AND p_name LIKE '%gear%') profit
      | GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin)

  /** TPC-H Q11 (important stock; adapted — no partsupp, so per-part value
    * is the extended-price volume shipped by the nation's suppliers):
    * the HAVING-against-global-fraction shape — a scalar subquery over
    * the same join re-used as the filter threshold. The fraction is
    * 2× the average per-part value (not TPC-H's fixed 0.0001), so the
    * selectivity is scale-invariant: part count grows with SF, and a
    * fixed fraction of the total empties the result at larger scales. */
  val tpchQ11: Q = sqlBoth("tpch_q11_shape",
    Seq("lineitem", "supplier", "nation"),
    """SELECT l_partkey, value FROM (
      |   SELECT l_partkey,
      |     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      |   FROM lineitem, supplier, nation
      |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |     AND n_name = 'NATION_7'
      |   GROUP BY l_partkey) t
      | WHERE value > (SELECT 2.0 *
      |     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |       / count(DISTINCT l_partkey)
      |   FROM lineitem, supplier, nation
      |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |     AND n_name = 'NATION_7')
      | ORDER BY value DESC, l_partkey""".stripMargin)

  /** TPC-H Q15 (top supplier): a CTE consumed twice — once as the join
    * input and once under max() — exercising plan re-use vs re-execution;
    * revenue equality is deterministic because both sides come off the
    * same DECIMAL-exact aggregate. */
  val tpchQ15: Q = sqlBoth("tpch_q15_shape", Seq("lineitem", "supplier"),
    """WITH revenue AS (
      |   SELECT l_suppkey AS supplier_no,
      |     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |       * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |   FROM lineitem
      |   WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |     AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      |   GROUP BY l_suppkey)
      | SELECT s_suppkey, s_name, total_revenue
      | FROM supplier, revenue
      | WHERE s_suppkey = supplier_no
      |   AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      | ORDER BY s_suppkey""".stripMargin)

  /** TPC-H Q16 (supplier relationship; adapted — "complaint" suppliers
    * are those in arrears, s_acctbal < 0): NOT IN anti-join against a
    * non-nullable key set plus count(DISTINCT) over the surviving
    * fan-out. */
  val tpchQ16: Q = sqlBoth("tpch_q16_shape",
    Seq("lineitem", "part", "supplier"),
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      | FROM lineitem, part
      | WHERE p_partkey = l_partkey
      |   AND p_brand <> 'Brand#5' AND p_type NOT LIKE 'MEDIUM%'
      |   AND p_size IN (1, 4, 7, 10, 15, 23, 30, 45)
      |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                         WHERE s_acctbal < 0)
      | GROUP BY p_brand, p_type, p_size
      | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)

  /** TPC-H Q17 (small-quantity-order revenue): correlated scalar AVG per
    * part key under the outer filter. Quantities are integral doubles, so
    * the 0.2×avg threshold is bit-identical across engines. */
  val tpchQ17: Q = sqlBoth("tpch_q17_shape", Seq("lineitem", "part"),
    """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |   / 7.0, 6) AS avg_yearly
      | FROM lineitem, part
      | WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
      |   AND p_type = 'MEDIUM'
      |   AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |                     WHERE l2.l_partkey = p_partkey)""".stripMargin)

  /** TPC-H Q20 shape (part promotion; adapted — no ps_availqty, so the
    * inner threshold is an absolute moved-quantity floor): IN-subquery
    * nested inside an IN-subquery with a grouped HAVING between them.
    * The nation filter is relaxed to a join (returning n_name) to keep
    * the result set non-trivial at sf0.01. */
  val tpchQ20: Q = sqlBoth("tpch_q20_shape",
    Seq("supplier", "nation", "lineitem", "part"),
    """SELECT s_name, n_name, s_acctbal
      | FROM supplier, nation
      | WHERE s_suppkey IN (
      |     SELECT l_suppkey FROM lineitem
      |     WHERE l_partkey IN (SELECT p_partkey FROM part
      |                         WHERE p_name LIKE 'red%')
      |       AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |       AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |     GROUP BY l_suppkey, l_partkey
      |     HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
      |   AND s_nationkey = n_nationkey
      | ORDER BY s_name""".stripMargin)

  /** TPC-H Q21 (suppliers who kept orders waiting; adapted — the "late"
    * marker is l_returnflag = 'R'): the EXISTS + NOT EXISTS pair over
    * sibling lineitems of the same order — two correlated semi/anti
    * joins against the fact table itself. */
  val tpchQ21: Q = sqlBoth("tpch_q21_shape",
    Seq("supplier", "lineitem", "orders", "nation"),
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      | FROM supplier, lineitem l1, orders, nation
      | WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |   AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |   AND EXISTS (SELECT 1 FROM lineitem l2
      |               WHERE l2.l_orderkey = l1.l_orderkey
      |                 AND l2.l_suppkey <> l1.l_suppkey)
      |   AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                   WHERE l3.l_orderkey = l1.l_orderkey
      |                     AND l3.l_suppkey <> l1.l_suppkey
      |                     AND l3.l_returnflag = 'R')
      |   AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
      | GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)

  /** Skew-salted two-phase aggregation: partial on (key, salt), final on
    * key — results must equal the plain GROUP BY (sums ride DECIMAL, so
    * the two-phase combine is order-insensitive). */
  val skewSaltedAgg: Q = q("skew_salted_agg",
    """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total
      | FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    operators.SkewJoin.saltedCountSum(
      t(s, dir, "lineitem").withColumn("q",
        col("l_quantity").cast("decimal(18,2)")),
      key = "l_suppkey", valueCol = "q", spreadCol = "l_orderkey")
      .select(col("l_suppkey"), col("n"), col("total").cast("double"))
      .orderBy("l_suppkey")
  }

  /** Skew-salted fact⋈dim join (hot keys spread over 16 reducers, dim
    * replicated per salt) — must equal the plain join + aggregate. */
  val skewSaltedJoin: Q = q("skew_salted_join",
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      | FROM orders JOIN customer ON o_custkey = c_custkey
      | GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    val fact = t(s, dir, "orders")
      .select(col("o_custkey").as("custkey"),
        col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("p"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    operators.SkewJoin.salted(fact, dim, key = "custkey",
      spreadCol = "o_orderkey", saltFactor = 16)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("p")).cast("double").as("total"))
      .orderBy("c_nationkey")
  }

  /** Overlapping token-window chunking (64-token windows, stride 16):
    * the RAG/pretraining segmentation step, oracle-checked byte-for-byte
    * including window text and last-chunk token counts. */
  val chunkWindows: Q = q("chunk_windows",
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, w, n,
      |    unnest(range((greatest(n - 64, 0) + 15) // 16 + 1)) AS i
      |  FROM w)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
      |  array_to_string(w[i * 16 + 1 : i * 16 + 64], ' ') AS chunk_text,
      |  CAST(least(n - i * 16, 64) AS BIGINT) AS n_tokens
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.chunk(t(s, dir, "documents"),
      chunkTokens = 64, stride = 16)
      .orderBy("doc_id", "chunk_no")
  }

  /** Real JPEG decode (the JDK's own javax.imageio codec): lossy, so the
    * oracle checks exact header dimensions; pixel-drift bounds live in
    * MultimodalSpec. */
  val jpegDecode: Q = q("jpeg_decode",
    """SELECT doc_id, CAST(16 + doc_id % 32 AS BIGINT) AS width,
      |  CAST(16 + (doc_id * 3) % 32 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeJpeg(
      operators.Multimodal.asJpegTable(t(s, dir, "documents")))
      .select("doc_id", "width", "height")
      .orderBy("doc_id")
  }

  /** Real AVI container demux + frame sampling, differentially tested:
    * Spark builds a genuine RIFF/AVI (uncompressed DIB frames) per doc,
    * demuxes it, samples 4 evenly spaced frames, and sums each frame's
    * pixels; DuckDB replays the generator + sampling arithmetic. */
  val videoFrames: Q = q("video_frames",
    """WITH d AS (
      |  SELECT doc_id, 3 + doc_id % 5 AS nf FROM documents),
      |s AS (
      |  SELECT doc_id, nf, i AS sample_no, (i * nf) // LEAST(4, nf) AS frame_no
      |  FROM (SELECT doc_id, nf, unnest(range(LEAST(4, nf))) AS i FROM d)),
      |px AS (
      |  SELECT doc_id, nf, sample_no, frame_no,
      |    (doc_id * 11 + frame_no * 17 + j * 5) % 256 AS p
      |  FROM (SELECT *, unnest(range(192)) AS j FROM s))
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(sample_no AS BIGINT) AS sample_no,
      |  CAST(frame_no AS BIGINT) AS frame_no,
      |  CAST(sum(p) AS BIGINT) AS frame_sum
      |FROM px GROUP BY doc_id, nf, sample_no, frame_no
      |ORDER BY doc_id, sample_no""".stripMargin) { (s, dir) =>
    operators.Multimodal.sampleVideoFrames(
      operators.Multimodal.asAviTable(t(s, dir, "documents")), n = 4)
      .orderBy("doc_id", "sample_no")
  }

  /** Real PNG decode, differentially tested: Spark synthesizes a genuine
    * PNG per doc (filter type cycling over all five), decodes it with the
    * pure-JDK codec, and sums pixels per channel; DuckDB computes the
    * same sums from the pixel generator's closed form. Any bug in
    * encode→deflate→inflate→unfilter breaks the hash. */
  val multimodalDecode: Q = q("multimodal_decode",
    """WITH d AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 3) % 32 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(w * h)) AS k FROM d)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum((doc_id * 31 + (3 * k + 0) * 7) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((doc_id * 31 + (3 * k + 1) * 7) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((doc_id * 31 + (3 * k + 2) * 7) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeChannelSums(
      operators.Multimodal.asPngTable(t(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** Real image resize: decode → nearest-neighbor 16×16 → re-encode →
    * decode again; the oracle replays the source-index arithmetic in
    * SQL. Two full PNG round trips per doc on the Spark side. */
  val multimodalResize: Q = q("multimodal_resize",
    """WITH d AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 3) % 32 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(256)) AS t FROM d),
      |src AS (
      |  SELECT doc_id,
      |    ((t // 16) * h // 16) * w + ((t % 16) * w // 16) AS k
      |  FROM px)
      |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
      |  CAST(sum((doc_id * 31 + (3 * k + 0) * 7) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((doc_id * 31 + (3 * k + 1) * 7) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((doc_id * 31 + (3 * k + 2) * 7) % 256) AS BIGINT) AS sum_b
      |FROM src GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeChannelSums(
      operators.Multimodal.resizePng(
        operators.Multimodal.asPngTable(t(s, dir, "documents")), 16, 16))
      .orderBy("doc_id")
  }

  /** REAL generic resize (the container-sniffing [[operators.Multimodal.resize]]):
    * decode → integer-exact AREA resample (box average, floor division —
    * every step integer, so the oracle replays it in closed form) →
    * re-encode → decode again. Complements `multimodal_resize`'s
    * nearest-neighbor path with the anti-aliasing filter a production
    * image pipeline actually wants for downscaling. */
  val multimodalAreaResize: Q = q("multimodal_area_resize",
    """WITH d AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 3) % 32 AS h
      |  FROM documents),
      |b AS (SELECT doc_id, w, h, w // 8 AS bw, h // 8 AS bh FROM d),
      |tp AS (SELECT doc_id, w, bw, bh, unnest(range(64)) AS t FROM b),
      |chn AS (SELECT doc_id, w, bw, bh, t, unnest(range(3)) AS c FROM tp),
      |u AS (SELECT doc_id, w, bw, bh, t, c, unnest(range(bw * bh)) AS u FROM chn),
      |px AS (
      |  SELECT doc_id, t, c,
      |    SUM((doc_id * 31
      |      + (3 * (((t // 8) * bh + u // bw) * w + (t % 8) * bw + u % bw) + c) * 7)
      |      % 256) // (bw * bh) AS v
      |  FROM u GROUP BY doc_id, t, c, bw, bh)
      |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
      |  CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
      |  CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
      |  CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeChannelSums(
      operators.Multimodal.resize(
        operators.Multimodal.asPngTable(t(s, dir, "documents")), 8, 8))
      .orderBy("doc_id")
  }

  /** The full curation pipeline as ONE lazy plan — decontaminate →
    * MinHash-LSH near-dup clusters → canonical doc per cluster by source
    * priority → 64/16 token-window chunks → doc-level train/val/test
    * split (chunks inherit their document's split: no leakage). The
    * oracle replays every stage in SQL (recursive CTE for the closure).
    * Sketch == exact by the same corpus-margin argument as
    * `dedup_minhash_lsh`. */
  val pipelineCurationV2: Q = q("pipeline_curation_v2", {
    val b = operators.Sampling.duckdbHashBucket("c.doc_id", "cv2", 10000)
    s"""WITH RECURSIVE dsh AS (
       |  SELECT doc_id, unnest(${duckShingles(4)}) AS g FROM documents
       |  WHERE len(string_split(text, ' ')) >= 4),
       |bench AS (SELECT DISTINCT g FROM dsh WHERE doc_id % 50 = 0),
       |bad AS (
       |  SELECT DISTINCT doc_id FROM dsh JOIN bench USING (g)
       |  WHERE doc_id % 50 <> 0),
       |corpus AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)),
       |sh AS (
       |  SELECT doc_id, ${duckShingles(2)} AS s FROM corpus
       |  WHERE len(string_split(text, ' ')) >= 2),
       |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
       |    FROM shg a JOIN shg b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2)
       |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |clu AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |canon AS (
       |  SELECT doc_id FROM (
       |    SELECT c.doc_id,
       |      row_number() OVER (PARTITION BY clu.cluster_id
       |        ORDER BY CASE c.source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1
       |                 ELSE 2 END, c.doc_id) AS rn
       |    FROM corpus c JOIN clu USING (doc_id)) WHERE rn = 1),
       |w AS (
       |  SELECT c.doc_id, string_split(c.text, ' ') AS w,
       |    len(string_split(c.text, ' ')) AS n,
       |    CASE WHEN $b < 8000 THEN 'train'
       |         WHEN $b < 9000 THEN 'val' ELSE 'test' END AS split
       |  FROM corpus c JOIN canon USING (doc_id))
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
       |  array_to_string(w[i * 16 + 1 : i * 16 + 64], ' ') AS chunk_text,
       |  CAST(least(n - i * 16, 64) AS BIGINT) AS n_tokens, split
       |FROM (SELECT doc_id, w, n, split,
       |        unnest(range((greatest(n - 64, 0) + 15) // 16 + 1)) AS i
       |      FROM w)
       |ORDER BY doc_id, chunk_no""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val corpus0 = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    // the decontaminated frame feeds three stages (signature pipeline,
    // cluster ids, canonical join) — persist it once
    val clean = operators.Decontaminate.decontaminate(
      corpus0, "doc_id", "text", bench, "text", n = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = operators.Dedup.minhashLsh(clean, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
    val clusters = operators.Dedup.duplicateClusters(
      clean.select(col("doc_id").cast("long").as("doc_id")), pairs, "doc_id")
    val canon = operators.Dedup.canonicalBySource(
      clean, clusters, "doc_id", "source", priority = Seq("src0", "src1"))
    val chunks = operators.TextAnalysis.chunk(canon,
      chunkTokens = 64, stride = 16)
    operators.Sampling.hashSplit(chunks, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "cv2")
      .select("doc_id", "chunk_no", "chunk_text", "n_tokens", "split")
      .orderBy("doc_id", "chunk_no")
  }

  /** One BPE merge round's candidate statistics: adjacent char-pair counts
    * over all word occurrences (Sennrich et al. 2016 `get_stats`), top 25
    * by (count desc, pair) — the tokenizer-training half of the corpus
    * pipeline. Explode → combinable count → TakeOrdered. */
  val bpeMerges: Q = q("bpe_merges",
    """WITH wrds AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |pairs AS (
      |  SELECT unnest(list_transform(range(len(w) - 1),
      |    i -> substr(w, CAST(i + 1 AS INTEGER), 2))) AS pair
      |  FROM wrds WHERE len(w) >= 2),
      |cnt AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY pair)
      |SELECT pair, cnt,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rn
      |FROM cnt ORDER BY rn LIMIT 25""".stripMargin) { (s, dir) =>
    operators.Vocab.bpeMergeCandidates(t(s, dir, "documents"), k = 25)
  }

  /** Zipf fit — round 6: per-source ln-ln slope over the top-32 terms
    * ([[operators.Vocab.zipfFit]]); micro-integer log coordinates make
    * the regression sums exact, so even the fitted slope hash-matches. */
  val zipfFitGate: Q = q("zipf_fit",
    """WITH c AS (
      |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE text IS NOT NULL) t
      |  WHERE tok <> '' GROUP BY 1, 2),
      |top AS (
      |  SELECT source, cnt, rn FROM (
      |    SELECT *, row_number() OVER (PARTITION BY source
      |      ORDER BY cnt DESC, tok) AS rn FROM c) t
      |  WHERE rn <= 32),
      |xy AS (
      |  SELECT source,
      |    CAST(round(ln(CAST(rn AS DOUBLE)) * 1e6) AS BIGINT) AS x,
      |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
      |  FROM top),
      |s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM xy GROUP BY 1),
      |f AS (
      |  SELECT source, n, sx, sy,
      |    CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
      |      THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    END AS slope
      |  FROM s)
      |SELECT source, n AS n_terms,
      |  CAST(round(slope * 1e6) AS BIGINT) AS slope_micro,
      |  CAST(round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_micro
      |FROM f ORDER BY source""".stripMargin) { (s, dir) =>
    operators.Vocab.zipfFit(t(s, dir, "documents"), "source", k = 32)
      .orderBy("source")
  }

  /** Next-token top-k — round 6: the bigram LM's per-context argmax
    * table ([[operators.Vocab.nextTokenTopK]]); counts exact, rank-limit
    * per context word, ties alphabetical. minCount=3 keeps the output
    * gate-sized. */
  val nextTokenTopKGate: Q = q("next_token_topk",
    """WITH W AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> {'w1': w[i], 'w2': w[i + 1]})) AS p
      |  FROM W),
      |c AS (
      |  SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS cnt
      |  FROM bg WHERE p.w1 <> '' AND p.w2 <> ''
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT w1, w2, cnt, rn FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY w1
      |    ORDER BY cnt DESC, w2) AS BIGINT) AS rn FROM c) t
      |WHERE rn <= 3 ORDER BY w1, rn""".stripMargin) { (s, dir) =>
    operators.Vocab.nextTokenTopK(t(s, dir, "documents"), k = 3,
      minCount = 3L)
      .orderBy("w1", "rn")
  }

  /** Nucleus (top-p) next-token sets ([[operators.Vocab.nextTokenNucleus]]):
    * the smallest successor prefix reaching 80% of each context's mass —
    * the adaptive-width companion of `next_token_topk`. The keep rule is
    * all-integer (exclusive cumulative < ⌈0.8·n_ctx⌉), so the set
    * boundary replays exactly; same vocabulary-bounded shapes. */
  val nextTokenNucleusGate: Q = q("next_token_topp",
    """WITH W AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> {'w1': w[i], 'w2': w[i + 1]})) AS p
      |  FROM W),
      |c AS (
      |  SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS cnt
      |  FROM bg WHERE p.w1 <> '' AND p.w2 <> ''
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |r AS (
      |  SELECT w1, w2, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS n_ctx,
      |    CAST(sum(cnt) OVER (PARTITION BY w1 ORDER BY cnt DESC, w2
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(row_number() OVER (PARTITION BY w1
      |      ORDER BY cnt DESC, w2) AS BIGINT) AS rn
      |  FROM c)
      |SELECT w1, w2, cnt, n_ctx, cum, rn FROM r
      |WHERE cum - cnt < (n_ctx * 8 + 9) // 10
      |ORDER BY w1, rn""".stripMargin) { (s, dir) =>
    operators.Vocab.nextTokenNucleus(t(s, dir, "documents"),
      pNum = 8L, pDen = 10L, minCount = 3L)
      .orderBy("w1", "rn")
  }

  /** Distribution-matching sampler — round 6: draw from the non-src0
    * pool so the drawn set's length-bucket marginal matches src0's
    * ([[operators.Sampling.distributionMatchSample]]); quotas, ranks,
    * and the draw all integer/hash-deterministic. */
  val distMatchGate: Q = q("dist_match_sample", {
    val h = operators.CrossHash.duckdbHash56("'dm:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars // 100 AS bkt FROM documents),
       |t AS (SELECT * FROM d WHERE source = 'src0'),
       |p AS (SELECT * FROM d WHERE source <> 'src0'),
       |q AS (SELECT bkt,
       |        (count(*) * 200) // (SELECT count(*) FROM t) AS quota
       |      FROM t GROUP BY 1),
       |r AS (SELECT doc_id, bkt,
       |        row_number() OVER (PARTITION BY bkt ORDER BY ($h), doc_id) AS rk
       |      FROM p)
       |SELECT r.doc_id, r.bkt FROM r JOIN q USING (bkt)
       |WHERE rk <= q.quota ORDER BY doc_id""".stripMargin }) { (s, dir) =>
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), expr("n_chars div 100").as("bkt"))
    operators.Sampling.distributionMatchSample(
      d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
      "doc_id", "bkt", m = 200, salt = "dm")
      .select("doc_id", "bkt")
      .orderBy("doc_id")
  }

  /** Feature hashing — round 6: the hashing-trick doc vectorizer
    * ([[operators.Vocab.featureHash]]); bucket/sign/sum all integer, so
    * the exact sparse vectors replay in SQL. */
  val featureHashGate: Q = q("feature_hashing", {
    val h = operators.CrossHash.duckdbHash56("'fh:' || tok")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |hashed AS (
       |  SELECT doc_id, CAST(($h) % 16 AS INTEGER) AS dim,
       |    1 - 2 * ((($h) // 64) % 2) AS sign
       |  FROM t2)
       |SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS val
       |FROM hashed GROUP BY 1, 2
       |ORDER BY doc_id, dim""".stripMargin }) { (s, dir) =>
    operators.Vocab.featureHash(t(s, dir, "documents"), "doc_id", "text",
      dims = 16, salt = "fh")
      .orderBy("doc_id", "dim")
  }

  /** Per-source salient terms by tf·idf (tf within source, ln(N/df) idf,
    * round-6 for cross-engine ln parity), top 10 per source. */
  val tfidfTerms: Q = q("tfidf_terms",
    """WITH words AS (
      |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |tf AS (
      |  SELECT source, word, CAST(count(*) AS BIGINT) AS tf
      |  FROM words GROUP BY 1, 2),
      |df AS (
      |  SELECT word, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
      |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
      |scored AS (
      |  SELECT source, word, tf, round(tf * ln(n.n / df), 6) AS tfidf
      |  FROM tf JOIN df USING (word) CROSS JOIN n)
      |SELECT source, word, tf, tfidf, rn FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY tfidf DESC, word) AS BIGINT) AS rn FROM scored) t
      |WHERE rn <= 10 ORDER BY source, rn""".stripMargin) { (s, dir) =>
    operators.Vocab.tfidfTerms(t(s, dir, "documents"), k = 10)
  }

  /** Cluster labeling — round 6: top tf·idf terms per k-means cell
    * ([[operators.Similarity.kmeansCells]] assignments joined to the
    * text corpus, then the group-generic [[operators.Vocab.tfidfTerms]]
    * with the cell as the group) — the "what is this cluster about"
    * browser view over an embedding-space partition. The oracle chains
    * the unrolled Lloyd replay into the tf·idf SQL. */
  val clusterTermsGate: Q = q("cluster_terms",
    s"""WITH ${duckKmeansChain(8, 2)},
       |cells AS (SELECT vec_id, cid AS cell FROM a2 WHERE r = 1),
       |docs2 AS (
       |  SELECT c.cell, d.doc_id, d.text
       |  FROM documents d JOIN cells c ON c.vec_id = d.doc_id),
       |words AS (
       |  SELECT cell, doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM docs2),
       |tf AS (
       |  SELECT cell, word, CAST(count(*) AS BIGINT) AS tf
       |  FROM words GROUP BY 1, 2),
       |df AS (
       |  SELECT word, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM docs2),
       |scored AS (
       |  SELECT cell, word, tf, round(tf * ln(n.n / df), 6) AS tfidf
       |  FROM tf JOIN df USING (word) CROSS JOIN n)
       |SELECT cell, word, tf, tfidf, rn FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY cell
       |    ORDER BY tfidf DESC, word) AS BIGINT) AS rn FROM scored) t
       |WHERE rn <= 5 ORDER BY cell, rn""".stripMargin) { (s, dir) =>
    val cells = operators.Similarity.kmeansCells(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 8, iters = 2)
    val docs = t(s, dir, "documents")
      .join(cells, col("doc_id") === col("vec_id"))
      .select(col("cell"), col("doc_id"), col("text"))
    operators.Vocab.tfidfTerms(docs, groupCol = "cell", k = 5)
      .withColumnRenamed("source", "cell")
      .orderBy("cell", "rn")
  }

  /** Gopher-style quality filter decision: rule signals + keep verdict per
    * doc. mean_word_len is one int/int double division (bit-exact both
    * engines); stop-word counts are exact list filters. */
  val gopherFilter: Q = q("gopher_filter", {
    val stops = operators.TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS mean_word_len,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stops))) AS BIGINT) AS n_stop,
       |  len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |    AND (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |         / len(string_split(text, ' '))) BETWEEN 3.0 AND 10.0
       |    AND len(list_filter(string_split(text, ' '), w -> w IN ($stops))) >= 2
       |    AS keep
       |FROM documents ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    operators.TextAnalysis.gopherFilter(t(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Percentile quality prune: keep the top 40% of docs per language by
    * (n_chars desc, doc_id) — integer rank vs ceil(frac·count), no
    * percent_rank edge cases. */
  val qualityTopFrac: Q = q("quality_topfrac",
    """SELECT lang, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents) t
      |WHERE rn <= ceil(0.4 * n)
      |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
    operators.Sampling.topFractionPerGroup(
      t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
      Seq("lang"), "n_chars", "doc_id", frac = 0.4)
      .orderBy("lang", "doc_id")
  }

  /** Per-label embedding cohesion: centroid (FLOAT-rounded avg per dim) +
    * mean cosine-to-centroid in exact integer micro-units — label-noise
    * screening for classifier data. */
  val labelCohesion: Q = q("label_cohesion",
    """WITH vecs AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (
      |  SELECT label, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY dim) AS c
      |  FROM (SELECT label, dim, avg(x) AS m
      |        FROM (SELECT label, unnest(v) AS x,
      |                unnest(range(len(v))) AS dim FROM vecs) e
      |        GROUP BY label, dim) g
      |  GROUP BY label)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CAST(round(list_cosine_similarity(v.v, c.c) * 1000000) AS BIGINT)) AS DOUBLE)
      |    / (count(*) * 1000000) AS avg_cos
      |FROM vecs v JOIN cent c USING (label)
      |GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    operators.Similarity.labelCentroidStats(
      t(s, dir, "embeddings"), "vec_id", "embedding", "label")
      .orderBy("label")
  }

  /** Round-3 capstone: quality-curation pipeline chaining the decision /
    * prune / sample / profile operators — Gopher rule filter → keep the
    * top 60% per language by length → 30-doc quota per source (salted
    * hash order) → dataset card of the survivors. One lazy DAG; every
    * stage deterministic, so the oracle replays all four. */
  val pipelineQualityV3: Q = q("pipeline_quality_v3", {
    val stops = operators.TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
    val bucket = operators.Sampling.duckdbHashBucket("doc_id", "v3", 1 << 30)
    s"""WITH flags AS (
       |  SELECT doc_id FROM documents
       |  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |    AND (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |         / len(string_split(text, ' '))) BETWEEN 3.0 AND 10.0
       |    AND len(list_filter(string_split(text, ' '), w -> w IN ($stops))) >= 2),
       |kept AS (SELECT d.* FROM documents d JOIN flags USING (doc_id)),
       |pruned AS (
       |  SELECT * FROM (
       |    SELECT *,
       |      row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn,
       |      count(*) OVER (PARTITION BY lang) AS n
       |    FROM kept) t WHERE rn <= ceil(0.6 * n)),
       |sampled AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source
       |      ORDER BY $bucket, doc_id) AS qrn
       |    FROM pruned) t WHERE qrn <= 30)
       |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(min(n_tok) AS BIGINT) AS min_tokens,
       |  CAST(max(n_tok) AS BIGINT) AS max_tokens,
       |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS avg_tokens,
       |  round(CAST(sum(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS short_doc_frac
       |FROM (SELECT source, lang,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |      FROM sampled)
       |GROUP BY source, lang ORDER BY source, lang""".stripMargin
  }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val kept = docs.join(
      operators.TextAnalysis.gopherFilter(docs)
        .filter(col("keep")).select("doc_id"), "doc_id")
    val pruned = operators.Sampling.topFractionPerGroup(
      kept, Seq("lang"), "n_chars", "doc_id", frac = 0.6)
    val sampled = operators.Sampling.quotaPerGroup(
      pruned, Seq("source"), "doc_id", n = 30, salt = "v3")
    operators.TextAnalysis.datasetCard(sampled).orderBy("source", "lang")
  }

  /** Unigram log-perplexity quality score per doc (corpus-as-LM): exact
    * integer micro-unit sums, one double division. */
  val unigramPpl: Q = q("unigram_logppl",
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
      |total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
      |scored AS (
      |  SELECT word, CAST(round(ln(cnt / total.total) * 1000000) AS BIGINT) AS lp
      |  FROM vocab CROSS JOIN total)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  -CAST(sum(lp) AS DOUBLE) / (count(*) * 1000000) AS avg_neg_logp
      |FROM words JOIN scored USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Vocab.unigramLogPerplexity(t(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Asymmetric containment pairs (C(A,B) = |A∩B|/|A|) — hash-based
    * intersection counts equal string-based ones (64-bit collision odds
    * ~4e-9, same argument as the Jaccard gates), so the oracle verifies
    * over the raw shingle strings. */
  val containmentPairs: Q = q("containment_pairs",
    s"""WITH sh AS (
      |  SELECT doc_id, ${duckShingles(3)} AS s FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    count(*) AS i, any_value(a.n_sh) AS na
      |  FROM shg a JOIN shg b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      |  WHERE a.doc_id % 10 = 0
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, CAST(i AS DOUBLE) / na AS containment
      |FROM inter
      |WHERE CAST(i AS DOUBLE) / na >= 0.5
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    operators.Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.5, queryPred = col("id") % 10 === 0)
      .orderBy("id_a", "id_b")
  }

  /** Exact top-k Jaccard neighbors per query doc ([[operators.Dedup
    * .jaccardTopK]], round 7): the retrieval twin of the pair gates —
    * the oracle replays the τ-floored neighbor set brute-force, then
    * the identical (jaccard DESC, id) rank. Doubles match bit-for-bit
    * because both engines divide the same exact integers
    * (i / (|a|+|b|−i)). */
  val jaccardTopKGate: Q = q("jaccard_topk",
    s"""WITH sh AS (
      |  SELECT doc_id, ${duckShingles(3)} AS s FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      |  FROM shg a JOIN shg b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      |  WHERE a.doc_id % 3 = 0
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      |  FROM inter WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.2),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY id_a ORDER BY jaccard DESC, id_b) AS rnk FROM j)
      |SELECT id_a, id_b, jaccard, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 5 ORDER BY id_a, rnk""".stripMargin) { (s, dir) =>
    operators.Dedup.jaccardTopK(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.2, k = 5, queryPred = col("id") % 3 === 0)
      .orderBy("id_a", "rnk")
  }

  /** Per-column table profile ([[operators.Metrics.profileColumns]],
    * round 7): row/null/exact-distinct counts plus min/max aggregated
    * in the column's own type and cast to string after — over a mixed
    * int/string/timestamp lineitem column set (doubles excluded: their
    * string rendering is engine-specific, the counts are not). */
  val profileTableGate: Q = q("profile_table", {
    def one(c: String) =
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_val,
         |  CAST(max($c) AS VARCHAR) AS max_val FROM lineitem""".stripMargin
    Seq("l_orderkey", "l_returnflag", "l_linestatus", "l_shipdate")
      .map(one).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY \"column\"")
  }) { (s, dir) =>
    operators.Metrics.profileColumns(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_returnflag", "l_linestatus", "l_shipdate"))
      .orderBy("column")
  }

  /** CCNet-style boilerplate-segment removal with full text reassembly —
    * byte-for-byte clean_text parity (the oracle rebuilds every document
    * through the same segmentation + df verdict). */
  val boilerplateSegments: Q = q("boilerplate_segments",
    """WITH W AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, unnest(w) AS x, unnest(range(len(w))) AS i FROM W),
      |seg AS (
      |  SELECT doc_id, i // 8 AS seg_id, string_agg(x, ' ' ORDER BY i) AS seg
      |  FROM tok GROUP BY doc_id, i // 8),
      |sdf AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
      |  CAST(sum(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  coalesce(string_agg(CASE WHEN df <= 1 THEN seg END, ' ' ORDER BY seg_id),
      |           '') AS clean_text
      |FROM seg JOIN sdf USING (seg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.removeBoilerplate(t(s, dir, "documents"),
      windowWords = 8, dfLimit = 1L)
      .orderBy("doc_id")
  }

  /** Interpolated bigram log-perplexity — the integer-micro-unit recipe
    * keeps the per-doc sums exact; p's arithmetic is the same fixed-order
    * double expression in both engines. */
  val bigramPpl: Q = q("bigram_logppl",
    """WITH W AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bigr AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i + 1])) AS w1,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i + 2])) AS w2
      |  FROM W WHERE len(w) >= 2),
      |docbf AS (
      |  SELECT doc_id, w1, w2, count(*) AS tf FROM bigr GROUP BY doc_id, w1, w2),
      |bi AS (SELECT w1, w2, sum(tf) AS bi FROM docbf GROUP BY w1, w2),
      |ctx AS (SELECT w1, sum(bi) AS ctx FROM bi GROUP BY w1),
      |uni AS (
      |  SELECT w2, count(*) AS uni
      |  FROM (SELECT unnest(w) AS w2 FROM W) GROUP BY w2),
      |total AS (SELECT CAST(sum(uni) AS DOUBLE) AS total FROM uni),
      |scored AS (
      |  SELECT w1, w2,
      |    CAST(round(ln(0.5 * (CAST(bi AS DOUBLE) / CAST(ctx AS DOUBLE))
      |                  + 0.5 * (CAST(uni AS DOUBLE) / total.total))
      |               * 1000000) AS BIGINT) AS lp
      |  FROM bi JOIN ctx USING (w1) JOIN uni USING (w2) CROSS JOIN total)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |  -CAST(sum(lp * tf) AS DOUBLE) / (sum(tf) * 1000000) AS avg_neg_logp
      |FROM docbf JOIN scored USING (w1, w2)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Vocab.bigramLogPerplexity(t(s, dir, "documents"), lambda = 0.5)
      .orderBy("doc_id")
  }

  /** DuckDB CTE chain computing per-doc interpolated Kneser-Ney bigram
    * log-perplexity (ends in a `perdoc` CTE) — shared by the
    * `kneser_ney_logppl` and `ppl_buckets` oracles. */
  private val duckKneserNeyPerDoc: String =
    """WITH W AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bigr AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i + 1])) AS w1,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i + 2])) AS w2
      |  FROM W WHERE len(w) >= 2),
      |docbf AS (
      |  SELECT doc_id, w1, w2, count(*) AS tf FROM bigr GROUP BY doc_id, w1, w2),
      |bi AS (SELECT w1, w2, sum(tf) AS bi FROM docbf GROUP BY w1, w2),
      |ctx AS (SELECT w1, sum(bi) AS ctx, count(*) AS nfr FROM bi GROUP BY w1),
      |toc AS (SELECT w2, count(*) AS nto FROM bi GROUP BY w2),
      |tt AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM bi),
      |scored AS (
      |  SELECT w1, w2,
      |    CAST(round(ln((CAST(bi AS DOUBLE) - 0.75) / CAST(ctx AS DOUBLE)
      |          + 0.75 * CAST(nfr AS DOUBLE) / CAST(ctx AS DOUBLE)
      |            * (CAST(nto AS DOUBLE) / tt.tt))
      |        * 1000000) AS BIGINT) AS lp
      |  FROM bi JOIN ctx USING (w1) JOIN toc USING (w2) CROSS JOIN tt),
      |perdoc AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |    -CAST(sum(lp * tf) AS DOUBLE) / (sum(tf) * 1000000) AS avg_neg_logp
      |  FROM docbf JOIN scored USING (w1, w2)
      |  GROUP BY doc_id)""".stripMargin

  /** Interpolated Kneser-Ney bigram log-perplexity — the KenLM/CCNet
    * smoothing (continuation-probability backoff), replayed with the
    * same exact-integer-counts + micro-unit-log recipe as
    * `bigram_logppl`. D = 0.75 (exactly representable). */
  val kneserNeyPpl: Q = q("kneser_ney_logppl",
    s"""$duckKneserNeyPerDoc
      |SELECT doc_id, n_bigrams, avg_neg_logp
      |FROM perdoc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Vocab.kneserNeyLogPerplexity(t(s, dir, "documents"),
      discount = 0.75)
      .orderBy("doc_id")
  }

  /** CCNet head/middle/tail perplexity triage (Wenzek 2020): per-language
    * ntile(3) over the Kneser-Ney doc perplexity, doc_id tie-break. */
  val pplBuckets: Q = q("ppl_buckets",
    s"""$duckKneserNeyPerDoc
      |SELECT p.doc_id, d.lang, p.n_bigrams, p.avg_neg_logp,
      |  ntile(3) OVER (PARTITION BY d.lang
      |                 ORDER BY p.avg_neg_logp, p.doc_id) AS bucket,
      |  CASE ntile(3) OVER (PARTITION BY d.lang
      |                      ORDER BY p.avg_neg_logp, p.doc_id)
      |    WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS band
      |FROM perdoc p JOIN documents d USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Vocab.perplexityBuckets(t(s, dir, "documents"),
      buckets = 3, discount = 0.75)
      .orderBy("doc_id")
  }

  /** Edit-distance-verified near-dup pairs: PPJoin Jaccard blocking +
    * banded Levenshtein verify (contract = the conjunction, so the
    * brute-force oracle matches exactly). ed ≤ 6 splits the corpus's
    * Jaccard candidates (observed ed ∈ {4, 8, 12}). */
  val editDistancePairs: Q = q("edit_distance_pairs",
    s"""WITH sh AS (
      |  SELECT doc_id, text, ${duckShingles(3)} AS s FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      |  FROM shg a JOIN shg b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      |  FROM inter WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.3)
      |SELECT c.id_a, c.id_b, c.jaccard,
      |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
      |FROM cand c
      |JOIN sh ta ON ta.doc_id = c.id_a JOIN sh tb ON tb.doc_id = c.id_b
      |WHERE levenshtein(ta.text, tb.text) <= 6
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    operators.Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, blockJaccard = 0.3, maxEdits = 6)
      .orderBy("id_a", "id_b")
  }

  /** Cross-corpus duplicated-4-gram fraction per document (Lee et al.
    * 2021's doc-level dup diagnostic) — corpus-linear, no pair list. */
  val dupNgramFrac: Q = q("dup_ngram_frac",
    s"""WITH ex AS (
      |  SELECT doc_id, unnest(${duckShingles(4)}) AS g FROM documents
      |  WHERE len(string_split(text, ' ')) >= 4),
      |gdf AS (SELECT g, count(*) AS gdf FROM ex GROUP BY g)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
      |  round(CAST(sum(CASE WHEN gdf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS dup_frac
      |FROM ex JOIN gdf USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Dedup.dupNgramFraction(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 4)
      .orderBy("doc_id")
  }

  /** Per-doc Shannon entropy + type-token ratio (integer micro-unit log
    * sums — exact, order-independent). */
  val tokenEntropy: Q = q("token_entropy",
    """WITH tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents) GROUP BY doc_id, word),
      |wn AS (
      |  SELECT doc_id, tf, sum(tf) OVER (PARTITION BY doc_id) AS n FROM tf),
      |sc AS (
      |  SELECT doc_id, tf, n,
      |    CAST(round(ln(CAST(tf AS DOUBLE) / n) * 1000000) AS BIGINT) AS lp
      |  FROM wn)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  round(CAST(count(*) AS DOUBLE) / max(n), 6) AS ttr,
      |  -CAST(sum(tf * lp) AS DOUBLE) / (max(n) * 1000000) AS entropy
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.tokenEntropy(t(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Per-doc OOV rate vs the deterministic top-16 corpus vocabulary. */
  val oovRate: Q = q("oov_rate",
    """WITH dtf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents) GROUP BY doc_id, word),
      |vocab AS (
      |  SELECT word FROM (
      |    SELECT word, row_number() OVER (ORDER BY sum(tf) DESC, word ASC) AS rn
      |    FROM dtf GROUP BY word) v WHERE rn <= 16)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(CASE WHEN v.word IS NULL THEN tf ELSE 0 END) AS DOUBLE)
      |    / sum(tf), 6) AS oov_rate
      |FROM dtf LEFT JOIN vocab v USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Vocab.oovRate(t(s, dir, "documents"), k = 16)
      .orderBy("doc_id")
  }

  /** RANGE-interval window frame (trailing 30-day revenue per customer) —
    * the time-based frame the ROWS gates don't cover; peers at equal
    * order keys aggregate identically in both engines, and the DECIMAL
    * sum keeps the double exact. */
  val windowRangeInterval: Q = sqlBoth("window_range_interval", Seq("orders"),
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS sum_30d
      | FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)

  /** ntile / percent_rank / cume_dist — the ranking-window trio over a
    * total (tie-broken) order. */
  val windowNtile: Q = sqlBoth("window_ntile", Seq("orders"),
    """SELECT o_custkey, o_orderkey,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  round(percent_rank() OVER w, 6) AS pr,
      |  round(cume_dist() OVER w, 6) AS cd
      | FROM orders
      | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
      | ORDER BY o_custkey, o_orderkey""".stripMargin)

  /** Unpivot (wide metrics → long rows): Spark's stack() generator vs a
    * UNION ALL oracle. */
  val unpivotMetrics: Q = q("unpivot_metrics",
    """WITH t AS (
      |  SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS n_cust,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |  FROM customer GROUP BY c_nationkey)
      |SELECT n_name, metric, val FROM (
      |  SELECT c_nationkey, 'n_cust' AS metric, n_cust AS val FROM t
      |  UNION ALL
      |  SELECT c_nationkey, 'sum_bal', sum_bal FROM t) u
      |JOIN nation ON n_nationkey = c_nationkey
      |ORDER BY n_name, metric""".stripMargin) { (s, dir) =>
    Seq("customer", "nation").foreach(n =>
      Tables.load(s, dir, n).createOrReplaceTempView(n))
    s.sql(
      """SELECT n_name, metric, val FROM (
        |  SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS n_cust,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |  FROM customer GROUP BY c_nationkey) t
        |JOIN nation ON n_nationkey = c_nationkey
        |LATERAL VIEW stack(2, 'n_cust', n_cust, 'sum_bal', sum_bal) s AS metric, val
        |ORDER BY n_name, metric""".stripMargin)
  }

  /** INTERSECT ALL — multiplicity-preserving set intersection (the
    * EXCEPT ALL twin; order counts repeated o_custkey hits). */
  val setIntersectAll: Q = sqlBoth("set_intersect_all", Seq("customer", "orders"),
    """SELECT k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_custkey <= 120
      |  INTERSECT ALL
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t
      | ORDER BY k""".stripMargin)

  /** Correlated LATERAL derived table (top-2 customers per nation by
    * account balance) — the decorrelation path a window can express but
    * a planner must handle natively for LATERAL-written queries. */
  val lateralTopN: Q = sqlBoth("lateral_topn", Seq("nation", "customer"),
    """SELECT n_name, c.c_custkey, c.bal
      | FROM nation, LATERAL (
      |   SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
      |   FROM customer WHERE c_nationkey = n_nationkey
      |   ORDER BY bal DESC, c_custkey LIMIT 2) c
      | ORDER BY n_name, c.c_custkey""".stripMargin)

  /** JSON field extraction from a string column (the semi-structured ETL
    * hop: events.props carries a JSON payload). */
  val jsonExtract: Q = q("json_extract",
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events").createOrReplaceTempView("events")
    s.sql(
      """SELECT event_id,
        |  CAST(get_json_object(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)
  }

  /** Real BMP decode — lossless, so the full pixel channel sums oracle
    * exactly (the PNG gate's differential twin through a second codec). */
  val bmpDecode: Q = q("bmp_decode",
    """WITH d AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 3) % 32 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(w * h)) AS k FROM d)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum((doc_id * 31 + (3 * k + 0) * 7) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((doc_id * 31 + (3 * k + 1) * 7) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((doc_id * 31 + (3 * k + 2) * 7) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeRgbChannelSums(
      operators.Multimodal.asBmpTable(t(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** Canonical text normalization — byte-for-byte norm_text parity
    * (regexes in the Java ∩ RE2 common subset, like pii_redact). */
  val normalizeTextGate: Q = q("normalize_text",
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |       ' +', ' ', 'g')) AS norm_text,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok_before,
      |  CAST(CASE WHEN len(trim(regexp_replace(regexp_replace(lower(text),
      |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) = 0 THEN 0
      |       ELSE len(string_split(trim(regexp_replace(regexp_replace(lower(text),
      |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) END AS BIGINT)
      |    AS n_tok_after
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.normalizeText(t(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Weighted sampling without replacement (Efraimidis-Spirakis priorities
    * from the cross-engine hash; integer nano-unit ranks). */
  val weightedSampleGate: Q = q("weighted_sample", {
    val h = operators.CrossHash.duckdbHash56("'ws1:' || CAST(doc_id AS VARCHAR)")
    s"""WITH pri AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |    CAST(round(ln(CAST(($h) + 1 AS DOUBLE) / 72057594037927936.0)
      |      / len(string_split(text, ' ')) * 1000000000) AS BIGINT)
      |      AS priority_nano
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) > 0)
      |SELECT doc_id, w, priority_nano,
      |  CAST(row_number() OVER (ORDER BY priority_nano DESC, doc_id) AS BIGINT) AS rn
      |FROM pri QUALIFY rn <= 100 ORDER BY rn""".stripMargin
  }) { (s, dir) =>
    operators.Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
      size(split(col("text"), " ")), k = 100, salt = "ws1")
      .orderBy("rn")
  }

  /** Round-3 curation capstone: normalize → boilerplate-segment removal →
    * entropy quality filter → weighted sample — four chained stages under
    * ONE oracle that replays every stage (byte-exact normalization and
    * reassembly, micro-unit entropy, nano-unit WRS priorities). */
  val pipelineCurationV4: Q = q("pipeline_curation_v4", {
    val h = operators.CrossHash.duckdbHash56("'v4:' || CAST(doc_id AS VARCHAR)")
    s"""WITH W0 AS (
      |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
      |W AS (SELECT doc_id, string_split(t, ' ') AS w FROM W0 WHERE len(t) > 0),
      |tok AS (SELECT doc_id, unnest(w) AS x, unnest(range(len(w))) AS i FROM W),
      |seg AS (
      |  SELECT doc_id, i // 8 AS seg_id, string_agg(x, ' ' ORDER BY i) AS seg
      |  FROM tok GROUP BY doc_id, i // 8),
      |sdf AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg),
      |clean AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN df <= 1 THEN seg END, ' ' ORDER BY seg_id) AS ct,
      |    sum(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS n_kept
      |  FROM seg JOIN sdf USING (seg) GROUP BY doc_id),
      |C AS (SELECT doc_id, string_split(ct, ' ') AS cw FROM clean WHERE n_kept > 0),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM (
      |         SELECT doc_id, unnest(cw) AS word FROM C) GROUP BY doc_id, word),
      |wn AS (SELECT doc_id, tf, sum(tf) OVER (PARTITION BY doc_id) AS n FROM tf),
      |ent AS (
      |  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tok,
      |    -CAST(sum(tf * CAST(round(ln(CAST(tf AS DOUBLE) / n) * 1000000)
      |      AS BIGINT)) AS DOUBLE) / (max(n) * 1000000) AS entropy
      |  FROM wn GROUP BY doc_id),
      |pri AS (
      |  SELECT doc_id, n_tok AS w,
      |    CAST(round(ln(CAST(($h) + 1 AS DOUBLE) / 72057594037927936.0)
      |      / n_tok * 1000000000) AS BIGINT) AS priority_nano
      |  FROM ent WHERE entropy >= 2.8)
      |SELECT doc_id, w, priority_nano,
      |  CAST(row_number() OVER (ORDER BY priority_nano DESC, doc_id) AS BIGINT) AS rn
      |FROM pri QUALIFY rn <= 100 ORDER BY rn""".stripMargin
  }) { (s, dir) =>
    val norm = operators.TextAnalysis.normalizeText(t(s, dir, "documents"))
      .filter(length(col("norm_text")) > 0)
      .select(col("doc_id"), col("norm_text").as("text"))
    val clean = operators.TextAnalysis.removeBoilerplate(norm,
        windowWords = 8, dfLimit = 1L)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text"))
    val kept = operators.TextAnalysis.tokenEntropy(clean, "doc_id", "clean_text")
      .filter(col("entropy") >= 2.8)
      .select(col("doc_id"), col("n_tokens"))
    operators.Sampling.weightedSample(kept, "doc_id", col("n_tokens"),
      k = 100, salt = "v4")
      .orderBy("rn")
  }

  /** Date/time part extraction + truncation (the ETL time-dimension hop).
    * DOW normalized to Spark's 1=Sunday convention (DuckDB's dow is
    * 0=Sunday). */
  val datetimeParts: Q = q("datetime_parts",
    """SELECT o_orderkey,
      |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
      |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
      |  CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS d,
      |  CAST(EXTRACT(hour FROM o_orderdate) AS BIGINT) AS h,
      |  CAST(EXTRACT(dow FROM o_orderdate) + 1 AS BIGINT) AS dow,
      |  date_trunc('month', o_orderdate) AS month_start
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS d,
        |  CAST(hour(o_orderdate) AS BIGINT) AS h,
        |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
        |  CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  }

  /** Ordered string aggregation (LISTAGG/string_agg): Spark has no
    * within-aggregate ORDER BY, so the deterministic spelling is
    * sort_array over collected (key, value) structs — a genuinely
    * different plan for the same semantics. */
  val stringAggOrdered: Q = q("string_agg_ordered",
    """SELECT c_nationkey,
      |  string_agg(c_name, ',' ORDER BY c_custkey) AS names,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM customer WHERE c_custkey <= 60
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").filter(col("c_custkey") <= 60)
      .groupBy("c_nationkey")
      .agg(
        concat_ws(",", expr(
          "transform(sort_array(collect_list(struct(c_custkey, c_name))), s -> s.c_name)"))
          .as("names"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** Real GIF decode — grayscale payloads fit one palette, so the round
    * trip is lossless and the gray sum oracles exactly (the third
    * lossless container after PNG and BMP). */
  val gifDecode: Q = q("gif_decode",
    """WITH d AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 3) % 32 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(w * h)) AS k FROM d)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum((doc_id * 31 + k * 7) % 256) AS BIGINT) AS sum_gray
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeGifGraySum(
      operators.Multimodal.asGifTable(t(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** Real TIFF decode — baseline RGB strips are lossless, so the BMP
    * channel-sum oracle applies unchanged through a fourth container. */
  val tiffDecode: Q = q("tiff_decode",
    """WITH d AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 3) % 32 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(w * h)) AS k FROM d)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(sum((doc_id * 31 + (3 * k + 0) * 7) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((doc_id * 31 + (3 * k + 1) * 7) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((doc_id * 31 + (3 * k + 2) * 7) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Multimodal.decodeRgbChannelSums(
      operators.Multimodal.asTiffTable(t(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** Duplicated-span masking (exact substring-dedup semantics at fixed
    * span length): overlapping windows, token-precise masking, byte-exact
    * clean_text oracle. */
  val maskSpans: Q = q("mask_dup_spans",
    """WITH W AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 8),
      |toks AS (
      |  SELECT doc_id, unnest(w) AS tok, unnest(range(len(w))) AS pos FROM W),
      |grams AS (
      |  SELECT doc_id, unnest(range(len(w) - 7)) AS p,
      |    unnest(list_transform(range(len(w) - 7),
      |      i -> array_to_string(w[i+1:i+8], ' '))) AS g
      |  FROM W),
      |gdf AS (SELECT g, count(DISTINCT doc_id) AS gdocs FROM grams GROUP BY g),
      |cov AS (
      |  SELECT DISTINCT grams.doc_id, grams.p + t.range AS pos
      |  FROM grams JOIN gdf USING (g) CROSS JOIN range(8) t
      |  WHERE gdocs > 1),
      |kept AS (
      |  SELECT t.doc_id, t.pos, t.tok FROM toks t
      |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      |  WHERE c.pos IS NULL),
      |reb AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY pos) AS ct
      |  FROM kept GROUP BY doc_id)
      |SELECT W.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_masked,
      |  coalesce(ct, '') AS clean_text
      |FROM W LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Dedup.maskDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
      spanTokens = 8)
      .orderBy("doc_id")
  }

  /** FILTER (WHERE …) aggregate clauses — per-condition partial counts
    * in one pass (the idiomatic spelling of conditional aggregation). */
  val filteredAgg: Q = sqlBoth("filtered_agg", Seq("orders"),
    """SELECT o_custkey,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
      |  CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
      |    AS n_urgent
      | FROM orders GROUP BY o_custkey
      | HAVING count(*) >= 10 ORDER BY o_custkey""".stripMargin)

  /** IS [NOT] DISTINCT FROM — null-safe comparison semantics. */
  val distinctFrom: Q = sqlBoth("distinct_from", Seq("customer"),
    """SELECT c_custkey, c_name
      | FROM customer
      | WHERE (c_mktsegment IS DISTINCT FROM 'BUILDING')
      |   AND (c_nationkey IS NOT DISTINCT FROM c_custkey % 25)
      | ORDER BY c_custkey""".stripMargin)

  /** Explicit NULLS FIRST/LAST ordering — the engines DISAGREE on the
    * default (Spark ascending = NULLS FIRST, DuckDB = NULLS LAST), so
    * portable SQL must spell it out; this gate locks the spelled-out
    * form to identical results. */
  val nullsOrdering: Q = sqlBoth("nulls_ordering", Seq("customer"),
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_nationkey END AS k
      | FROM customer WHERE c_custkey <= 50
      | ORDER BY k ASC NULLS LAST, c_custkey DESC""".stripMargin)

  /** Mean/stddev via closed-form exact integer sums (acctbal in cents →
    * BIGINT; sqrt applied once at the end) — order-independent where the
    * engines' native stddev accumulation orders could differ in final
    * ulps. */
  val statsAgg: Q = sqlBoth("stats_agg", Seq("customer"),
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / (100 * count(*))
      |    AS mean_bal,
      |  sqrt((CAST(count(*) AS DOUBLE)
      |          * CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
      |                     * CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
      |        - CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
      |          * CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE))
      |       / (CAST(count(*) AS DOUBLE) * (count(*) - 1))) / 100
      |    AS stddev_bal
      | FROM customer GROUP BY c_nationkey
      | HAVING count(*) > 1 ORDER BY c_nationkey""".stripMargin)

  /** DSIR importance weights (Xie et al. 2023) — round 4: per-doc mean
    * log-importance ratio under Laplace-smoothed unigram models of a
    * target subcorpus (source = 'src0' as the curated-set proxy) vs the
    * whole corpus. Value-oracled end to end: per-word log-ratios in
    * integer micro-units, exact per-doc integer sums, one double
    * division. */
  val dsirWeightsGate: Q = q("dsir_weights",
    """WITH words AS (
      |  SELECT doc_id, (source = 'src0') AS tgt,
      |         unnest(string_split(text, ' ')) AS word FROM documents),
      |dtf AS (SELECT doc_id, tgt, word, count(*) AS tf
      |        FROM words GROUP BY doc_id, tgt, word),
      |vocab AS (
      |  SELECT word, sum(tf) AS raw_cnt,
      |         sum(CASE WHEN tgt THEN tf ELSE 0 END) AS tgt_cnt
      |  FROM dtf GROUP BY word),
      |totals AS (
      |  SELECT CAST(sum(raw_cnt) AS DOUBLE) AS raw_total,
      |         CAST(sum(tgt_cnt) AS DOUBLE) AS tgt_total,
      |         CAST(count(*) AS DOUBLE) AS v FROM vocab),
      |scored AS (
      |  SELECT word, CAST(round(
      |      (ln(CAST(tgt_cnt + 1 AS DOUBLE) / (tgt_total + v))
      |     - ln(CAST(raw_cnt + 1 AS DOUBLE) / (raw_total + v)))
      |      * 1000000) AS BIGINT) AS lr
      |  FROM vocab CROSS JOIN totals)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  CAST(sum(lr * tf) AS DOUBLE) / (sum(tf) * 1000000) AS avg_logratio
      |FROM dtf JOIN scored USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.Vocab.dsirWeights(
      t(s, dir, "documents"), col("source") === "src0")
      .orderBy("doc_id")
  }

  /** Source-level (domain) curation — round 4: only documents from
    * sources whose mean type-token ratio clears the bar survive
    * (RefinedWeb-style whole-domain filtering). Pure-projection doc
    * score, one source-keyed aggregate, verdict semi-joined back. */
  val sourceQualityGate: Q = q("source_quality_filter",
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    CAST(round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) * 1000000) AS BIGINT) AS ttr_micro
      |  FROM documents),
      |keep AS (
      |  SELECT source, CAST(s AS DOUBLE) / (n_docs * 1000000) AS src_mean_ttr,
      |         CAST(n_docs AS BIGINT) AS src_docs
      |  FROM (SELECT source, sum(ttr_micro) AS s, count(*) AS n_docs
      |        FROM scored GROUP BY source)
      |  WHERE CAST(s AS DOUBLE) / (n_docs * 1000000) >= 0.5 AND n_docs >= 10)
      |SELECT doc_id, source, ttr_micro, src_mean_ttr, src_docs
      |FROM scored JOIN keep USING (source)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.sourceQualityFilter(
      t(s, dir, "documents"), minMeanTtr = 0.5, minDocs = 10L)
      .orderBy("doc_id")
  }

  /** Five-stage DSIR-selection capstone — round 4: the data-selection
    * pipeline a pretraining corpus actually runs, composed from this
    * round's operators. (1) source-level curation drops whole domains
    * below the TTR bar; (2) DSIR scores the survivors against a
    * high-TTR target proxy (docs with ttr ≥ 0.5); (3) the top half by
    * importance weight is selected globally. One lazy DAG; the global
    * selection runs through the bucketed two-pass rank (round 6: the
    * tightened window guard flagged the former single-partition rank
    * over the per-doc weight frame — corpus-sized at scale; the oracle
    * keeps the window formulation, proving equivalence). */
  val pipelineCurationV5: Q = q("pipeline_curation_v5",
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    CAST(round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) * 1000000) AS BIGINT) AS ttr_micro
      |  FROM documents WHERE text IS NOT NULL),
      |keep AS (
      |  SELECT source
      |  FROM (SELECT source, sum(ttr_micro) AS s, count(*) AS n_docs
      |        FROM scored GROUP BY source)
      |  WHERE CAST(s AS DOUBLE) / (n_docs * 1000000) >= 0.5 AND n_docs >= 10),
      |kept AS (SELECT doc_id, ttr_micro FROM scored JOIN keep USING (source)),
      |words AS (
      |  SELECT d.doc_id, (k.ttr_micro >= 500000) AS tgt,
      |         unnest(string_split(d.text, ' ')) AS word
      |  FROM documents d JOIN kept k USING (doc_id)),
      |dtf AS (SELECT doc_id, tgt, word, count(*) AS tf
      |        FROM words GROUP BY doc_id, tgt, word),
      |vocab AS (
      |  SELECT word, sum(tf) AS raw_cnt,
      |         sum(CASE WHEN tgt THEN tf ELSE 0 END) AS tgt_cnt
      |  FROM dtf GROUP BY word),
      |totals AS (
      |  SELECT CAST(sum(raw_cnt) AS DOUBLE) AS raw_total,
      |         CAST(sum(tgt_cnt) AS DOUBLE) AS tgt_total,
      |         CAST(count(*) AS DOUBLE) AS v FROM vocab),
      |lr AS (
      |  SELECT word, CAST(round(
      |      (ln(CAST(tgt_cnt + 1 AS DOUBLE) / (tgt_total + v))
      |     - ln(CAST(raw_cnt + 1 AS DOUBLE) / (raw_total + v)))
      |      * 1000000) AS BIGINT) AS lr
      |  FROM vocab CROSS JOIN totals),
      |w8 AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |    CAST(sum(lr * tf) AS DOUBLE) / (sum(tf) * 1000000) AS avg_logratio
      |  FROM dtf JOIN lr USING (word) GROUP BY doc_id)
      |SELECT doc_id, n_tokens, avg_logratio FROM (
      |  SELECT *, row_number() OVER (ORDER BY avg_logratio DESC, doc_id) AS rn,
      |         count(*) OVER () AS n FROM w8) t
      |WHERE rn <= ceil(0.5 * n)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val kept = operators.TextAnalysis.sourceQualityFilter(
      docs, minMeanTtr = 0.5, minDocs = 10L)
      .select(col("doc_id"), col("ttr_micro"))
    val corpus = docs.join(kept, Seq("doc_id"))
    val weights = operators.Vocab.dsirWeights(
      corpus, col("ttr_micro") >= 500000L)
    operators.Sampling.topFractionPerGroup(
      weights, Seq.empty, "avg_logratio", "doc_id", 0.5)
      .orderBy("doc_id")
  }

  /** CCNet-style capstone — round 4: the Wenzek 2020 pipeline shape
    * composed from this round's operators. (1) LM triage: per-language
    * Kneser-Ney perplexity terciles, drop the `tail` band (likely
    * gibberish); (2) near-dup removal over the SURVIVORS: Jaccard-blocked
    * + Levenshtein-verified pairs, first-occurrence keep (every doc that
    * pairs with a smaller-id doc drops — pairs are id_a < id_b, so the
    * drop set is exactly the id_b side). Triage-first shrinks the pair
    * workload to the kept corpus; the triaged frame is persisted because
    * the ed-join consumes it twice (shingles + both text fetches) before
    * the final anti-join. */
  val pipelineCurationV6: Q = q("pipeline_curation_v6",
    s"""$duckKneserNeyPerDoc,
      |banded AS (
      |  SELECT p.doc_id, d.lang, p.avg_neg_logp,
      |    CASE ntile(3) OVER (PARTITION BY d.lang
      |                        ORDER BY p.avg_neg_logp, p.doc_id)
      |      WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS band
      |  FROM perdoc p JOIN documents d USING (doc_id)),
      |kept AS (
      |  SELECT b.doc_id, b.lang, b.band, b.avg_neg_logp, d.text
      |  FROM banded b JOIN documents d USING (doc_id) WHERE b.band <> 'tail'),
      |sh AS (
      |  SELECT doc_id, text, ${duckShingles(3)} AS s FROM kept
      |  WHERE len(string_split(text, ' ')) >= 3),
      |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
      |cand AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      |    FROM shg a JOIN shg b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2)
      |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.3),
      |dupped AS (
      |  SELECT DISTINCT c.id_b AS doc_id
      |  FROM cand c
      |  JOIN sh ta ON ta.doc_id = c.id_a JOIN sh tb ON tb.doc_id = c.id_b
      |  WHERE levenshtein(ta.text, tb.text) <= 6)
      |SELECT doc_id, lang, band, avg_neg_logp FROM kept
      |WHERE doc_id NOT IN (SELECT doc_id FROM dupped)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val kept = operators.Vocab.perplexityBuckets(docs)
      .filter(col("band") =!= "tail")
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupIds = operators.Dedup.editDistancePairs(kept, "doc_id", "text",
      shingleN = 3, blockJaccard = 0.3, maxEdits = 6)
      .select(col("id_b").as("doc_id")).distinct()
    kept.join(dupIds, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "band", "avg_neg_logp")
      .orderBy("doc_id")
  }

  /** Correlated EXISTS subquery (decorrelates to a semi-join). */
  val existsSubquery: Q = sqlBoth("exists_subquery", Seq("customer", "orders"),
    """SELECT c_custkey, c_name FROM customer c
      | WHERE EXISTS (SELECT 1 FROM orders o
      |               WHERE o.o_custkey = c.c_custkey
      |                 AND o.o_totalprice > 300000)
      | ORDER BY c_custkey""".stripMargin)

  /** Z-order (Morton) clustering key over (user_id, event_id) — the
    * multi-dimensional data-skipping layout key behind Delta/Iceberg
    * `OPTIMIZE ZORDER BY`. The oracle replays the quantize +
    * bit-interleave arithmetic in SQL, so the layout key is
    * value-checked rather than spec-trusted (the file-skipping effect
    * itself is ZOrderSpec's pruning probe). Null keys drop up front:
    * DuckDB 1.0's least/greatest propagate NULL where Spark's skip it.
    */
  val zorderCluster: Q = q("zorder_cluster", {
    val bits = 16
    val maxQ = (1 << bits) - 1
    def quant(c: String, lo: String, hi: String) =
      s"least(greatest(CAST(trunc(CAST($c - $lo AS DOUBLE) * ${maxQ}.0" +
        s" / CAST(greatest($hi - $lo, 1) AS DOUBLE)) AS BIGINT), 0), $maxQ)"
    val interleave = (for { i <- 0 until bits; c <- 0 until 2 } yield
      s"(((q$c >> $i) & 1) << ${i * 2 + c})").mkString(" + ")
    s"""WITH r AS (
       |  SELECT min(user_id) AS lo0, max(user_id) AS hi0,
       |         min(event_id) AS lo1, max(event_id) AS hi1
       |  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
       |qz AS (
       |  SELECT event_id,
       |    ${quant("user_id", "lo0", "hi0")} AS q0,
       |    ${quant("event_id", "lo1", "hi1")} AS q1
       |  FROM events CROSS JOIN r
       |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
       |SELECT event_id, $interleave AS zval
       |FROM qz ORDER BY event_id""".stripMargin
  }) { (s, dir) =>
    val ev = t(s, dir, "events")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
    val cols = Seq("user_id", "event_id")
    val ranges = operators.ZOrder.columnRanges(ev, cols)
    ev.select(col("event_id"),
      operators.ZOrder.zvalue(cols.map(col), ranges, bitsPerCol = 16)
        .as("zval"))
      .orderBy("event_id")
  }

  /** Hashing-trick linear quality classifier (fastText-shaped serving
    * plan; see [[operators.TextAnalysis.hashedLinearScore]]). The
    * oracle replays bucket hash → weight hash → micro-rounded mean in
    * exploded form; the Spark plan is a single shuffle-free projection.
    */
  /** Shared DuckDB CTE chain replaying [[operators.TextAnalysis
    * .hashedLinearScore]] (token explode → bucket hash → weight hash →
    * micro rounding → per-doc aggregate). FOUR oracles consume it
    * (`quality_classifier`, `classifier_calibration`,
    * `quality_budget_cut`, and `pipeline_release_v1`'s prefix) — a
    * recipe change edits one string, not four hand-synced copies. */
  private def duckScoreCtePrefix(dim: Int, salt: String): String = {
    val bucket =
      s"'$salt:' || CAST(${operators.CrossHash.duckdbHash56("t")} % $dim AS VARCHAR)"
    s"""W AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM W),
       |bkt AS (SELECT doc_id, $bucket AS bs FROM tok),
       |wm AS (
       |  SELECT doc_id,
       |    CAST(round((CAST(${operators.CrossHash.duckdbHash56("bs")} AS DOUBLE)
       |      / 36028797018963968.0 - 1.0) * 1000000.0) AS BIGINT) AS wm
       |  FROM bkt)""".stripMargin
  }

  private def duckScoreCtes(dim: Int, salt: String): String =
    duckScoreCtePrefix(dim, salt) + ",\n" +
      """agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(wm) AS BIGINT) AS score_sum_micro
        |  FROM wm GROUP BY doc_id)""".stripMargin

  val qualityClassifier: Q = q("quality_classifier",
    s"WITH ${duckScoreCtes(1024, "qc")}\n" +
      """SELECT doc_id, n_tokens, score_sum_micro,
        |  CAST(score_sum_micro AS DOUBLE)
        |    / (CAST(n_tokens AS DOUBLE) * 1000000.0) AS score,
        |  score_sum_micro > 0 AS keep
        |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.hashedLinearScore(
      t(s, dir, "documents"), dim = 1024, salt = "qc")
      .orderBy("doc_id")
  }

  /** Reliability-diagram calibration of the hashed linear classifier
    * against a deterministic reference label (`lang = 'en'`), through
    * the SCALABLE quantile path — the oracle's native
    * `ntile(10) OVER (ORDER BY score, doc_id)` hash-matching the
    * bucketed-rank reconstruction is the proof, same as `rfm_segments`. */
  val classifierCalibration: Q = q("classifier_calibration", {
    s"WITH ${duckScoreCtes(1024, "qc")},\n" +
    s"""lab AS (
       |  SELECT a.doc_id, a.n_tokens, a.score_sum_micro,
       |    CAST(a.score_sum_micro AS DOUBLE)
       |      / (CAST(a.n_tokens AS DOUBLE) * 1000000.0) AS score,
       |    d.lang = 'en' AS label
       |  FROM agg a JOIN documents d USING (doc_id)),
       |r AS (SELECT lab.*, ntile(10) OVER (ORDER BY score, doc_id) AS bin
       |      FROM lab)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(sum(score_sum_micro) AS BIGINT) AS sum_score_micro,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS pos_rate,
       |  CAST(sum(score_sum_micro) AS DOUBLE)
       |    / (CAST(sum(n_tokens) AS DOUBLE) * 1000000.0) AS mean_score
       |FROM r GROUP BY bin ORDER BY bin""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val scored = operators.TextAnalysis.hashedLinearScore(
      docs, dim = 1024, salt = "qc")
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("label")),
        "doc_id")
    operators.TextAnalysis.calibrationProfile(scored,
      scoreCol = "score", labelCol = "label", idCol = "doc_id",
      exactNumCol = "score_sum_micro", exactDenCol = "n_tokens", bins = 10)
      .select("bin", "n_docs", "n_pos", "sum_score_micro", "sum_tokens",
        "pos_rate", "mean_score")
  }

  /** Per-source token-budget selection ([[operators.Sampling
    * .budgetCutPerGroup]]): best classifier-scored docs per source until
    * 500 tokens fill — the unit a pretraining mixture is actually
    * declared in (cutting by row fraction skews toward long docs). */
  val qualityBudgetCut: Q = q("quality_budget_cut", {
    s"WITH ${duckScoreCtes(1024, "qc")},\n" +
    s"""sc AS (
       |  SELECT d.source, a.doc_id, a.n_tokens,
       |    CAST(a.score_sum_micro AS DOUBLE)
       |      / (CAST(a.n_tokens AS DOUBLE) * 1000000.0) AS score
       |  FROM agg a JOIN documents d USING (doc_id)),
       |r AS (
       |  SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sc)
       |SELECT source, doc_id, n_tokens FROM r WHERE cum <= 500
       |ORDER BY source, doc_id""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val scored = operators.TextAnalysis.hashedLinearScore(
      docs, dim = 1024, salt = "qc")
      .join(docs.select("doc_id", "source"), "doc_id")
    operators.Sampling.budgetCutPerGroup(scored, Seq("source"),
      scoreCol = "score", idCol = "doc_id", weightCol = "n_tokens",
      // 500 BINDS at every oracle-checked scale (max per-source token
      // total is ~1550-1650 at sf0.001/sf0.01) — a budget the data never
      // reaches would leave the cut itself untested (review finding)
      budget = 500L)
      .select("source", "doc_id", "n_tokens")
      .orderBy("source", "doc_id")
  }

  /** Positional phrase search ([[operators.PhraseSearch]]): exact
    * token-sequence retrieval via positional-posting joins; the oracle
    * slides a window over the split token list and compares the joined
    * 3-gram — position-anchored on both sides, so overlapping
    * occurrences count identically. */
  val phraseSearchGate: Q = q("phrase_search",
    """WITH W AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |pos AS (
      |  SELECT doc_id, unnest(range(greatest(len(w) - 2, 0))) AS i, w
      |  FROM W)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
      |FROM pos
      |WHERE array_to_string(w[i+1:i+3], ' ') = 'stream table hash'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.PhraseSearch.phraseMatches(
      t(s, dir, "documents").filter(col("text").isNotNull),
      "doc_id", "text", Seq("stream", "table", "hash"))
      .orderBy("doc_id")
  }

  /** Materialized positional index (round 6): postings built ONCE,
    * persisted as an engine stream, then TWO phrase queries answered
    * from the persisted index — the corpus parquet is read exactly once
    * (the index build); repeat queries touch postings only
    * (PhraseIndexSpec pins that at the file-scan level). The oracle
    * replays both phrases with the sliding-window formulation. */
  val phraseSearchIndexed: Q = q("phrase_search_indexed",
    """WITH W AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |hits AS (
      |  SELECT 'stream table hash' AS phrase, doc_id,
      |    CAST(count(*) AS BIGINT) AS n_matches
      |  FROM (SELECT doc_id, unnest(range(greatest(len(w) - 2, 0))) AS i, w
      |        FROM W) p
      |  WHERE array_to_string(w[i+1:i+3], ' ') = 'stream table hash'
      |  GROUP BY doc_id
      |  UNION ALL
      |  SELECT 'hash join', doc_id, CAST(count(*) AS BIGINT)
      |  FROM (SELECT doc_id, unnest(range(greatest(len(w) - 1, 0))) AS i, w
      |        FROM W) p
      |  WHERE array_to_string(w[i+1:i+2], ' ') = 'hash join'
      |  GROUP BY doc_id)
      |SELECT phrase, doc_id, n_matches FROM hits
      |ORDER BY phrase, doc_id""".stripMargin) { (s, dir) =>
    val tmp = gateRoot("graft-phraseidx")
    val e = new engine.Engine(s, tmp)
    val postings = operators.PhraseSearch.buildPostings(
      t(s, dir, "documents").filter(col("text").isNotNull), "doc_id", "text")
    e.createStream("postings", graft.schema.StreamSchema.fromStruct(postings.schema))
    e.appendRows("postings", postings) // the ONLY corpus scan
    val idx = e.readStream("postings")
    val q1 = operators.PhraseSearch
      .phraseMatchesIndexed(idx, Seq("stream", "table", "hash"))
      .select(lit("stream table hash").as("phrase"), col("doc_id"), col("n_matches"))
    val q2 = operators.PhraseSearch
      .phraseMatchesIndexed(idx, Seq("hash", "join"))
      .select(lit("hash join").as("phrase"), col("doc_id"), col("n_matches"))
    q1.unionByName(q2).orderBy("phrase", "doc_id")
  }

  /** BM25 top-k retrieval scoring against a fixed query-term set (see
    * [[operators.TextAnalysis.bm25TopK]]). Constants are written as the
    * same double EXPRESSIONS in both engines ((1.2 + 1.0), not 2.2 —
    * the two parse to different doubles) so per-term micro-unit scores
    * agree bit-for-bit.
    */
  val bm25TopKGate: Q = q("bm25_topk", {
    val terms = Seq("spark", "hash", "window")
    val tfDefs = terms.zipWithIndex.map { case (term, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), t -> t = '$term')) AS BIGINT) AS tf_$i"
    }.mkString(",\n    ")
    val dfDefs = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i")
      .mkString(",\n    ")
    val perTerm = terms.indices.map(i =>
      s"""CAST(round(ln((n - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
         |      * (CAST(tf_$i AS DOUBLE) * (1.2 + 1.0))
         |      / (CAST(tf_$i AS DOUBLE)
         |         + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n)))
         |      * 1000000.0) AS BIGINT)""".stripMargin)
      .mkString("\n    + ")
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    $tfDefs
       |  FROM documents WHERE text IS NOT NULL),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sdl,
       |    $dfDefs
       |  FROM base),
       |sc AS (
       |  SELECT doc_id,
       |    $perTerm AS score_micro
       |  FROM base CROSS JOIN stats)
       |SELECT doc_id, score_micro FROM sc
       |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin
  }) { (s, dir) =>
    operators.TextAnalysis.bm25TopK(
      t(s, dir, "documents"), Seq("spark", "hash", "window"), k = 20)
  }

  /** Unicode NFC normalization via the native [[functions.NfcNormalize]]
    * codegen expression (Spark has no normalizer builtin; DuckDB ships
    * `nfc_normalize`). The transform decomposes every 'a' into
    * 'a'+U+0301 first — built from `unhex` UTF-8 bytes on the DuckDB
    * side and a numeric escape on the Spark side, because Spark's
    * `chr()` is mod-256 ASCII and a raw source literal could be
    * silently re-composed by an editor — then both engines must
    * re-compose to the same code points.
    */
  val unicodeNfc: Q = q("unicode_nfc",
    """SELECT doc_id,
      |  nfc_normalize(replace(text, 'a', 'a' || decode(unhex('CC81'))))
      |    AS norm_text
      |FROM documents WHERE text IS NOT NULL
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    functions.GraftFunctions.register(s)
    t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"),
        call_function("nfc_normalize",
          regexp_replace(col("text"), "a", "a\u0301")).as("norm_text"))
      .orderBy("doc_id")
  }

  /** Cross-document first-occurrence segment dedup (MassiveText-style
    * line dedup as a rewrite): Spark ranks within `md5(seg)` partitions,
    * the oracle within the segment text itself — identical modulo 128-bit
    * collisions. Same 8-word segmentation as `boilerplate_segments`. */
  val sentenceDedupGate: Q = q("sentence_dedup",
    """WITH W AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, unnest(w) AS x, unnest(range(len(w))) AS i FROM W),
      |seg AS (
      |  SELECT doc_id, i // 8 AS seg_id, string_agg(x, ' ' ORDER BY i) AS seg
      |  FROM tok GROUP BY doc_id, i // 8),
      |rk AS (
      |  SELECT doc_id, seg_id, seg,
      |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_id) AS rk
      |  FROM seg)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
      |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  coalesce(string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY seg_id),
      |           '') AS clean_text
      |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    operators.TextAnalysis.sentenceDedup(t(s, dir, "documents"),
      windowWords = 8)
      .orderBy("doc_id")
  }

  /** Temperature (α=0.5) resampling over lang — the threshold table is
    * computed from the data in both engines with the identical
    * round-6-then-bucket recipe (see [[operators.Sampling.temperatureSample]]). */
  val temperatureSampleGate: Q = q("temperature_sample", {
    val b = operators.Sampling.duckdbHashBucket("doc_id", "tmp", 10000)
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |m AS (SELECT MIN(n) AS nmin FROM c),
       |r AS (SELECT lang,
       |  CAST(round(round(pow(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE), 0.5), 6)
       |       * 10000) AS BIGINT) AS thr
       |  FROM c CROSS JOIN m)
       |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
       |WHERE $b < r.thr
       |ORDER BY d.doc_id""".stripMargin }) { (s, dir) =>
    operators.Sampling.temperatureSample(
      t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
      alpha = 0.5, salt = "tmp")
      .select("doc_id", "lang").orderBy("doc_id")
  }

  // ---------------------------------------------------------------------

  /** PMI collocations ([[operators.Vocab.pmiCollocations]]): the oracle
    * replays the same fixed-order double expression over exact integer
    * counts; both unigram and total frames restrict to ≥2-token docs
    * exactly as the operator does. */
  val pmiCollocationsGate: Q = q("pmi_collocations",
    """WITH W AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT unnest(list_slice(w, 1, len(w) - 1)) AS w1,
      |         unnest(list_slice(w, 2, len(w))) AS w2 FROM W),
      |bc AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2
      |       HAVING count(*) >= 5),
      |uw AS (SELECT unnest(w) AS word FROM W),
      |uc AS (SELECT word, count(*) AS ucnt FROM uw GROUP BY word),
      |tot AS (SELECT CAST(sum(len(w)) AS DOUBLE) AS n1,
      |               CAST(sum(len(w) - 1) AS DOUBLE) AS n2 FROM W),
      |sc AS (
      |  SELECT bc.w1, bc.w2, bc.cnt,
      |    CAST(round(ln((bc.cnt / n2) / ((u1.ucnt / n1) * (u2.ucnt / n1)))
      |         * 1000000) AS BIGINT) AS pmi_micro
      |  FROM bc JOIN uc u1 ON bc.w1 = u1.word
      |          JOIN uc u2 ON bc.w2 = u2.word
      |          CROSS JOIN tot)
      |SELECT w1, w2, cnt, pmi_micro,
      |  CAST(row_number() OVER (ORDER BY pmi_micro DESC, w1, w2) AS BIGINT)
      |    AS rn
      |FROM sc QUALIFY rn <= 25 ORDER BY rn""".stripMargin) { (s, dir) =>
    operators.Vocab.pmiCollocations(t(s, dir, "documents"), minCount = 5L,
      k = 25)
  }

  /** Distinct-n diversity ([[operators.TextAnalysis.ngramDiversity]]):
    * the oracle replays the same micro-unit ratio over exact per-source
    * unigram/bigram counts; dual-unnest zips positionally in DuckDB just
    * as `zip_with` does in Spark, and the inner join drops sources with
    * no ≥2-token doc in both engines. */
  val ngramDiversityGate: Q = q("ngram_diversity",
    """WITH W AS (
      |  SELECT source, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |uni AS (SELECT source, unnest(w) AS g FROM W),
      |u1 AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS total_1,
      |         CAST(count(DISTINCT g) AS BIGINT) AS distinct_1
      |  FROM uni GROUP BY source),
      |bi AS (
      |  SELECT source, unnest(list_slice(w, 1, len(w) - 1)) AS a,
      |         unnest(list_slice(w, 2, len(w))) AS b
      |  FROM W WHERE len(w) >= 2),
      |u2 AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS total_2,
      |         CAST(count(DISTINCT a || ' ' || b) AS BIGINT) AS distinct_2
      |  FROM bi GROUP BY source)
      |SELECT u1.source, total_1, distinct_1,
      |  CAST(round(distinct_1 * 1000000.0 / total_1) AS BIGINT)
      |    AS ratio1_micro,
      |  total_2, distinct_2,
      |  CAST(round(distinct_2 * 1000000.0 / total_2) AS BIGINT)
      |    AS ratio2_micro
      |FROM u1 JOIN u2 USING (source) ORDER BY source""".stripMargin) {
    (s, dir) =>
      operators.TextAnalysis.ngramDiversity(t(s, dir, "documents"))
        .select("source", "total_1", "distinct_1", "ratio1_micro",
          "total_2", "distinct_2", "ratio2_micro")
        .orderBy("source")
  }

  /** Funnel reach ([[operators.Sequences.funnel]]): the oracle replays the
    * greedy fold as classic min-timestamp chaining (earliest match for step
    * k never hurts reachability of step k+1, so the two formulations agree
    * row-for-row); strict `>` on both sides keeps equal-timestamp events
    * from advancing the funnel in either engine. */
  val funnelSteps: Q = q("funnel_steps",
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT step, step_name, users FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
      |    CAST(count(*) AS BIGINT) AS users FROM s1
      |  UNION ALL SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3) f
      |ORDER BY step""".stripMargin) { (s, dir) =>
    operators.Sequences.funnel(t(s, dir, "events"),
      Seq("view", "click", "purchase"))
  }

  /** Weekly cohort retention ([[operators.Sequences.cohortRetention]]):
    * day numbers are integer days since the epoch on both sides (Spark:
    * epoch-nano `div`; DuckDB: date_diff from 1970-01-01), so there is no
    * timezone or week-anchor convention to disagree on. */
  val cohortRetentionGate: Q = q("cohort_retention",
    """WITH d AS (
      |  SELECT user_id AS u,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |c AS (SELECT u, min(day) AS cohort_day FROM d GROUP BY u),
      |a AS (
      |  SELECT DISTINCT d.u, c.cohort_day,
      |    (d.day - c.cohort_day) // 7 AS offset_week
      |  FROM d JOIN c ON d.u = c.u)
      |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
      |  CAST(offset_week AS BIGINT) AS offset_week,
      |  CAST(count(*) AS BIGINT) AS users
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    operators.Sequences.cohortRetention(t(s, dir, "events"))
  }

  /** First-order event-type transition matrix
    * ([[operators.Sequences.transitionMatrix]]): lead() per user ordered by
    * (ts, event_id) — the unique id tie-break makes the sequence, and hence
    * the counts, engine-independent; p_micro is floor of one IEEE division
    * of two exact longs, bit-identical across engines. */
  /** Frequent co-occurrence pairs ([[operators.Sequences.frequentPairs]],
    * round 6 cont.): per-user event-type baskets, pair support and
    * all-integer lift. The oracle builds pairs by a basket self-join —
    * the Spark side must produce the identical pair set from its
    * row-local array combinations. */
  val frequentPairsGate: Q = q("frequent_pairs",
    """WITH b AS (
      |  SELECT user_id, list_sort(list_distinct(list(event_type))) AS items
      |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY user_id),
      |e AS (SELECT user_id, unnest(items) AS item FROM b),
      |p AS (
      |  SELECT x.item AS item_a, y.item AS item_b
      |  FROM e x JOIN e y ON x.user_id = y.user_id AND x.item < y.item),
      |s AS (SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS support
      |  FROM p GROUP BY 1, 2 HAVING count(*) >= 3),
      |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM b)
      |SELECT s.item_a, s.item_b, s.support,
      |  CAST(s.support * n.nb * 1000000 // (ca.c * cb.c) AS BIGINT)
      |    AS lift_micro
      |FROM s JOIN ic ca ON s.item_a = ca.item
      |JOIN ic cb ON s.item_b = cb.item CROSS JOIN n
      |ORDER BY item_a, item_b""".stripMargin) { (s, dir) =>
    operators.Sequences.frequentPairs(t(s, dir, "events"),
      "user_id", "event_type", minSupport = 3L)
      .orderBy("item_a", "item_b")
  }

  val eventTransitions: Q = q("event_transitions",
    """WITH p AS (
      |  SELECT event_type AS cur,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS nxt
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND user_id IS NOT NULL),
      |c AS (
      |  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt FROM p
      |  WHERE nxt IS NOT NULL GROUP BY cur, nxt)
      |SELECT cur, nxt, cnt,
      |  CAST(floor(cnt * 1000000.0 / sum(cnt) OVER (PARTITION BY cur))
      |    AS BIGINT) AS p_micro
      |FROM c ORDER BY cur, nxt""".stripMargin) { (s, dir) =>
    operators.Sequences.transitionMatrix(t(s, dir, "events"))
  }

  /** Weighted PageRank by power iteration ([[operators.PageRank.run]]) over
    * the supplier-nation → customer-nation trade graph (edge weight =
    * lineitem count — exact integers, so the row-stochastic normalization
    * divides identical doubles in both engines). The oracle unrolls the
    * same three iterations as CTEs; ranks are floored at 1e9 to absorb
    * sum-order fp noise (≤1 ulp) in the ≤|V|-term inflow sums. The SQL
    * spells teleport as (1.0 - 0.85)/n — the same IEEE ops the Scala
    * `(1.0 - damping) / n` performs — not a 0.15 literal, which differs
    * from 1.0-0.85 by one ulp. */
  val pageRankNations: Q = q("pagerank_nations",
    """WITH e AS (
      |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
      |    CAST(count(*) AS DOUBLE) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |ow AS (SELECT src, sum(w) AS wsum FROM e GROUP BY src),
      |p AS (SELECT e.src, e.dst, e.w / ow.wsum AS p
      |      FROM e JOIN ow ON e.src = ow.src),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nation),
      |r0 AS (SELECT n_nationkey AS node, 1.0 / (SELECT n FROM nn) AS rank
      |       FROM nation),
      |r1 AS (
      |  SELECT nt.n_nationkey AS node,
      |    (1.0 - 0.85) / (SELECT n FROM nn)
      |      + 0.85 * coalesce(sum(r0.rank * p.p), 0.0) AS rank
      |  FROM nation nt
      |  LEFT JOIN p ON p.dst = nt.n_nationkey
      |  LEFT JOIN r0 ON r0.node = p.src
      |  GROUP BY 1),
      |r2 AS (
      |  SELECT nt.n_nationkey AS node,
      |    (1.0 - 0.85) / (SELECT n FROM nn)
      |      + 0.85 * coalesce(sum(r1.rank * p.p), 0.0) AS rank
      |  FROM nation nt
      |  LEFT JOIN p ON p.dst = nt.n_nationkey
      |  LEFT JOIN r1 ON r1.node = p.src
      |  GROUP BY 1),
      |r3 AS (
      |  SELECT nt.n_nationkey AS node,
      |    (1.0 - 0.85) / (SELECT n FROM nn)
      |      + 0.85 * coalesce(sum(r2.rank * p.p), 0.0) AS rank
      |  FROM nation nt
      |  LEFT JOIN p ON p.dst = nt.n_nationkey
      |  LEFT JOIN r2 ON r2.node = p.src
      |  GROUP BY 1)
      |SELECT n_name, CAST(floor(rank * 1000000000.0) AS BIGINT) AS rank_nano
      |FROM r3 JOIN nation ON node = n_nationkey
      |ORDER BY n_name""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val edges = li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .groupBy(su("s_nationkey").as("src"), c("c_nationkey").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    // runWithCleanup's LAZY frame (run() eagerly checkpoints, which
    // executes the iterations before the plan can be inspected): the
    // gate's plan must stay observable for PlanShapeSpec's persisted-
    // transition-frame assertion; bench clearCache reclaims the caches
    operators.PageRank.runWithCleanup(edges, n.select("n_nationkey"), iterations = 3)._1
      .join(n, col("node") === n("n_nationkey"))
      .select(col("n_name"),
        floor(col("rank") * lit(1000000000.0)).cast("long").as("rank_nano"))
      .orderBy("n_name")
  }

  /** Approximate quantiles with an in-plan exactness self-check: the gate
    * emits the exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, rounded like `length_quantiles`) and a verdict that
    * `percentile_approx` (the t-digest-style mergeable sketch — the 100 TB
    * path, one pass, bounded memory) lands within 2% of the value span of
    * the exact answer; assert_true fails the whole run on sketch drift, so
    * the approx path can never silently rot (same pattern as
    * `approx_distinct`). */
  val approxQuantiles: Q = q("approx_quantiles",
    """SELECT round(quantile_cont(value, 0.25), 6) AS p25,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.75), 6) AS p75,
      |  TRUE AS approx_ok
      |FROM events WHERE value IS NOT NULL""".stripMargin) { (s, dir) =>
    t(s, dir, "events").filter(col("value").isNotNull)
      .agg(
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"),
        expr("percentile_approx(value, array(0.25D, 0.5D, 0.75D), 10000)")
          .as("ap"),
        (max(col("value")) - min(col("value"))).as("span"))
      .withColumn("drift",
        greatest(
          abs(col("ap")(0) - col("p25")),
          abs(col("ap")(1) - col("p50")),
          abs(col("ap")(2) - col("p75"))) / col("span"))
      .withColumn("approx_ok",
        when(assert_true(col("drift") <= lit(0.02),
          concat(lit("percentile_approx drifted: rel="), col("drift")))
          .isNull, col("drift") <= lit(0.02)))
      .select("p25", "p50", "p75", "approx_ok")
  }

  /** k-anonymity / l-diversity audit ([[operators.Privacy]]): QI classes
    * over (nation, market segment), sensitive attribute = account-balance
    * thousand-bucket; kept ⇔ n ≥ 8 ∧ l ≥ 2. One hash shuffle on the QI
    * tuple in both engines. */
  val kAnonymityProfile: Q = q("k_anonymity_profile",
    """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
      |    AS BIGINT) AS l,
      |  (count(*) >= 8 AND
      |   count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 2)
      |    AS kept
      |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    operators.Privacy.anonymityProfile(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"),
      floor(col("c_acctbal") / lit(1000.0)).cast("long"), k = 8L, minL = 2L)
  }

  /** Skip-gram co-occurrence ([[operators.Vocab.skipgramCooc]]): the
    * oracle flattens the same nested list comprehension — pairs (w[i],
    * w[j]) for j−i ∈ [1,3] — entirely inside the scan projection; only
    * the count aggregate shuffles in either engine. */
  val skipgramCoocGate: Q = q("skipgram_cooc",
    """WITH W AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
      |pl AS (
      |  SELECT unnest(flatten(list_transform(range(1, len(w)), i ->
      |    list_transform(list_slice(w, i + 1, least(i + 3, len(w))),
      |      x -> [w[i], x])))) AS p
      |  FROM W),
      |c AS (
      |  SELECT p[1] AS wa, p[2] AS wb, CAST(count(*) AS BIGINT) AS cnt
      |  FROM pl GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT wa, wb, cnt,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, wa, wb) AS BIGINT) AS rn
      |FROM c QUALIFY rn <= 50 ORDER BY rn""".stripMargin) { (s, dir) =>
    operators.Vocab.skipgramCooc(t(s, dir, "documents"), window = 3,
      minCount = 5L, k = 50)
  }

  /** Leakage-safe train/val/test split — the capstone guard against
    * train/test contamination (Lee 2021 §6, Dodge 2021): near-duplicate
    * CLUSTERS, not documents, are the split unit, so a test document can
    * never have a near-copy in train by construction. Composition:
    * minhash-LSH pairs → connected components → salted-hash split on
    * cluster id ([[operators.Sampling.hashSplit]] — the same cross-engine
    * hash the plain `sample_split` gate uses, so the oracle replays the
    * whole thing: recursive-CTE components + the identical bucket
    * arithmetic). Output: per split, document and cluster counts. */
  val leakageSafeSplit: Q = q("leakage_safe_split", {
    val pairsSql = duckJaccardPairs(n = 2, threshold = 0.5, leftPred = "true")
    val b = operators.Sampling.duckdbHashBucket("cluster_id", "ls1", 10000)
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |cl AS (
       |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY id),
       |bk AS (SELECT doc_id, cluster_id, $b AS bucket FROM cl)
       |SELECT CASE WHEN bucket < 8000 THEN 'train'
       |            WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
       |FROM bk GROUP BY 1 ORDER BY split""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = operators.Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
    val clusters = operators.Dedup.duplicateClusters(
      docs.select(col("doc_id").cast("long").as("doc_id")), pairs,
      idCol = "doc_id")
      .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
    operators.Sampling.hashSplit(clusters, "cluster_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "ls1")
      .groupBy("split")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("cluster_id")).cast("long").as("n_clusters"))
      .orderBy("split")
  }

  /** Rolling 7-day active users ([[operators.Sequences.rollingActiveUsers]]):
    * the oracle expands each distinct (user, epoch-day) membership to its
    * seven window-end days with the same row-local range unnest, then
    * count-distincts per day — identical integer day arithmetic on both
    * sides. */
  val rollingActiveUsersGate: Q = q("rolling_active_users",
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |ex AS (SELECT u, unnest(range(day, day + 7)) AS d FROM ud),
      |days AS (SELECT DISTINCT day AS d FROM ud)
      |SELECT CAST(d AS BIGINT) AS day,
      |  CAST(count(DISTINCT u) AS BIGINT) AS active_users
      |FROM ex JOIN days USING (d) GROUP BY d ORDER BY day""".stripMargin) {
    (s, dir) =>
      operators.Sequences.rollingActiveUsers(t(s, dir, "events"))
  }

  /** Cross-source quantile normalization ([[operators.Ranks]]): the gate's
    * plan uses the bucketed two-pass global rank (no single-partition
    * window anywhere — PlanShapeSpec pins it); the oracle IS the plain
    * `row_number() OVER (ORDER BY ...)` formulation, so the equivalence of
    * the scalable plan and the textbook definition is exactly what the
    * hash compare proves. The one double expression (the quantile
    * position) is spelled identically on both sides. */
  val quantileNormalizeGate: Q = q("quantile_normalize",
    """WITH v AS (
      |  SELECT doc_id, source, n_chars AS val FROM documents
      |  WHERE n_chars IS NOT NULL),
      |g AS (
      |  SELECT doc_id, source, val,
      |    row_number() OVER (PARTITION BY source ORDER BY val, doc_id) AS rg,
      |    count(*) OVER (PARTITION BY source) AS ng
      |  FROM v),
      |s AS (
      |  SELECT val AS sv,
      |    row_number() OVER (ORDER BY val, doc_id) - 1 AS idx
      |  FROM v),
      |n AS (SELECT count(*) AS nn FROM v),
      |t AS (
      |  SELECT doc_id, source, val,
      |    CAST(floor((CASE WHEN ng = 1 THEN 0.0
      |                     ELSE (rg - 1) * 1.0 / (ng - 1) END)
      |      * (nn - 1)) AS BIGINT) AS tgt
      |  FROM g CROSS JOIN n)
      |SELECT t.doc_id, t.source, CAST(t.val AS BIGINT) AS val,
      |  CAST(s.sv AS BIGINT) AS norm
      |FROM t JOIN s ON s.idx = t.tgt ORDER BY t.doc_id""".stripMargin) {
    (s, dir) =>
      operators.Ranks.quantileNormalize(
        t(s, dir, "documents").select("doc_id", "source", "n_chars")
          .filter(col("n_chars").isNotNull)
          .withColumnRenamed("n_chars", "val"),
        groupCol = "source", valueCol = "val", idCol = "doc_id")
        .select(col("doc_id"), col("source"), col("val").cast("long").as("val"),
          col("norm").cast("long").as("norm"))
        .orderBy("doc_id")
  }

  /** Release-pipeline capstone for the final round-4 tranche: model-based
    * quality scores ([[operators.TextAnalysis.hashedLinearScore]]) →
    * per-source top-60% keep → cross-source quantile-normalized score
    * reporting ([[operators.Ranks.quantileNormalize]]) → leakage-safe
    * cluster split of the kept corpus — one lazy DAG from raw documents to
    * a per-(split, source) release report with calibrated mean quality.
    * Every stage reuses an already-oracled recipe; the composition is
    * value-oracled end-to-end (mean_norm is floor of one IEEE division of
    * exact longs). */
  val pipelineReleaseV1: Q = q("pipeline_release_v1", {
    val b = operators.Sampling.duckdbHashBucket("cluster_id", "rel1", 10000)
    s"WITH RECURSIVE\n${duckScoreCtePrefix(1024, "qc")},\n" +
    s"""scs AS (
       |  SELECT a.doc_id, d.source, a.sc FROM (
       |    SELECT doc_id, CAST(sum(wm) AS BIGINT) AS sc FROM wm
       |    GROUP BY doc_id) a JOIN documents d USING (doc_id)),
       |kp AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      row_number() OVER (PARTITION BY source ORDER BY sc DESC, doc_id)
       |        AS rn,
       |      count(*) OVER (PARTITION BY source) AS n
       |    FROM scs) t
       |  WHERE rn <= ceil(0.6 * n)),
       |g AS (
       |  SELECT doc_id, source, sc,
       |    row_number() OVER (PARTITION BY source ORDER BY sc, doc_id) AS rg,
       |    count(*) OVER (PARTITION BY source) AS ng
       |  FROM scs),
       |st AS (
       |  SELECT sc AS sv, row_number() OVER (ORDER BY sc, doc_id) - 1 AS idx
       |  FROM scs),
       |nnt AS (SELECT count(*) AS nnn FROM scs),
       |nrm AS (
       |  SELECT g.doc_id, g.source,
       |    CAST(floor((CASE WHEN ng = 1 THEN 0.0
       |                     ELSE (rg - 1) * 1.0 / (ng - 1) END)
       |      * (nnn - 1)) AS BIGINT) AS tgt
       |  FROM g CROSS JOIN nnt),
       |nv AS (
       |  SELECT nrm.doc_id, nrm.source, st.sv AS norm
       |  FROM nrm JOIN st ON st.idx = nrm.tgt),
       |sh AS (
       |  SELECT d.doc_id, ${duckShingles(2)} AS s
       |  FROM documents d JOIN kp USING (doc_id)
       |  WHERE len(string_split(text, ' ')) >= 2),
       |shg AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS gram FROM sh),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      count(*) AS i, any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
       |    FROM shg a JOIN shg b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2)
       |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM kp
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |cl AS (
       |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY id),
       |bk AS (SELECT doc_id, cluster_id, $b AS bucket FROM cl),
       |sp AS (
       |  SELECT doc_id, CASE WHEN bucket < 8000 THEN 'train'
       |                      WHEN bucket < 9000 THEN 'val'
       |                      ELSE 'test' END AS split
       |  FROM bk)
       |SELECT sp.split, nv.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(floor(CAST(sum(nv.norm) AS DOUBLE) / count(*)) AS BIGINT)
       |    AS mean_norm
       |FROM sp JOIN nv USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin }) { (s, dir) =>
    val docs = t(s, dir, "documents")
    // four consumers (top-frac keep, the normalizer's rank + boundary
    // probe, the report join): persist so the token explode + hash
    // scoring runs ONE corpus pass, not four
    val scored = operators.TextAnalysis.hashedLinearScore(
      docs, dim = 1024, salt = "qc")
      .select(col("doc_id"), col("score_sum_micro").as("sc"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = operators.Sampling.topFractionPerGroup(
      scored.select("source", "doc_id", "sc"),
      Seq("source"), "sc", "doc_id", frac = 0.6)
      .select("doc_id")
    val normed = operators.Ranks.quantileNormalize(
      scored.select("doc_id", "source", "sc"), "source", "sc", "doc_id")
      .select(col("doc_id"), col("source"), col("norm"))
    val keptDocs = docs.join(kept, "doc_id")
    val pairs = operators.Dedup.minhashLsh(keptDocs, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
    val clusters = operators.Dedup.duplicateClusters(
      keptDocs.select(col("doc_id").cast("long").as("doc_id")), pairs,
      idCol = "doc_id")
      .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
    operators.Sampling.hashSplit(clusters, "cluster_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "rel1")
      .join(normed, "doc_id")
      .groupBy("split", "source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        floor(sum(col("norm")).cast("double") / count(lit(1)))
          .cast("long").as("mean_norm"))
      .orderBy("split", "source")
  }

  /** RFM quintile segmentation ([[operators.Sequences.rfmSegments]]): the
    * Spark plan derives each quintile from the bucketed global rank via
    * exact NTILE arithmetic; the oracle uses DuckDB's native
    * `ntile(5) OVER (ORDER BY … DESC, user_id)` — the hash match proves
    * the scalable reconstruction ≡ the window function. */
  val rfmSegmentsGate: Q = q("rfm_segments",
    """WITH pu AS (
      |  SELECT user_id AS u,
      |    max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
      |      AS recency_day,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monet
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id),
      |sg AS (
      |  SELECT u, recency_day, freq, monet,
      |    CAST(ntile(5) OVER (ORDER BY recency_day DESC, u) AS BIGINT)
      |      AS r_seg,
      |    CAST(ntile(5) OVER (ORDER BY freq DESC, u) AS BIGINT) AS f_seg,
      |    CAST(ntile(5) OVER (ORDER BY monet DESC, u) AS BIGINT) AS m_seg
      |  FROM pu)
      |SELECT u, CAST(recency_day AS BIGINT) AS recency_day, freq, monet,
      |  r_seg, f_seg, m_seg,
      |  CAST(r_seg AS VARCHAR) || CAST(f_seg AS VARCHAR)
      |    || CAST(m_seg AS VARCHAR) AS segment
      |FROM sg ORDER BY u""".stripMargin) { (s, dir) =>
    operators.Sequences.rfmSegments(t(s, dir, "events"))
      .select(col("u"), col("recency_day").cast("long").as("recency_day"),
        col("freq"), col("monet"), col("r_seg"), col("f_seg"), col("m_seg"),
        col("segment"))
      .orderBy("u")
  }

  /** Gaps-and-islands sessionization ([[operators.Sequences.sessionize]],
    * 30-minute gap): lag/flag/cumsum with the unique event id as the
    * ordering tie-break; the oracle replays the identical window chain on
    * raw epoch NANOS on both sides — DuckDB's `epoch_ns` is nano-exact for
    * both physical `ts` forms (TIMESTAMP → micros·1000, TIMESTAMP_NS →
    * full nanos), so sub-microsecond values can never flip the strict `>`
    * gap comparison or the emitted bounds (round-4 advice item #1). */
  val sessionizeGate: Q = q("sessionize_islands",
    """WITH e AS (
      |  SELECT user_id AS u, event_id,
      |    epoch_ns(ts) AS t
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |l AS (
      |  SELECT u, t, event_id,
      |    lag(t) OVER (PARTITION BY u ORDER BY t, event_id) AS prev
      |  FROM e),
      |f AS (
      |  SELECT u, t,
      |    CASE WHEN prev IS NULL OR t - prev > 1800000000000 THEN 1
      |         ELSE 0 END AS nw,
      |    event_id
      |  FROM l),
      |s AS (
      |  SELECT u, t,
      |    CAST(sum(nw) OVER (PARTITION BY u ORDER BY t, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM f)
      |SELECT u, session_id,
      |  CAST(min(t) AS BIGINT) AS session_start,
      |  CAST(max(t) AS BIGINT) AS session_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY u, session_id
      |ORDER BY u, session_id""".stripMargin) { (s, dir) =>
    operators.Sequences.sessionize(t(s, dir, "events"),
      gapNanos = 1800L * 1000000000L)
  }

  /** Session-scoped funnel: sessions (30-min islands over ALL activity)
    * that contain view → click → purchase in order — the composition of
    * [[operators.Sequences.eventSessions]] and [[operators.Sequences
    * .funnel]] (the funnel's entity key becomes user:session). The oracle
    * replays islands then min-chains WITHIN each (user, session). */
  val sessionFunnel: Q = q("session_funnel",
    """WITH e AS (
      |  SELECT user_id AS u, event_id, event_type,
      |    epoch_ns(ts) AS t
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |l AS (
      |  SELECT u, event_id, event_type, t,
      |    lag(t) OVER (PARTITION BY u ORDER BY t, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT u, event_type, t,
      |    CAST(sum(CASE WHEN prev IS NULL OR t - prev > 1800000000000
      |                  THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY u ORDER BY t, event_id
      |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM l),
      |s1 AS (
      |  SELECT u, sid, min(t) AS t1 FROM s WHERE event_type = 'view'
      |  GROUP BY u, sid),
      |s2 AS (
      |  SELECT s.u, s.sid, min(s.t) AS t2 FROM s
      |  JOIN s1 ON s.u = s1.u AND s.sid = s1.sid AND s.t > s1.t1
      |  WHERE s.event_type = 'click' GROUP BY s.u, s.sid),
      |s3 AS (
      |  SELECT s.u, s.sid, min(s.t) AS t3 FROM s
      |  JOIN s2 ON s.u = s2.u AND s.sid = s2.sid AND s.t > s2.t2
      |  WHERE s.event_type = 'purchase' GROUP BY s.u, s.sid)
      |SELECT step, step_name, sessions FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
      |    CAST(count(*) AS BIGINT) AS sessions FROM s1
      |  UNION ALL SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3) f
      |ORDER BY step""".stripMargin) { (s, dir) =>
    val ev = operators.Sequences.eventSessions(t(s, dir, "events"),
      gapNanos = 1800L * 1000000000L)
    val keyed = ev.select(
      concat_ws(":", col("user_id"), col("session_id")).as("sk"),
      col("ts"), col("event_type"))
    operators.Sequences.funnel(keyed, Seq("view", "click", "purchase"),
      userCol = "sk", typeCol = "event_type", timeCol = "ts")
      .withColumnRenamed("users", "sessions")
  }

  /** Funnel time-to-convert: for users completing view → click → purchase
    * (min-timestamp chaining, the oracle-equivalent formulation of
    * [[operators.Sequences.funnel]]), the first-view → first-qualifying-
    * purchase duration in nanos — count, floor-mean, min, max. All longs;
    * the mean is integer division of positive longs (identical truncation
    * in both engines). Plan shape: three filtered aggregates chained by
    * co-partitioned equi-joins on the user key. */
  val funnelDurations: Q = q("funnel_durations",
    """WITH e AS (
      |  SELECT user_id AS u, event_type,
      |    CAST(epoch_ns(ts) AS BIGINT) AS t
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |s1 AS (SELECT u, min(t) AS t1 FROM e WHERE event_type = 'view'
      |       GROUP BY u),
      |s2 AS (
      |  SELECT e.u, min(e.t) AS t2, min(s1.t1) AS t1 FROM e
      |  JOIN s1 ON e.u = s1.u AND e.t > s1.t1
      |  WHERE e.event_type = 'click' GROUP BY e.u),
      |s3 AS (
      |  SELECT e.u, min(e.t) AS t3, min(s2.t1) AS t1 FROM e
      |  JOIN s2 ON e.u = s2.u AND e.t > s2.t2
      |  WHERE e.event_type = 'purchase' GROUP BY e.u),
      |d AS (SELECT t3 - t1 AS dur FROM s3)
      |SELECT CAST(count(*) AS BIGINT) AS n_converted,
      |  CAST(sum(dur) // count(*) AS BIGINT) AS mean_nanos,
      |  CAST(min(dur) AS BIGINT) AS min_nanos,
      |  CAST(max(dur) AS BIGINT) AS max_nanos
      |FROM d""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id").as("u"), col("event_type"),
        col("ts").cast("long").as("t"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("u").agg(min("t").as("t1"))
    val s2 = e.filter(col("event_type") === "click").as("e")
      .join(s1, Seq("u")).filter(col("t") > col("t1"))
      .groupBy("u").agg(min("t").as("t2"), min("t1").as("t1"))
    val s3 = e.filter(col("event_type") === "purchase").as("e")
      .join(s2, Seq("u")).filter(col("t") > col("t2"))
      .groupBy("u").agg(min("t").as("t3"), min("t1").as("t1"))
    s3.select((col("t3") - col("t1")).as("dur"))
      .agg(count(lit(1)).cast("long").as("n_converted"),
        expr("sum(dur) div count(*)").cast("long").as("mean_nanos"),
        min("dur").cast("long").as("min_nanos"),
        max("dur").cast("long").as("max_nanos"))
  }

  // ---------------------------------------------------------------------
  // URL / domain curation ([[operators.UrlCuration]]) — crawl-stage ops
  // ---------------------------------------------------------------------

  /** Deterministic synthetic URL per document (the documents table has no
    * crawl column; this derivation exercises every normalization rule:
    * mixed-case scheme+host, optional www, two-label public suffix,
    * default port, trailing slash, per-parity param ORDER, per-doc
    * tracking param, optional fragment). Spark Column and DuckDB CTE are
    * the same expression, kept adjacent so they cannot drift. */
  private def syntheticUrl: org.apache.spark.sql.Column = concat(
    lit("HTTPS://"),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    upper(col("source")),
    when(col("doc_id") % 4 === 0, lit(".co.uk")).otherwise(lit(".Example.com")),
    lit(":443/Path/"), (col("doc_id") % 50).cast("string"),
    when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, lit("?a=1&b=2")).otherwise(lit("?b=2&a=1")),
    lit("&utm_campaign="), col("doc_id").cast("string"),
    when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))

  private val duckSyntheticUrl: String =
    """SELECT doc_id,
      |  'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
      |  || upper(source)
      |  || CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.Example.com' END
      |  || ':443/Path/' || CAST(doc_id % 50 AS VARCHAR)
      |  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      |  || CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2' ELSE '?b=2&a=1' END
      |  || '&utm_campaign=' || CAST(doc_id AS VARCHAR)
      |  || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
      |FROM documents""".stripMargin

  /** The [[operators.UrlCuration]] normal form, spelled in DuckDB SQL
    * over a `raw(doc_id, url)` CTE: RFC 3986 syntax normalization +
    * tracking-param strip + bytewise param sort (same kill-list regex —
    * portable between Java regex and RE2). */
  private val duckUrlNorm: String =
    """parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
      |    regexp_extract(url, '\?([^#]*)', 1) AS qry
      |  FROM raw),
      |norm AS (
      |  SELECT doc_id, url, scheme,
      |    CASE WHEN scheme = 'https' AND auth LIKE '%:443' THEN regexp_replace(auth, ':443$', '')
      |         WHEN scheme = 'http' AND auth LIKE '%:80' THEN regexp_replace(auth, ':80$', '')
      |         ELSE auth END AS host,
      |    CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
      |         ELSE regexp_replace(pth, '/+$', '') END AS npath,
      |    array_to_string(list_sort(list_filter(string_split(qry, '&'),
      |      p -> NOT regexp_matches(p, '^(utm_[^=]*|ref|gclid|fbclid)=') AND p <> '')), '&') AS nq
      |  FROM parts),
      |canon AS (
      |  SELECT doc_id, url,
      |    scheme || '://' || host || npath ||
      |      CASE WHEN nq <> '' THEN '?' || nq ELSE '' END AS url_norm,
      |    host,
      |    CASE WHEN regexp_matches(host, '[^.]+\.co\.uk$')
      |         THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
      |         WHEN regexp_matches(host, '[^.]+\.ac\.uk$')
      |         THEN regexp_extract(host, '([^.]+\.ac\.uk)$', 1)
      |         ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS registered_domain
      |  FROM norm)""".stripMargin

  /** URL canonicalization: row-local, shuffle-free; every rule exercised
    * (case, port, slash, param order, tracking strip, fragment). */
  val urlNormalizeGate: Q = q("url_normalize",
    // NOTE: assembled without stripMargin — the embedded fragments are
    // pre-stripped and contain line-leading `||` concat operators that a
    // second stripMargin would truncate to `|`
    s"WITH raw AS ($duckSyntheticUrl),\n$duckUrlNorm\n" +
      "SELECT doc_id, url, url_norm, host, registered_domain\n" +
      "FROM canon ORDER BY doc_id") { (s, dir) =>
    operators.UrlCuration.normalized(
      t(s, dir, "documents").withColumn("url", syntheticUrl),
      "doc_id", "url")
      .orderBy("doc_id")
  }

  /** URL-level dedup: raw URLs are all DISTINCT (unique utm_campaign),
    * but the normal form collides in (d, d+300) pairs — dedup work done
    * purely by normalization. One shuffle keyed by url_norm. */
  val urlDedupGate: Q = q("url_dedup",
    s"WITH raw AS ($duckSyntheticUrl),\n$duckUrlNorm\n" +
      "SELECT url_norm, min(doc_id) AS canonical_id,\n" +
      "  CAST(count(*) AS BIGINT) AS n_fetches\n" +
      "FROM canon GROUP BY url_norm ORDER BY url_norm") { (s, dir) =>
    operators.UrlCuration.urlDedup(
      t(s, dir, "documents").withColumn("url", syntheticUrl),
      "doc_id", "url")
      .orderBy("url_norm")
  }

  /** Per-registered-domain cap (CommonCrawl politeness rule) through the
    * bounded-heap quota aggregate — the synthetic domain layout is
    * heavily skewed on purpose (every non-.co.uk doc shares
    * `example.com`), so the cap is doing real anti-SEO-farm work. */
  val domainCapGate: Q = q("domain_cap", {
    val b = operators.Sampling.duckdbHashBucket("doc_id", "dc", 1 << 30)
    s"WITH raw AS ($duckSyntheticUrl),\n$duckUrlNorm,\n" +
      "r AS (\n  SELECT registered_domain, doc_id,\n" +
      "    row_number() OVER (PARTITION BY registered_domain\n" +
      s"                       ORDER BY $b, doc_id) AS rn\n  FROM canon)\n" +
      "SELECT registered_domain, doc_id FROM r WHERE rn <= 20\n" +
      "ORDER BY registered_domain, doc_id" }) { (s, dir) =>
    operators.UrlCuration.domainCap(
      t(s, dir, "documents").select("doc_id", "source")
        .withColumn("url", syntheticUrl).drop("source"),
      "doc_id", "url", cap = 20, salt = "dc")
      .select("registered_domain", "doc_id")
      .orderBy("registered_domain", "doc_id")
  }

  /** Event-time interval join through the [[streaming.StreamJoin]]
    * builder's batch seam (same code path the stream-stream join runs):
    * view → purchase attribution of the same user within 30 minutes.
    * Both sides floor ts to micros identically (Spark `div 1000` on the
    * nano BIGINT, DuckDB CAST to TIMESTAMP), so bounds compare
    * bit-equal under either physical parquet form. */
  val intervalJoinGate: Q = q("interval_join",
    """WITH v AS (SELECT event_id AS view_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS vt
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id AS purch_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS pt
      |  FROM events WHERE event_type = 'purchase')
      |SELECT view_id, purch_id FROM v JOIN p ON v.user_id = p.user_id
      |  AND pt >= vt AND pt <= vt + 1800000000
      |ORDER BY view_id, purch_id""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events")
    def side(kind: String, idAs: String, tsAs: String) =
      e.filter(col("event_type") === kind).select(
        col("event_id").as(idAs), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as(tsAs))
    streaming.StreamJoin.intervalJoin(
      side("view", "view_id", "vts"), side("purchase", "purch_id", "pts"),
      Seq("user_id"), "vts", "pts",
      before = "0 seconds", after = "30 minutes",
      watermarkDelay = "10 minutes")
      .select("view_id", "purch_id")
      .orderBy("view_id", "purch_id")
  }

  val all: Seq[Q] = Seq(
    scanProject, filterPushdown, projectCast, grokExtract, subqueryCoalesce,
    neqDialect, toTimestampRoundtrip,
    eventsCount, aggSumQ1, distinctAgg, rollupAgg, cubeAgg, groupingSetsAgg,
    backtickIdent, windowTumbling, sessionWindows,
    tpchQ3, tpchQ5, tpchQ14, approxDistinct,
    changeStreamCompact, testNotNullFailures,
    joinInnerAgg, joinLeft, joinSemi, joinAnti, asofJoin,
    windowRank, windowRunningSum,
    topk, setUnion, setIntersect, setExcept,
    seedRoundtrip, tombstoneDelete, engineModel,
    dedupExact, dedupExactHash, textQuality, fingerprintMd5,
    dedupMinhashLsh, ngramJaccard, tfidfCosineGate, dedupSimhash,
    imageDhashNearDup, audioFpNearDup, videoFpNearDup, embeddingNearDup,
    embeddingNearDupScaled, incrementalEmbeddingDedup,
    incrementalEmbeddingDedupIndexed,
    annTopK, annLshTopK, annIvfTopK, hardNegativesGate, annRecallTruncated,
    sourceSimilarity, mapAccess,
    semanticDecontaminateGate, embeddingQuantize, randomProjectionGate,
    timeTravelAsOf,
    rangeJoinGate,
    textQualityExt, pipelineComposed,
    langId, tokenCountBpe, winnowFingerprint, memorizationProbeGate,
    multimodalStats, multimodalFeatures,
    sampleSplit, sampleQuota, sampleQuotaAgg, negativeSampleGate, mixturePlanGate,
    dupClusters, piiRedact, repetitionSignals,
    decontaminate, mixtureSample, packShards,
    multimodalDecode, multimodalResize, multimodalAreaResize,
    tpchQ10, lengthQuantiles, topTerms,
    datasetCard, dedupCanonical, audioDecode, videoFrames,
    skewSaltedAgg, skewSaltedJoin, tpchQ1, tpchQ18, jpegDecode,
    chunkWindows, pipelineCurationV2, bpeMerges, tfidfTerms,
    gopherFilter, qualityTopFrac, labelCohesion, pipelineQualityV3,
    unigramPpl, jsonExtract, tpchQ6, tpchQ13, tpchQ22,
    windowHopping, pivotCounts, setExceptAll, correlatedScalar, bmpDecode,
    joinFull, tpchQ12, tpchQ19,
    containmentPairs, jaccardTopKGate, profileTableGate,
    semDedupGate, boilerplateSegments, bigramPpl,
    dupNgramFrac, tokenEntropy, oovRate,
    windowRangeInterval, windowNtile, unpivotMetrics,
    setIntersectAll, lateralTopN, gifDecode, normalizeTextGate,
    weightedSampleGate, pipelineCurationV4, datetimeParts, stringAggOrdered,
    tiffDecode, existsSubquery, maskSpans, filteredAgg, distinctFrom,
    nullsOrdering, statsAgg,
    tpchQ2, tpchQ4, tpchQ7, tpchQ8, tpchQ9, tpchQ11,
    tpchQ15, tpchQ16, tpchQ17, tpchQ20, tpchQ21,
    incrementalDedup, incrementalDedupIndexed, incrementalDedupBloom,
    knnLabelVote, dsirWeightsGate,
    sourceQualityGate,
    pipelineCurationV5,
    zorderCluster, qualityClassifier, bm25TopKGate, unicodeNfc,
    sentenceDedupGate, temperatureSampleGate, kneserNeyPpl,
    pplBuckets, editDistancePairs, pipelineCurationV6, cellBalancedGate,
    annFilteredTopK, knnGraphGate, triangleCountGate, labelPropagationGate,
    bitextMineGate,
    heavyHittersGate,
    adaptiveLengthFilter, madOutliersGate, aucRankGate,
    sortedNeighborhoodGate, kmeansTrainGate, stratifiedSplitGate,
    dupClustersLss, winsorizeGate, systematicSampleGate, pipelineCurationV7,
    momentsAggGate, langConfusionGate, clusterTermsGate, featureHashGate,
    distMatchGate, nextTokenTopKGate, nextTokenNucleusGate, zipfFitGate,
    pmiCollocationsGate, ngramDiversityGate,
    funnelSteps, cohortRetentionGate, eventTransitions, pageRankNations,
    approxQuantiles, kAnonymityProfile, skipgramCoocGate, leakageSafeSplit,
    rollingActiveUsersGate, quantileNormalizeGate, pipelineReleaseV1,
    rfmSegmentsGate, sessionizeGate, sessionFunnel, funnelDurations,
    urlNormalizeGate, urlDedupGate, domainCapGate, piiLuhn, intervalJoinGate,
    langMixtureGate, classifierCalibration, corpusDiffGate, hllRollupGate,
    resampleFfill, qualityBudgetCut, phraseSearchGate, phraseSearchIndexed,
    quantileSketchRollup, sketchDrift, corpusOverlapSketch, cmSketchTopK,
    exactQuantileGate,
    annPqTopK, annIvfTopKIndexed, annPqTopKIndexed,
    annIvfFilteredIndexed, annPqFilteredIndexed, annForgetTopK,
    forgetCascade,
    semDedupIndexedGate, knnGraphIndexedGate,
    sqlMinhashPairs, sqlAnnTopK, sqlSemDedup, sqlAnnIndexedTopK,
    sqlAnnFilteredTopK,
    sqlMinhashPairsKnobs, sqlDecontaminate, sqlDsirWeights, sqlAnnRecall,
    epochShuffleGate, rendezvousShardGate, bpeTrainGate,
    bpeEncodeGate, kCenterGate, bpeFertilityGate, vocabCoverageGate,
    frequentPairsGate, sketchW1Gate, dedupAttribution, shardNoveltyGate,
    cmJoinSizeGate, skewProfileGate, refIntegrityGate, assocGTestGate,
    lengthBatchGate, skylineGate, blocklistGate, heapsFitGate,
    hourlyQuantilesGate, weightedQuantileGate, blocklistSeverityGate,
    entropyRateGate, upsetOverlapGate
  )
}
