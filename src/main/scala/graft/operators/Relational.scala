package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational surface (SURVEY.md §2.5): scans, projection/filter,
  * joins of every flavor, aggregation (incl. rollup/cube/distinct), window
  * functions, sort/limit/top-k, set ops, scalar functions (string/date/
  * JSON). The reference has none of these (it is a streaming source
  * library); Spark built-ins close the gap, so these queries are written to
  * produce the PLAN we want at scale — filters pushed to the parquet scan,
  * small dimensions broadcast, aggregations with map-side partials — not
  * just correct rows.
  *
  * Every query is hash-checked against a DuckDB oracle (see QueryDef scaladoc
  * for the parity rules).
  */
object Relational {

  // ---- q01: full-scan aggregation (TPC-H Q1 shape) -------------------------
  // Map-side partial agg + 6-group final agg; the parquet scan reads only the
  // 8 referenced columns and pushes the shipdate filter down.
  private def q01(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  // ---- q02: projection + filter pushdown ----------------------------------
  private def q02(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_size") < 10 && col("p_type") === "SMALL")
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
      .orderBy(col("p_partkey"))
  private val q02Sql =
    """SELECT p_partkey, p_name, p_brand, p_size FROM part
       WHERE p_size < 10 AND p_type = 'SMALL' ORDER BY p_partkey"""

  // ---- q03: 3-way join + agg + top-k (TPC-H Q3 shape) ----------------------
  // customer is small → broadcast; orders⨝lineitem shuffles on the orderkey.
  private def q03(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }
  private val q03Sql =
    """SELECT l_orderkey, o_orderdate::DATE AS orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-01-01'
         AND l_shipdate > TIMESTAMP '1998-01-01'
       GROUP BY l_orderkey, orderdate
       ORDER BY revenue DESC, l_orderkey LIMIT 10"""

  // ---- q04: left-semi join (EXISTS) ----------------------------------------
  private def q04(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      .select(col("l_orderkey"))
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }
  private val q04Sql =
    """SELECT o_orderpriority, count(*) AS order_count FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_quantity > 45)
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---- q05: 5-way star join (TPC-H Q5 shape) -------------------------------
  // region/nation/supplier/customer all broadcast; only the orders⨝lineitem
  // edge shuffles. At 100 TB the fact-fact join keys co-partition.
  private def q05(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val supp = Tables.supplier(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }
  private val q05Sql =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1998-01-01'
       GROUP BY n_name ORDER BY revenue DESC, n_name"""

  // ---- q06: selective scan → scalar aggregate (TPC-H Q6 shape) -------------
  private def q06(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n"))
  private val q06Sql =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""

  // ---- q07: left-anti join (NOT EXISTS) ------------------------------------
  private def q07(s: SparkSession, d: String): DataFrame = {
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    Tables.customer(s, d)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        (round(sum(col("c_acctbal")), 2) + lit(0.0)).as("acctbal_sum"))
      .orderBy(col("c_mktsegment"))
  }
  private val q07Sql =
    """SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) + 0.0 AS acctbal_sum FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                         AND o_orderdate >= TIMESTAMP '2001-01-01')
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ---- q08: left-outer join + agg ------------------------------------------
  private def q08(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    Tables.customer(s, d)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
      .orderBy(col("c_custkey"))
  }
  private val q08Sql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS spend
       FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey ORDER BY c_custkey"""

  // ---- q09: window top-k per group ------------------------------------------
  // row_number (not rank) with a full tiebreaker → deterministic; the window
  // shuffles once on l_suppkey and sorts within partitions.
  private def q09(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .orderBy(col("l_suppkey"), col("rn"))
  }
  private val q09Sql =
    """SELECT * FROM (
         SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           row_number() OVER (PARTITION BY l_suppkey
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)::INT AS rn
         FROM lineitem) t
       WHERE rn <= 3 ORDER BY l_suppkey, rn"""

  // ---- q10: running window aggregate ----------------------------------------
  private def q10(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }
  private val q10Sql =
    """SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
       FROM orders ORDER BY o_custkey, o_orderkey"""

  // ---- q11: set operations ---------------------------------------------------
  private def q11(s: SparkSession, d: String): DataFrame = {
    val cn = Tables.customer(s, d).select(col("c_nationkey").as("nationkey")).distinct()
    val sn = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")).distinct()
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("customer_only"))
    val either = cn.union(sn).distinct().withColumn("tag", lit("either"))
    both.unionByName(custOnly).unionByName(either)
      .select(col("tag"), col("nationkey"))
      .orderBy(col("tag"), col("nationkey"))
  }
  private val q11Sql =
    """WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
          sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
       SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
       UNION ALL
       SELECT 'customer_only' AS tag, nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
       UNION ALL
       SELECT 'either' AS tag, nationkey FROM (SELECT nationkey FROM cn UNION SELECT nationkey FROM sn)
       ORDER BY tag, nationkey"""

  // ---- q12: rollup -----------------------------------------------------------
  private def q12(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(year(col("o_orderdate")).as("order_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("order_year").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  private val q12Sql =
    """SELECT year(o_orderdate)::INT AS order_year, o_orderpriority,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY ROLLUP (order_year, o_orderpriority)
       ORDER BY order_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""

  // ---- q13: cube -------------------------------------------------------------
  private def q13(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  private val q13Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
       ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  // ---- q14: distinct aggregates ----------------------------------------------
  private def q14(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))
  private val q14Sql =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderpriority) AS n_priorities, count(*) AS n_orders
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---- q15: string functions ---------------------------------------------------
  private def q15(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        substring(col("p_brand"), 7, 2).as("brand_num"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        when(col("p_name").like("%widget%"), lit("widget")).otherwise(lit("other")).as("kind"))
      .filter(col("p_name").rlike("^(red|blue|green)"))
      .orderBy(col("p_partkey"))
  private val q15Sql =
    """SELECT p_partkey, upper(p_name) AS name_upper,
       length(p_name)::INT AS name_len,
       string_split(p_name, ' ')[1] AS first_word,
       substring(p_brand, 7, 2) AS brand_num,
       concat_ws('/', p_brand, p_type) AS brand_type,
       CASE WHEN p_name LIKE '%widget%' THEN 'widget' ELSE 'other' END AS kind
       FROM part WHERE regexp_matches(p_name, '^(red|blue|green)')
       ORDER BY p_partkey"""

  // ---- q16: date/time functions --------------------------------------------------
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("o_totalprice")), 4).as("avg_price"))
      .orderBy(col("y"), col("m"))
  private val q16Sql =
    """SELECT year(o_orderdate)::INT AS y, month(o_orderdate)::INT AS m,
       date_trunc('month', o_orderdate)::DATE AS month_start,
       count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
       FROM orders GROUP BY y, m, month_start ORDER BY y, m"""

  // ---- q17: JSON extraction --------------------------------------------------------
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  private val q17Sql =
    """SELECT event_type, count(*) AS n,
       round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k,
       min(json_extract(props, '$.k')::INT) AS min_k,
       max(json_extract(props, '$.k')::INT) AS max_k
       FROM events GROUP BY event_type ORDER BY event_type"""

  // ---- q18: CASE + HAVING ------------------------------------------------------------
  private def q18(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_custkey"),
        when(col("o_totalprice") > 150000, lit("big"))
          .when(col("o_totalprice") > 50000, lit("mid"))
          .otherwise(lit("small")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
      .filter(col("n") > 10)
      .orderBy(col("bucket"))
  private val q18Sql =
    """SELECT bucket, count(*) AS n, count(DISTINCT o_custkey) AS n_cust
       FROM (SELECT o_custkey,
               CASE WHEN o_totalprice > 150000 THEN 'big'
                    WHEN o_totalprice > 50000 THEN 'mid'
                    ELSE 'small' END AS bucket FROM orders) t
       GROUP BY bucket HAVING count(*) > 10 ORDER BY bucket"""

  // ---- q19: as-of join (custom operator) -----------------------------------------------
  // For each purchase event, the user's most recent prior-or-equal click.
  // Right side deduped per (user, ts) for determinism (see AsOfJoin scaladoc).
  // Runs the NATIVE sorted-merge operator; the composed union+window form
  // keeps its own bench/oracle row as q81. Head-to-head at sf0.1 (r4,
  // min-of-3 isolated, both orders) the two are within scheduler noise
  // (~0.6-0.7 s each) — the events fixture is too small to separate them.
  // The native path is still the keeper: each side shuffles in its own
  // narrow schema with O(1) merge state, vs the composed form widening
  // every shuffled row with a null payload struct and buffering a window
  // frame — a shuffle-bytes advantage that grows with payload width and
  // corpus size even though wall-clock ties at this sf.
  private def q19(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    AsOfJoin.leftAsOfNative(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id"))
      .select(col("event_id"), col("user_id"), col("click_id"))
      .orderBy(col("event_id"))
  }
  private val q19Sql =
    """WITH purchases AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       clicks AS (
         SELECT user_id, ts, max(event_id) AS click_id FROM events
         WHERE event_type = 'click' GROUP BY user_id, ts)
       SELECT p.event_id, p.user_id, c.click_id
       FROM purchases p ASOF LEFT JOIN clicks c
         ON p.user_id = c.user_id AND p.ts >= c.ts
       ORDER BY p.event_id"""

  // ---- q68/q69: as-of join direction variants --------------------------------------------
  // q68 forward: for each purchase, the user's NEXT click at-or-after it
  // (DuckDB ASOF with the inequality reversed). q69 nearest: whichever of
  // the prior/next click is closer in time, ties backward — composed in
  // the oracle from both ASOF directions.
  private def asOfInputs(s: SparkSession, d: String) = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    (purchases, clicks)
  }
  private def q68(s: SparkSession, d: String): DataFrame = {
    val (purchases, clicks) = asOfInputs(s, d)
    AsOfJoin.leftAsOf(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id"), direction = "forward")
      .select(col("event_id"), col("user_id"), col("click_id"))
      .orderBy(col("event_id"))
  }
  private val q68Sql =
    """WITH purchases AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       clicks AS (
         SELECT user_id, ts, max(event_id) AS click_id FROM events
         WHERE event_type = 'click' GROUP BY user_id, ts)
       SELECT p.event_id, p.user_id, c.click_id
       FROM purchases p ASOF LEFT JOIN clicks c
         ON p.user_id = c.user_id AND p.ts <= c.ts
       ORDER BY p.event_id"""

  private def q69(s: SparkSession, d: String): DataFrame = {
    val (purchases, clicks) = asOfInputs(s, d)
    AsOfJoin.leftAsOf(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id"), direction = "nearest")
      .select(col("event_id"), col("user_id"), col("click_id"))
      .orderBy(col("event_id"))
  }
  private val q69Sql =
    """WITH purchases AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       clicks AS (
         SELECT user_id, ts, max(event_id) AS click_id FROM events
         WHERE event_type = 'click' GROUP BY user_id, ts),
       b AS (
         SELECT p.event_id, p.user_id, p.ts,
           c.click_id AS b_id, c.ts AS b_ts
         FROM purchases p ASOF LEFT JOIN clicks c
           ON p.user_id = c.user_id AND p.ts >= c.ts),
       f AS (
         SELECT p.event_id, c.click_id AS f_id, c.ts AS f_ts
         FROM purchases p ASOF LEFT JOIN clicks c
           ON p.user_id = c.user_id AND p.ts <= c.ts)
       SELECT b.event_id, b.user_id,
         CASE WHEN b_id IS NULL THEN f_id
              WHEN f_id IS NULL THEN b_id
              WHEN (f_ts - ts) < (ts - b_ts) THEN f_id
              ELSE b_id END AS click_id
       FROM b JOIN f USING (event_id)
       ORDER BY b.event_id"""

  /** Union DataFrames whose schemas evolved over time: columns are matched
    * BY NAME and columns missing from an older generation surface as
    * nulls — the "read three years of parquet whose schema grew" reality
    * of any long-lived 100-TB dataset. Pure metadata alignment: each input
    * is a map-side projection, the union adds no shuffle whatsoever.
    */
  def unionEvolved(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionEvolved needs at least one input")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---- q94: schema-evolution union -------------------------------------------------------
  // An old snapshot generation lacks o_orderpriority; the evolved union
  // aligns by name and nulls the missing column (DuckDB UNION ALL BY NAME).
  private def q94(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val gen1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val gen2 = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    unionEvolved(Seq(gen1, gen2)).orderBy(col("o_orderkey"))
  }
  private val q94Sql =
    """SELECT * FROM (
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL BY NAME
         SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
         WHERE o_orderkey % 2 = 1)
       ORDER BY o_orderkey"""

  // ---- q93: as-of join with a tolerance bound --------------------------------------------
  // The attribution-window form: the user's last click at-or-before the
  // purchase, but only if it happened within the previous 30 minutes —
  // older matches are nulled out (pandas merge_asof `tolerance`). Same
  // single-exchange union+window plan; the bound is a post-window mask.
  private def q93(s: SparkSession, d: String): DataFrame = {
    val (purchases, clicks) = asOfInputs(s, d)
    AsOfJoin.leftAsOf(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id"),
        tolerance = Some(expr("INTERVAL 30 MINUTES")))
      .select(col("event_id"), col("user_id"), col("click_id"))
      .orderBy(col("event_id"))
  }
  private val q93Sql =
    """WITH purchases AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       clicks AS (
         SELECT user_id, ts, max(event_id) AS click_id FROM events
         WHERE event_type = 'click' GROUP BY user_id, ts)
       SELECT p.event_id, p.user_id,
         CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE THEN c.click_id END
           AS click_id
       FROM purchases p ASOF LEFT JOIN clicks c
         ON p.user_id = c.user_id AND p.ts >= c.ts
       ORDER BY p.event_id"""

  // ---- q81/q82: both as-of implementations against the same oracles ----------------------
  // The as-of oracle answers are DIRECTION properties, not implementation
  // properties: q19 (native backward) and q81 (composed backward) share
  // q19Sql; q69 (composed nearest) and q82 (native nearest) share q69Sql.
  // Every direction × implementation cell is DuckDB-checked each round.
  private def q81(s: SparkSession, d: String): DataFrame = {
    val (purchases, clicks) = asOfInputs(s, d)
    AsOfJoin.leftAsOf(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id"))
      .select(col("event_id"), col("user_id"), col("click_id"))
      .orderBy(col("event_id"))
  }
  private def q82(s: SparkSession, d: String): DataFrame = {
    val (purchases, clicks) = asOfInputs(s, d)
    AsOfJoin.leftAsOfNative(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id"), direction = "nearest")
      .select(col("event_id"), col("user_id"), col("click_id"))
      .orderBy(col("event_id"))
  }
  private val q81Sql = q19Sql
  private val q82Sql = q69Sql

  // ---- q20: range join -------------------------------------------------------------------
  // Clicks within 1 hour before each purchase, per user.
  private def q20(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"))
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks_1h"), max(col("click_id")).as("last_click"))
      .orderBy(col("purchase_id"))
  }
  private val q20Sql =
    """SELECT p.event_id AS purchase_id, count(*) AS n_clicks_1h,
       max(c.event_id) AS last_click
       FROM events p JOIN events c
         ON p.user_id = c.user_id AND c.event_type = 'click'
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
       WHERE p.event_type = 'purchase'
       GROUP BY purchase_id ORDER BY purchase_id"""

  /** Key-less interval-overlap join via time-bucket binning — the scale
    * path for "which intervals overlap which" when there is NO equi key
    * to hash on (q20's range join has user_id; this is the harder case —
    * outages × sessions, audits × shipments). Spark plans a bare
    * `aEnd >= bStart AND bEnd >= aStart` join as a broadcast nested loop
    * (O(|A|·|B|) compares, and the build side must fit in memory);
    * binning turns it into a standard shuffled HASH join.
    *
    * Every interval explodes to the `bucketSeconds`-wide buckets it
    * covers; pairs equi-join on the bucket id; the true overlap predicate
    * filters; and a pair sharing several buckets is emitted exactly once
    * WITHOUT a distinct — only the first bucket both intervals cover
    * (`bucket == max(floor(aStart/w), floor(bStart/w))`) fires. Overlap
    * is CLOSED on both ends.
    *
    * Scale: replication factor is len/bucketSeconds + 1 per interval, so
    * size the bucket near the typical interval length; the join is a
    * plain hash join on a long key — AQE's skew split applies to hot
    * time ranges, which a nested loop gets no help with.
    *
    * Precondition: start <= end per interval (an inverted interval is
    * malformed input — `sequence` would silently enumerate its buckets
    * in reverse and the once-only emission condition no longer holds).
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    def bkt(c: String): Column =
      floor(col(c).cast("long") / bucketSeconds).cast("long")
    val ax = a.withColumn("__bkta", explode(sequence(bkt(aStart), bkt(aEnd))))
    val bx = b.withColumn("__bktb", explode(sequence(bkt(bStart), bkt(bEnd))))
    // Hinted: PlanSpec "q128 interval overlap" pins a hash-partitioned
    // join on the bucket key. Unhinted, the planner broadcasts one side
    // from its parquet stats and that case fails.
    ax.join(bx.hint("shuffle_hash"),
        col("__bkta") === col("__bktb") &&
          col(aStart).cast("long") <= col(bEnd).cast("long") &&
          col(bStart).cast("long") <= col(aEnd).cast("long") &&
          col("__bkta") === greatest(bkt(aStart), bkt(bStart)))
      .drop("__bkta", "__bktb")
  }

  // ---- q128: key-less interval overlap join ------------------------------------
  // Even-order shipping windows × odd-order shipping windows (no shared
  // key): per even-order line, how many odd-order windows overlap it.
  // 30-day buckets ≈ the max window length. The oracle runs the brute
  // non-equi join — the blocking must reproduce it exactly.
  private def q128(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_partkey") < 20)
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("iv_id"),
        col("l_shipdate").cast("timestamp").cast("long").as("s"),
        (col("l_shipdate") +
          expr("make_interval(0, 0, 0, CAST(l_orderkey % 30 + 1 AS INT))"))
          .cast("timestamp").cast("long").as("e"))
    val aSide = li.filter(col("iv_id") % 20 < 10)
      .select(col("iv_id").as("a_id"), col("s").as("a_s"), col("e").as("a_e"))
    val bSide = li.filter(col("iv_id") % 20 >= 10)
      .select(col("iv_id").as("b_id"), col("s").as("b_s"), col("e").as("b_e"))
    intervalOverlapJoin(aSide, bSide, "a_s", "a_e", "b_s", "b_e",
        bucketSeconds = 30L * 86400)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_overlaps"), max(col("b_id")).as("max_b"))
      .orderBy(col("a_id"))
  }
  private val q128Sql =
    """WITH iv AS (
         SELECT l_orderkey * 10 + l_linenumber AS iv_id,
           epoch_us(l_shipdate::TIMESTAMP) // 1000000 AS s,
           epoch_us((l_shipdate
               + to_days((l_orderkey % 30 + 1)::INT))::TIMESTAMP) // 1000000
             AS e
         FROM lineitem WHERE l_partkey < 20),
       a AS (SELECT iv_id AS a_id, s AS a_s, e AS a_e FROM iv
             WHERE iv_id % 20 < 10),
       b AS (SELECT iv_id AS b_id, s AS b_s, e AS b_e FROM iv
             WHERE iv_id % 20 >= 10)
       SELECT a_id, count(*) AS n_overlaps, max(b_id) AS max_b
       FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
       GROUP BY a_id ORDER BY a_id"""

  // ---- q171: pivot — long event stream to a wide per-user feature row --------
  // `groupBy(user).pivot(event_type)` is ONE hash aggregation with
  // map-side partials over (user, type) — the pivot happens inside the
  // aggregation buffers (a fixed column per (type, agg) pair), NOT as
  // five self-joins of filtered scans, so the plan reads events once and
  // shuffles one collapsed relation keyed by user. The pivot value list
  // is explicit: at 100 TB a discovery pass (`pivot(col)` without values)
  // costs an extra distinct scan and risks an unbounded schema — a
  // curated wide schema is both cheaper and the only sane contract.
  // Missing (user, type) combos surface as 0 (coalesce), not null, so
  // the wide row is directly usable as a feature vector.
  private val PivotTypes = Seq("click", "error", "purchase", "signup", "view")
  private def q171(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    p.select(col("user_id") +: PivotTypes.flatMap(t => Seq(
        coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
        // events.value >= 0 by fixture contract, so the rounded sum
        // cannot be -0.0 (no canonicalization needed).
        round(coalesce(col(s"${t}_v"), lit(0.0)), 4).as(s"${t}_v"))): _*)
      .orderBy(col("user_id"))
  }
  private val q171Sql = {
    val cols = PivotTypes.map { t =>
      s"""count(*) FILTER (event_type = '$t')::BIGINT AS ${t}_n,
         round(coalesce(sum(value) FILTER (event_type = '$t'), 0), 4)
           AS ${t}_v"""
    }.mkString(",\n         ")
    s"""SELECT user_id,
         $cols
       FROM events GROUP BY user_id ORDER BY user_id"""
  }

  // ---- q172: unpivot/melt — wide metric columns to long (metric, val) --------
  // `Dataset.unpivot` is a zero-shuffle row expansion (each input row
  // emits one output row per value column, inside the scan stage); the
  // per-(flag, metric) profile then aggregates with map-side partials.
  // The long form is the shape profiling/drift operators consume
  // ([[Profile]] q58/q126) without a per-metric query each.
  private def q172(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "val")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("val")), 4).as("sum_val"),
        round(min(col("val")), 4).as("min_val"),
        round(max(col("val")), 4).as("max_val"))
      .orderBy(col("l_returnflag"), col("metric"))
  private val q172Sql =
    """WITH m AS (
         SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val
         FROM lineitem
         UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice
         FROM lineitem
         UNION ALL SELECT l_returnflag, 'l_discount', l_discount
         FROM lineitem
         UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
       SELECT l_returnflag, metric, count(*)::BIGINT AS n,
         round(sum(val), 4) AS sum_val, round(min(val), 4) AS min_val,
         round(max(val), 4) AS max_val
       FROM m GROUP BY 1, 2 ORDER BY 1, 2"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", q01, Some(q01Sql), headline = true),
    QueryDef("q02_filter_pushdown", q02, Some(q02Sql)),
    QueryDef("q03_top_orders", q03, Some(q03Sql), headline = true),
    QueryDef("q04_semi_join", q04, Some(q04Sql)),
    QueryDef("q05_star_join", q05, Some(q05Sql), headline = true),
    QueryDef("q06_selective_agg", q06, Some(q06Sql)),
    QueryDef("q07_anti_join", q07, Some(q07Sql)),
    QueryDef("q08_outer_join", q08, Some(q08Sql)),
    QueryDef("q09_window_topk", q09, Some(q09Sql), headline = true),
    QueryDef("q10_window_running", q10, Some(q10Sql)),
    QueryDef("q11_set_ops", q11, Some(q11Sql)),
    QueryDef("q12_rollup", q12, Some(q12Sql)),
    QueryDef("q13_cube", q13, Some(q13Sql)),
    QueryDef("q14_distinct_agg", q14, Some(q14Sql)),
    QueryDef("q15_string_funcs", q15, Some(q15Sql)),
    QueryDef("q16_date_funcs", q16, Some(q16Sql)),
    QueryDef("q17_json_extract", q17, Some(q17Sql)),
    QueryDef("q18_case_having", q18, Some(q18Sql)),
    QueryDef("q19_asof_join", q19, Some(q19Sql), headline = true),
    QueryDef("q20_range_join", q20, Some(q20Sql)),
    QueryDef("q68_asof_forward", q68, Some(q68Sql)),
    QueryDef("q69_asof_nearest", q69, Some(q69Sql)),
    QueryDef("q81_asof_composed", q81, Some(q81Sql)),
    QueryDef("q82_asof_merge_nearest", q82, Some(q82Sql)),
    QueryDef("q93_asof_tolerance", q93, Some(q93Sql)),
    QueryDef("q94_union_evolved", q94, Some(q94Sql)),
    QueryDef("q128_interval_overlap", q128, Some(q128Sql)),
    QueryDef("q171_pivot", q171, Some(q171Sql)),
    QueryDef("q172_unpivot", q172, Some(q172Sql)))
}
