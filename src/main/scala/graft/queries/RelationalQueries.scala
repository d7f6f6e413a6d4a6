package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.{Monitoring, Relational, Sessionize}
import graft.plans.KmvBuffer.kmvDistinctPreHashed

import QuerySupport._

/** Relational queries over the TPC-H-shaped tables and the events log:
  * joins, aggregates, windows, set operations, sketches, as-of and range
  * joins, bucketed and Bloom-filtered joins, snapshot diff and upsert.
  */
object RelationalQueries extends QueryFamily(Family.Relational) {

  /** price·(1−discount) in 1e-4 units (both factors exact cents). */
  private def discPriceE4(ep: Column, disc: Column): Column =
    cents(ep) * (lit(100L) - cents(disc))

  /** price·(1−discount)·(1+tax) in 1e-6 units. */
  private def chargeE6(ep: Column, disc: Column, tax: Column): Column =
    discPriceE4(ep, disc) * (lit(100L) + cents(tax))

  /** Mirrors `discPriceE4`: price·(1−disc) in 1e-4 units (pure BIGINT). */
  private val discPriceE4Sql =
    s"${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})"

  /** Mirrors `chargeE6`: price·(1−disc)·(1+tax) in 1e-6 units. */
  private val chargeE6Sql =
    s"$discPriceE4Sql * (100 + ${centsSql("l_tax")})"

  query("q01_pricing_summary", oracle =
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty,
         | CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_price,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS sum_disc_price,
         | CAST(SUM($chargeE6Sql) AS BIGINT) AS sum_charge,
         | COUNT(*) AS count_order
         |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val li = t(s, d, "lineitem")
    li.filter(to_date(col("l_shipdate")) <= lit(java.sql.Date.valueOf("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price"),
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
        sum(chargeE6(col("l_extendedprice"), col("l_discount"), col("l_tax")))
          .as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  query("q02_top_orders", oracle =
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         | AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         | AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
         |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val c  = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o  = t(s, d, "orders")
      .filter(to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1998-01-01")))
    val li = t(s, d, "lineitem")
      .filter(to_date(col("l_shipdate")) >= lit(java.sql.Date.valueOf("1997-01-01")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_date"))
      .agg(sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  query("q03_nation_revenue", oracle =
      s"""SELECT n_name, CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         | AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
         | AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val r  = t(s, d, "region").filter(col("r_name") === "EUROPE")
    val n  = t(s, d, "nation")
    val c  = t(s, d, "customer")
    val o  = t(s, d, "orders")
      .filter(to_date(col("o_orderdate")) >= lit(java.sql.Date.valueOf("1996-01-01")) &&
        to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1998-01-01")))
    val li = t(s, d, "lineitem")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  query("q04_semi_suppliers", oracle =
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
        |                    WHERE CAST(l_shipdate AS DATE) >= DATE '2001-01-01')
        |ORDER BY s_suppkey""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val sup = t(s, d, "supplier")
    val li = t(s, d, "lineitem")
      .filter(to_date(col("l_shipdate")) >= lit(java.sql.Date.valueOf("2001-01-01")))
    sup.join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  query("q05_anti_customers", oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val c = t(s, d, "customer")
    val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  query("q06_topk_orders", oracle =
      s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS total
         |FROM orders ORDER BY total DESC, o_orderkey LIMIT 15""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total"))
      .orderBy(col("total").desc, col("o_orderkey"))
      .limit(15)
  }

  query("q07_distinct_status", oracle =
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "orders")
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  query("q08_union_flags", oracle =
      s"""SELECT l_returnflag, COUNT(*) AS n,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM (SELECT * FROM lineitem WHERE l_returnflag = 'R'
         |      UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'A')
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val li = t(s, d, "lineitem")
    li.filter(col("l_returnflag") === "R")
      .union(li.filter(col("l_returnflag") === "A"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("qty"))
      .orderBy("l_returnflag")
  }

  query("q09_rollup_status", oracle =
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         | CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total
         |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  query("q10_distinct_counts", oracle =
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    // spread: the two countDistinct aggs expand every row 3× in the
    // scan stage — distribute before the expand
    spread(t(s, d, "lineitem"), "l_orderkey")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  query("q11_window_running", oracle =
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
         | CAST(row_number() OVER w AS BIGINT) AS rn,
         | CAST(SUM(${centsSql("l_quantity")}) OVER
         |   (PARTITION BY l_suppkey ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber,
         |    ${centsSql("l_quantity")}
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
         |FROM lineitem WHERE l_suppkey < 5
         |WINDOW w AS (PARTITION BY l_suppkey ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber,
         |   ${centsSql("l_quantity")})
         |ORDER BY l_suppkey, rn""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem:
    // quantity cents break the row_number tie (any remaining ties are
    // output-identical rows, so the assignment is interchangeable).
    val w = Window.partitionBy("l_suppkey")
      .orderBy(to_date(col("l_shipdate")), col("l_orderkey"), col("l_linenumber"),
        cents(col("l_quantity")))
    t(s, d, "lineitem")
      .filter(col("l_suppkey") < 5)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_qty",
        sum(cents(col("l_quantity"))).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("rn"),
        col("running_qty"))
      .orderBy("l_suppkey", "rn")
  }

  query("q12_window_lag_events", oracle =
      s"""SELECT event_id, user_id, ${centsSql("value")} AS v,
         | lag(${centsSql("value")}, 1) OVER
         |   (PARTITION BY user_id ORDER BY event_id) AS prev_v,
         | ${centsSql("value")} - lag(${centsSql("value")}, 1) OVER
         |   (PARTITION BY user_id ORDER BY event_id) AS delta
         |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    t(s, d, "events")
      .withColumn("v", cents(col("value")))
      .withColumn("prev_v", lag(col("v"), 1).over(w))
      .withColumn("delta", col("v") - col("prev_v"))
      .select(col("event_id"), col("user_id"), col("v"), col("prev_v"), col("delta"))
      .orderBy("event_id")
  }

  query("q13_event_type_stats", oracle =
      s"""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS total_value,
         | CAST(MIN(${centsSql("value")}) AS BIGINT) AS min_value,
         | CAST(MAX(${centsSql("value")}) AS BIGINT) AS max_value,
         | COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("total_value"),
        min(cents(col("value"))).as("min_value"),
        max(cents(col("value"))).as("max_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  query("q14_page_orders", oracle =
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
        |FROM orders ORDER BY o_date, o_orderkey LIMIT 20 OFFSET 40"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
        col("o_orderpriority"))
      .orderBy(col("o_date"), col("o_orderkey"))
      .offset(40)
      .limit(20)
  }

  /** F9: JSON parse of the open `props` column → typed value → agg.
    * One `from_json` with an explicit schema, not per-key
    * `get_json_object`: the struct parse runs the Jackson tokenizer
    * once per row straight into a typed field (and prunes to the
    * requested keys), where the path form re-parses the document for
    * every extracted key — the difference compounds linearly with the
    * number of keys a real pipeline pulls out.
    */
  query("q26_props_json", oracle =
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS total_value
         |FROM events GROUP BY k ORDER BY k""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "events")
      .withColumn("k",
        from_json(col("props"), "k LONG", Map.empty[String, String]).getField("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("total_value"))
      .orderBy("k")
  }

  query("q27_month_orders", oracle =
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n,
         | CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total
         |FROM orders GROUP BY month ORDER BY month""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total"))
      .orderBy("month")
  }

  /** Conditional aggregation (pivot-style) over order status. */
  query("q28_status_pivot", oracle =
      s"""SELECT o_orderpriority,
         | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
         | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN ${centsSql("o_totalprice")}
         |               ELSE 0 END) AS BIGINT) AS f_total
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
        sum(when(col("o_orderstatus") === "F", cents(col("o_totalprice")))
          .otherwise(lit(0L))).as("f_total"))
      .orderBy("o_orderpriority")
  }

  query("q29_hot_parts", oracle =
      s"""SELECT l_partkey, COUNT(*) AS n_lines,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 38 ORDER BY l_partkey"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_quantity"))).as("qty"))
      .filter(col("n_lines") >= 38) // HAVING
      .orderBy("l_partkey")
  }

  query("q30_cube_flags", oracle =
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  query("q31_user_windows", oracle =
      s"""SELECT event_id, user_id,
         | first_value(${centsSql("value")}) OVER
         |   (PARTITION BY user_id ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_v,
         | last_value(${centsSql("value")}) OVER
         |   (PARTITION BY user_id ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
         | CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS quartile
         |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val w  = Window.partitionBy("user_id").orderBy("event_id")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, d, "events")
      .withColumn("first_v", first(cents(col("value"))).over(wf))
      .withColumn("last_v", last(cents(col("value"))).over(wf))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .select(col("event_id"), col("user_id"), col("first_v"), col("last_v"), col("quartile"))
      .orderBy("event_id")
  }

  query("q32_supplier_strings", oracle =
      """SELECT s_suppkey, upper(s_name) AS uname, substring(s_name, 1, 8) AS prefix,
        | CAST(length(s_name) AS BIGINT) AS name_len,
        | regexp_extract(s_name, '(\d+)', 1) AS digits,
        | concat_ws('-', s_name, s_nationkey) AS tagged,
        | reverse(s_name) AS rev
        |FROM supplier ORDER BY s_suppkey""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "supplier")
      .select(
        col("s_suppkey"),
        upper(col("s_name")).as("uname"),
        substring(col("s_name"), 1, 8).as("prefix"),
        length(col("s_name")).cast("long").as("name_len"),
        regexp_extract(col("s_name"), "(\\d+)", 1).as("digits"),
        concat_ws("-", col("s_name"), col("s_nationkey")).as("tagged"),
        reverse(col("s_name")).as("rev"))
      .orderBy("s_suppkey")
  }

  query("q33_ship_dates", oracle =
      """SELECT l_orderkey, l_linenumber,
        | CAST(year(l_shipdate) AS BIGINT) AS ship_y,
        | CAST(month(l_shipdate) AS BIGINT) AS ship_m,
        | CAST(day(l_shipdate) AS BIGINT) AS ship_d,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS days_to_ship
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber, ship_y, ship_m, ship_d, days_to_ship"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val li = t(s, d, "lineitem").filter(col("l_orderkey") < 500)
    val o  = t(s, d, "orders")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).cast("long").as("ship_y"),
        month(col("l_shipdate")).cast("long").as("ship_m"),
        dayofmonth(col("l_shipdate")).cast("long").as("ship_d"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("days_to_ship"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem
      // — order by every output column so the sort is total.
      .orderBy("l_orderkey", "l_linenumber", "ship_y", "ship_m", "ship_d",
        "days_to_ship")
  }

  /** A6 exact 2σ anomaly flags (Monitoring.exactSigmaAnomalies). */
  query("q34_value_anomalies", oracle =
      """WITH s AS (SELECT event_type, event_id,
        |             CAST(round(value*100) AS HUGEINT) AS c FROM events),
        |     g AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(c) AS s1, SUM(c*c) AS q FROM s GROUP BY event_type)
        |SELECT s.event_type, s.event_id, CAST(s.c AS BIGINT) AS v
        |FROM s JOIN g USING (event_type)
        |WHERE (n*c - s1)*(n*c - s1) > 4*(n*q - s1*s1)
        |ORDER BY s.event_type, s.event_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Monitoring.exactSigmaAnomalies(
      t(s, d, "events"), Seq("event_type"), "event_id", "value", sigmas = 2)
      .orderBy("event_type", "event_id")
  }

  query("q35_argmax_events", oracle =
      s"""SELECT event_type,
         | arg_max(event_id, CAST(round(value*100) AS BIGINT)*10000000 + event_id) AS max_event,
         | arg_min(event_id, CAST(round(value*100) AS BIGINT)*10000000 + event_id) AS min_event,
         | CAST(MAX(${centsSql("value")}) AS BIGINT) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val key = (round(col("value") * 100).cast("long") * 10000000L + col("event_id"))
    t(s, d, "events")
      .withColumn("k", key)
      .groupBy("event_type")
      .agg(
        max_by(col("event_id"), col("k")).as("max_event"),
        min_by(col("event_id"), col("k")).as("min_event"),
        max(cents(col("value"))).as("max_value"))
      .orderBy("event_type")
  }

  /** Set operations: customers in BUILDING ∩ with-urgent-orders, and
    * nations EXCEPT those with suppliers.
    */
  query("q39_intersect_custs", oracle =
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY c_custkey""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(urgent).orderBy("c_custkey")
  }

  query("q40_except_nations", oracle =
      """SELECT n_nationkey AS k FROM nation
        |EXCEPT SELECT CAST(s_nationkey AS INTEGER) AS k FROM supplier
        |       WHERE CAST(s_acctbal AS DECIMAL(18,2)) > 8000
        |ORDER BY k""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val n = t(s, d, "nation").select(col("n_nationkey").as("k"))
    val sup = t(s, d, "supplier")
      .filter(dec2(col("s_acctbal")) > 8000) // nations w/o a high-balance supplier
      .select(col("s_nationkey").cast("int").as("k"))
    n.except(sup).orderBy("k")
  }

  /** Correlated EXISTS with an extra predicate (decorrelates to a
    * filtered semi join).
    */
  query("q41_exists_orders", oracle =
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val o  = t(s, d, "orders")
    val li = t(s, d, "lineitem").filter(col("l_quantity") > 45)
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Scalar subquery: orders within 10% of the global max price (max is
    * exact on decimals, unlike avg).
    */
  query("q42_scalar_subquery", oracle =
      s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS total
         |FROM orders
         |WHERE ${centsSql("o_totalprice")} * 10 >=
         |  (SELECT MAX(${centsSql("o_totalprice")}) FROM orders) * 9
         |ORDER BY o_orderkey""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val o      = t(s, d, "orders").withColumn("total", cents(col("o_totalprice")))
    val maxRow = o.agg(max(col("total")).as("mx"))
    o.crossJoin(broadcast(maxRow))
      .filter(col("total") * 10 >= col("mx") * 9)
      .select(col("o_orderkey"), col("total"))
      .orderBy("o_orderkey")
  }

  /** Time functions over events.ts — normalized to epoch-ns BIGINT by
    * [[graft.util.EventTime]] in `t()` whatever the fixture shipped
    * (DuckDB reads the same column with its own timestamp functions).
    */
  query("q43_hourly_events", oracle =
      s"""SELECT CAST(hour(ts) AS BIGINT) AS hr, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS total_value
         |FROM events GROUP BY hr ORDER BY hr""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "events")
      .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
      .groupBy(hour(col("event_time")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("total_value"))
      .orderBy("hr")
  }

  /** As-of join: each purchase event paired with the user's latest
    * click at-or-before it (point-in-time join — Spark lacks the
    * operator; composed via union + last-over-window, one shuffle).
    */
  query("q44_asof_clicks", oracle =
      """SELECT p.event_id, p.user_id, c.event_id AS last_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val ev        = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    Relational.asOfJoin(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        carry = Seq("event_id"), tiebreak = "event_id")
      .select(col("event_id"), col("user_id"), col("asof_event_id").as("last_click"))
      .orderBy("event_id")
  }

  /** KMV distinct sketch vs exact. The sketch hashes with the portable
    * md5-derived 60-bit hash (one md5 per value, hex-prefix parse) so the
    * k-th minimum — and therefore the estimate — is reproducible in the
    * DuckDB oracle via row_number over the same hash values.
    */
  query("q45_kmv_distinct", oracle =
      s"""WITH h AS (SELECT DISTINCT l_returnflag,
         |   ${PortableHash.md5Hex60Sql("CAST(l_partkey AS VARCHAR)")} AS hv FROM lineitem),
         | r AS (SELECT l_returnflag, hv,
         |   row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
         |   COUNT(*) OVER (PARTITION BY l_returnflag) AS n FROM h),
         | kmv AS (SELECT l_returnflag,
         |   CAST(CASE WHEN MAX(n) < 512 THEN MAX(n)
         |     ELSE FLOOR(511.0 / (CAST(MIN(CASE WHEN rn = 512 THEN hv END) AS DOUBLE)
         |       / 1152921504606846976.0)) END AS BIGINT) AS kmv_parts
         |   FROM r GROUP BY l_returnflag),
         | ex AS (SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
         |        FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, kmv_parts, exact_parts
         |FROM kmv JOIN ex USING (l_returnflag) ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    spread(t(s, d, "lineitem"), "l_orderkey")
      .withColumn("h", PortableHash.md5Hex60(col("l_partkey").cast("string")))
      .groupBy("l_returnflag")
      .agg(kmvDistinctPreHashed(col("h"), 512, bits = 60).as("kmv_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** GROUPING SETS over non-hierarchical sets (not expressible as
    * rollup/cube).
    */
  query("q46_grouping_sets", oracle =
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    t(s, d, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Gap-based sessionization (30-min gap) over the event stream — all
    * integer arithmetic, one shuffle on user_id. Timestamps are
    * truncated to MICROseconds on both sides (integer `div 1000` over
    * the EventTime-normalized ns longs here, epoch_us in the oracle),
    * the precision every fixture generation can represent.
    */
  query("q49_sessions", oracle =
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tn FROM events),
        | s AS (SELECT user_id, event_id, tn,
        |   CASE WHEN LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) IS NULL
        |     OR tn - LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) > 1800000000
        |     THEN 1 ELSE 0 END AS is_new FROM e),
        | x AS (SELECT user_id, tn,
        |   SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |   FROM s)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n_events,
        | MIN(tn) AS session_start, MAX(tn) AS session_end, MAX(tn)-MIN(tn) AS duration_us
        |FROM x GROUP BY user_id, sid ORDER BY user_id, session_id"""
      .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Sessionize.sessionStats(
        t(s, d, "events").select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("tus")),
        keys = Seq("user_id"), tsCol = "tus", tiebreak = "event_id",
        gapUs = 1800000000L) // 30 min in µs
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start"), col("session_end"), col("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** q44's point-in-time semantics through the native Catalyst operator
    * ([[graft.plans.AsOfJoin]]: LogicalPlan + Strategy + single
    * co-partitioned forward merge, O(1) state per partition) instead of
    * the composed union+window. Same oracle as q44 — the oracle gate
    * proves the custom physical operator bit-matches DuckDB's ASOF JOIN.
    */
  query("q50_asof_native", oracle =
      """SELECT p.event_id, p.user_id, c.event_id AS last_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val ev        = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    graft.plans.AsOfJoin(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        carry = Seq("event_id"), tiebreak = "event_id")
      .select(col("event_id"), col("user_id"), col("asof_event_id").as("last_click"))
      .orderBy("event_id")
  }

  /** Revenue by order priority through [[Relational.saltedJoin]] — the
    * deliberate skew-mitigation shape (per-row salt on the big side,
    * ×salt replicated right side, join on (key, salt)). Salting is
    * semantics-preserving, so the oracle is the plain join: the gate
    * proves the rewrite changes the partitioning, not the answer.
    */
  query("q52_salted_join", oracle =
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         | CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS revenue_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Relational.saltedJoin(
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice"),
        t(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        keys = Seq("l_orderkey"), numSalts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  /** Events per campaign window through [[Relational.rangeJoin]] — the
    * bucketized interval join (explode intervals into coarse buckets,
    * equi-join points on their bucket, refine exactly) instead of the
    * nested-loop plan a bare BETWEEN predicate gets. Windows are 3-day
    * spans derived deterministically from the nation table; days are
    * integer epoch days (ns `div` 86400e9 here, µs // 86400e6 in the
    * oracle — identical after parquet's ns→µs truncation).
    */
  query("q53_range_join", oracle =
      """WITH iv AS (SELECT CAST(n_nationkey AS BIGINT) AS window_id,
        |   CAST(n_nationkey + 19723 AS BIGINT) AS lo,
        |   CAST(n_nationkey + 19725 AS BIGINT) AS hi FROM nation),
        | e AS (SELECT event_id, epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT window_id, COUNT(*) AS n_events
        |FROM e JOIN iv ON e.day BETWEEN iv.lo AND iv.hi
        |GROUP BY window_id ORDER BY window_id"""
      .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val ev = t(s, d, "events")
      .select(col("event_id"), expr("ts div 86400000000000").as("day"))
    val iv = t(s, d, "nation")
      .select(col("n_nationkey").cast("long").as("window_id"),
        (col("n_nationkey") + 19723L).cast("long").as("lo"),
        (col("n_nationkey") + 19725L).cast("long").as("hi"))
    Relational.rangeJoin(ev, iv, "day", "lo", "hi", bucketWidth = 3L)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("window_id")
  }

  /** HLL distinct sketch vs exact (q45's KMV counterpart at 64 bytes of
    * state): portable md5-derived hash, exact-integer register sum, and
    * a literal-mirrored float chain make the estimate itself
    * oracle-checkable — see [[graft.plans.HllDistinct]].
    */
  query("q57_hll_distinct", oracle = {
      val est = graft.plans.HllDistinct.oracleSql(
        PortableHash.md5Hex60Sql("CAST(l_partkey AS VARCHAR)"),
        "FROM lineitem", Seq("l_returnflag"))
      s"""WITH est AS ($est),
         | ex AS (SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
         |        FROM lineitem GROUP BY 1)
         |SELECT est.l_returnflag, est.hll_est AS hll_parts, ex.exact_parts
         |FROM est JOIN ex USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    spread(t(s, d, "lineitem"), "l_orderkey")
      .withColumn("h", PortableHash.md5Hex60(col("l_partkey").cast("string")))
      .groupBy("l_returnflag")
      .agg(graft.plans.HllDistinct.hllDistinct(col("h"), 6).as("hll_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** Incremental-ingest diff ([[graft.operators.Delta.snapshotDiff]]):
    * yesterday = documents; today = deterministic edits (every 7th doc
    * appended-to, every 11th dropped, every 13th re-added under a new
    * id) — both engines derive the same synthetic "today", so the diff
    * statuses hash-check. The shuffle carries (id, fingerprint) pairs,
    * never text.
    */
  // the synthetic "today" snapshot is derived identically on both
  // engines; statuses compare canonical fingerprints (formatting-only
  // edits are 'unchanged' by design)
  query("q70_snapshot_diff", oracle =
      s"""WITH today AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'added doc ' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0),
         | o AS (SELECT doc_id, MIN($fingerprintSql) AS fp FROM documents GROUP BY doc_id),
         | n AS (SELECT doc_id, MIN($fingerprintSql) AS fp FROM today GROUP BY doc_id),
         | j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
         |                   WHEN n.doc_id IS NULL THEN 'removed'
         |                   WHEN o.fp = n.fp THEN 'unchanged'
         |                   ELSE 'changed' END AS status
         |       FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT status, COUNT(*) AS n FROM j GROUP BY status ORDER BY status"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val docs = t(s, d, "documents")
    val today = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("added doc "), col("doc_id").cast("string")).as("text")))
    graft.operators.Delta.snapshotDiff(docs, today)
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  /** Distributed binned percentiles ([[graft.operators.Monitoring
    * .binnedQuantiles]]): p50/p95/p99 of event value-cents per type in
    * 100-cent bins — the shuffle carries (type, bin) counts, every
    * output an exact integer (the first bin lower bound whose
    * cumulative count reaches p%).
    */
  // truncating // matches Spark div; p_lo = lower bound of the first
  // bin whose cumulative count reaches p% of the group
  query("q73_binned_quantiles", oracle = {
      def pLo(p: Int) =
        s"MIN(CASE WHEN 100 * cum >= $p * tot THEN bin * 100 END) AS p${p}_lo"
      s"""WITH b AS (SELECT event_type, ${centsSql("value")} // 100 AS bin, COUNT(*) AS c
         |   FROM events GROUP BY event_type, bin),
         | w AS (SELECT event_type, bin, c,
         |   SUM(c) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         |   SUM(c) OVER (PARTITION BY event_type) AS tot
         |   FROM b)
         |SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n,
         | ${pLo(50)}, ${pLo(95)}, ${pLo(99)}
         |FROM w GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Monitoring.binnedQuantiles(
        t(s, d, "events").select(col("event_type"), cents(col("value")).as("vc")),
        keyCols = Seq("event_type"), valueCol = "vc", binWidth = 100L,
        percents = Seq(50, 95, 99))
      .orderBy("event_type")
  }

  /** §2.10 bucketed layout as a gated query
    * ([[graft.operators.Bucketing.ensureBucketed]]): both fact tables
    * are written `bucketBy(8, orderkey)` + `sortBy` ONCE per landed
    * input (idempotent ingest — reruns over the same source tag skip
    * the rewrite), then the fact⋈fact join consumes the co-located
    * bucket files with NO exchange below the join; at 100 TB that
    * converts the pipeline's dominant network cost into a local merge,
    * reused by every subsequent query on the key. Bucketing is
    * semantics-preserving, so the oracle is the plain DuckDB join
    * (the q52 pattern); BucketingSpec pins the plan shape — with
    * broadcast disabled the whole query contains exactly ONE hash
    * Exchange (the aggregation), zero under the join.
    */
  // bucketing is layout, not semantics: the oracle is the plain join
  query("q75_bucketed_join", layouts = Seq(Layouts.q75Tables), oracle =
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.q75Tables(s, d)
    s.table("graft_q75_lineitem")
      .join(s.table("graft_q75_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Bloom runtime-filter semi-join
    * ([[graft.operators.RuntimeFilter.semiJoin]]): revenue of lineitems
    * whose order is URGENT — the selective fact⋈dim semi-join every
    * warehouse query starts with, executed as build-side Bloom bitset →
    * codegen'd `might_contain` pushed into the probe scan → exact
    * left-semi join on the survivors. The Bloom is one-sided, so the
    * result set is EXACTLY the plain semi-join (the DuckDB oracle);
    * RuntimeFilterSpec proves the pruning itself (no false negatives,
    * measured fp rate, scan-stage placement).
    */
  // the Bloom filter is pruning-only (one-sided + exact join after),
  // so the oracle is the PLAIN semi-join — layout/runtime-filter
  // machinery must be invisible in the result
  query("q81_bloom_semi", oracle =
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue
         |FROM lineitem
         |WHERE l_orderkey IN
         |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         |GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val urgent = t(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.operators.RuntimeFilter.semiJoin(
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_extendedprice"), col("l_discount")),
        "l_orderkey", urgent, "o_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** CDC merge/upsert ([[graft.operators.Delta.applyChanges]]) — the
    * apply half of the q70 diff⋈apply pair: replay a change set
    * (updates = uppercased text for doc_id ≡ 0 mod 7, inserts = copies
    * at doc_id+10^6 for ≡ 0 mod 13, deletes = ≡ 0 mod 11; delete wins
    * on overlap) onto the documents snapshot and emit the merged
    * corpus keyed by content md5. The oracle replays the same change
    * set relationally (anti-join + unions) — upsert machinery must be
    * invisible in the result.
    */
  // relational replay of the same change set: anti-join + unions;
  // delete/update classes are disjoint by construction (mod 11
  // excluded from updates), inserts land on fresh ids
  query("q82_upsert_merge", oracle =
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
        | upd AS (SELECT doc_id, upper(text) AS text, lang, source FROM base
        |   WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0),
        | ins AS (SELECT doc_id + 1000000 AS doc_id, text, lang, source FROM base
        |   WHERE doc_id % 13 = 0),
        | del AS (SELECT doc_id FROM base WHERE doc_id % 11 = 0),
        | touched AS (SELECT doc_id FROM upd UNION ALL SELECT doc_id FROM ins
        |   UNION ALL SELECT doc_id FROM del),
        | merged AS (
        |   SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM touched)
        |   UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT doc_id, md5(text) AS content_md5, lang, source
        |FROM merged ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val updates = docs
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
      .withColumn("text", upper(col("text")))
      .withColumn("is_delete", lit(false))
    val inserts = docs
      .filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("is_delete", lit(false))
    val deletes = docs
      .filter(col("doc_id") % 11 === 0)
      .withColumn("is_delete", lit(true))
    graft.operators.Delta.applyChanges(docs,
        updates.unionByName(inserts).unionByName(deletes), "doc_id", "is_delete")
      .select(col("doc_id"), md5(col("text")).as("content_md5"),
        col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Incremental aggregate maintenance
    * ([[graft.operators.Incremental.maintainSumCount]]): a per-type
    * (count, cents-sum) materialized view of the events table kept
    * current under a CDC batch — inserts (event_id ≡ 0 mod 5) plus
    * retractions (mod-7 rows of the base period, sign −1) fold in as
    * one delta aggregate merged into the state by group key; the base
    * rows are never rescanned. The oracle aggregates the effective row
    * set directly — maintenance must be invisible in the result.
    */
  // effective set = base minus retracted plus inserts:
  // (%5≠0 AND %7≠0) OR (%5=0)  ⇔  (%5=0) OR (%7≠0)
  query("q86_incr_maintain", oracle =
      s"""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS sum_c
         |FROM events
         |WHERE event_id % 5 = 0 OR event_id % 7 <> 0
         |GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val ev = t(s, d, "events")
      .select(col("event_id"), col("event_type"), cents(col("value")).as("val_c"))
    val baseRows = ev.filter(col("event_id") % 5 =!= 0)
    val state = baseRows.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("val_c").as("sum_c"))
    val delta = ev.filter(col("event_id") % 5 === 0).withColumn("sign", lit(1L))
      .unionByName(baseRows.filter(col("event_id") % 7 === 0).withColumn("sign", lit(-1L)))
      .select(col("event_type"), col("val_c"), col("sign"))
    graft.operators.Incremental.maintainSumCount(
        state, delta, Seq("event_type"), "val_c", "sign")
      .orderBy("event_type")
  }
}
