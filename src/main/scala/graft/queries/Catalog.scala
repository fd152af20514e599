package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators._
import graft.sources.Tables

/**
 * The query catalog: every operator of SURVEY.md §2 (plus the
 * training-data-pipeline extensions) bound to the driver's synthetic tables,
 * with an ANSI-SQL DuckDB oracle wherever the semantics are SQL-expressible.
 *
 * Engine-parity conventions (see SURVEY.md §7.4):
 *  - Event time is integer: epoch µs (`usec`) / epoch s (`sec`) derived from
 *    the raw int64-nanos parquet column with integer division — float epoch
 *    math would round differently across engines.
 *  - Window labels are `window_end` epoch-second bigints, never timestamps.
 *  - Computed money aggregates go through DECIMAL casts and come back as
 *    doubles, so both engines produce bit-identical values.
 *  - Every rank/limit has a total-order tie-break.
 */
object Catalog {

  type Q = (SparkSession, String) => DataFrame

  /** events with integer event time + item_id extracted from props JSON.
    * `ts` arrives as int64 nanos (spark.sql.legacy.parquet.nanosAsLong). */
  def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("usec", expr("ts div 1000"))
      .withColumn("sec", expr("ts div 1000000000"))
      .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
      .withColumn("item_id", get_json_object(col("props"), "$.k").cast("long"))

  /** DuckDB twin of [[events]]. */
  private val eventsCte =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |         epoch_ns(ts)//1000 AS usec,
      |         epoch_ns(ts)//1000000000 AS sec,
      |         CAST(props->>'k' AS BIGINT) AS item_id
      |  FROM events
      |)""".stripMargin

  /** DuckDB sliding-window replication: one row per (row, containing
    * window), window_end in epoch seconds — mirrors Spark's `window()`
    * alignment (starts at multiples of the slide). */
  private def duckSlide(sizeSec: Long, slideSec: Long): String =
    s"unnest(generate_series((sec//$slideSec)*$slideSec - $sizeSec + $slideSec, (sec//$slideSec)*$slideSec, $slideSec)) + $sizeSec"

  private def duckTumble(sizeSec: Long): String =
    s"(sec//$sizeSec)*$sizeSec + $sizeSec"

  // ------------------------------------------------------------------
  // TPC-H-ish relational family (scan / filter / agg / join inventory)
  // ------------------------------------------------------------------

  val q1Agg: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("cnt"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Shuffle join orders⋈lineitem + broadcast-size dim join to customer;
    * top-10 orders by revenue. */
  val q3Revenue: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("c_mktsegment"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val q3RevenueSql: String =
    """SELECT o_orderkey, c_mktsegment,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_orderkey, c_mktsegment
      |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** Multi-way dim join through region→nation→(customer,supplier): revenue
    * by nation where customer and supplier share the nation (TPC-H Q5
    * shape). Dims broadcast; the single big shuffle is lineitem⋈orders. */
  val q5Nation: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q5NationSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q14 shape: promo revenue share — conditional aggregation over
    * lineitem⋈part (broadcast dim), exercises the `part` table. */
  val q14Promo: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q14PromoSql: String =
    """SELECT p_type,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_type""".stripMargin

  /** TPC-H Q6 shape: single-table filter-aggregate whose predicates all
    * push to the parquet scan (shipdate range + discount band + quantity
    * cap) — the canonical pushdown/pruning probe. */
  val q6Filter: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        col("l_discount").cast(DecimalType(18, 4))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  val q6FilterSql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q10 shape: returned-item revenue by customer — fact filter,
    * one fact shuffle (lineitem⋈orders), broadcast dims, top-20 with
    * total-order tie-break (TakeOrdered, no global sort). */
  val q10Returns: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    li.filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q10ReturnsSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** TPC-H Q18 shape: large-volume orders — a HAVING over the fact
    * aggregate, re-joined to orders + customer. The having-filter runs on
    * the aggregated (small) side before any wide join. */
  val q18Large: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
  }

  val q18LargeSql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0
      |)
      |SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity bands
    * — an OR-of-ANDs residual predicate over a broadcast dim join. */
  val q19Disjunct: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 35)) ||
        (col("p_brand") === "Brand#17" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50)))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19DisjunctSql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
      |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  /** TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    * customer⋈orders (zero-order customers kept), per-customer count, then
    * a tiny second aggregate over the counts. One fact shuffle on custkey;
    * the histogram aggregate runs over |customers| rows, not the fact. */
  val q13Custdist: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13CustdistSql: String =
    """WITH per_cust AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey
      |)
      |SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count""".stripMargin

  /** TPC-H Q22 shape: positive-balance customers above the global average
    * balance with NO orders — a broadcast scalar subquery feeding a filter,
    * then a left-anti join against the fact. The average is computed as
    * exact-DECIMAL sum ÷ count so both engines derive the identical double
    * threshold (a float avg would round differently at the boundary). */
  val q22Balance: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avg_bal"))
    c.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("totacctbal"))
  }

  val q22BalanceSql: String =
    """WITH avg_bal AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0.0
      |)
      |SELECT c_mktsegment, count(*) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, avg_bal
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment""".stripMargin

  /** TPC-H Q4 shape: order-priority checking — orders having at least one
    * lineitem shipped >60 days after the order date (EXISTS → left-semi;
    * the tables lack l_commitdate/l_receiptdate, so "late" is
    * shipdate-vs-orderdate). One fact shuffle: the semi-join on orderkey;
    * the extra date predicate rides the same join. */
  val q4Priority: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    o.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4PrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q7 shape: bilateral trade volume — revenue shipped between two
    * specific (supplier nation, customer nation) pairs by year. One fact
    * shuffle (lineitem⋈orders); supplier/customer/nation dims broadcast
    * twice under different aliases. */
  val q7Volume: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val n1 = n.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = n.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double").as("revenue"))
  }

  val q7VolumeSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      |         year(l_shipdate) AS l_year, l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
      |     OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 shape: market share — the fraction of ASIA customers' revenue
    * supplied from NATION_3, by order year. Conditional aggregation over
    * the multi-dim join; customers restricted to one region via
    * nation→region (both broadcast). */
  val q8Share: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    val custNation = n.join(r, col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey").as("cn_key"))
    val suppNation = n.select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice").cast(DecimalType(18, 4)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0.0).cast(DecimalType(18, 4)))).cast("double") /
          sum(vol).cast("double")).as("mkt_share"),
        count(lit(1)).as("n_items"))
  }

  val q8ShareSql: String =
    """SELECT year(o_orderdate) AS o_year,
      |  CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))
      |        ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE) /
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation nc ON c_nationkey = nc.n_nationkey
      |JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ns ON s_nationkey = ns.n_nationkey
      |GROUP BY year(o_orderdate)""".stripMargin

  /** TPC-H Q9 shape: profit by supplier nation and year. The tables lack
    * partsupp, so cost is proxied as p_retailprice·quantity·0.6 — the
    * plan shape (fact⋈orders shuffle, part/supplier/nation broadcast,
    * two-level group) is what's exercised, not TPC-H's exact formula. */
  val q9Profit: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val p = Tables.part(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(
        col("l_extendedprice").cast(DecimalType(18, 4)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4)) -
          col("p_retailprice").cast(DecimalType(18, 4)) *
            col("l_quantity").cast(DecimalType(18, 4)) *
            lit(0.6).cast(DecimalType(18, 4)))
        .cast("double").as("profit"))
  }

  val q9ProfitSql: String =
    """SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4)) -
      |           CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) * CAST(0.6 AS DECIMAL(18,4))) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name, year(o_orderdate)""".stripMargin

  /** TPC-H Q12 shape: shipping-delay split — per return flag (standing in
    * for the absent l_shipmode), count high- vs lower-priority orders among
    * lineitems shipped within 30 CALENDAR days of the order date. The
    * predicate is an integer day-diff over DATE-truncated timestamps —
    * timestamp-plus-interval boundary semantics differ across engines,
    * integer day arithmetic does not. Single fact shuffle + conditional
    * aggregation. */
  val q12Priority: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date")).between(0, 29))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L)).as("low_line_count"))
  }

  val q12PrioritySql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      |      BETWEEN 0 AND 29
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q15 shape: top supplier — suppliers whose 1997H1 revenue equals
    * the maximum. The per-supplier aggregate is one shuffle over the
    * filtered fact (predicate pushes to the scan); the single-row max and
    * the supplier dim both broadcast, so nothing re-shuffles. */
  val q15TopSupplier: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val su = Tables.supplier(s, dir)
    val rev = li
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).cast("double")
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.join(broadcast(mx), col("total_revenue") === col("mx"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  val q15TopSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
      |  GROUP BY l_suppkey
      |)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin

  /** TPC-H Q17 shape: small-quantity revenue — lineitems of one brand's
    * parts with quantity below 0.2× that part's average quantity. The
    * per-part average is |parts|-sized, so it broadcasts back: the fact
    * table NEVER shuffles — both joins are broadcast, the filter and final
    * agg are map-side. */
  val q17SmallQty: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir).filter(col("p_brand") === "BRAND_1")
      .select(col("p_partkey"))
    val perPart = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey").as("ap_key"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(perPart), col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
        .as("small_qty_revenue"),
        count(lit(1)).as("n_items"))
  }

  val q17SmallQtySql: String =
    """WITH brand_parts AS (
      |  SELECT p_partkey FROM part WHERE p_brand = 'BRAND_1'
      |), per_part AS (
      |  SELECT l_partkey AS ap_key, avg(l_quantity) AS avg_qty
      |  FROM lineitem JOIN brand_parts ON l_partkey = p_partkey
      |  GROUP BY l_partkey
      |)
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN brand_parts ON l_partkey = p_partkey
      |JOIN per_part ON l_partkey = ap_key
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  /** TPC-H Q21 shape: suppliers who alone held up a multi-supplier order —
    * finished orders with >1 distinct supplier where exactly one supplier
    * shipped late (>60 days after order date). Instead of Q21's double
    * correlated EXISTS/NOT EXISTS self-joins, the per-order supplier
    * profile is ONE conditional aggregation over the single fact shuffle
    * (orderkey); the offender extraction and supplier name join are
    * broadcast-sized. */
  val q21Waiting: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
    val su = Tables.supplier(s, dir)
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    val perOrder = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late_supp"),
        max(when(late, col("l_suppkey"))).as("late_supp"))
    perOrder.filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(su), col("late_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  val q21WaitingSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    count(DISTINCT l_suppkey) AS n_supp,
      |    count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS n_late_supp,
      |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS late_supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY l_orderkey
      |)
      |SELECT s_name, count(*) AS numwait
      |FROM per_order JOIN supplier ON late_supp = s_suppkey
      |WHERE n_supp > 1 AND n_late_supp = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin

  /** TPC-H Q2 shape (min-cost supplier per part), adapted: no partsupp
    * table, so the part↔supplier relation derives from lineitem with
    * min unit price as the cost proxy. One wide shuffle (the (part, supp)
    * aggregate — partial-agg'd); part filter and the supplier⋈nation⋈region
    * chain broadcast; per-part winner via row_number with a total-order
    * tie-break (TPC-H's correlated-min can emit ties). */
  val q2Mincost: Q = (s, dir) => {
    val ps = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice").cast(DecimalType(18, 2))).as("cost"))
    val pr = Tables.part(s, dir).filter(col("p_size") === 15)
    val su = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_partkey"))
      .orderBy(col("cost").asc, col("l_suppkey").asc)
    ps.join(broadcast(pr), col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("cost").cast("double").as("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  val q2MincostSql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey
      |), cand AS (
      |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |         CAST(cost AS DOUBLE) AS cost,
      |         row_number() OVER (PARTITION BY p_partkey
      |                            ORDER BY cost ASC, l_suppkey ASC) AS rn
      |  FROM ps
      |  JOIN part ON l_partkey = p_partkey AND p_size = 15
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost
      |FROM cand WHERE rn = 1
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  /** TPC-H Q11 shape (important stock), adapted: per-part revenue from one
    * region's suppliers, kept when above 2× the mean part value — the
    * scalar-subquery-threshold shape, made scale-free so the filter
    * stays meaningful at every SF. The per-part aggregate is the one
    * shuffle; the global (count, sum) reduces from it and broadcasts
    * back via a 1-row cross join. */
  val q11Important: Q = (s, dir) => {
    val su = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val v = Tables.lineitem(s, dir)
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(18, 4))).as("value"))
    val tot = v.agg(count(lit(1)).as("_n"),
      sum(col("value")).as("_tot"))
    v.crossJoin(broadcast(tot))
      .filter(col("value") * col("_n") > col("_tot") * 2)
      .select(col("l_partkey"), col("value").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey").asc)
  }

  val q11ImportantSql: String =
    """WITH v AS (
      |  SELECT l_partkey,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |             CAST(1.0 - l_discount AS DECIMAL(18,4))) AS value
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
      |  GROUP BY l_partkey
      |)
      |SELECT l_partkey, CAST(value AS DOUBLE) AS value
      |FROM v
      |WHERE value * (SELECT count(*) FROM v) > 2 * (SELECT sum(value) FROM v)
      |ORDER BY value DESC, l_partkey""".stripMargin

  /** TPC-H Q16 shape (supplier count per part attribute), adapted:
    * distinct (part, supplier) pairs from lineitem, negative-balance
    * suppliers excluded by anti join (the NOT IN subquery — no NULL
    * hazard, s_acctbal is non-null). The distinct-pair shuffle carries
    * two longs; part attrs broadcast. */
  val q16Suppcnt: Q = (s, dir) => {
    val ps = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val bad = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val pr = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36))
    ps.join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }

  val q16SuppcntSql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
      |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q20 shape (suppliers with excess stock), adapted: suppliers in
    * one nation who shipped > 50 units of some gear part in 1996 — the
    * nested semi-join chain. The (supp, part) quantity aggregate is the
    * shuffle; gear parts broadcast into it; the surviving supplier-key
    * set semi-joins the (broadcast-sized) supplier dim. */
  val q20Excess: Q = (s, dir) => {
    val gear = Tables.part(s, dir)
      .filter(col("p_name").like("%gear%")).select(col("p_partkey"))
    val qty = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(gear), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      .filter(col("qty") > 50)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .join(qty, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name").asc)
  }

  val q20ExcessSql: String =
    """SELECT s_name, s_acctbal
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY l_suppkey, l_partkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
      |ORDER BY s_name""".stripMargin

  /** Bloom-pruned semi join (exact result, sketch-pruned shuffle): lineitems
    * of urgent orders via a distributed bloom of the urgent orderkeys +
    * exact semi join over survivors. Oracle is the plain EXISTS — the
    * bloom must be invisible in the result. */
  val qBloomSemi: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    Joins.bloomSemiJoin(li, "l_orderkey", urgent, "o_orderkey",
        expectedItems = 4000L, numBits = 1L << 18)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
  }

  val qBloomSemiSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag""".stripMargin

  /** Bucketed range join (point-in-interval as an equi join on bucket id +
    * exact residual): customers whose balance falls within ±5 of a
    * supplier's. The ±5 bounds and the residual compare run in
    * DECIMAL(18,2) — engines rewrite double comparisons like
    * `x >= y - 5` with constant motion that flips boundary rows;
    * decimal cents arithmetic is exact in both. Oracle is the plain
    * BETWEEN join over the same decimal casts. */
  val qRangeJoin: Q = (s, dir) => {
    val bal = DecimalType(18, 2)
    val c = Tables.customer(s, dir)
      .withColumn("c_bal", col("c_acctbal").cast(bal))
    val su = Tables.supplier(s, dir)
      .select(col("s_suppkey"),
        (col("s_acctbal").cast(bal) - 5).as("lo"),
        (col("s_acctbal").cast(bal) + 5).as("hi"))
    Joins.bucketedRangeJoin(c, "c_bal", su, "lo", "hi", bucketWidth = 10.0)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_close"),
        sum(col("c_custkey")).as("custkey_sum"))
  }

  val qRangeJoinSql: String =
    """WITH c AS (SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |           FROM customer),
      |     s AS (SELECT s_suppkey, CAST(s_acctbal AS DECIMAL(18,2)) AS sbal
      |           FROM supplier)
      |SELECT s_suppkey, count(*) AS n_close,
      |       CAST(sum(c_custkey) AS BIGINT) AS custkey_sum
      |FROM c JOIN s ON bal >= sbal - 5 AND bal <= sbal + 5
      |GROUP BY s_suppkey""".stripMargin

  /** Multi-distinct aggregate: several count(DISTINCT ·) columns plus a
    * plain count in one Aggregate — plans through Catalyst's Expand-based
    * multi-distinct rewrite (one shuffle total, not one per distinct). */
  val qMultiDistinct: Q = (s, dir) =>
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"),
        countDistinct(col("item_id")).as("items"),
        count(lit(1)).as("n"))

  val qMultiDistinctSql: String =
    s"""$eventsCte
       |SELECT event_type, count(DISTINCT user_id) AS users,
       |       count(DISTINCT item_id) AS items, count(*) AS n
       |FROM e GROUP BY event_type""".stripMargin

  /** Set operations (INTERSECT / EXCEPT): urgent-priority customers vs
    * high-value customers, labelled by membership. Both inputs aggregate
    * to distinct keys before the set ops, so the set ops run over the
    * small deduplicated key sets (hash-partitioned equi-shape, not the
    * fact). */
  val qSetOps: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey")).distinct()
    val highVal = o.filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey").as("custkey")).distinct()
    urgent.intersect(highVal).withColumn("op", lit("both"))
      .unionByName(urgent.except(highVal).withColumn("op", lit("urgent_only")))
      .unionByName(highVal.except(urgent).withColumn("op", lit("highval_only")))
  }

  val qSetOpsSql: String =
    """WITH urgent AS (
      |  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |), highval AS (
      |  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0
      |)
      |SELECT custkey, 'both' AS op FROM (SELECT custkey FROM urgent INTERSECT SELECT custkey FROM highval)
      |UNION ALL
      |SELECT custkey, 'urgent_only' AS op FROM (SELECT custkey FROM urgent EXCEPT SELECT custkey FROM highval)
      |UNION ALL
      |SELECT custkey, 'highval_only' AS op FROM (SELECT custkey FROM highval EXCEPT SELECT custkey FROM urgent)""".stripMargin

  /** Partition-extremum + rank-distribution window functions: first/last
    * value over the full frame, percent_rank and cume_dist over a total
    * order (event_id tie-break → no ties, so both engines agree bitwise;
    * the rank ratios are integer-derived doubles). */
  val qFirstLast: Q = (s, dir) => {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val wFull = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("sec"))
      .withColumn("first_ev", first(col("event_id")).over(wFull))
      .withColumn("last_ev", last(col("event_id")).over(wFull))
      .withColumn("pr", percent_rank().over(wOrd))
      .withColumn("cd", cume_dist().over(wOrd))
  }

  val qFirstLastSql: String =
    s"""$eventsCte
       |SELECT user_id, event_id, sec,
       |  first_value(event_id) OVER (PARTITION BY user_id ORDER BY sec, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ev,
       |  last_value(event_id) OVER (PARTITION BY user_id ORDER BY sec, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ev,
       |  percent_rank() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS pr,
       |  cume_dist() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS cd
       |FROM e""".stripMargin

  /** Region rollup through region→nation→customer→orders: order counts and
    * value per region — the remaining dim-chain (uses `region`). */
  val qRegionRollup: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total_value"))
  }

  val qRegionRollupSql: String =
    """SELECT r_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** Cube aggregation over lineitem flags — grouping-set surface the
    * reference lacks entirely (SURVEY.md §2.4 note: "Spark gives these for
    * free"). NULL grouping markers coalesced to 'ALL' for engine parity. */
  val qCubeFlags: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("sum_qty"))
  }

  val qCubeFlagsSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Session windows per user over events (30 min gap) — sessionization,
    * the one window family the reference never used. Whole-second event
    * time (`sec`) so the lag-based oracle sees identical gap arithmetic. */
  val qSessions: Q = (s, dir) => {
    val e = events(s, dir).select(timestamp_seconds(col("sec")).as("sts"), col("user_id"))
    Windows.sessionCount(e, "sts", Seq("user_id"), "30 minutes")
  }

  /** DuckDB twin: gap-based sessionization via lag + running session id.
    * Spark session windows merge TOUCHING intervals — an event at exactly
    * lastTs + gap joins the session (verified empirically: two events
    * 1800 s apart with a 1800 s gap produce ONE session) — so a new
    * session starts only when the gap is STRICTLY exceeded (`> 1800`).
    * Caught at sf0.1, where an exactly-gap-distance pair exists; sf0.01
    * has none. Session end = last event + gap. */
  val qSessionsSql: String =
    s"""$eventsCte, o AS (
       |  SELECT user_id, sec,
       |         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
       |              OR lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM e
       |), s AS (
       |  SELECT user_id, sec,
       |         sum(new_session) OVER (PARTITION BY user_id ORDER BY sec
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM o
       |)
       |SELECT user_id, min(sec) AS session_start, max(sec) + 1800 AS session_end,
       |       count(*) AS cnt
       |FROM s GROUP BY user_id, session_id""".stripMargin

  // ------------------------------------------------------------------
  // Reference stream-analytics family on `events`
  // (item = props.k, pv = event_type 'view', click = 'click',
  //  login-fail = 'error', order-create = 'signup', pay = 'purchase')
  // ------------------------------------------------------------------

  /** W3+A1+A2+A6: sliding 1h/5m per-item counts, top-5 per window —
    * HotItemApp (SURVEY.md §3.1), flagship. */
  val hotItems: Q = (s, dir) => {
    val pv = events(s, dir).filter(col("event_type") === "view")
      .select(col("ets"), col("item_id"))
    val counts = Windows.slidingCountRollup(pv, "ets", Seq("item_id"), 3600L, 300L)
    Windows.topNPerWindow(counts, Seq("window_end"), "cnt", "item_id", 5)
      .select(col("item_id"), col("window_end"), col("cnt"), col("rn"))
  }

  val hotItemsSql: String =
    s"""$eventsCte, win AS (
       |  SELECT item_id, ${duckSlide(3600, 300)} AS window_end
       |  FROM e WHERE event_type = 'view'
       |), c AS (
       |  SELECT item_id, window_end, count(*) AS cnt FROM win GROUP BY 1, 2
       |)
       |SELECT item_id, window_end, cnt, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY window_end ORDER BY cnt DESC, item_id ASC) AS rn
       |  FROM c
       |) WHERE rn <= 5""".stripMargin

  /** §2.5 SQL surface, naive declarative form: the sliding window written
    * exactly as a SQL user would (`window(ets, '1 hour', '5 minutes')`,
    * 12× row replication as analyzed) with [[graft.plans.SliceRollupRule]]
    * enabled — the optimizer rewrites it into the slice roll-up plan
    * automatically. This is the rule's reason to exist: declarative users
    * get the hand-optimized twin's shuffle shape for free. Rewrite-fired
    * is pinned in PlanInvariantsSpec; result parity by the shared oracle. */
  val hotItemsSqlAuto: Q = (s, dir) => {
    events(s, dir).createOrReplaceTempView("graft_events")
    if (!s.experimental.extraOptimizations.contains(graft.plans.SliceRollupRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.SliceRollupRule
    s.sql(
      """WITH c AS (
        |  SELECT item_id, CAST(window.end AS LONG) AS window_end, count(*) AS cnt
        |  FROM graft_events WHERE event_type = 'view'
        |  GROUP BY item_id, window(ets, '1 hour', '5 minutes')
        |)
        |SELECT item_id, window_end, cnt, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY window_end ORDER BY cnt DESC, item_id ASC) AS rn
        |  FROM c
        |) WHERE rn <= 5""".stripMargin)
  }

  /** §2.5 SQL surface: the same query as [[hotItems]] expressed as SQL text
    * through `spark.sql` over a registered view (HotItemsWithSQLApp parity:
    * HOP window → window(); ROW_NUMBER rank verbatim). The SQL uses the
    * same slice roll-up shape as [[Windows.slidingCountRollup]] — rows
    * pre-aggregate into 5-minute tumbling slices before the 12× sliding
    * fan-out — so the declarative twin carries the identical scale story
    * instead of replicating every input row 12× through the first
    * exchange (every 1h/5m window is a disjoint union of 12 slices). */
  val hotItemsSqlSurface: Q = (s, dir) => {
    events(s, dir).createOrReplaceTempView("graft_events")
    s.sql(
      """WITH slices AS (
        |  SELECT item_id, CAST(window.end AS LONG) AS slice_end, count(*) AS slice_cnt
        |  FROM graft_events WHERE event_type = 'view'
        |  GROUP BY item_id, window(ets, '5 minutes')
        |), counts AS (
        |  SELECT item_id, window_end, sum(slice_cnt) AS cnt
        |  FROM (
        |    SELECT item_id, slice_cnt,
        |           explode(sequence(slice_end, slice_end + 3300, 300)) AS window_end
        |    FROM slices
        |  )
        |  GROUP BY item_id, window_end
        |)
        |SELECT item_id, window_end, cnt, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY window_end ORDER BY cnt DESC, item_id ASC) AS rn
        |  FROM counts
        |) WHERE rn <= 5""".stripMargin)
  }

  /** W4+A6 at the reference's fine-slide regime: 10 min / 5 s sliding top-5
    * URLs — HotUrlApp (HotUrlApp.java:110-192; url proxied from item_id like
    * channel/province are). The 120× window fan-out is exactly where
    * [[Windows.slidingCountRollup]] matters: rows pre-aggregate into 5 s
    * slices so the first exchange carries |urls × slices| rows, not 120×
    * the event stream. */
  val hotUrls: Q = (s, dir) => {
    val pv = events(s, dir).filter(col("event_type") === "view")
      .withColumn("url", concat(lit("/page/"), col("item_id") % 50))
      .select(col("ets"), col("url"))
    val counts = Windows.slidingCountRollup(pv, "ets", Seq("url"), 600L, 5L)
    Windows.topNPerWindow(counts, Seq("window_end"), "cnt", "url", 5)
      .select(col("url"), col("window_end"), col("cnt"), col("rn"))
  }

  val hotUrlsSql: String =
    s"""$eventsCte, win AS (
       |  SELECT '/page/' || CAST(item_id % 50 AS VARCHAR) AS url,
       |         ${duckSlide(600, 5)} AS window_end
       |  FROM e WHERE event_type = 'view'
       |), c AS (
       |  SELECT url, window_end, count(*) AS cnt FROM win GROUP BY 1, 2
       |)
       |SELECT url, window_end, cnt, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY window_end ORDER BY cnt DESC, url ASC) AS rn
       |  FROM c
       |) WHERE rn <= 5""".stripMargin

  /** W5+A1/A3: tumbling 1h page views — PageViewApp. */
  val pvTumbling: Q = (s, dir) => {
    val pv = events(s, dir).filter(col("event_type") === "view").select(col("ets"))
    Windows.tumblingCount(pv, "ets", Seq.empty, "1 hour")
      .select(col("window_end"), col("cnt"))
  }

  val pvTumblingSql: String =
    s"""$eventsCte
       |SELECT ${duckTumble(3600)} AS window_end, count(*) AS cnt
       |FROM e WHERE event_type = 'view' GROUP BY 1""".stripMargin

  /** W6+A5: tumbling 1h exact distinct users — UvCountApp. */
  val uvExact: Q = (s, dir) => {
    val pv = events(s, dir).filter(col("event_type") === "view")
      .select(col("ets"), col("user_id"))
    Windows.exactDistinct(pv, "ets", "user_id", "1 hour")
      .select(col("window_end"), col("uv"))
  }

  val uvExactSql: String =
    s"""$eventsCte
       |SELECT ${duckTumble(3600)} AS window_end, count(DISTINCT user_id) AS uv
       |FROM e WHERE event_type = 'view' GROUP BY 1""".stripMargin

  /** A7: HLL++ approximate distinct — replaces bloom-filter+Redis
    * (UvCountWithBloomFilterApp). Approximation ⇒ rows-only check. */
  val uvApprox: Q = (s, dir) => {
    val pv = events(s, dir).filter(col("event_type") === "view")
      .select(col("ets"), col("user_id"))
    Windows.approxDistinct(pv, "ets", "user_id", "1 hour")
  }

  /** Mergeable-sketch rollup: hourly HLL sketch columns unioned into daily
    * distinct estimates — re-aggregation without re-scanning the corpus.
    * Approximate by nature ⇒ rows-only gate; the ≤few-% error and the
    * hourly→daily ≡ direct-daily merge property are pinned in WindowsSpec. */
  val uvSketchDaily: Q = (s, dir) => {
    val pv = events(s, dir).filter(col("event_type") === "view")
      .select(col("ets"), col("user_id"))
    val hourly = Windows.distinctSketches(pv, "ets", "user_id", "1 hour")
    Windows.rollupSketches(hourly, 86400L)
      .withColumn("uv_est", col("uv_est").cast("long"))
  }

  /** A7/K3 batch parity: tumbling 1h UV via the fixed-size bitmap
    * Aggregator (reference's Redis bitmap as Spark-managed partial-agg
    * state). Collision undercount is possible in general, but the 2^20-bit
    * multiply-rotate hash is verified injective far beyond the testdata's
    * user_id range (BitmapUvSpec), so at gate cardinality the bitmap count
    * IS the exact distinct count — oracled against count(DISTINCT). */
  val uvBitmap: Q = (s, dir) => {
    val pv = events(s, dir).filter(col("event_type") === "view")
      .select(col("ets"), col("user_id"))
    pv.groupBy(window(col("ets"), "1 hour"))
      .agg(BitmapUv.uv(col("user_id")).as("uv_bitmap"))
      .select(col("window").getField("end").cast("long").as("window_end"),
        col("uv_bitmap"))
  }

  /** W2+W4: composite-key sliding window — MarketByChannelApp
    * (channel × behavior). Channel proxied by a user-hash bucket. */
  val channelBehavior: Q = (s, dir) => {
    val e = events(s, dir)
      .withColumn("channel", concat(lit("ch_"), col("user_id") % 4))
      .select(col("ets"), col("channel"), col("event_type").as("behavior"))
    Windows.slidingCountRollup(e, "ets", Seq("channel", "behavior"), 3600L, 600L)
      .select(col("channel"), col("behavior"), col("window_end"), col("cnt"))
  }

  val channelBehaviorSql: String =
    s"""$eventsCte, w AS (
       |  SELECT 'ch_' || CAST(user_id % 4 AS VARCHAR) AS channel,
       |         event_type AS behavior,
       |         ${duckSlide(3600, 600)} AS window_end
       |  FROM e
       |)
       |SELECT channel, behavior, window_end, count(*) AS cnt
       |FROM w GROUP BY 1, 2, 3""".stripMargin

  /** W4+A1: sliding per-province ad-click counts — AdClickByProvinceApp
    * (province proxied by an item bucket). */
  val adProvince: Q = (s, dir) => {
    val e = events(s, dir).filter(col("event_type") === "click")
      .withColumn("province", concat(lit("p_"), col("item_id") % 10))
      .select(col("ets"), col("province"))
    Windows.slidingCountRollup(e, "ets", Seq("province"), 3600L, 300L)
      .select(col("province"), col("window_end"), col("cnt"))
  }

  val adProvinceSql: String =
    s"""$eventsCte, w AS (
       |  SELECT 'p_' || CAST(item_id % 10 AS VARCHAR) AS province,
       |         ${duckSlide(3600, 300)} AS window_end
       |  FROM e WHERE event_type = 'click'
       |)
       |SELECT province, window_end, count(*) AS cnt FROM w GROUP BY 1, 2""".stripMargin

  /** Analytics surface: pivot — channel × behavior count matrix
    * (MarketByChannelApp's output shape as a wide table). Explicit pivot
    * values keep the plan single-pass (no extra distinct-scan job). */
  val channelPivot: Q = (s, dir) => {
    val e = events(s, dir)
      .withColumn("channel", concat(lit("ch_"), col("user_id") % 4))
    e.groupBy(col("channel"))
      .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("channel"))
  }

  val channelPivotSql: String =
    s"""$eventsCte, w AS (
       |  SELECT 'ch_' || CAST(user_id % 4 AS VARCHAR) AS channel, event_type FROM e
       |)
       |SELECT channel,
       |  count(*) FILTER (WHERE event_type = 'view') AS view,
       |  count(*) FILTER (WHERE event_type = 'click') AS click,
       |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
       |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       |  count(*) FILTER (WHERE event_type = 'error') AS error
       |FROM w GROUP BY channel ORDER BY channel""".stripMargin

  /** Correlated-subquery shape (TPC-H-style "above this customer's
    * average"): orders priced above their own customer's mean order
    * value, decorrelated as aggregate + equi-join. The comparison runs
    * in exact DECIMAL arithmetic (price × count > total) so the row
    * membership is engine-exact — a float average would flip boundary
    * rows on summation order. */
  val qAboveAvg: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val stats = o.groupBy(col("o_custkey")).agg(
      sum(col("o_totalprice").cast(DecimalType(18, 2))).as("_tot"),
      count(lit(1)).as("_cnt"))
    o.join(stats, "o_custkey")
      .filter(col("o_totalprice").cast(DecimalType(18, 2)) * col("_cnt") > col("_tot"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("price"))
  }

  val qAboveAvgSql: String =
    """WITH s AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tot,
      |         count(*) AS cnt
      |  FROM orders GROUP BY 1
      |)
      |SELECT o.o_orderkey, o.o_custkey, CAST(o.o_totalprice AS DOUBLE) AS price
      |FROM orders o JOIN s USING (o_custkey)
      |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * cnt > tot""".stripMargin

  /** Bounded-frame window function: 7-day moving sum of daily order value
    * per order priority (frame = 6 preceding..current row). DECIMAL sums
    * keep the frame arithmetic exact; days_in_frame exposes the ramp-up
    * edge. One shuffle by priority. */
  val qMovingWindow: Q = (s, dir) => {
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("day_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    daily
      .withColumn("moving_sum_7", sum(col("day_total")).over(w).cast("double"))
      .withColumn("days_in_frame", count(lit(1)).over(w))
      // day as epoch-day bigint, not DATE: the catalog's integer-label
      // convention (a DATE column round-trips as python date objects on one
      // side and datetime64 on the other in the driver's pandas compare).
      .select(col("o_orderpriority"),
        unix_date(col("day").cast("date")).cast("long").as("day"),
        col("day_total").cast("double").as("day_total"),
        col("moving_sum_7"), col("days_in_frame"))
  }

  val qMovingWindowSql: String =
    """WITH d AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT o_orderpriority, CAST(day - DATE '1970-01-01' AS BIGINT) AS day,
      |  CAST(day_total AS DOUBLE) AS day_total,
      |  CAST(sum(day_total) OVER (PARTITION BY o_orderpriority ORDER BY day
      |       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum_7,
      |  count(*) OVER (PARTITION BY o_orderpriority ORDER BY day
      |       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS days_in_frame
      |FROM d""".stripMargin

  /** Analytics surface: running cumulative window function — per-day event
    * value totals with a running sum per event_type (frame = unbounded
    * preceding..current row, one shuffle by event_type). */
  val qRunningTotal: Q = (s, dir) => {
    val daily = events(s, dir)
      .groupBy(col("event_type"), window(col("ets"), "1 day"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("day_total"))
      .select(col("event_type"),
        col("window").getField("end").cast("long").as("window_end"),
        col("day_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("window_end"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    daily
      .withColumn("running_total", sum(col("day_total")).over(w).cast("double"))
      .withColumn("day_total", col("day_total").cast("double"))
  }

  val qRunningTotalSql: String =
    s"""$eventsCte, d AS (
       |  SELECT event_type, ${duckTumble(86400)} AS window_end,
       |         sum(CAST(value AS DECIMAL(18,2))) AS day_total
       |  FROM e GROUP BY 1, 2
       |)
       |SELECT event_type, window_end, CAST(day_total AS DOUBLE) AS day_total,
       |  CAST(sum(day_total) OVER (PARTITION BY event_type ORDER BY window_end
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS running_total
       |FROM d""".stripMargin

  /** Navigation window functions per user session stream: gap to the
    * previous event (lag) and within-user time quartile (ntile) — the
    * lead/lag/ntile slice of the window-function surface, with a
    * total-order tie-break (sec, event_id) per partition. */
  val qLeadLag: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("sec"))
      .withColumn("gap_sec", col("sec") - lag(col("sec"), 1).over(w))
      .withColumn("next_gap_sec", lead(col("sec"), 1).over(w) - col("sec"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
  }

  val qLeadLagSql: String =
    s"""$eventsCte
       |SELECT user_id, event_id, sec,
       |  sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap_sec,
       |  lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) - sec AS next_gap_sec,
       |  ntile(4) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS quartile
       |FROM e""".stripMargin

  /** F5: count-threshold blacklist per (user, item-bucket) —
    * AdClickKeyProcessFunc semantics, batch form. */
  val blacklist: Q = (s, dir) => {
    val e = events(s, dir).filter(col("event_type") === "click")
      .withColumn("item_bucket", col("item_id") % 10)
      .select(col("user_id"), col("item_bucket"))
    Detectors.countBlacklist(e, Seq("user_id", "item_bucket"), 5L)
      .select(col("user_id"), col("item_bucket"), col("clicks"), col("warning"))
  }

  val blacklistSql: String =
    s"""$eventsCte
       |SELECT user_id, item_id % 10 AS item_bucket, count(*) AS clicks,
       |       'click count ' || CAST(count(*) AS VARCHAR) || ' >= threshold 5' AS warning
       |FROM e WHERE event_type = 'click'
       |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin

  /** F5 with the reference's day semantics: same count-threshold blacklist
    * bucketed by UTC+8 calendar day (`(ts/86400+1)*86400_000 − 8*3600_000`
    * timer math in AdClickByProvinceApp.java:146 ≡ grouping by
    * `(sec + 8h) div 1day`). Threshold 2 per day so sf0.01 emits a meaningful row set. */
  val blacklistDaily: Q = (s, dir) => {
    val e = events(s, dir).filter(col("event_type") === "click")
      .withColumn("item_bucket", col("item_id") % 10)
      .withColumn("day_utc8", expr("(sec + 28800) div 86400"))
      .select(col("user_id"), col("item_bucket"), col("day_utc8"))
    Detectors.countBlacklist(e, Seq("user_id", "item_bucket", "day_utc8"), 2L)
      .select(col("user_id"), col("item_bucket"), col("day_utc8"),
        col("clicks"), col("warning"))
  }

  val blacklistDailySql: String =
    s"""$eventsCte
       |SELECT user_id, item_id % 10 AS item_bucket,
       |       (sec + 28800) // 86400 AS day_utc8, count(*) AS clicks,
       |       'click count ' || CAST(count(*) AS VARCHAR) || ' >= threshold 2' AS warning
       |FROM e WHERE event_type = 'click'
       |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin

  /** P3/A4: two-phase salted count (reference's manual hot-key fix);
    * result ≡ plain count, which is exactly what the oracle asserts. */
  val saltedPv: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"))
    Windows.saltedCount(e, Seq("event_type"), 8)
      .select(col("event_type"), col("cnt"))
  }

  val saltedPvSql: String =
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1"

  /** P2/P4 + scalar surface: projections, string fns, day bucketing. */
  val scalarFuncs: Q = (s, dir) =>
    events(s, dir).select(
      col("event_id"),
      lit("pv").as("tag"),
      concat(col("event_type"), lit("_"), col("user_id")).as("label"),
      upper(col("event_type")).as("utype"),
      length(col("props")).as("plen"),
      (col("sec") / 86400L).cast("long").as("day_bucket"),
      substring(col("event_type"), 1, 3).as("prefix"))

  val scalarFuncsSql: String =
    s"""$eventsCte
       |SELECT event_id, 'pv' AS tag,
       |       event_type || '_' || CAST(user_id AS VARCHAR) AS label,
       |       upper(event_type) AS utype,
       |       CAST(length((SELECT props FROM events x WHERE x.event_id = e.event_id)) AS INT) AS plen,
       |       sec // 86400 AS day_bucket,
       |       substring(event_type, 1, 3) AS prefix
       |FROM e""".stripMargin

  /** Typed JSON extraction: `from_json` with an explicit struct schema
    * over the events props column — the structured, codegen'd twin of the
    * ad-hoc `get_json_object` path used elsewhere. At scale the explicit
    * schema matters: one parse per row into typed fields, no per-field
    * re-parse, no inference scan. Map-side parse + one aggregate shuffle. */
  val jsonTyped: Q = (s, dir) => {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(s, dir)
      .select(from_json(col("props"), propsSchema).getField("k").as("item_id"),
        col("value"), col("user_id"))
      .groupBy(col("item_id"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("value_sum"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val jsonTypedSql: String =
    """SELECT CAST(props->>'k' AS BIGINT) AS item_id, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1""".stripMargin

  /** Join surface: LEFT SEMI — customers that placed at least one
    * high-value order (existence, no row multiplication; plans as a
    * build-once semi hash join). */
  val qSemiJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 100000.0)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""".stripMargin

  /** Join surface: LEFT ANTI — customers with no order above 300k (the
    * classic absence scan; anti hash join, fact side streams. Every
    * synthetic customer has SOME order, so the no-orders-at-all form
    * returns 0 rows — the price threshold keeps the gate row count
    * meaningful at both sf0.01 and sf0.1). */
  val qAntiJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin

  // -- stateful detectors (batch forms; streaming twins in graft.streaming)

  /** J4/J5: two consecutive failures within 1h per user — LoginFail*. */
  val loginFail: Q = (s, dir) => {
    val e = events(s, dir).select(col("user_id"), col("event_type"), col("usec"), col("event_id"))
    Detectors.consecutiveFailures(e, "user_id", "usec", "event_id",
        col("event_type") === "error", 3600L)
      .select(col("user_id"), col("first_fail_usec"), col("second_fail_usec"))
  }

  val loginFailSql: String =
    s"""$eventsCte, o AS (
       |  SELECT user_id, event_type, usec,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY usec, event_id) AS prev_type,
       |         lag(usec) OVER (PARTITION BY user_id ORDER BY usec, event_id) AS prev_usec
       |  FROM e
       |)
       |SELECT user_id, prev_usec AS first_fail_usec, usec AS second_fail_usec
       |FROM o
       |WHERE event_type = 'error' AND prev_type = 'error'
       |  AND usec - prev_usec <= ${3600L * 1000000L}""".stripMargin

  /** login_fail re-expressed through the generalized CEP combinator
    * ([[graft.streaming.Cep.Pattern]] → shared NFA, distributed via
    * flatMapGroups) — SAME oracle as login_fail, proving the combinator
    * reproduces the hand-built detector exactly at the gate level. */
  val cepLoginFail: Q = (s, dir) => {
    import graft.streaming.Cep
    import s.implicits._
    val ds = events(s, dir)
      .select(col("user_id"), col("event_type"), col("usec"), col("event_id"))
      .as[(Long, String, Long, Long)]
    val pat = Cep.Pattern.begin[(Long, String, Long, Long)]("fail")(_._2 == "error")
      .times(2).consecutive().within(3600L * 1000000L) // µs, like usec
    Cep.detectBatch[(Long, String, Long, Long), Long](
        ds, _._1, _._3, pat, tieBreak = _._4)
      .filter(col("status") === "matched")
      .select(col("key").as("user_id"),
        col("stageTs").getItem(0).as("first_fail_usec"),
        col("stageTs").getItem(1).as("second_fail_usec"))
  }

  /** order_timeout through the CEP combinator (timeout side-output rows
    * become status='timeout', FlinkCEP-style) — SAME oracle. */
  val cepOrderTimeout: Q = (s, dir) => {
    import graft.streaming.Cep
    import s.implicits._
    val ds = events(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), col("usec"))
      .as[(Long, String, Long)]
    val pat = Cep.Pattern.begin[(Long, String, Long)]("signup")(_._2 == "signup")
      .followedBy("pay")(_._2 == "purchase")
      .within(86400L * 1000000L)
    // at equal usec the oracle's pay_usec >= signup_usec admits the pair:
    // order signups before purchases so the NFA sees them the same way
    Cep.detectBatch[(Long, String, Long), Long](ds, _._1, _._3, pat,
        tieBreak = e => if (e._2 == "signup") 0L else 1L)
      .select(col("key").as("user_id"),
        col("stageTs").getItem(0).as("signup_usec"),
        when(size(col("stageTs")) > 1, col("stageTs").getItem(1)).as("follow_usec"),
        when(col("status") === "matched", lit("payed")).otherwise(lit("timeout"))
          .as("status"))
  }

  /** J3/J6: signup→purchase within 1 day per user, else timeout —
    * OrderTimeout* semantics. */
  val orderTimeout: Q = (s, dir) => {
    val e = events(s, dir)
    val starts = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("usec").as("signup_usec"))
    val follows = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("usec").as("pay_usec"))
    Detectors.sequenceTimeout(starts, follows, "user_id",
      "signup_usec", "pay_usec", 86400L)
  }

  val orderTimeoutSql: String =
    s"""$eventsCte, s AS (SELECT user_id, usec AS signup_usec FROM e WHERE event_type = 'signup'),
       |p AS (SELECT user_id, usec AS pay_usec FROM e WHERE event_type = 'purchase')
       |SELECT s.user_id, s.signup_usec, min(p.pay_usec) AS follow_usec,
       |       CASE WHEN min(p.pay_usec) IS NOT NULL THEN 'payed' ELSE 'timeout' END AS status
       |FROM s LEFT JOIN p
       |  ON s.user_id = p.user_id
       | AND p.pay_usec >= s.signup_usec
       | AND p.pay_usec <= s.signup_usec + ${86400L * 1000000L}
       |GROUP BY s.user_id, s.signup_usec""".stripMargin

  /** J1: event-time interval join signup⋈purchase within ±1h on user —
    * OrderReceiptAppWithJoin semantics. */
  val intervalJoin: Q = (s, dir) => {
    val e = events(s, dir)
    val l = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("usec").as("signup_usec"))
    val r = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("usec").as("pay_usec"))
    Joins.intervalJoin(l, r, "user_id", "signup_usec", "pay_usec", 3600L, 3600L)
      .select(col("l.user_id").as("user_id"), col("signup_usec"), col("pay_usec"))
  }

  val intervalJoinSql: String =
    s"""$eventsCte, s AS (SELECT user_id, usec AS signup_usec FROM e WHERE event_type = 'signup'),
       |p AS (SELECT user_id, usec AS pay_usec FROM e WHERE event_type = 'purchase')
       |SELECT s.user_id, s.signup_usec, p.pay_usec
       |FROM s JOIN p
       |  ON s.user_id = p.user_id
       | AND p.pay_usec >= s.signup_usec - ${3600L * 1000000L}
       | AND p.pay_usec <= s.signup_usec + ${3600L * 1000000L}""".stripMargin

  /** Beyond-reference join surface: as-of join — for each purchase, the
    * user's latest at-or-prior view (the time-series feature-lookup join;
    * DuckDB's native ASOF JOIN is the oracle). Views pre-aggregate to one
    * row per (user, usec) so the match is deterministic. */
  val asofJoinQ: Q = (s, dir) => {
    val e = events(s, dir)
    val pays = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("usec").as("pay_usec"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("usec").as("view_usec"))
      .agg(max(col("value")).as("view_value"))
    Joins.asofJoin(pays, views, "user_id", "pay_usec", "view_usec", Seq("view_value"))
      .select(col("user_id"), col("pay_usec"), col("view_usec"), col("view_value"))
  }

  /** Same query through the custom whole-operator plan (AsOfJoinExec) —
    * the native twin shares the window-form's oracle verbatim. */
  val asofJoinNativeQ: Q = (s, dir) => {
    val e = events(s, dir)
    val pays = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("usec").as("pay_usec"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("usec").as("view_usec"))
      .agg(max(col("value")).as("view_value"))
    Joins.asofJoinNative(pays, views, "user_id", "pay_usec", "view_usec",
        Seq("view_value"))
      .select(col("user_id"), col("pay_usec"), col("view_usec"), col("view_value"))
  }

  val asofJoinSql: String =
    s"""$eventsCte, p AS (SELECT user_id, usec AS pay_usec FROM e WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, usec AS view_usec, max(value) AS view_value
       |      FROM e WHERE event_type = 'view' GROUP BY 1, 2)
       |SELECT p.user_id, p.pay_usec, v.view_usec, v.view_value
       |FROM p ASOF LEFT JOIN v
       |  ON p.user_id = v.user_id AND p.pay_usec >= v.view_usec""".stripMargin

  /** J2: full-outer reconcile with unmatched branches as a status column —
    * OrderReceiptAppWithConnect semantics (side outputs → filters). */
  val reconcile: Q = (s, dir) => {
    val e = events(s, dir)
    val l = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("usec").as("signup_usec"))
    val r = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("usec").as("pay_usec"))
    Joins.reconcile(l, r, "user_id", "signup_usec", "pay_usec", 3600L, 3600L,
        leftName = "signup_only", rightName = "purchase_only")
      .select(coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
        col("signup_usec"), col("pay_usec"), col("status"))
  }

  val reconcileSql: String =
    s"""$eventsCte, s AS (SELECT user_id, usec AS signup_usec FROM e WHERE event_type = 'signup'),
       |p AS (SELECT user_id, usec AS pay_usec FROM e WHERE event_type = 'purchase')
       |SELECT coalesce(s.user_id, p.user_id) AS user_id, s.signup_usec, p.pay_usec,
       |       CASE WHEN s.signup_usec IS NULL THEN 'purchase_only'
       |            WHEN p.pay_usec IS NULL THEN 'signup_only'
       |            ELSE 'matched' END AS status
       |FROM s FULL JOIN p
       |  ON s.user_id = p.user_id
       | AND p.pay_usec >= s.signup_usec - ${3600L * 1000000L}
       | AND p.pay_usec <= s.signup_usec + ${3600L * 1000000L}""".stripMargin

  /** Beyond-reference agg surface: exact interpolated percentiles of
    * `value` per (event_type, day) — Spark's `percentile` and DuckDB's
    * `quantile_cont` share the linear-interpolation definition, so this
    * oracles exactly (6-digit round absorbs summation-order last bits).
    * At scale the exact form sorts per group; the sketch path below is
    * the 100 TB answer. */
  val valuePercentiles: Q = (s, dir) => {
    val e = events(s, dir)
    e.groupBy(col("event_type"), window(col("ets"), "1 day"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"),
        col("window").getField("end").cast("long").as("window_end"),
        col("p50"), col("p95"), col("cnt"))
  }

  val valuePercentilesSql: String =
    s"""$eventsCte
       |SELECT event_type, ${duckTumble(86400)} AS window_end,
       |       round(quantile_cont(value, 0.5), 6) AS p50,
       |       round(quantile_cont(value, 0.95), 6) AS p95,
       |       count(*) AS cnt
       |FROM e GROUP BY 1, 2""".stripMargin

  /** Sketch twin of [[valuePercentiles]]: `approx_percentile` (bounded
    * memory per group, mergeable partials — the percentile that survives
    * 100 TB). Approximate ⇒ rows-only gate. */
  val valuePercentilesApprox: Q = (s, dir) => {
    val e = events(s, dir)
    e.groupBy(col("event_type"), window(col("ets"), "1 day"))
      .agg(expr("approx_percentile(value, 0.5, 1000)").as("p50_approx"),
        expr("approx_percentile(value, 0.95, 1000)").as("p95_approx"))
      .select(col("event_type"),
        col("window").getField("end").cast("long").as("window_end"),
        col("p50_approx"), col("p95_approx"))
  }

  /** A3 with a real measure: tumbling 1-day sum(value), decimal-exact. */
  val valueSumDaily: Q = (s, dir) => {
    val e = events(s, dir).select(col("ets"), col("value"))
    e.groupBy(window(col("ets"), "1 day"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"),
        count(lit(1)).as("cnt"))
      .select(col("window").getField("end").cast("long").as("window_end"),
        col("total"), col("cnt"))
  }

  val valueSumDailySql: String =
    s"""$eventsCte
       |SELECT ${duckTumble(86400)} AS window_end,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
       |       count(*) AS cnt
       |FROM e GROUP BY 1""".stripMargin

  /** Ordered funnel view→click→purchase with a 1-day horizon — the
    * k-step batch generalization of the reference's create→pay-within-
    * 15-min pattern (OrderPayDetectApp). Integer-seconds event time and
    * integer lag sums keep the gate epsilon-free. */
  val funnelStepsQ: Q = (s, dir) => {
    val e = events(s, dir).select(col("user_id"), col("sec"), col("event_type"))
    Analytics.funnelSteps(e, "user_id", "sec", "event_type",
      Seq("view", "click", "purchase"), horizon = 86400L)
  }

  /** The single-scan funnel twin (r12), certified against the SAME exact
    * oracle as [[funnelStepsQ]] — one log scan instead of k, per-user
    * step-time arrays instead of bounded group rows (the deep-funnel
    * trade; see `Analytics.funnelUserTimesOneScan`). */
  val funnelStepsOneScanQ: Q = (s, dir) => {
    val e = events(s, dir).select(col("user_id"), col("sec"), col("event_type"))
    Analytics.funnelStepsOneScan(e, "user_id", "sec", "event_type",
      Seq("view", "click", "purchase"), horizon = 86400L)
  }

  /** DuckDB twin: the same earliest-completion CTE chain. `sum(BIGINT)`
    * is HUGEINT in DuckDB (→ float through pandas) — cast back. */
  val funnelStepsSql: String =
    s"""$eventsCte,
       |s1 AS (SELECT user_id AS u, min(sec) AS t1 FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT e.user_id AS u, s1.t1 AS t1, min(e.sec) AS t2 FROM e
       |       JOIN s1 ON e.user_id = s1.u
       |       WHERE e.event_type = 'click' AND e.sec > s1.t1
       |         AND e.sec <= s1.t1 + 86400 GROUP BY 1, 2),
       |s3 AS (SELECT e.user_id AS u, s2.t1 AS t1, min(e.sec) AS t3 FROM e
       |       JOIN s2 ON e.user_id = s2.u
       |       WHERE e.event_type = 'purchase' AND e.sec > s2.t2
       |         AND e.sec <= s2.t1 + 86400 GROUP BY 1, 2)
       |SELECT 1 AS step, 'view' AS step_name, count(*) AS users,
       |       CAST(0 AS BIGINT) AS sum_lag FROM s1
       |UNION ALL
       |SELECT 2, 'click', count(*),
       |       CAST(coalesce(sum(t2 - t1), 0) AS BIGINT) FROM s2
       |UNION ALL
       |SELECT 3, 'purchase', count(*),
       |       CAST(coalesce(sum(t3 - t1), 0) AS BIGINT) FROM s3""".stripMargin

  /** Re-entry funnel (r13): per-user ATTEMPTS of view→click→purchase
    * inside a 1-hour conversion window — an attempt that completes or
    * times out lets the user's next view open a fresh window (the
    * convention [[funnelStepsQ]]'s fixed anchor deliberately excludes).
    * First 4 attempts per user; integer seconds throughout, so the gate
    * is epsilon-free. */
  val funnelAttemptsQ: Q = (s, dir) => {
    val e = events(s, dir).select(col("user_id"), col("sec"), col("event_type"))
    Analytics.funnelAttempts(e, "user_id", "sec", "event_type",
      Seq("view", "click", "purchase"), horizon = 3600L, maxAttempts = 4)
  }

  /** DuckDB twin of [[funnelAttemptsQ]]: the same greedy attempt chain
    * unrolled over sorted per-step lists (list_filter/list_min replay
    * array filter/array_min; NULL anchors propagate identically — a
    * null comparison drops the element in both engines). */
  val funnelAttemptsSql: String = {
    val h = 3600
    val steps = Seq("view", "click", "purchase")
    val lists = steps.indices.map(i =>
      s"list(sec ORDER BY sec) FILTER (WHERE event_type = '${steps(i)}') AS l$i")
      .mkString(",\n       |         ")
    val attemptCtes = (1 to 4).map { a =>
      val anchor =
        if (a == 1) "l0[1]"
        else s"list_min(list_filter(l0, x -> x > e${a - 1}))"
      val prev = if (a == 1) "c0" else s"c${a - 1}_e"
      val head = s"c${a}_1 AS (SELECT *, $anchor AS t${a}_1 FROM $prev)"
      val mids = (2 to 3).map { i =>
        s"c${a}_$i AS (SELECT *, list_min(list_filter(l${i - 1}, " +
          s"x -> x > t${a}_${i - 1} AND x <= t${a}_1 + $h)) AS t${a}_$i " +
          s"FROM c${a}_${i - 1})"
      }
      val end = s"c${a}_e AS (SELECT *, coalesce(t${a}_3, t${a}_1 + $h) " +
        s"AS e$a FROM c${a}_3)"
      (Seq(head) ++ mids :+ end).mkString(",\n       |")
    }.mkString(",\n       |")
    val selects = (1 to 4).map { a =>
      s"""SELECT u, CAST($a AS INT) AS attempt, t${a}_1 AS t1,
         |       CAST(CASE WHEN t${a}_3 IS NOT NULL THEN 3
         |                 WHEN t${a}_2 IS NOT NULL THEN 2
         |                 ELSE 1 END AS INT) AS reached,
         |       t${a}_3 AS t_done
         |FROM c4_e WHERE t${a}_1 IS NOT NULL""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$eventsCte,
       |ls AS (
       |  SELECT user_id AS u,
       |         $lists
       |  FROM e GROUP BY 1
       |),
       |c0 AS (SELECT u, l0, l1, l2 FROM ls WHERE l0 IS NOT NULL),
       |$attemptCtes
       |$selects""".stripMargin
  }

  /** Daily cohort retention matrix over events — integer epoch-day
    * cohorts, exact counts. */
  val retentionCohortQ: Q = (s, dir) => {
    val e = events(s, dir).select(col("user_id"), col("sec"))
    Analytics.cohortRetention(e, "user_id", "sec")
  }

  val retentionCohortSql: String =
    s"""$eventsCte,
       |a AS (SELECT DISTINCT user_id, sec // 86400 AS d FROM e),
       |f AS (SELECT user_id, min(d) AS cohort FROM a GROUP BY 1)
       |SELECT cohort AS cohort_day, d - cohort AS day_offset,
       |       count(*) AS users
       |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Registry — the driver contract. `gates` is the one table that binds a
  // gate name to its DataFrame builder and, where the semantics are
  // SQL-expressible, to its DuckDB oracle; SparkEntry.queries / oracleSql
  // are derived from it once. Every operator claimed done in SURVEY.md §2
  // has a row. A row without an oracle (approximate or hash-seeded
  // results) gets the driver's weaker rows-only check and says why on the
  // row. Declared last: it reads every builder and oracle val above and in
  // PipelineCatalog, and a strict val read before its declaration is null
  // at class init.
  // ------------------------------------------------------------------

  /** One registered gate; `oracle = None` ⇒ rows-only. */
  final case class Gate(name: String, build: Q, oracle: Option[String])

  import PipelineCatalog._

  val gates: Seq[Gate] = Seq(
    // gmall analytics and relational family (this file)
    Gate("q1_agg", q1Agg, Some(q1AggSql)),
    Gate("q3_revenue", q3Revenue, Some(q3RevenueSql)),
    Gate("q5_nation", q5Nation, Some(q5NationSql)),
    Gate("q14_promo", q14Promo, Some(q14PromoSql)),
    Gate("q6_filter", q6Filter, Some(q6FilterSql)),
    Gate("q10_returns", q10Returns, Some(q10ReturnsSql)),
    Gate("q18_large", q18Large, Some(q18LargeSql)),
    Gate("q19_disjunct", q19Disjunct, Some(q19DisjunctSql)),
    Gate("q13_custdist", q13Custdist, Some(q13CustdistSql)),
    Gate("q22_balance", q22Balance, Some(q22BalanceSql)),
    Gate("q4_priority", q4Priority, Some(q4PrioritySql)),
    Gate("q7_volume", q7Volume, Some(q7VolumeSql)),
    Gate("q8_share", q8Share, Some(q8ShareSql)),
    Gate("q9_profit", q9Profit, Some(q9ProfitSql)),
    Gate("q12_priority", q12Priority, Some(q12PrioritySql)),
    Gate("q15_top_supplier", q15TopSupplier, Some(q15TopSupplierSql)),
    Gate("q17_small_qty", q17SmallQty, Some(q17SmallQtySql)),
    Gate("q21_waiting", q21Waiting, Some(q21WaitingSql)),
    Gate("q2_mincost", q2Mincost, Some(q2MincostSql)),
    Gate("q11_important", q11Important, Some(q11ImportantSql)),
    Gate("q16_suppcnt", q16Suppcnt, Some(q16SuppcntSql)),
    Gate("q20_excess", q20Excess, Some(q20ExcessSql)),
    Gate("q_bloom_semi", qBloomSemi, Some(qBloomSemiSql)),
    Gate("q_range_join", qRangeJoin, Some(qRangeJoinSql)),
    Gate("q_multi_distinct", qMultiDistinct, Some(qMultiDistinctSql)),
    Gate("q_set_ops", qSetOps, Some(qSetOpsSql)),
    Gate("q_first_last", qFirstLast, Some(qFirstLastSql)),
    Gate("q_lead_lag", qLeadLag, Some(qLeadLagSql)),
    Gate("q_region_rollup", qRegionRollup, Some(qRegionRollupSql)),
    Gate("q_cube_flags", qCubeFlags, Some(qCubeFlagsSql)),
    Gate("q_sessions", qSessions, Some(qSessionsSql)),
    Gate("q_semi_join", qSemiJoin, Some(qSemiJoinSql)),
    Gate("q_anti_join", qAntiJoin, Some(qAntiJoinSql)),
    Gate("hot_items", hotItems, Some(hotItemsSql)),
    // same semantics through spark.sql
    Gate("hot_items_sql", hotItemsSqlSurface, Some(hotItemsSql)),
    Gate("hot_items_sql_auto", hotItemsSqlAuto, Some(hotItemsSql)),
    Gate("hot_urls", hotUrls, Some(hotUrlsSql)),
    Gate("pv_tumbling", pvTumbling, Some(pvTumblingSql)),
    Gate("uv_exact", uvExact, Some(uvExactSql)),
    // uv_approx: HLL++ estimate — rows-only by design
    Gate("uv_approx", uvApprox, None),
    // uv_sketch_daily: merged HLL sketches — rows-only by design
    Gate("uv_sketch_daily", uvSketchDaily, None),
    // uv_bitmap: exact below collision range (hash injective over the
    // testdata id range, BitmapUvSpec) — same oracle as uv_exact
    Gate("uv_bitmap", uvBitmap, Some(s"""$eventsCte
       |SELECT ${duckTumble(3600)} AS window_end,
       |       count(DISTINCT user_id) AS uv_bitmap
       |FROM e WHERE event_type = 'view' GROUP BY 1""".stripMargin)),
    Gate("channel_behavior", channelBehavior, Some(channelBehaviorSql)),
    Gate("channel_pivot", channelPivot, Some(channelPivotSql)),
    Gate("q_running_total", qRunningTotal, Some(qRunningTotalSql)),
    Gate("q_above_avg", qAboveAvg, Some(qAboveAvgSql)),
    Gate("q_moving_window", qMovingWindow, Some(qMovingWindowSql)),
    Gate("ad_province", adProvince, Some(adProvinceSql)),
    Gate("blacklist", blacklist, Some(blacklistSql)),
    Gate("blacklist_daily", blacklistDaily, Some(blacklistDailySql)),
    Gate("salted_pv", saltedPv, Some(saltedPvSql)),
    Gate("scalar_funcs", scalarFuncs, Some(scalarFuncsSql)),
    Gate("json_typed", jsonTyped, Some(jsonTypedSql)),
    Gate("login_fail", loginFail, Some(loginFailSql)),
    Gate("order_timeout", orderTimeout, Some(orderTimeoutSql)),
    // CEP-combinator re-expressions: same oracles as the hand-built forms
    Gate("cep_login_fail", cepLoginFail, Some(loginFailSql)),
    Gate("cep_order_timeout", cepOrderTimeout, Some(orderTimeoutSql)),
    Gate("interval_join", intervalJoin, Some(intervalJoinSql)),
    Gate("asof_join", asofJoinQ, Some(asofJoinSql)),
    Gate("asof_join_native", asofJoinNativeQ, Some(asofJoinSql)),
    Gate("reconcile", reconcile, Some(reconcileSql)),
    Gate("value_sum_daily", valueSumDaily, Some(valueSumDailySql)),
    Gate("value_percentiles", valuePercentiles, Some(valuePercentilesSql)),
    // value_percentiles_approx: sketch estimate — rows-only by design
    Gate("value_percentiles_approx", valuePercentilesApprox, None),
    Gate("funnel_steps", funnelStepsQ, Some(funnelStepsSql)),
    Gate("funnel_steps_onescan", funnelStepsOneScanQ, Some(funnelStepsSql)),
    Gate("funnel_attempts", funnelAttemptsQ, Some(funnelAttemptsSql)),
    Gate("retention_cohort", retentionCohortQ, Some(retentionCohortSql)),
    // training-data pipeline family (PipelineCatalog)
    Gate("quality_outliers", qualityOutliersQ, Some(qualityOutliersSql)),
    // quality_outliers_approx: sketch medians — rows-only by design
    Gate("quality_outliers_approx", qualityOutliersApproxQ, None),
    Gate("quality_winsorized", qualityWinsorizedQ, Some(qualityWinsorizedSql)),
    // quality_winsorized_approx: sketch cut points — rows-only by design
    Gate("quality_winsorized_approx", qualityWinsorizedApproxQ, None),
    Gate("quality_bins", qualityBinsQ, Some(qualityBinsSql)),
    Gate("quality_bins_by_lang", qualityBinsByLangQ, Some(qualityBinsByLangSql)),
    Gate("quality_winsorized_by_lang", qualityWinsorizedByLangQ, Some(qualityWinsorizedByLangSql)),
    // quality_bins_by_lang_approx / quality_winsorized_by_lang_approx:
    // sketch cut points — rows-only by design, exact twins certify
    Gate("quality_bins_by_lang_approx", qualityBinsByLangApproxQ, None),
    Gate("quality_winsorized_by_lang_approx", qualityWinsorizedByLangApproxQ, None),
    Gate("feature_corr", featureCorrQ, Some(featureCorrSql)),
    Gate("dedup_exact_groups", dedupExactGroups, Some(dedupExactGroupsSql)),
    Gate("dedup_exact", dedupExact, Some(dedupExactSql)),
    Gate("dedup_jaccard", dedupJaccard, Some(dedupJaccardSql)),
    Gate("dedup_containment", dedupContainment, Some(dedupContainmentSql)),
    Gate("dedup_containment_capped", dedupContainmentCapped, Some(dedupContainmentCappedSql)),
    Gate("bm25_search", bm25SearchQ, Some(bm25SearchSql)),
    Gate("hybrid_search", hybridSearchQ, Some(hybridSearchSql)),
    Gate("hybrid_search_indexed", hybridSearchIndexedQ, Some(hybridSearchSql)),
    Gate("hybrid_search_ann", hybridSearchAnnQ, Some(hybridSearchAnnSql)),
    Gate("hybrid_search_ann_batch", hybridSearchAnnBatchQ, Some(hybridSearchAnnBatchSql)),
    Gate("bm25_search_batch", bm25SearchBatchQ, Some(bm25SearchBatchSql)),
    Gate("bm25_search_indexed", bm25SearchIndexedQ, Some(bm25SearchSql)),
    Gate("bm25_search_appended", bm25SearchAppendedQ, Some(bm25SearchSql)),
    Gate("bm25_search_compacted", bm25SearchCompactedQ, Some(bm25SearchSql)),
    Gate("text_cosine_pairs", textCosinePairsQ, Some(textCosinePairsSql)),
    Gate("text_cosine_inc", textCosineIncQ, Some(textCosineIncSql)),
    Gate("text_cosine_inc_uncapped", textCosineIncUncappedQ, Some(textCosineIncUncappedSql)),
    Gate("split_groups", splitGroups, Some(splitGroupsSql)),
    Gate("graph_rank", graphRank, Some(graphRankSql)),
    Gate("fuzzy_pairs", fuzzyPairs, Some(fuzzyPairsSql)),
    Gate("fuzzy_pairs_r2", fuzzyPairsR2, Some(fuzzyPairsR2Sql)),
    Gate("dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    Gate("dedup_keep", dedupKeep, Some(dedupKeepSql)),
    Gate("dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    Gate("dedup_spans", dedupSpans, Some(dedupSpansSql)),
    Gate("dedup_spans_inc", dedupSpansInc, Some(dedupSpansIncSql)),
    Gate("dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    // xxhash64-seeded signatures have no DuckDB twin: each hash-seeded
    // gate is rows-only, and its md5-seeded *_md5 twin is oracle-checked
    Gate("dedup_minhash", dedupMinhash, None),
    Gate("dedup_minhash_md5", dedupMinhashMd5, Some(dedupMinhashMd5Sql)),
    Gate("dedup_minhash_inc", dedupMinhashInc, None), // xxhash64 — rows-only
    Gate("dedup_minhash_inc_md5", dedupMinhashIncMd5, Some(dedupMinhashIncMd5Sql)),
    Gate("dedup_simhash", dedupSimhash, None), // xxhash64 — rows-only
    Gate("dedup_simhash_md5", dedupSimhashMd5, Some(dedupSimhashMd5Sql)),
    Gate("dedup_simhash_inc", dedupSimhashInc, None), // xxhash64 — rows-only
    Gate("dedup_simhash_inc_md5", dedupSimhashIncMd5, Some(dedupSimhashIncMd5Sql)),
    Gate("sim_bruteforce_topk", simBruteForce, Some(simBruteForceSql)),
    Gate("sim_mmr_rerank", simMmrRerankQ, Some(simMmrRerankSql)),
    Gate("sim_maxsim", simMaxSimQ, Some(simMaxSimSql)),
    // the full-coverage indexed configuration must reproduce the exact
    // MaxSim bit for bit — the oracle is shared VERBATIM by construction
    Gate("sim_maxsim_indexed", simMaxSimIndexedQ, Some(simMaxSimSql)),
    Gate("sim_maxsim_batch", simMaxSimBatchQ, Some(simMaxSimBatchSql)),
    // full coverage ⇒ the indexed batch must reproduce the exact batch
    // bit for bit — the transform oracle is shared VERBATIM
    Gate("sim_maxsim_indexed_batch", simMaxSimIndexedBatchQ, Some(simMaxSimBatchSql)),
    Gate("ann_recall_det", annRecallDetQ, Some(annRecallDetSql)),
    Gate("bm25_search_diverse", bm25SearchDiverseQ, Some(bm25SearchDiverseSql)),
    Gate("sim_lsh_topk", simLsh, None), // xxhash64 planes — rows-only
    Gate("sim_lsh_md5", simLshMd5, Some(simLshMd5Sql)),
    Gate("sim_ivf_topk", simIvf, Some(simIvfSql)),
    Gate("sim_filtered_topk", simFilteredTopK, Some(simFilteredTopKSql)),
    Gate("sim_ivf_filtered", simIvfFiltered, Some(simIvfFilteredSql)),
    // trained quantizers and PQ codebooks (float Lloyd rounds) have no
    // DuckDB twin — rows-only; recall and append-vs-rebuild equivalence
    // are pinned in SimilaritySpec, and the *_det gates are oracle-checked
    Gate("sim_ivf_trained", simIvfTrained, None),
    Gate("sim_ivfpq_topk", simIvfPq, None),
    Gate("sim_ivfpq_det", simIvfPqDet, Some(simIvfPqDetSql)),
    // the batch point query must reproduce the single-batch det search
    // bit for bit — the oracle is shared VERBATIM by construction
    Gate("sim_ivfpq_points_det", simIvfPqPointsDetQ, Some(simIvfPqDetSql)),
    Gate("sim_ivfpq_filtered_det", simIvfPqFilteredDet, Some(simIvfPqFilteredDetSql)),
    Gate("sim_ivfpq_attr_det", simIvfPqAttrDet, Some(simIvfPqFilteredDetSql)),
    Gate("sim_ivfpq_search", simIvfPqSearch, None), // trained PQ — rows-only
    Gate("sim_ivfpq_append", simIvfPqAppend, None), // trained PQ — rows-only
    Gate("sim_near_dup_md5", simNearDupMd5, Some(simNearDupMd5Sql)),
    Gate("sim_quantize_int8", simQuantize, Some(simQuantizeSql)),
    Gate("rp_project_md5", rpProjectMd5, Some(rpProjectMd5Sql)),
    Gate("rp_project", rpProject, None), // xxhash64 planes — rows-only
    Gate("sim_near_dup", simNearDup, None), // xxhash64 planes — rows-only
    Gate("semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    Gate("semantic_dedup_inc", semanticDedupInc, Some(semanticDedupIncSql)),
    Gate("semantic_decontam", semanticDecontam, Some(semanticDecontamSql)),
    Gate("text_tokens", textTokens, Some(textTokensSql)),
    Gate("text_quality", textQuality, Some(textQualitySql)),
    Gate("text_lang_id", textLangId, Some(textLangIdSql)),
    Gate("text_fingerprint", textFingerprint, Some(textFingerprintSql)),
    Gate("text_fingerprint_full", textFingerprintFull, Some(textFingerprintFullSql)),
    Gate("text_normalize", textNormalize, Some(textNormalizeSql)),
    Gate("text_repetition", textRepetition, Some(textRepetitionSql)),
    Gate("text_pii", textPii, Some(textPiiSql)),
    Gate("text_contamination", textContamination, Some(textContaminationSql)),
    Gate("text_rule_filter", textRuleFilter, Some(textRuleFilterSql)),
    Gate("text_chunks", textChunks, Some(textChunksSql)),
    Gate("sample_temperature", sampleTemperature, Some(sampleTemperatureSql)),
    Gate("mix_budget", mixBudget, Some(mixBudgetSql)),
    Gate("text_scrub", textScrub, Some(textScrubSql)),
    Gate("sample_bottomk", sampleBottomK, Some(sampleBottomKSql)),
    Gate("sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    Gate("global_rank", globalRankQ, Some(globalRankSql)),
    Gate("curriculum_phases", curriculumQ, Some(curriculumSql)),
    Gate("importance_weights", importanceW, Some(importanceWSql)),
    Gate("shard_assign", shardAssign, Some(shardAssignSql)),
    Gate("pipeline_e2e", pipelineE2e, Some(pipelineE2eSql)),
    Gate("table_profile", tableProfile, Some(tableProfileSql)),
    Gate("bm25_top_terms", bm25TopTerms, Some(bm25TopTermsSql)),
    Gate("bm25_top_terms_mindf", bm25TopTermsMinDf, Some(bm25TopTermsMinDfSql)),
    Gate("text_lm_ppl", textLmPpl, Some(textLmPplSql)),
    Gate("vocab_top_terms", vocabTopTerms, Some(vocabTopTermsSql)),
    Gate("bpe_merges", bpeMerges, Some(bpeMergesSql)),
    Gate("bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    Gate("bpe_vocab", bpeVocab, Some(bpeVocabSql)),
    Gate("vocab_sketch", vocabSketch, Some(vocabSketchSql)),
    Gate("seq_packing", seqPacking, Some(seqPackingSql)),
    Gate("sample_det", sampleDet, Some(sampleDetSql)),
    Gate("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    Gate("mm_payload_stats", mmPayloadStats, Some(mmPayloadStatsSql)),
    Gate("mm_audit", mmAudit, Some(mmAuditSql)),
    Gate("mm_features", mmFeatures, Some(mmFeaturesSql)))
}
