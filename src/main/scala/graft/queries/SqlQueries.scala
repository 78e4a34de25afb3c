package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Oracle.{RowsOnly, Sql}
import Shared._

/** Typed rows for the Dataset-API query (q79). */
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_totalprice: Double, o_orderstatus: String)
case class CustomerRow(c_custkey: Long, c_name: String, c_mktsegment: String)
case class EnrichedOrder(o_orderkey: Long, c_name: String, c_mktsegment: String, o_totalprice: Double)

/** Plain DataFrame/SQL analytics that need no operator module. */
private[queries] object SqlQueries extends Family {
  private def q05(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").select(
      col("p_partkey").cast("long").as("p_partkey"),
      trim(col("p_name")).as("p_name"),
      col("p_brand"), col("p_type"),
      col("p_size").cast("long").as("p_size"),
      col("p_retailprice").cast(DecimalType(12, 2)).cast("double").as("p_retailprice"))
      .orderBy(col("p_partkey"))

  query("q05_schema_enforce", q05)(Sql(
    """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, trim(p_name) AS p_name, p_brand, p_type, CAST(p_size AS BIGINT) AS p_size, CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS p_retailprice FROM part ORDER BY p_partkey"""))

  private def q06(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").filter(col("o_orderstatus") === "F")
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("c_name"), col("n_name").as("nation"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_id"))
      .orderBy(col("o_orderkey"))
  }

  query("q06_jdbc_sink", q06)(Sql(
    """SELECT o_orderkey, c_name, n_name AS nation, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS date_id FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE o_orderstatus = 'F' ORDER BY o_orderkey"""))

  private def q07(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ntz("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumx(col("l_quantity")).as("sum_qty"),
        sumx(col("l_extendedprice")).as("sum_base_price"),
        sumx(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  query("q07_agg_full", q07)(Sql(
    """SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price, COUNT(*) AS count_order, COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  private def q08(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= ntz("1996-01-01 00:00:00") &&
          col("l_shipdate") < ntz("1997-01-01 00:00:00") &&
          col("l_discount").between(0.02, 0.08) &&
          col("l_quantity") < 25)
      .agg(
        sumx(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
        count(lit(1)).as("n_rows"))

  query("q08_filter_pushdown", q08)(Sql(
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue, COUNT(*) AS n_rows FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 25"""))

  private def q09(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    val r = T(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sumx(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  query("q09_join_broadcast", q09)(Sql(
    """SELECT r_name, n_name, COUNT(*) AS n_customers, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  private def q10(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val o = T(s, dir, "orders").filter(col("o_orderdate") >= ntz("1996-01-01 00:00:00"))
    val c = T(s, dir, "customer")
    val su = T(s, dir, "supplier")
    val n = T(s, dir, "nation")
    val r = T(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sumx(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  query("q10_join_multiway", q10)(Sql(
    """SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  private def q11(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("running_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"), col("running_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  query("q11_window", q11)(Sql(
    """SELECT o_custkey, o_orderkey, o_totalprice, rn, running_total FROM (SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER w AS rn, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  private def q12(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val o = T(s, dir, "orders")
    c.join(o.filter(col("o_orderstatus") === "F"),
      col("o_custkey") === col("c_custkey"), "left_semi")
      .join(o.filter(col("o_orderstatus") === "P"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  query("q12_semi_anti", q12)(Sql(
    """SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F') AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P') ORDER BY c_custkey"""))

  private def q13(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_custkey"), col("o_orderpriority"))
      .limit(100)

  query("q13_distinct_topk", q13)(Sql(
    """SELECT DISTINCT o_custkey, o_orderpriority FROM orders ORDER BY o_custkey, o_orderpriority LIMIT 100"""))

  private def q14(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(
        date_trunc("hour", evTs).cast("timestamp_ntz").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  query("q14_events_hourly", q14)(Sql(
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  private def q15(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    T(s, dir, "events")
      .select(col("user_id"), col("event_id"), evSec.as("sec"))
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"))
      .orderBy(col("user_id"), col("session_id"))
  }

  query("q15_sessionize", q15)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), s AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), t AS (SELECT user_id, sec, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s) SELECT user_id, session_id, COUNT(*) AS n_events, MIN(sec) AS start_sec, MAX(sec) AS end_sec FROM t GROUP BY user_id, session_id ORDER BY user_id, session_id"""))

  private def q16(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val aggs = types.map(t =>
      sum(when(col("event_type") === t, 1).otherwise(0)).cast("long").as(s"n_$t")) :+
      sum(when(col("event_type") === "purchase", col("value").cast(DecimalType(18, 2)))
        .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double").as("purchase_value")
    T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("user_id"))
  }

  query("q16_pivot", q16)(Sql(
    """SELECT user_id, CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase, CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error, CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value FROM events GROUP BY user_id ORDER BY user_id"""))

  private def q17(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    val r = T(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n"), sumx(col("c_acctbal")).as("total_bal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("n"), col("total_bal"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  query("q17_rollup", q17)(Sql(
    """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name, COUNT(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY ROLLUP (r_name, n_name) ORDER BY region_name, nation_name"""))

  /** Sketch-based distinct counting: HLL++ `approx_count_distinct` next to
    * the exact count. At 100 TB the sketch aggregates in fixed memory per
    * group with map-side combine; no oracle (DuckDB's sketch differs) —
    * rows-only, with the approx/exact gap asserted in tests.
    */
  private def q37(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  query("q37_approx_distinct", q37)(RowsOnly)

  /** Bucketed co-located join: both sides written bucketed on the join key
    * (8 buckets here; thousands on a real cluster), so the join needs NO
    * shuffle of either side — the pre-shuffle is amortized at write time.
    * This is the pattern for repeated fact⋈fact joins at 100 TB.
    * The plan's shuffle-freeness is asserted in BucketedJoinSpec.
    */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val tag = math.abs(dir.hashCode).toString
    val (to, tc) = (s"graft_q38_orders_$tag", s"graft_q38_customer_$tag")
    val base = scratch(dir, "q38")
    T(s, dir, "orders")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/orders")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable(to)
    T(s, dir, "customer")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/customer")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable(tc)
    s.table(to).join(s.table(tc), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sumx(col("o_totalprice")).as("total"))
      .orderBy(col("c_mktsegment"))
  }

  query("q38_bucketed_join", q38)(Sql(
    """SELECT c_mktsegment, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Window ranking family: rank / dense_rank / percent_rank on the VALUE
    * ordering (real tie semantics — a unique tie-break would collapse rank,
    * dense_rank and row_number into the same function); ntile keeps the
    * tie-broken total order its bucket assignment needs.
    */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val wVal = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    val wTie = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", rank().over(wVal))
      .withColumn("drnk", dense_rank().over(wVal))
      .withColumn("prnk", percent_rank().over(wVal))
      .withColumn("quartile", ntile(4).over(wTie))
      .filter(col("rnk") <= 20)
      .orderBy(col("o_orderpriority"), col("rnk"), col("o_orderkey"))
  }

  query("q52_rank_family", q52)(Sql(
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk, drnk, prnk, quartile FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rank() OVER wv AS INTEGER) AS rnk, CAST(dense_rank() OVER wv AS INTEGER) AS drnk, percent_rank() OVER wv AS prnk, CAST(ntile(4) OVER wt AS INTEGER) AS quartile FROM orders WINDOW wv AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC), wt AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)) WHERE rnk <= 20 ORDER BY o_orderpriority, rnk, o_orderkey"""))

  /** Ordered funnel: users whose first signup precedes their first view,
    * which precedes their first purchase (strict event-order analytics).
    */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    def firstOf(t: String) =
      min(when(col("event_type") === t, evSec)).as(s"first_$t")
    ev.groupBy(col("user_id"))
      .agg(firstOf("signup"), firstOf("view"), firstOf("purchase"))
      .filter(col("first_signup") < col("first_view") &&
        col("first_view") < col("first_purchase"))
      .select(col("user_id"), col("first_signup"), col("first_view"),
        col("first_purchase"))
      .orderBy(col("user_id"))
  }

  query("q50_funnel", q50)(Sql(
    """WITH f AS (SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN CAST(epoch_ns(ts) // 1000000000 AS BIGINT) END) AS first_signup, MIN(CASE WHEN event_type = 'view' THEN CAST(epoch_ns(ts) // 1000000000 AS BIGINT) END) AS first_view, MIN(CASE WHEN event_type = 'purchase' THEN CAST(epoch_ns(ts) // 1000000000 AS BIGINT) END) AS first_purchase FROM events GROUP BY user_id) SELECT user_id, first_signup, first_view, first_purchase FROM f WHERE first_signup < first_view AND first_view < first_purchase ORDER BY user_id"""))

  /** Time-range window frame: per-user moving sum over the trailing hour
    * (RANGE frame on the epoch second, not a row-count frame).
    */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-3600L, Window.currentRow)
    T(s, dir, "events")
      .select(col("user_id"), col("event_id"), evSec.as("sec"),
        col("value").cast(DecimalType(18, 2)).as("__v"))
      .withColumn("trailing_1h_sum", sum(col("__v")).over(w).cast("double"))
      .withColumn("trailing_1h_n", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("sec"),
        col("trailing_1h_sum"), col("trailing_1h_n"))
      .orderBy(col("user_id"), col("event_id"))
  }

  query("q45_range_window", q45)(Sql(
    """SELECT user_id, event_id, sec, CAST(SUM(v) OVER w AS DOUBLE) AS trailing_1h_sum, CAST(COUNT(*) OVER w AS BIGINT) AS trailing_1h_n FROM (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, CAST(value AS DECIMAL(18,2)) AS v FROM events) WINDOW w AS (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) ORDER BY user_id, event_id"""))

  /** CUBE aggregates over two dimensions (all grouping-set combinations). */
  private def q41(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  query("q41_cube", q41)(Sql(
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) ORDER BY status, priority"""))

  /** Row explosion (lateral view / unnest): one row per word. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(col("text")), """\s+""")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("word"))

  query("q42_explode_words", q42)(Sql(
    """SELECT word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents) GROUP BY word ORDER BY word"""))

  /** Scalar-subquery semantics: orders above their customer's average order
    * value (expressed as an aggregate self-join — the plan Catalyst
    * decorrelates a correlated subquery into anyway).
    */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val avgPer = o.groupBy(col("o_custkey").as("k"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avg_price"))
    o.join(avgPer, col("o_custkey") === col("k"))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("avg_price"))
      .orderBy(col("o_orderkey"))
  }

  query("q43_scalar_subquery", q43)(Sql(
    """WITH a AS (SELECT o_custkey AS k, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price FROM orders GROUP BY o_custkey) SELECT o_orderkey, o_custkey, o_totalprice, avg_price FROM orders JOIN a ON o_custkey = k WHERE o_totalprice > avg_price ORDER BY o_orderkey"""))

  /** JSON-lines ingest with an explicit schema (no runaway inference pass at
    * 100 TB): documents round-tripped through json, then aggregated.
    */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q34")
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    s.read.schema(schema).json(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy(col("lang"))
  }

  query("q34_json_source", q34)(Sql(
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM documents GROUP BY lang ORDER BY lang"""))

  /** CSV ingest with an explicit schema + header. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q35")
    T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema).option("header", "true").csv(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  query("q35_csv_source", q35)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Set operations: INTERSECT / EXCEPT on customer key sets by order
    * status, surfaced as one tagged union.
    */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    def keys(status: String) =
      o.filter(col("o_orderstatus") === status).select(col("o_custkey"))
    val f = keys("F")
    val open = keys("O")
    f.intersect(open).withColumn("segment", lit("both"))
      .unionByName(f.except(open).withColumn("segment", lit("f_only")))
      .unionByName(open.except(f).withColumn("segment", lit("o_only")))
      .orderBy(col("segment"), col("o_custkey"))
  }

  query("q58_set_ops", q58)(Sql(
    """SELECT o_custkey, 'both' AS segment FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') UNION ALL SELECT o_custkey, 'f_only' AS segment FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') UNION ALL SELECT o_custkey, 'o_only' AS segment FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') ORDER BY segment, o_custkey"""))

  /** Regex extraction suite over the corpus: first number, number count,
    * capitalized-word count (codegen'd `RegExpExtract`/`RegExpExtractAll`,
    * no UDF).
    */
  private def q60(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(
      col("doc_id"),
      regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
      size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_nums"),
      size(expr("regexp_extract_all(text, '[A-Z][a-z]+', 0)")).cast("long").as("n_capitalized"))
      .orderBy(col("doc_id"))

  query("q60_regex_extract", q60)(Sql(
    """SELECT doc_id, regexp_extract(text, '([0-9]+)', 1) AS first_num, CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums, CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS BIGINT) AS n_capitalized FROM documents ORDER BY doc_id"""))

  /** Date/time function suite over order dates (year/quarter/month/day,
    * ISO week, weekday, last_day, datediff, add_months) — the per-column
    * date dimension a warehouse derives at ingest.
    */
  private def q61(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      quarter(col("o_orderdate")).cast("long").as("q"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"),
      weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
      weekday(col("o_orderdate")).cast("long").as("wd"),
      date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
      datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long").as("days_since_92"),
      date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus_quarter"))
      .orderBy(col("o_orderkey"))

  // weekday: Spark 0=Monday == DuckDB isodow-1; week: ISO both sides
  query("q61_date_functions", q61)(Sql(
    """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y, CAST(quarter(o_orderdate) AS BIGINT) AS q, CAST(month(o_orderdate) AS BIGINT) AS m, CAST(day(o_orderdate) AS BIGINT) AS d, CAST(week(o_orderdate) AS BIGINT) AS iso_week, CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd, strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_92, strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_quarter FROM orders ORDER BY o_orderkey"""))

  /** String function suite over customer names (substr/lpad/translate/
    * split_part/reverse/concat_ws) — all codegen'd built-ins.
    */
  private def q62(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").select(
      col("c_custkey"),
      upper(col("c_mktsegment")).as("seg_u"),
      substring(col("c_name"), 1, 8).as("name_head"),
      expr("split_part(c_name, '#', 2)").as("name_num"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"),
      translate(col("c_name"), "#0", "-_").as("name_translated"),
      reverse(col("c_mktsegment")).as("seg_rev"),
      concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
      length(col("c_name")).cast("long").as("name_len"))
      .orderBy(col("c_custkey"))

  query("q62_string_functions", q62)(Sql(
    """SELECT c_custkey, upper(c_mktsegment) AS seg_u, substr(c_name, 1, 8) AS name_head, split_part(c_name, '#', 2) AS name_num, lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad, translate(c_name, '#0', '-_') AS name_translated, reverse(c_mktsegment) AS seg_rev, concat_ws('|', c_mktsegment, c_name) AS tagged, CAST(length(c_name) AS BIGINT) AS name_len FROM customer ORDER BY c_custkey"""))

  /** max_by / min_by with deterministic struct tie-breaks: per user, the
    * event type of the highest/lowest-value event. DuckDB's arg_max can't
    * take a composite ordering, so the oracle replays the semantics with
    * window functions.
    */
  private def q63(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        max_by(col("event_type"), struct(col("value"), col("event_id"))).as("top_type"),
        min_by(col("event_type"), struct(col("value"), col("event_id"))).as("bottom_type"),
        max(col("value")).as("max_value"))
      .orderBy(col("user_id"))

  query("q63_argmax", q63)(Sql(
    """WITH r AS (SELECT user_id, event_type, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rmax, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rmin FROM events), a AS (SELECT user_id, COUNT(*) AS n, MAX(value) AS max_value FROM events GROUP BY user_id) SELECT a.user_id, a.n, mx.event_type AS top_type, mn.event_type AS bottom_type, a.max_value FROM a JOIN r mx ON a.user_id = mx.user_id AND mx.rmax = 1 JOIN r mn ON a.user_id = mn.user_id AND mn.rmin = 1 ORDER BY a.user_id"""))

  /** Gaps-and-islands → SCD type-2 history: per user, runs of consecutive
    * equal event_type collapse into versioned validity rows with an
    * is_current flag (the ETL pattern for building slowly-changing
    * dimensions from an event stream).
    */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    T(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), evSec.as("sec"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1).otherwise(0))
      .withColumn("version", sum(col("chg")).over(cum))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("event_type"),
        min(col("sec")).as("valid_from"), max(col("sec")).as("valid_to"),
        count(lit(1)).as("n_events"))
      .withColumn("is_current",
        (col("version") === max(col("version")).over(Window.partitionBy(col("user_id"))))
          .cast("int"))
      .orderBy(col("user_id"), col("version"))
  }

  query("q64_scd2_islands", q64)(Sql(
    """WITH e AS (SELECT user_id, event_id, event_type, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), c AS (SELECT user_id, event_id, event_type, sec, CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), g AS (SELECT user_id, event_type, sec, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version FROM c), a AS (SELECT user_id, version, MIN(event_type) AS event_type, MIN(sec) AS valid_from, MAX(sec) AS valid_to, COUNT(*) AS n_events FROM g GROUP BY user_id, version) SELECT user_id, version, event_type, valid_from, valid_to, n_events, CAST(version = MAX(version) OVER (PARTITION BY user_id) AS INTEGER) AS is_current FROM a ORDER BY user_id, version"""))

  /** Time-series resample + forward fill: per-user hourly spine between the
    * user's first and last active hour (`sequence` + explode — the
    * distributed date-spine pattern), hourly sums joined on, gaps
    * forward-filled with a `last(ignoreNulls)` window.
    */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    // interval-explode formulation: each observed hour carries the fill
    // until the next observation, so the spine rows are generated WITH
    // their forward-fill attached — no bounds aggregate, no spine⋈census
    // join, and the one window (lead) reuses the census groupBy's
    // partitioning. Same rows: within an interval the last observed value
    // IS the interval head's value (value is non-null by table contract).
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), (expr("(ts div 1000000000) div 3600") * 3600).as("hsec"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("hv"))
    val wLead = Window.partitionBy(col("user_id")).orderBy(col("hsec"))
    hourly
      .withColumn("__next", lead(col("hsec"), 1).over(wLead))
      .select(col("user_id"), col("n"), col("hv"), col("hsec").as("__h"),
        explode(sequence(col("hsec"),
          coalesce(col("__next") - 3600L, col("hsec")), lit(3600L))).as("hsec"))
      .select(col("user_id"), col("hsec"),
        when(col("hsec") === col("__h"), col("n")).otherwise(lit(0L)).as("n"),
        col("hv").as("total_ffill"))
      .orderBy(col("user_id"), col("hsec"))
  }

  query("q65_resample_ffill", q65)(Sql(
    s"""WITH hourly AS (SELECT user_id, (CAST(epoch_ns(ts) // 1000000000 AS BIGINT) // 3600) * 3600 AS hsec, COUNT(*) AS n, $SUMV AS hv FROM events GROUP BY 1, 2), spine AS (SELECT user_id, unnest(generate_series(mn, mx, 3600)) AS hsec FROM (SELECT user_id, MIN(hsec) AS mn, MAX(hsec) AS mx FROM hourly GROUP BY user_id)), j AS (SELECT s.user_id, s.hsec, h.n, h.hv FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hsec = h.hsec) SELECT user_id, hsec, COALESCE(n, 0) AS n, last_value(hv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hsec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_ffill FROM j ORDER BY user_id, hsec"""))

  /** UNPIVOT (melt): the wide per-user counts of q16 stacked back to long
    * form — zero counts included, which distinguishes this from a plain
    * groupBy over the source.
    */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val aggs = types.map(t =>
      sum(when(col("event_type") === t, 1).otherwise(0)).cast("long").as(s"n_$t"))
    val stackArgs = types.map(t => s"'$t', n_$t").mkString(", ")
    T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("user_id"),
        expr(s"stack(${types.size}, $stackArgs) AS (event_type, n)"))
      .orderBy(col("user_id"), col("event_type"))
  }

  query("q66_unpivot", q66)(Sql(
    """WITH w AS (SELECT user_id, CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase, CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error FROM events GROUP BY user_id) SELECT user_id, 'click' AS event_type, n_click AS n FROM w UNION ALL SELECT user_id, 'view', n_view FROM w UNION ALL SELECT user_id, 'purchase', n_purchase FROM w UNION ALL SELECT user_id, 'signup', n_signup FROM w UNION ALL SELECT user_id, 'error', n_error FROM w ORDER BY user_id, event_type"""))

  /** Histogram binning: fixed-width bins over order totals with per-bin
    * bounds and global share (window over an aggregate).
    */
  private def q67(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .withColumn("bin", floor(col("o_totalprice") / 30000.0).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo_seen"), max(col("o_totalprice")).as("hi_seen"))
      .withColumn("frac",
        col("n").cast("double") / sum(col("n")).over(Window.partitionBy()).cast("double"))
      .orderBy(col("bin"))

  query("q67_histogram", q67)(Sql(
    """WITH b AS (SELECT CAST(floor(o_totalprice / 30000.0) AS BIGINT) AS bin, COUNT(*) AS n, MIN(o_totalprice) AS lo_seen, MAX(o_totalprice) AS hi_seen FROM orders GROUP BY 1) SELECT bin, n, lo_seen, hi_seen, CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS frac FROM b ORDER BY bin"""))

  /** CDC compaction: latest state per (user_id, event_type) key by
    * (sec, event_id) — the keep-last-version dedup every change-data-capture
    * ingest needs before serving.
    */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("sec").desc, col("event_id").desc)
    T(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"), evSec.as("sec"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event"),
        col("value").as("last_value"), col("sec").as("last_sec"))
      .orderBy(col("user_id"), col("event_type"))
  }

  query("q68_cdc_compact", q68)(Sql(
    """SELECT user_id, event_type, event_id AS last_event, value AS last_value, sec AS last_sec FROM (SELECT user_id, event_type, event_id, value, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY CAST(epoch_ns(ts) // 1000000000 AS BIGINT) DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 ORDER BY user_id, event_type"""))

  /** Ordered array aggregation: per user, the event sequence collected as a
    * sorted struct array (collect_list alone is order-nondeterministic),
    * then sliced/joined into a journey prefix string.
    */
  private def q70(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("user_id"),
        struct(evSec.as("sec"), col("event_id"), col("event_type")).as("e"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("user_id"),
        size(col("es")).cast("long").as("n_events"),
        array_join(
          slice(transform(col("es"), x => x.getField("event_type")), 1, 5), ">")
          .as("first5"))
      .orderBy(col("user_id"))

  query("q70_array_agg", q70)(Sql(
    """SELECT user_id, COUNT(*) AS n_events, array_to_string((list(event_type ORDER BY CAST(epoch_ns(ts) // 1000000000 AS BIGINT), event_id))[1:5], '>') AS first5 FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Path (sequence) mining: top 20 three-step event-type paths via lead
    * windows — no self-joins, one shuffle on the user key.
    */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    T(s, dir, "events")
      .select(col("user_id"), col("event_type"), evSec.as("sec"), col("event_id"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  query("q71_event_paths", q71)(Sql(
    """WITH e AS (SELECT user_id, event_type, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, event_id FROM events), l AS (SELECT event_type, lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)) SELECT concat_ws('>', event_type, t2, t3) AS path, COUNT(*) AS n FROM l WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1 ORDER BY n DESC, path LIMIT 20"""))

  /** Cohort retention: users grouped by first-signup day, distinct actives
    * per whole-week offset since signup.
    */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val firstSignup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(evSec).as("s0"))
    ev.select(col("user_id"), evSec.as("sec"))
      .join(firstSignup, Seq("user_id"))
      .filter(col("sec") >= col("s0"))
      .select(
        date_format(timestamp_seconds(col("s0")).cast("timestamp_ntz"), "yyyy-MM-dd")
          .as("cohort_day"),
        expr("(sec - s0) div 604800").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_day"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("week_offset"))
  }

  query("q72_cohort", q72)(Sql(
    """WITH f AS (SELECT user_id, MIN(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS s0 FROM events WHERE event_type = 'signup' GROUP BY user_id), e AS (SELECT ev.user_id, CAST(epoch_ns(ev.ts) // 1000000000 AS BIGINT) AS sec, f.s0 FROM events ev JOIN f ON ev.user_id = f.user_id) SELECT strftime(epoch_ms(s0 * 1000), '%Y-%m-%d') AS cohort_day, (sec - s0) // 604800 AS week_offset, COUNT(DISTINCT user_id) AS n_users FROM e WHERE sec >= s0 GROUP BY 1, 2 ORDER BY cohort_day, week_offset"""))

  /** ORC source/sink round-trip with explicit schema (the engine's second
    * columnar format beside parquet), aggregated after read-back.
    */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q73")
    T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").orc(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema).orc(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  query("q73_orc_roundtrip", q73)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Typed Dataset API: case-class encoders, `joinWith` (typed tuple join),
    * typed filter/map — the compile-time-checked face of the engine. Same
    * relational plan under Catalyst as the DataFrame form, so zero
    * performance cost (asserted by the oracle equality itself).
    */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .as[OrderRow]
    val customers = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .as[CustomerRow]
    orders.filter(_.o_orderstatus == "F")
      .joinWith(customers, orders("o_custkey") === customers("c_custkey"))
      .map { case (o, c) =>
        EnrichedOrder(o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice)
      }
      .toDF()
      .orderBy(col("o_orderkey"))
  }

  query("q79_typed_dataset", q79)(Sql(
    """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderstatus = 'F' ORDER BY o_orderkey"""))

  /** Interpolated (continuous) percentiles per group, computed with an
    * EXPLICIT rank-interpolation formula — `pos = 1 + p(n-1)`, linear blend
    * of the two straddling order statistics — identically on both engines,
    * because built-in `percentile`/`quantile_cont` implementations need not
    * agree in floating point.
    */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"), col("o_orderkey"))
    val cw = Window.partitionBy(col("o_orderpriority"))
    val ranked = T(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
    def interp(p: Double): Column = {
      val pos = lit(1.0) + lit(p) * (col("n").cast("double") - 1.0)
      val lo = floor(pos).cast("long")
      val hi = ceil(pos).cast("long")
      val vLo = max(when(col("rn") === lo, col("o_totalprice")))
      val vHi = max(when(col("rn") === hi, col("o_totalprice")))
      // every input reference stays inside an aggregate (pos/lo derive from
      // n, which is not a grouping column); frac is constant per group
      vLo + max(pos - floor(pos)) * (vHi - vLo)
    }
    ranked.groupBy(col("o_orderpriority"))
      .agg(interp(0.25).as("p25"), interp(0.5).as("p50"), interp(0.95).as("p95"),
        max(col("n")).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  query("q82_percentile_interp", q82)(Sql(
    s"""WITH r AS (SELECT o_orderpriority, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn, COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders) SELECT o_orderpriority, ${interpSql("0.25")} AS p25, ${interpSql("0.5")} AS p50, ${interpSql("0.95")} AS p95, MAX(n) AS n FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Correlation / stddev the scale-correct way: raw moments (n, Σx, Σy,
    * Σx², Σy², Σxy) accumulate in DECIMAL — order-independent, map-side
    * combinable — and the statistics derive in double arithmetic identical
    * on both engines. A plain `corr()`/`stddev()` over doubles is
    * partition-order-dependent and never hash-reproducible.
    */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    // base values cast to DECIMAL(18,2) (parity-safe: granularity far above
    // the doubles' ulp), then multiplied IN decimal — casting a ~1e11
    // double product to a fine-scaled decimal is NOT cross-engine-stable
    // (the rounding position falls below the double's ulp)
    def d(c: Column) = c.cast(DecimalType(18, 2))
    def m(c: Column) = sum(c).cast("double")
    val x = col("o_totalprice")
    val y = col("days")
    T(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("double").as("days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("double").as("n"),
        m(d(x)).as("sx"), m(d(y)).as("sy"), m(d(x) * d(x)).as("sxx"),
        m(d(y) * d(y)).as("syy"), m(d(x) * d(y)).as("sxy"))
      .select(col("o_orderpriority"), col("n").cast("long").as("n"),
        // outputs rounded to 9 decimals: the decimal SUMS are exact and
        // identical cross-engine, but wide-decimal→double casts are not
        // correctly-rounded identically everywhere (observed 1 ulp), and
        // rounding the derived statistic absorbs that
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
            sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 9).as("corr_xy"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1.0)), 9)
          .as("stddev_x"))
      .orderBy(col("o_orderpriority"))
  }

  query("q83_corr_moments", q83)(Sql(
    """WITH b AS (SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS dx, CAST(CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS DECIMAL(18,2)) AS dy FROM orders), a AS (SELECT o_orderpriority, CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dx) AS DOUBLE) AS sx, CAST(SUM(dy) AS DOUBLE) AS sy, CAST(SUM(dx*dx) AS DOUBLE) AS sxx, CAST(SUM(dy*dy) AS DOUBLE) AS syy, CAST(SUM(dx*dy) AS DOUBLE) AS sxy FROM b GROUP BY 1) SELECT o_orderpriority, CAST(n AS BIGINT) AS n, round((sxy - sx*sy/n) / (sqrt(sxx - sx*sx/n) * sqrt(syy - sy*sy/n)), 9) AS corr_xy, round(sqrt((sxx - sx*sx/n) / (n - 1.0)), 9) AS stddev_x FROM a ORDER BY o_orderpriority"""))

  /** Schema-drift union: a v2 frame with an added column and a dropped
    * column merges with v1 via unionByName(allowMissingColumns) — the ETL
    * answer to evolving upstream schemas without a rewrite.
    */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val v1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val v2 = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority")) // drifted: +priority, -custkey
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy(col("o_orderkey"))
  }

  query("q87_schema_drift_union", q87)(Sql(
    """SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 0 UNION ALL SELECT o_orderkey, NULL, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1 ORDER BY o_orderkey"""))

  /** MapType handling: per-user event-type counts assembled into a map
    * column (sorted entries → deterministic), then exploded back to rows —
    * the round-trip every semi-structured pipeline needs.
    */
  private def q88(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("event_type"), col("n"))))).as("m"))
      .select(col("user_id"), size(col("m")).cast("long").as("n_types"),
        explode(col("m")).as(Seq("event_type", "n")))
      .orderBy(col("user_id"), col("event_type"))

  query("q88_map_roundtrip", q88)(Sql(
    """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2), t AS (SELECT user_id, COUNT(*) AS n_types FROM c GROUP BY 1) SELECT c.user_id, t.n_types, c.event_type, c.n FROM c JOIN t ON c.user_id = t.user_id ORDER BY c.user_id, c.event_type"""))

  /** Three-valued-logic suite: null-safe equality (<=>), NULLIF, coalesce
    * chains and null-aware counts over a column with injected nulls.
    */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val nullable = T(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        nullif(col("event_type"), lit("error")).as("et"),
        when(col("value") > 50, col("value")).as("big_value"))
    nullable
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("et")).as("n_et"),           // nulls excluded
        count(col("big_value")).as("n_big"),
        sum(when(col("et") <=> lit(null), 1).otherwise(0)).cast("long").as("n_null_safe_eq"),
        sumx(coalesce(col("big_value"), lit(0.0))).as("big_total"))
      .orderBy(col("user_id"))
  }

  query("q89_null_semantics", q89)(Sql(
    """WITH nl AS (SELECT event_id, user_id, nullif(event_type, 'error') AS et, CASE WHEN value > 50 THEN value END AS big_value FROM events) SELECT user_id, COUNT(*) AS n_rows, COUNT(et) AS n_et, COUNT(big_value) AS n_big, CAST(SUM(CASE WHEN et IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq, CAST(SUM(CAST(coalesce(big_value, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS big_total FROM nl GROUP BY user_id ORDER BY user_id"""))

  /** Corrupt-record-tolerant ingestion: JSON lines where odd doc_ids are
    * deterministically truncated mid-object; PERMISSIVE parsing routes bad
    * rows to `_corrupt_record` instead of failing the job — the bronze
    * posture for messy upstream feeds.
    */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q90")
    T(s, dir, "documents").select(
      when(col("doc_id") % 2 === 0,
        to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
        .otherwise(concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
          lit(", \"lang\": \"")))
        .as("line"))
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      // materialize the parsed frame: Spark refuses plans whose pruned scan
      // references ONLY the corrupt-record column (e.g. a downstream count
      // that prunes everything but `status`)
      .localCheckpoint(true)
      .select(when(col("_corrupt_record").isNull, "valid").otherwise("corrupt").as("status"),
        col("lang"), col("n_chars"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("status"))
  }

  query("q90_corrupt_ingest", q90)(Sql(
    """SELECT 'corrupt' AS status, COUNT(*) AS n, CAST(0 AS BIGINT) AS n_langs, CAST(NULL AS BIGINT) AS total_chars FROM documents WHERE doc_id % 2 = 1 UNION ALL SELECT 'valid' AS status, COUNT(*) AS n, COUNT(DISTINCT lang) AS n_langs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents WHERE doc_id % 2 = 0 ORDER BY status"""))

  /** Arbitrary GROUPING SETS with a grouping_id discriminator — the
    * generalization of q17's rollup / q41's cube to caller-chosen
    * combinations, one Expand pass.
    */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    li.groupingSets(
      Seq(Seq(col("l_returnflag"), col("l_linestatus")),
        Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
      col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumx(col("l_quantity")).as("sum_qty"),
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("return_flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("line_status"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("return_flag"), col("line_status"))
  }

  query("q102_grouping_sets", q102)(Sql(
    s"""SELECT coalesce(l_returnflag, 'ALL') AS return_flag, coalesce(l_linestatus, 'ALL') AS line_status, CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid, COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ()) ORDER BY gid, return_flag, line_status"""))

  /** Custom typed Aggregator through the udaf surface: exact-decimal
    * weighted mean (price weighted by quantity) per return flag — the
    * extension point for aggregates the built-ins can't express, with the
    * same partition-order determinism discipline as `sumx`.
    */
  private def q108(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        graft.functions.Aggregators
          .weightedMean(col("l_extendedprice"), col("l_quantity")).as("wavg"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), round(col("wavg"), 6).as("wavg_price"), col("n"))
      .orderBy(col("l_returnflag"))

  // scale-2 bases multiplied IN decimal (exact both engines), division
  // in double, 1e-6 output grid absorbs the wide-decimal cast ulp
  query("q108_custom_udaf", q108)(Sql(
    """SELECT l_returnflag, round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS wavg_price, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Approximate percentile sketch (Greenwald–Khanna `percentile_approx`)
    * beside the exact answer's grouping — rows-only like q37: sketch
    * internals are engine-specific by nature; SketchesSpec bounds the
    * rank error against the exact percentiles instead.
    */
  private def q112(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), array(lit(0.5), lit(0.9)),
          lit(10000)).as("approx_p"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("approx_p").getItem(0).as("p50_approx"),
        col("approx_p").getItem(1).as("p90_approx"), col("n"))
      .orderBy(col("l_returnflag"))

  query("q112_approx_quantile", q112)(RowsOnly)

  /** Raw binary-file ingest via the `binaryFile` source — how image/audio
    * corpora actually enter a lake (one row per file: path, length,
    * payload). Files are staged deterministically from nation names so
    * the oracle can recompute every md5; at 100 TB the same reader fans
    * file listings across executors and the payload column feeds the
    * multimodal pipeline (q33).
    */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val stage = scratch(dir, "q114")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
    // dim-sized driver staging: 25 rows
    T(s, dir, "nation").select(col("n_name")).collect().map(_.getString(0))
      .foreach { n =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, s"$n.bin"), n.getBytes("UTF-8"))
      }
    s.read.format("binaryFile").load(s"$stage/*.bin")
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length"), md5(col("content")).as("content_md5"))
      .orderBy(col("file_name"))
  }

  // q112_approx_quantile: rows-only by design (GK sketch internals are
  // engine-specific); SketchesSpec bounds the rank error vs exact
  // files were staged byte-for-byte from nation names, so every md5 and
  // length recomputes from the table
  query("q114_binary_ingest", q114)(Sql(
    """SELECT n_name || '.bin' AS file_name, CAST(octet_length(encode(n_name)) AS BIGINT) AS length, md5(n_name) AS content_md5 FROM nation ORDER BY file_name"""))

  /** Higher-order array functions over per-order price lists: collect the
    * order's prices in line order, then size / filter / exists / a
    * left-to-right aggregate fold — all inside whole-stage codegen, the
    * nested-data API a DataFrame user reaches for before exploding.
    */
  private def q115(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(
        struct(col("l_linenumber"), col("l_extendedprice")))).as("lines"))
      .select(col("l_orderkey"),
        transform(col("lines"), l => l.getField("l_extendedprice")).as("prices"))
      .select(
        col("l_orderkey"),
        size(col("prices")).cast("long").as("n_items"),
        size(filter(col("prices"), p => p > 3000.0)).cast("long").as("n_big"),
        // left-to-right double fold: same order both engines → deterministic
        round(aggregate(col("prices"), lit(0.0), (acc, p) => acc + p), 6)
          .as("total"),
        exists(col("prices"), p => p > 50000.0).as("has_jumbo"))
      .orderBy(col("l_orderkey"))

  // the list lambdas mirror each HOF; the fold seeds 0.0 and adds left
  // to right exactly like Spark's aggregate()
  query("q115_array_hof", q115)(Sql(
    """WITH l AS (SELECT l_orderkey, list(l_extendedprice ORDER BY l_linenumber) AS prices FROM lineitem GROUP BY l_orderkey) SELECT l_orderkey, CAST(len(prices) AS BIGINT) AS n_items, CAST(len(list_filter(prices, p -> p > 3000.0)) AS BIGINT) AS n_big, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), prices), (a, b) -> a + b), 6) AS total, len(list_filter(prices, p -> p > 50000.0)) > 0 AS has_jumbo FROM l ORDER BY l_orderkey"""))

  /** Mergeable HLL sketch rollup (rows-only by design, like q37): per-day
    * user sketches built once, the month's distinct estimated by MERGING
    * the sketches — never re-scanning history. The mergeability is the
    * entire point at 100 TB: day sketches are kilobytes, the rollup is a
    * union of sketches, and SketchesSpec bounds the estimate against the
    * exact distinct.
    */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .groupBy(evDateId.as("date_id"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count_distinct(col("user_id")).as("exact_users"))
    val perDay = daily.select(col("date_id"),
      hll_sketch_estimate(col("sk")).as("approx_users"), col("exact_users"))
    val total = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
      lit(null).cast("long").as("exact_users"))
      .select(lit("ALL").as("date_id"), col("approx_users"), col("exact_users"))
    perDay.unionByName(total).orderBy(col("date_id"))
  }

  query("q119_hll_rollup", q119)(RowsOnly)

  /** Multi-touch attribution: each purchase's value is split equally
    * across the user's clicks in the preceding hour (fractional
    * allocation), then rolled up per user on the exact-decimal grid. The
    * touch join is a plain user equi-join + time filter — never a time
    * theta-join.
    */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), evSec.as("p_sec"),
        col("value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), evSec.as("c_sec"))
    val touches = p.join(c, Seq("user_id"))
      .filter(col("c_sec") >= col("p_sec") - 3600 && col("c_sec") < col("p_sec"))
    val w = Window.partitionBy(col("pid"))
    touches
      .withColumn("n_t", count(lit(1)).over(w))
      .select(col("user_id"),
        (col("value") / col("n_t")).cast(DecimalType(18, 9)).as("share"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("share")).cast("double"), 6).as("attributed_value"))
      .orderBy(col("user_id"))
  }

  // per-touch shares land on the 1e-9 decimal grid before the per-user
  // sum; value/n is the same fixed-order double division both sides
  query("q122_attribution", q122)(Sql(
    """WITH p AS (SELECT event_id AS pid, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS p_sec, value FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS cid, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS c_sec FROM events WHERE event_type = 'click'), t AS (SELECT p.pid, p.user_id, p.value, c.cid FROM p JOIN c ON p.user_id = c.user_id AND c.c_sec >= p.p_sec - 3600 AND c.c_sec < p.p_sec), n AS (SELECT pid, COUNT(*) AS n_t FROM t GROUP BY pid) SELECT t.user_id, COUNT(*) AS n_touches, round(CAST(SUM(CAST(t.value / n.n_t AS DECIMAL(18,9))) AS DOUBLE), 6) AS attributed_value FROM t JOIN n USING (pid) GROUP BY t.user_id ORDER BY t.user_id"""))

  /** Chi-square independence test of event type × weekday: contingency
    * cells from one aggregation, expected counts from row/column/total
    * marginals (window sums over the 42-cell frame — aggregated, tiny),
    * per-cell terms on the decimal grid. The model-drift hypothesis test
    * beside q109's PSI. Terms sum over OBSERVED cells (both engines
    * replay the same convention).
    */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val cells = T(s, dir, "events")
      .select(col("event_type").as("t"), dayofweek(evTs).as("d"))
      .groupBy(col("t"), col("d"))
      .agg(count(lit(1)).as("o"))
    val tot = cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("t"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("d"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val term = ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
      .cast(DecimalType(28, 9))
    tot.select(col("t"), col("d"), term.as("tm"))
      .agg(
        round(sum(col("tm")).cast("double"), 6).as("chi2"),
        ((count_distinct(col("t")) - 1) * (count_distinct(col("d")) - 1))
          .as("dof"))
  }

  // identical fixed-order marginal/expected arithmetic; DuckDB weekday
  // is 0-based (Spark's is 1-based) hence the +1
  query("q128_chi_square", q128)(Sql(
    """WITH ev AS (SELECT event_type AS t, dayofweek(ts) + 1 AS d FROM events), cells AS (SELECT t, d, COUNT(*) AS o FROM ev GROUP BY 1, 2), tot AS (SELECT t, d, o, CAST(SUM(o) OVER (PARTITION BY t) AS BIGINT) AS rt, CAST(SUM(o) OVER (PARTITION BY d) AS BIGINT) AS ct, CAST(SUM(o) OVER () AS BIGINT) AS n FROM cells), term AS (SELECT t, d, CAST((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(28,9)) AS tm FROM tot) SELECT round(CAST(SUM(tm) AS DOUBLE), 6) AS chi2, CAST((COUNT(DISTINCT t) - 1) * (COUNT(DISTINCT d) - 1) AS BIGINT) AS dof FROM term"""))

  /** Growth accounting: every active (user, day) classified as new /
    * retained / resurrected from the user's previous active day, plus
    * churn events the day after an activity gap opens — the standard
    * DAU decomposition (new + retained + resurrected − churned explains
    * every day-over-day change). One distinct + one per-user window.
    */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val days = T(s, dir, "events")
      .select(col("user_id"), to_date(evDateId).as("day"))
      .distinct()
    val maxDay = days.agg(max(col("day"))).head().getDate(0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val marked = days
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w))
    val activity = marked.select(col("day"),
      when(col("prev").isNull, "new")
        .when(datediff(col("day"), col("prev")) === 1, "retained")
        .otherwise("resurrected").as("kind"))
    val churn = marked
      .filter((col("next").isNull || datediff(col("next"), col("day")) > 1) &&
        date_add(col("day"), 1) <= lit(maxDay))
      .select(date_add(col("day"), 1).as("day"), lit("churned").as("kind"))
    activity.unionByName(churn)
      .groupBy(col("day"))
      .agg(
        sum(when(col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("kind") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("kind") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("kind") === "churned", 1L).otherwise(0L)).as("n_churned"))
      .select(col("day").cast("string").as("day"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
      .orderBy(col("day"))
  }

  // same classification windows; churn lands the day AFTER a gap opens,
  // bounded by the max active day
  query("q131_growth_accounting", q131)(Sql(
    """WITH days AS (SELECT DISTINCT user_id, CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS day FROM events), mx AS (SELECT MAX(day) AS m FROM days), marked AS (SELECT user_id, day, lag(day) OVER w AS prev, lead(day) OVER w AS next FROM days WINDOW w AS (PARTITION BY user_id ORDER BY day)), activity AS (SELECT day, CASE WHEN prev IS NULL THEN 'new' WHEN day - prev = 1 THEN 'retained' ELSE 'resurrected' END AS kind FROM marked), churn AS (SELECT day + 1 AS day, 'churned' AS kind FROM marked WHERE (next IS NULL OR next - day > 1) AND day + 1 <= (SELECT m FROM mx)), u AS (SELECT * FROM activity UNION ALL SELECT * FROM churn) SELECT CAST(day AS VARCHAR) AS day, CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new, CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained, CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected, CAST(SUM(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned FROM u GROUP BY day ORDER BY day"""))

  /** Time-constrained conversion funnel: of the users whose FIRST view
    * happened on day D, how many purchased within 24 hours of it — the
    * windowed complement of q50's unbounded ordering funnel. The
    * conversion probe is a user equi-join with the window as a residual
    * filter condition (left-semi), never a time theta-join.
    */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(evSec).as("v_sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), evSec.as("p_sec"))
    val converted = firstView.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_sec") > col("v_sec") && col("p_sec") <= col("v_sec") + 86400L,
        "left_semi")
      .select(col("user_id"), lit(1L).as("c"))
    firstView.join(converted, Seq("user_id"), "left")
      .groupBy(date_format(timestamp_seconds(col("v_sec")).cast("timestamp_ntz"),
        "yyyy-MM-dd").as("view_day"))
      .agg(count(lit(1)).as("n_first_views"),
        sum(coalesce(col("c"), lit(0L))).as("n_converted_24h"))
      .withColumn("conversion_rate",
        round(col("n_converted_24h").cast("double") /
          col("n_first_views").cast("double"), 6))
      .orderBy(col("view_day"))
  }

  query("q132_conversion_window", q132)(Sql(
    """WITH fv AS (SELECT user_id, MIN(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS v_sec FROM events WHERE event_type = 'view' GROUP BY user_id), p AS (SELECT user_id AS p_user, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS p_sec FROM events WHERE event_type = 'purchase'), conv AS (SELECT DISTINCT fv.user_id FROM fv JOIN p ON fv.user_id = p.p_user AND p.p_sec > fv.v_sec AND p.p_sec <= fv.v_sec + 86400) SELECT strftime(to_timestamp(v_sec), '%Y-%m-%d') AS view_day, COUNT(*) AS n_first_views, CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_24h, round(CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS conversion_rate FROM fv LEFT JOIN conv ON fv.user_id = conv.user_id GROUP BY 1 ORDER BY view_day"""))

  /** XML source/sink round-trip (Spark 4's native XML datasource): the
    * nation dimension written as `<nation>` row elements and read back
    * under an explicit schema — no runaway inference pass, same posture
    * as the JSON/CSV/ORC sources (q34/q35/q73).
    */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q133")
    T(s, dir, "nation")
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .coalesce(1)
      .write.mode("overwrite").option("rowTag", "nation").format("xml").save(path)
    s.read.format("xml")
      .option("rowTag", "nation")
      .schema("n_nationkey LONG, n_name STRING, n_regionkey LONG")
      .load(path)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  query("q133_xml_source", q133)(Sql(
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation ORDER BY n_nationkey"""))

  /** Pure-SQL surface ([[graft.plans.GraftExtensions]]): the engine's
    * codegen Catalyst expressions (`xs_hash`, `vec_cosine`) called from
    * `spark.sql` TEXT over registered views — proving a library user
    * needs no Scala to reach the custom-expression layer. The cosine sums
    * are rounded then DECIMAL-accumulated, so the aggregate is
    * order-independent and the oracle replays it with its portable
    * macro equivalents.
    */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "documents").createOrReplaceTempView("documents_v")
    T(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
    s.sql("""
      WITH q AS (SELECT embedding AS qv FROM embeddings_v WHERE vec_id = 0),
      t AS (SELECT lang, count(*) AS n, sum(CASE WHEN xs_hash(text) % 2 = 0 THEN 1 ELSE 0 END) AS even_hash
            FROM documents_v GROUP BY lang),
      v AS (SELECT label, count(*) AS n,
              CAST(sum(CAST(round(vec_cosine(embedding, qv), 6) AS DECIMAL(18,6))) AS DOUBLE) AS cos_sum
            FROM embeddings_v, q GROUP BY label)
      SELECT 'lang_hash' AS part, lang AS key, n, CAST(even_hash AS DOUBLE) AS metric FROM t
      UNION ALL
      SELECT 'label_cos', CAST(label AS STRING), n, cos_sum FROM v
      ORDER BY part, key""")
  }

  // the same hash and cosine arithmetic through the SQL-registered
  // expressions, replayed via the portable macros; cosine sums are
  // 6-dp-rounded then decimal-accumulated (order-independent)
  query("q172_sql_surface", q172)(Sql(
    s"""$HASH_MACROS; $VEC_MACROS; WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), t AS (SELECT lang, COUNT(*) AS n, SUM(CASE WHEN tosigned(xshash(text)) % 2 = 0 THEN 1 ELSE 0 END) AS even_hash FROM documents GROUP BY lang), v AS (SELECT label, COUNT(*) AS n, CAST(SUM(CAST(round(pcos(embedding, qv), 6) AS DECIMAL(18,6))) AS DOUBLE) AS cos_sum FROM embeddings, q GROUP BY label) SELECT * FROM (SELECT 'lang_hash' AS part, lang AS key, n, CAST(even_hash AS DOUBLE) AS metric FROM t UNION ALL SELECT 'label_cos', CAST(label AS VARCHAR), n, cos_sum FROM v) ORDER BY part, key"""))

  /** Spark 4 VARIANT ingestion: the semi-structured `props` payload
    * parsed ONCE into the binary variant encoding (`parse_json`), fields
    * then extracted with `variant_get` — the modern engine path for
    * schema-flexible JSON at scale (one parse, typed columnar access,
    * no per-field regex re-scan like q01's legacy extraction).
    */
  private def q173(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("k_sum"))
      .orderBy(col("event_type"), col("k_mod"))

  // variant_get's typed extraction replays as DuckDB JSON extraction;
  // % keeps dividend sign but k is non-negative here
  query("q173_variant_ingest", q173)(Sql(
    """SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod, COUNT(*) AS n, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum FROM events GROUP BY 1, 2 ORDER BY event_type, k_mod"""))

  /** Referential pseudonymization for training-data privacy: user ids
    * replaced by a salted-hash pseudonym IDENTICALLY across fact and
    * dimension tables, so joins still line up but raw ids never leave
    * the pipeline. The salt is a pipeline parameter; rotating it
    * re-keys every pseudonym consistently.
    */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val salt = "graft-r4"
    def pseud(c: Column): Column =
      substring(md5(concat(lit(salt), lit(":"), c.cast("string")).cast("binary")), 1, 16)
    val ev = T(s, dir, "events")
      .select(pseud(col("user_id")).as("pid"), col("value"))
    val cust = T(s, dir, "customer")
      .select(pseud(col("c_custkey")).as("pid"), col("c_mktsegment"))
    ev.join(cust, Seq("pid"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), count_distinct(col("pid")).as("n_users"),
        sumx(col("value")).as("total_value"))
      .orderBy(col("c_mktsegment"))
  }

  // identical salted-md5 pseudonyms on both sides keep the join keyed
  query("q174_pseudonymize", q174)(Sql(
    s"""WITH ev AS (SELECT substr(md5('graft-r4:' || CAST(user_id AS VARCHAR)), 1, 16) AS pid, value FROM events), cu AS (SELECT substr(md5('graft-r4:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS pid, c_mktsegment FROM customer) SELECT c_mktsegment, COUNT(*) AS n, COUNT(DISTINCT ev.pid) AS n_users, $SUMV AS total_value FROM ev JOIN cu USING (pid) GROUP BY 1 ORDER BY c_mktsegment"""))

  /** Time-decayed engagement scoring: per-type value sums halved per week
    * of age — the feature-store freshness weighting. The decay factor is
    * an exact power of two (weekly buckets, `1 / 2^age_weeks`), so every
    * per-row product is IEEE-identical cross-engine before the usual
    * round-then-decimal accumulation.
    */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_type"), col("value"), to_date(evTs).as("d"))
    val mx = ev.agg(max(col("d")).as("mx"))
    ev.join(broadcast(mx))
      .withColumn("wk", expr("datediff(mx, d) div 7"))
      .withColumn("contrib",
        round(col("value") / expr("cast(shiftleft(1L, int(wk)) as double)"), 9)
          .cast(DecimalType(28, 9)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("contrib")).cast("double").as("decayed_value"),
        sumx(col("value")).as("raw_value"))
      .orderBy(col("event_type"))
  }

  // weekly decay factor is an exact power of two: identical doubles on
  // both engines before the round-then-decimal accumulation
  query("q178_decayed_score", q178)(Sql(
    s"""WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events), e AS (SELECT event_type, value, datediff('day', CAST(ts AS DATE), mx) // 7 AS wk FROM events, mx) SELECT event_type, COUNT(*) AS n, CAST(SUM(CAST(round(value / CAST(1 << CAST(wk AS INTEGER) AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE) AS decayed_value, $SUMV AS raw_value FROM e GROUP BY 1 ORDER BY event_type"""))

  /** Nation → IANA zone for q181. Zones chosen for rule stability (no
    * 2019+ tzdata churn, so the JDK and ICU databases agree) and coverage
    * of the awkward cases: half-hour offset (Kolkata), southern-hemisphere
    * January DST (São Paulo pre-2019 had it — now fixed offset), date-line
    * adjacent (Tokyo). Unmapped nations observe UTC.
    */
  private val NationTz = Seq(
    "UNITED STATES" -> "America/New_York",
    "BRAZIL" -> "America/Sao_Paulo",
    "FRANCE" -> "Europe/Paris",
    "GERMANY" -> "Europe/Berlin",
    "UNITED KINGDOM" -> "Europe/London",
    "JAPAN" -> "Asia/Tokyo",
    "CHINA" -> "Asia/Shanghai",
    "INDIA" -> "Asia/Kolkata")

  /** Timezone-aware event-time normalization: the same UTC instant lands
    * on DIFFERENT local calendar days per user region — every "daily
    * active" metric over a global user base needs this conversion, and
    * naive UTC bucketing miscounts it. Events are converted to each
    * customer-nation's IANA zone before local-day aggregation; both
    * engines resolve the zone rules from their own tz database (stable
    * zones, so they agree).
    */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val tzCol = NationTz.foldRight(lit("UTC")) { case ((n, z), acc) =>
      when(col("n_name") === n, lit(z)).otherwise(acc)
    }
    val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(T(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    T(s, dir, "events")
      .select(col("user_id"), col("value"), timestamp_seconds(evSec).as("uts"))
      .join(cust, col("user_id") === col("c_custkey"))
      .withColumn("local_date",
        date_format(from_utc_timestamp(col("uts"), tzCol), "yyyy-MM-dd"))
      .groupBy(col("n_name"), col("local_date"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("n_name"), col("local_date"))
  }

  // same nation→zone mapping; DuckDB resolves the conversion through
  // its own (ICU) tz database — stable zones, so both engines agree
  query("q181_local_time", q181)(Sql(
    s"""WITH cu AS (SELECT c_custkey, n_name, CASE ${NationTz.map { case (n, z) => s"WHEN n_name = '$n' THEN '$z'" }.mkString(" ")} ELSE 'UTC' END AS z FROM customer JOIN nation ON c_nationkey = n_nationkey) SELECT n_name, strftime(timezone(z, timezone('UTC', date_trunc('second', CAST(ts AS TIMESTAMP)))), '%Y-%m-%d') AS local_date, COUNT(*) AS n, $SUMV AS total_value FROM events JOIN cu ON user_id = c_custkey GROUP BY 1, 2 ORDER BY n_name, local_date"""))

  /** Time-series LINEAR interpolation over per-user hourly gaps — the
    * numeric counterpart of q65's forward fill: interior missing hours
    * get `prev + (next - prev) * elapsed-fraction`, observed hours pass
    * through. Spine construction bounds the series to each user's own
    * [first, last] hour, so no leading/trailing extrapolation exists by
    * construction. One explode + two per-key window passes.
    */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    // interval-explode formulation (the q65/q286 rewrite): an interior
    // missing hour's bracketing observations are its interval's head and
    // the head's lead(), so interpolation needs ONE ascending window over
    // the census — no bounds aggregate, no spine⋈census join, no second
    // (descending) spine sort. Spine coverage is identical: intervals
    // tile [first, last] per user by construction.
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg(sumx(col("value")).as("hsum"), count(lit(1)).as("hn"))
      .select(col("user_id"), col("hid"), (col("hsum") / col("hn")).as("hv"))
    val wLead = Window.partitionBy(col("user_id")).orderBy(col("hid"))
    hourly
      .withColumn("__nh", lead(col("hid"), 1).over(wLead))
      .withColumn("__nv", lead(col("hv"), 1).over(wLead))
      .select(col("user_id"), col("hv"), col("__nh"), col("__nv"),
        col("hid").as("__h"),
        explode(sequence(col("hid"),
          coalesce(col("__nh") - 1L, col("hid")))).as("hid"))
      .select(col("user_id"), col("hid"),
        (col("hid") === col("__h")).as("observed"),
        // UNROUNDED on purpose: every input is decimal-exact or integral,
        // and both engines evaluate pv + (nv-pv) * ((hid-ph)/(nh-ph)) in
        // the same IEEE op order — the doubles are bit-identical. A final
        // round(·, 6) would REINTRODUCE divergence: interpolation at
        // frac=1/2 of 2-decimal rationals lands exactly on .5×1e-6
        // boundaries, where Spark's decimal-string HALF_UP and DuckDB's
        // numeric rounding disagree (seen live at sf0.001 row 7300).
        when(col("hid") === col("__h"), col("hv"))
          .otherwise(col("hv") + (col("__nv") - col("hv")) *
            ((col("hid") - col("__h")) / (col("__nh") - col("__h"))))
          .as("v_interp"))
      .orderBy(col("user_id"), col("hid"))
  }

  query("q191_interpolate", q191)(Sql(
    """WITH hourly AS (SELECT user_id, epoch_ns(ts)//1000000000//3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS hv FROM events GROUP BY 1, 2), bounds AS (SELECT user_id, MIN(hid) AS lo, MAX(hid) AS hi FROM hourly GROUP BY 1), spine AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hid FROM bounds), j AS (SELECT s.user_id, s.hid, h.hv FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hid = h.hid), w AS (SELECT user_id, hid, hv, last_value(hv IGNORE NULLS) OVER wp AS pv, last_value(CASE WHEN hv IS NOT NULL THEN hid END IGNORE NULLS) OVER wp AS ph, first_value(hv IGNORE NULLS) OVER wn AS nv, first_value(CASE WHEN hv IS NOT NULL THEN hid END IGNORE NULLS) OVER wn AS nh FROM j WINDOW wp AS (PARTITION BY user_id ORDER BY hid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), wn AS (PARTITION BY user_id ORDER BY hid ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) SELECT user_id, hid, hv IS NOT NULL AS observed, CASE WHEN hv IS NOT NULL THEN hv ELSE pv + (nv - pv) * ((hid - ph) / (nh - ph)) END AS v_interp FROM w ORDER BY user_id, hid"""))

  /** Bigram-surprisal quality scoring — q194's unigram filter upgraded to
    * transition probabilities: each in-doc word transition (with a
    * per-doc BOS sentinel) is scored `-ln p(w | prev)` under the corpus's
    * own bigram model (`c_pair / c_prefix`, exact integers), averaged per
    * document. High = incoherent word soup even when every word is
    * common — the repetition/gibberish axis unigram models can't see.
    * Terms hit the 9-decimal grid before the order-independent DECIMAL
    * sum (§6 discipline, same as q194).
    */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    val words = T(s, dir, "documents").select(col("doc_id"),
      posexplode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
        .as(Seq("pos", "w")))
    val big = words
      .withColumn("prev", coalesce(
        lag(col("w"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))),
        lit("<s>")))
      .select(col("doc_id"), col("prev"), col("w"))
    val cPair = big.groupBy(col("prev"), col("w")).agg(count(lit(1)).as("c_pair"))
    val cFirst = cPair.groupBy(col("prev")).agg(sum(col("c_pair")).as("c_first"))
    big.join(cPair, Seq("prev", "w")).join(cFirst, Seq("prev"))
      .select(col("doc_id"),
        round(log(col("c_first").cast("double") / col("c_pair").cast("double")), 9)
          .cast(DecimalType(28, 9)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  // q194's grid-then-decimal-sum discipline over bigram transitions;
  // the BOS sentinel makes every doc's first word a scored transition
  query("q231_bigram_surprisal", q231)(Sql(
    """WITH wl AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents), w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM wl), b AS (SELECT doc_id, coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS prev, w FROM w), cp AS (SELECT prev, w, COUNT(*) AS c_pair FROM b GROUP BY 1, 2), cf AS (SELECT prev, CAST(SUM(c_pair) AS BIGINT) AS c_first FROM cp GROUP BY 1), t AS (SELECT doc_id, CAST(round(ln(CAST(c_first AS DOUBLE) / CAST(c_pair AS DOUBLE)), 9) AS DECIMAL(28,9)) AS nll FROM b JOIN cp USING (prev, w) JOIN cf USING (prev)) SELECT doc_id, COUNT(*) AS n_trans, round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll FROM t GROUP BY doc_id ORDER BY doc_id"""))

  /** Event-time completeness audit: per event type, every missing hour in
    * the type's own [min, max] hour range, reported as contiguous gap
    * islands — the freshness check a scheduled ingest runs before
    * publishing a partition. The hour spine is sequence()-generated per
    * type (O(time span) rows, independent of corpus size), the anti-join
    * prunes to missing hours only, and the island window runs over that
    * already-small set.
    */
  private def q233(s: SparkSession, dir: String): DataFrame =
    gapIslands(T(s, dir, "events")
      .select(col("event_type"), expr("(ts div 1000000000) div 3600").as("h"))
      .distinct())

  // the hour spine regenerates from the same [min,max] bounds, so the
  // gap islands replay as the identical anti-join + window
  query("q233_gap_detect", q233)(Sql(gapDetectOracleSql))

  /** Lexicon-based safety/content flagging — the blocklist scoring stage a
    * corpus filter runs before training (stand-in terms; swap the lexicon).
    * Word-boundary exact matches over the normalized split, per-doc hit
    * counts, distinct matched terms, and a flag on the rounded hit ratio.
    * One corpus scan; the lexicon is a literal IN-list (broadcast by
    * construction).
    */
  private def q241(s: SparkSession, dir: String): DataFrame = {
    val lex = Seq("dup", "fast", "slow")
    val words = T(s, dir, "documents").select(col("doc_id"),
      explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("w"))
    words.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("w").isin(lex: _*), 1L).otherwise(0L)).as("n_hits"),
        size(array_distinct(collect_list(
          when(col("w").isin(lex: _*), col("w"))))).cast("long").as("n_terms"))
      .withColumn("hit_ratio",
        round(col("n_hits").cast("double") / col("n_tokens"), 6))
      .withColumn("flagged",
        when(col("hit_ratio") > 0.01, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  // lexicon hits replay as a literal IN-list; flag threshold applies to
  // the 6-rounded ratio on both engines
  query("q241_lexicon_flags", q241)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id, unnest(docwords(text)) AS w FROM documents), a AS (SELECT doc_id, COUNT(*) AS n_tokens, CAST(COUNT(*) FILTER (w IN ('dup','fast','slow')) AS BIGINT) AS n_hits, CAST(COUNT(DISTINCT w) FILTER (w IN ('dup','fast','slow')) AS BIGINT) AS n_terms FROM w GROUP BY doc_id), b AS (SELECT doc_id, n_tokens, n_hits, n_terms, round(CAST(n_hits AS DOUBLE) / n_tokens, 6) AS hit_ratio FROM a) SELECT doc_id, n_tokens, n_hits, n_terms, hit_ratio, CAST(CASE WHEN hit_ratio > 0.01 THEN 1 ELSE 0 END AS BIGINT) AS flagged FROM b ORDER BY doc_id"""))

  /** Ingest-lag profiling: exact p50/p95 (q82's interpolation, identical on
    * both engines) and max of the event-time → ingest-time delay, per event
    * type. The test tables carry no ingest timestamp, so the delay is
    * synthesized deterministically from event_id (documented stand-in — a
    * real pipeline reads its ingest column here); everything downstream of
    * that column is the real operator: one window rank + one aggregation,
    * partitioned by type.
    */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val lagged = T(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        ((col("event_id") * 37) % 1800).cast("double").as("delay_s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("delay_s"), col("event_id"))
    val cw = Window.partitionBy(col("event_type"))
    val ranked = lagged
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
    def interp(p: Double): Column = {
      val pos = lit(1.0) + lit(p) * (col("n").cast("double") - 1.0)
      val lo = floor(pos).cast("long")
      val hi = ceil(pos).cast("long")
      val vLo = max(when(col("rn") === lo, col("delay_s")))
      val vHi = max(when(col("rn") === hi, col("delay_s")))
      vLo + max(pos - floor(pos)) * (vHi - vLo)
    }
    ranked.groupBy(col("event_type"))
      .agg(interp(0.5).as("p50_lag"), interp(0.95).as("p95_lag"),
        max(col("delay_s")).as("max_lag"), max(col("n")).as("n"))
      .orderBy(col("event_type"))
  }

  // q82's exact-interpolation replay over the synthesized integer delays
  query("q234_lag_profile", q234)(Sql(
    s"""WITH d AS (SELECT event_type, event_id, CAST((event_id * 37) % 1800 AS DOUBLE) AS delay_s FROM events), r AS (SELECT event_type, delay_s, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY delay_s, event_id) AS rn, COUNT(*) OVER (PARTITION BY event_type) AS n FROM d) SELECT event_type, ${lagInterpSql("0.5")} AS p50_lag, ${lagInterpSql("0.95")} AS p95_lag, MAX(delay_s) AS max_lag, MAX(n) AS n FROM r GROUP BY event_type ORDER BY event_type"""))

  /** Substring-granularity dedup — the layer between q211's exact-line pass
    * and q21's whole-document pass (Lee et al.'s "Deduplicating Training
    * Data" runs exactly this k-gram span scan): every word 8-gram occurring
    * more than once corpus-wide marks its 8-token span, overlapping spans
    * merge (gaps-and-islands over gram starts: a start within 7 positions
    * of the previous start overlaps), and each doc reports how much of it
    * is duplicated substring mass. One explode builds the grams (HOF over
    * the word array, no self-join), one shuffle counts them, and the span
    * window runs only over duplicated-gram occurrences.
    */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"),
      split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ").as("ws"))
    // one materialized gram pass: the census aggregate AND the probe side
    // of the dup join both read the checkpoint — without it the whole
    // normalize/split/slice/array_join generate ran once per branch
    // (the plan's two identical Generate subtrees; ~1.9 s of the 2.7 s
    // isolated cost)
    val grams = docs.filter(size(col("ws")) >= 8)
      .select(col("doc_id"), size(col("ws")).as("n"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - 8),
          i => array_join(slice(col("ws"), i + 1, lit(8)), " ")))
          .as(Seq("pos", "g")))
      .localCheckpoint(true)
    val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val dup = grams.join(counts.filter(col("cnt") >= 2), Seq("g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= 7, 0).otherwise(1))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(first(col("n")).as("n"), count(lit(1)).as("n_gr"),
        (max(col("pos")) - min(col("pos")) + 8).as("cov"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_tokens"),
        sum(col("n_gr")).as("n_dup_grams"),
        sum(col("cov")).cast("long").as("covered_tokens"),
        round(sum(col("cov")).cast("double") / max(col("n")), 6).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  // grams regenerate positionally from the same normalized split; span
  // union replays as the same fixed-length interval-merge islands
  query("q235_span_dedup", q235)(Sql(
    """WITH wl AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents), f AS (SELECT doc_id, len(ws) AS n, ws, unnest(range(0, len(ws)-7)) AS pos FROM wl WHERE len(ws) >= 8), g AS (SELECT doc_id, n, CAST(pos AS BIGINT) AS pos, array_to_string(ws[pos+1:pos+8], ' ') AS g FROM f), c AS (SELECT g, COUNT(*) AS cnt FROM g GROUP BY g), d AS (SELECT doc_id, n, pos FROM g JOIN c USING (g) WHERE cnt >= 2), isl AS (SELECT doc_id, n, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 7 THEN 0 ELSE 1 END AS brk FROM d), gi AS (SELECT doc_id, n, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id FROM isl), seg AS (SELECT doc_id, isl_id, ANY_VALUE(n) AS n, COUNT(*) AS n_gr, MAX(pos) - MIN(pos) + 8 AS cov FROM gi GROUP BY doc_id, isl_id) SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens, CAST(SUM(n_gr) AS BIGINT) AS n_dup_grams, CAST(SUM(cov) AS BIGINT) AS covered_tokens, round(CAST(SUM(cov) AS DOUBLE) / MAX(n), 6) AS dup_ratio FROM seg GROUP BY doc_id ORDER BY doc_id"""))

  /** Corpus drift between two snapshots: Jensen–Shannon divergence over the
    * unigram distributions (the corpus-level companion to q109's per-feature
    * PSI — "did the crawl change under me"), reported as the top drifting
    * words by JSD contribution. Halves stand in for snapshots (doc_id
    * parity). One corpus scan, one shuffle on word; per-word terms hit the
    * 9-decimal grid before any comparison (§6 discipline), totals ride a
    * broadcast single-row join.
    */
  private def q236(s: SparkSession, dir: String): DataFrame = {
    val words = T(s, dir, "documents").select(
      (col("doc_id") % 2).as("half"),
      explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("w"))
    val c = words.groupBy(col("w")).agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
    val tot = c.agg(sum(col("c0")).cast("double").as("n0"),
      sum(col("c1")).cast("double").as("n1"))
    val p = col("c0").cast("double") / col("n0")
    val q = col("c1").cast("double") / col("n1")
    c.join(broadcast(tot))
      .withColumn("term_p",
        when(col("c0") > 0, p * log(lit(2.0) * p / (p + q))).otherwise(lit(0.0)))
      .withColumn("term_q",
        when(col("c1") > 0, q * log(lit(2.0) * q / (p + q))).otherwise(lit(0.0)))
      .select(col("w"), col("c0"), col("c1"),
        round(lit(0.5) * (col("term_p") + col("term_q")), 9).as("jsd_contrib"))
      .orderBy(col("jsd_contrib").desc, col("w"))
      .limit(20)
  }

  // per-word JSD terms hit the 9-decimal grid before ranking; both
  // engines order by the rounded contribution then the word
  query("q236_corpus_drift", q236)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id % 2 AS half, unnest(docwords(text)) AS w FROM documents), c AS (SELECT w, CAST(COUNT(*) FILTER (half = 0) AS BIGINT) AS c0, CAST(COUNT(*) FILTER (half = 1) AS BIGINT) AS c1 FROM w GROUP BY w), t AS (SELECT CAST(SUM(c0) AS DOUBLE) AS n0, CAST(SUM(c1) AS DOUBLE) AS n1 FROM c) SELECT w, c0, c1, round(0.5 * (CASE WHEN c0 > 0 THEN (c0/n0) * ln(2.0*(c0/n0)/((c0/n0)+(c1/n1))) ELSE 0.0 END + CASE WHEN c1 > 0 THEN (c1/n1) * ln(2.0*(c1/n1)/((c0/n0)+(c1/n1))) ELSE 0.0 END), 9) AS jsd_contrib FROM c, t ORDER BY jsd_contrib DESC, w LIMIT 20"""))

  /** Community detection by synchronous label propagation over the
    * support-thresholded part co-purchase graph (q162's scale-stable edge
    * construction: pairs co-occurring in ≥ 2 orders). Three synchronous
    * rounds; each vertex adopts its neighbors' modal label, ties to the
    * smallest — fully deterministic, so the oracle replays the fixpoint as
    * three unrolled CTE rounds. Per-round cost is one equi-join + one
    * grouped count + one per-vertex window (all key-partitioned); lineage
    * is cut per round like PageRank's iterations.
    */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    // pairs via one per-order basket array + double explode (the q413
    // edge build): one shuffle of (ok, pk) rows instead of the
    // self-join's two
    val e0 = T(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(collect_set(col("pk")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select(col("u"), col("v"))
    val edges = e0.union(e0.select(col("v"), col("u"))).toDF("src", "dst")
    graft.operators.Graph.labelPropagation(edges, rounds = 3)
      .select(col("node").as("pk"), col("label")).orderBy(col("pk"))
  }

  // three synchronous rounds unroll as three CTEs; mode + smallest-label
  // tie-break makes every round deterministic on both engines
  query("q238_label_prop", q238)(Sql(
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), e0 AS (SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING COUNT(*) >= 2), e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0), l0 AS (SELECT DISTINCT src AS pk, src AS label FROM e), r1 AS (SELECT pk, label FROM (SELECT e.src AS pk, l.label, ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY COUNT(*) DESC, l.label) AS rn FROM e JOIN l0 l ON e.dst = l.pk GROUP BY e.src, l.label) WHERE rn = 1), r2 AS (SELECT pk, label FROM (SELECT e.src AS pk, l.label, ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY COUNT(*) DESC, l.label) AS rn FROM e JOIN r1 l ON e.dst = l.pk GROUP BY e.src, l.label) WHERE rn = 1), r3 AS (SELECT pk, label FROM (SELECT e.src AS pk, l.label, ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY COUNT(*) DESC, l.label) AS rn FROM e JOIN r2 l ON e.dst = l.pk GROUP BY e.src, l.label) WHERE rn = 1) SELECT pk, label FROM r3 ORDER BY pk"""))

  /** Time-weighted average value per user (TWAP): each event's value holds
    * until the next event; the average weights by holding duration, not by
    * row count — the metric plain AVG silently gets wrong whenever
    * sampling is uneven (which is always). Weighted mass accumulates in
    * exact DECIMAL × integer-seconds; the single division happens at the
    * end in double (§6 discipline).
    */
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    T(s, dir, "events")
      .select(col("user_id"), col("event_id"), evSec.as("sec"), col("value"))
      .withColumn("nxt", lead(col("sec"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dur", (col("nxt") - col("sec")).cast(DecimalType(12, 0)))
      .withColumn("wv", col("value").cast(DecimalType(18, 2)) * col("dur"))
      .groupBy(col("user_id"))
      .agg(sum(col("wv")).as("swv"),
        sum(col("dur")).cast("long").as("span"), count(lit(1)).as("n_holds"))
      .filter(col("span") > 0)
      .select(col("user_id"), col("n_holds"),
        round(col("swv").cast("double") / col("span").cast("double"), 6).as("twap"))
      .orderBy(col("user_id"))
  }

  // exact decimal x integer-second mass, one final double division
  query("q245_twap", q245)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, value FROM events), l AS (SELECT user_id, sec, value, lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS nxt FROM e), d AS (SELECT user_id, CAST(value AS DECIMAL(18,2)) * (nxt - sec) AS wv, (nxt - sec) AS dur FROM l WHERE nxt IS NOT NULL), a AS (SELECT user_id, SUM(wv) AS swv, CAST(SUM(dur) AS BIGINT) AS span, COUNT(*) AS n_holds FROM d GROUP BY user_id) SELECT user_id, n_holds, round(CAST(swv AS DOUBLE) / CAST(span AS DOUBLE), 6) AS twap FROM a WHERE span > 0 ORDER BY user_id"""))

  /** RFM customer segmentation — recency / frequency / monetary quartiles,
    * the standard behavioral-segmentation cut. Each quartile is a GLOBAL
    * ntile, computed with [[graft.operators.GlobalOrder.ntiles]] (range
    * shuffle + broadcast offsets) instead of an `ORDER BY` window, so no
    * stage collapses to one task however many customers exist. Monetary
    * uses the exact-decimal sum; every ordering carries the custkey
    * tiebreaker so the tiling is engine-deterministic.
    */
  private def q247(s: SparkSession, dir: String): DataFrame = {
    val day = expr(
      "unix_micros(cast(o_orderdate as timestamp)) div 1000000 div 86400")
    val per = T(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(day).as("last_day"), count(lit(1)).as("freq"),
        sumx(col("o_totalprice")).as("monetary"))
    val G = graft.operators.GlobalOrder
    val r = G.ntiles(per, Seq(col("last_day").desc, col("custkey")), 4, "r")
    val f = G.ntiles(r, Seq(col("freq").desc, col("custkey")), 4, "f")
    val m = G.ntiles(f, Seq(col("monetary").desc, col("custkey")), 4, "m")
    m.select(col("custkey"), col("last_day"), col("freq"), col("monetary"),
        col("r"), col("f"), col("m"),
        (col("r") * 100 + col("f") * 10 + col("m")).as("rfm"))
      .orderBy(col("custkey"))
  }

  query("q247_rfm", q247)(Sql(
    """WITH per AS (SELECT o_custkey AS custkey, MAX(epoch_ns(o_orderdate) // 1000000000 // 86400) AS last_day, COUNT(*) AS freq, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary FROM orders GROUP BY 1), t AS (SELECT *, CAST(ntile(4) OVER (ORDER BY last_day DESC, custkey) AS BIGINT) AS r, CAST(ntile(4) OVER (ORDER BY freq DESC, custkey) AS BIGINT) AS f, CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS BIGINT) AS m FROM per) SELECT custkey, last_day, freq, monetary, r, f, m, r * 100 + f * 10 + m AS rfm FROM t ORDER BY custkey"""))

  /** Partition COMPLETENESS / FRESHNESS audit: per day — event count,
    * distinct hours with data, head offset and tail gap in seconds, and
    * the 24-hour completeness flag. The ops dashboard that catches a
    * stalled upstream feed before consumers do; one map-side-combined
    * aggregate over integer second arithmetic.
    */
  private def q327(s: SparkSession, dir: String): DataFrame = {
    val sec = expr("ts div 1000000000")
    T(s, dir, "events")
      .select(sec.cast("long").as("sec"))
      .groupBy(expr("sec div 86400").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(expr("(sec div 3600) % 24")).as("n_hours"),
        (min(col("sec")) % 86400L).as("head_offset_sec"),
        (lit(86399L) - max(col("sec")) % 86400L).as("tail_gap_sec"))
      .withColumn("complete", (col("n_hours") === 24L).cast("int"))
      .orderBy(col("day"))
  }

  // per-day census in integer second arithmetic
  query("q327_freshness_audit", q327)(Sql(
    """WITH e AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events) SELECT sec // 86400 AS day, COUNT(*) AS n_events, COUNT(DISTINCT (sec // 3600) % 24) AS n_hours, MIN(sec) % 86400 AS head_offset_sec, 86399 - MAX(sec) % 86400 AS tail_gap_sec, CAST(COUNT(DISTINCT (sec // 3600) % 24) = 24 AS INTEGER) AS complete FROM e GROUP BY 1 ORDER BY 1"""))

  /** SQL-surface LATERAL join (correlated subquery in FROM with
    * ORDER BY + LIMIT): top-2 orders per customer spelled the way an
    * analyst writes it — the declarative twin of the q52 window
    * formulation, proving Spark's decorrelation handles the
    * ordered-limit case.
    */
  private def q331(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "customer").createOrReplaceTempView("customer_v331")
    T(s, dir, "orders").createOrReplaceTempView("orders_v331")
    s.sql("""SELECT c.c_custkey, t.o_orderkey, t.price
      FROM customer_v331 c
      JOIN LATERAL (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM orders_v331 o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
      ORDER BY c.c_custkey, t.o_orderkey""")
  }

  // the same ordered-limit lateral, DuckDB spelling
  query("q331_lateral_topn", q331)(Sql(
    """SELECT c.c_custkey, t.o_orderkey, t.price FROM customer c JOIN LATERAL (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM orders o WHERE o.o_custkey = c.c_custkey ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t ON TRUE ORDER BY c.c_custkey, t.o_orderkey"""))

  /** SUBJECT ACCESS REPORT (the GDPR/DSAR production query): every
    * record about each probed subject gathered across heterogeneous
    * tables into one canonical (subject, source, key, payload-md5)
    * listing — the union-of-schemas shape a privacy office actually
    * runs; probe set = the two smallest purchasing users, broadcast.
    */
  private def q336(s: SparkSession, dir: String): DataFrame = {
    val subj = T(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("subject_id")).distinct()
      .orderBy(col("subject_id")).limit(2)
    val ev = T(s, dir, "events")
      .join(broadcast(subj), col("user_id") === col("subject_id"))
      .select(col("subject_id"), lit("events").as("source"),
        col("event_id").as("record_key"),
        md5(concat_ws("|", col("user_id"), col("event_type"),
          expr("ts div 1000000000"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long")))
          .as("payload_md5"))
    val ord = T(s, dir, "orders")
      .join(broadcast(subj), col("o_custkey") === col("subject_id"))
      .select(col("subject_id"), lit("orders").as("source"),
        col("o_orderkey").as("record_key"),
        md5(concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")))
          .as("payload_md5"))
    val cust = T(s, dir, "customer")
      .join(broadcast(subj), col("c_custkey") === col("subject_id"))
      .select(col("subject_id"), lit("customer").as("source"),
        col("c_custkey").as("record_key"),
        md5(concat_ws("|", col("c_name"), col("c_mktsegment")))
          .as("payload_md5"))
    ev.unionByName(ord).unionByName(cust)
      .orderBy(col("subject_id"), col("source"), col("record_key"))
  }

  // one canonical (subject, source, key, md5) listing per probed user
  query("q336_subject_access", q336)(Sql(
    """WITH subj AS (SELECT DISTINCT user_id AS subject_id FROM events WHERE event_type = 'purchase' ORDER BY 1 LIMIT 2), ev AS (SELECT subject_id, 'events' AS source, event_id AS record_key, md5(concat_ws('|', user_id, event_type, epoch_ns(ts) // 1000000000, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))) AS payload_md5 FROM events JOIN subj ON user_id = subject_id), ord AS (SELECT subject_id, 'orders' AS source, o_orderkey AS record_key, md5(concat_ws('|', o_orderkey, o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))) AS payload_md5 FROM orders JOIN subj ON o_custkey = subject_id), cust AS (SELECT subject_id, 'customer' AS source, c_custkey AS record_key, md5(concat_ws('|', c_name, c_mktsegment)) AS payload_md5 FROM customer JOIN subj ON c_custkey = subject_id) SELECT * FROM (SELECT * FROM ev UNION ALL SELECT * FROM ord UNION ALL SELECT * FROM cust) ORDER BY subject_id, source, record_key"""))

  /** Per-user BURSTINESS B = (σ−μ)/(σ+μ) of inter-event gaps — the
    * event-cadence fingerprint (B→−1 periodic/bot-like, B→0 Poisson,
    * B→1 bursty/human) next to q304's entropy regularity; gap moments
    * exact in DECIMAL(38,0), one pinned-double finish.
    */
  private def q341(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = DecimalType(38, 0)
    val sec = expr("ts div 1000000000")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val gaps = T(s, dir, "events")
      .select(col("user_id"), sec.cast("long").as("sec"), col("event_id"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
    def dbl(c: Column): Column = c.cast("double")
    val a = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap").cast(d38)).as("sg"),
        sum(col("gap").cast(d38) * col("gap").cast(d38)).as("sq"))
      .filter(col("n_gaps") >= 3)
    val mu = dbl(col("sg")) / dbl(col("n_gaps"))
    val sd = sqrt(dbl(col("n_gaps")) * dbl(col("sq")) -
      dbl(col("sg")) * dbl(col("sg"))) / dbl(col("n_gaps"))
    a.select(col("user_id"), col("n_gaps"), round(mu, 6).as("mean_gap"),
        round((sd - mu) / (sd + mu), 6).as("burstiness"))
      .orderBy(col("user_id"))
  }

  // gap moments exact; B = (sd - mu) / (sd + mu) in pinned doubles
  query("q341_burstiness", q341)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), g AS (SELECT user_id, sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap FROM e), gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL), a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps, SUM(CAST(gap AS DECIMAL(38,0))) AS sg, SUM(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))) AS sq FROM gg GROUP BY 1 HAVING COUNT(*) >= 3) SELECT user_id, n_gaps, round(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap, round((sqrt(CAST(n_gaps AS DOUBLE) * CAST(sq AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE) - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) / (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sq AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE) + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 6) AS burstiness FROM a ORDER BY user_id"""))

  /** QUOTA-diversified top-k: the overall top-10 documents by length
    * with AT MOST 2 per source — search-result diversification as a
    * per-source window + one global re-rank over the quota survivors
    * (a source-domain-bounded frame, never the corpus).
    */
  private def q343(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    T(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("src_rank", row_number().over(perSrc))
      .filter(col("src_rank") <= 2)
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(10)
      .orderBy(col("doc_id"))
  }

  // per-source quota then global re-rank
  query("q343_quota_topk", q343)(Sql(
    """WITH r AS (SELECT doc_id, source, n_chars, ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS src_rank FROM documents), q AS (SELECT * FROM r WHERE src_rank <= 2 ORDER BY n_chars DESC, doc_id LIMIT 10) SELECT doc_id, source, n_chars, src_rank FROM q ORDER BY doc_id"""))

  /** SLO BURN-RATE alerting (the SRE multiwindow rule): hourly error
    * share over a 1% error budget, 1h and trailing-6h burn rates, page
    * when BOTH exceed (14.4 / 6) — fast detection without
    * single-spike flapping; one hourly aggregate, windows over the
    * hours-domain series.
    */
  private def q346(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = T(s, dir, "events")
      .groupBy(expr("(ts div 1000000000) div 3600").as("hid"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"))
    // one global hourly series — aggregate-scale by construction
    val w6 = Window.orderBy(col("hid")).rowsBetween(-5, Window.currentRow)
    def dbl(c: Column): Column = c.cast("double")
    val b1 = dbl(col("errs")) / dbl(col("total")) / 0.01
    val b6 = dbl(col("errs6")) / dbl(col("total6")) / 0.01
    h.withColumn("errs6", sum(col("errs")).over(w6))
      .withColumn("total6", sum(col("total")).over(w6))
      .select(col("hid"), col("total"), col("errs"),
        round(b1, 6).as("burn_1h"), round(b6, 6).as("burn_6h"),
        (b1 > 14.4 && b6 > 6.0).cast("int").as("page"))
      .orderBy(col("hid"))
  }

  // multiwindow burn: page only when BOTH 1h and 6h rates exceed
  query("q346_slo_burn", q346)(Sql(
    """WITH h AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS hid, COUNT(*) AS total, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs FROM events GROUP BY 1), w AS (SELECT hid, total, errs, CAST(SUM(errs) OVER (ORDER BY hid ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS errs6, CAST(SUM(total) OVER (ORDER BY hid ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS total6 FROM h) SELECT hid, total, errs, round(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE) / 0.01, 6) AS burn_1h, round(CAST(errs6 AS DOUBLE) / CAST(total6 AS DOUBLE) / 0.01, 6) AS burn_6h, CAST(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE) / 0.01 > 14.4 AND CAST(errs6 AS DOUBLE) / CAST(total6 AS DOUBLE) / 0.01 > 6.0 AS INTEGER) AS page FROM w ORDER BY hid"""))

  /** SQL-surface UNPIVOT → PIVOT round-trip: the wide customer metrics
    * melted with the UNPIVOT keyword and immediately re-pivoted with
    * PIVOT (MAX) — the reshaping keywords q16/q66 exercise through the
    * DataFrame API, now proven at the SQL surface; the round trip is the
    * identity, so the oracle is the plain projection.
    */
  private def q354(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "customer").createOrReplaceTempView("customer_v354")
    s.sql("""
      SELECT * FROM (
        SELECT c_custkey, metric, val FROM (
          SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS balance,
                 CAST(c_nationkey AS DOUBLE) AS nation
          FROM customer_v354)
        UNPIVOT (val FOR metric IN (balance, nation)))
      PIVOT (MAX(val) FOR metric IN ('balance' AS balance, 'nation' AS nation))
      ORDER BY c_custkey""")
  }

  // the reshape round-trip is the identity
  query("q354_pivot_roundtrip", q354)(Sql(
    """SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS balance, CAST(c_nationkey AS DOUBLE) AS nation FROM customer ORDER BY c_custkey"""))

  /** CONSISTENT-HASH ring routing
    * ([[graft.operators.Sharding.ringAssign]]): customers assigned to 8
    * shards × 40 vnodes; per-shard load report. The ring is metadata-
    * sized and broadcast — routing is a map-side array scan, zero
    * shuffles; ShardingSpec proves the consistency property (removing a
    * shard moves ONLY its own keys).
    */
  private def q378(s: SparkSession, dir: String): DataFrame = {
    val shards = (0 until 8).map(i => "shard-" + i)
    graft.operators.Sharding
      .ringAssign(T(s, dir, "customer"), "c_custkey", shards, vnodes = 40)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_keys"))
      .withColumn("pct", round(col("n_keys").cast("double") /
        sum(col("n_keys")).over(Window.partitionBy()).cast("double"), 6))
      .orderBy(col("shard"))
  }

  // the ring replays as parallel sorted lists + a filter-count probe
  query("q378_consistent_hash", q378)(Sql(
    s"""WITH vn AS (SELECT s, i, CAST(concat('0x', substr(md5(concat(s, ':', CAST(i AS VARCHAR))), 1, 13)) AS BIGINT) AS ring FROM (SELECT unnest([${(0 until 8).map(i => s"'shard-$i'").mkString(",")}]) AS s), (SELECT unnest(range(0, 40)) AS i)), a AS (SELECT list(ring ORDER BY ring, s) AS rings, list(s ORDER BY ring, s) AS ss FROM vn), k AS (SELECT c_custkey, CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS hk FROM customer), r AS (SELECT c_custkey, CASE WHEN len(list_filter(rings, x -> x < hk)) = len(rings) THEN ss[1] ELSE ss[len(list_filter(rings, x -> x < hk)) + 1] END AS shard FROM k, a) SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_keys, round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS pct FROM r GROUP BY shard ORDER BY shard"""))

  /** RENDEZVOUS (HRW) routing
    * ([[graft.operators.Sharding.rendezvousAssign]]): argmax-of-hashes
    * routing beside q378's ring — no vnodes, perfect expected balance,
    * same minimal-movement law (ShardingSpec proves it); one row-local
    * array expression, zero shuffles.
    */
  private def q382(s: SparkSession, dir: String): DataFrame = {
    val shards = (0 until 8).map(i => "shard-" + i)
    graft.operators.Sharding
      .rendezvousAssign(T(s, dir, "customer"), "c_custkey", shards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_keys"))
      .withColumn("pct", round(col("n_keys").cast("double") /
        sum(col("n_keys")).over(Window.partitionBy()).cast("double"), 6))
      .orderBy(col("shard"))
  }

  // argmax-of-hashes per key; rank replay with the (h desc, s desc) tie
  query("q382_rendezvous_hash", q382)(Sql(
    s"""WITH sh AS (SELECT unnest([${(0 until 8).map(i => s"'shard-$i'").mkString(",")}]) AS s), h AS (SELECT c_custkey, s, CAST(concat('0x', substr(md5(concat(CAST(c_custkey AS VARCHAR), '|', s)), 1, 13)) AS BIGINT) AS hv FROM customer, sh), r AS (SELECT c_custkey, s, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY hv DESC, s DESC) AS rn FROM h) SELECT s AS shard, CAST(COUNT(*) AS BIGINT) AS n_keys, round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS pct FROM r WHERE rn = 1 GROUP BY s ORDER BY s"""))

  /** SQL-surface RECURSIVE CTE (Spark 4's WITH RECURSIVE / UnionLoop):
    * per-depth census of the implicit binary tree over supplier keys
    * (parent = key div 2) — the engine's own iterative closures (q110,
    * q270, q299) now have the declarative spelling; both engines run the
    * SAME recursion text modulo the integer-division token.
    */
  private def q323(s: SparkSession, dir: String): DataFrame = {
    // pin the recursion's base table: UnionLoop re-executes the anchor
    // side every step, and a parquet scan per step is pure per-iteration
    // overhead on a dimension-sized table (same rows either way)
    T(s, dir, "supplier").localCheckpoint(true)
      .createOrReplaceTempView("supplier_v323")
    s.sql("""WITH RECURSIVE d AS (
        SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
        UNION ALL
        SELECT s.s_suppkey, d.depth + 1
        FROM supplier_v323 s JOIN d ON s.s_suppkey div 2 = d.node)
      SELECT depth, COUNT(*) AS n, MIN(node) AS min_node, MAX(node) AS max_node
      FROM d GROUP BY depth ORDER BY depth""")
  }

  // the identical recursion text modulo the integer-division token
  query("q323_recursive_sql", q323)(Sql(
    """WITH RECURSIVE d AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth UNION ALL SELECT s.s_suppkey, d.depth + 1 FROM supplier s JOIN d ON s.s_suppkey // 2 = d.node) SELECT depth, COUNT(*) AS n, MIN(node) AS min_node, MAX(node) AS max_node FROM d GROUP BY depth ORDER BY depth"""))

  /** Topological layering / critical-path depth over the divisor DAG
    * (k → 2k, k → 3k within the part-key domain): longest path INTO each
    * node, computed as negated min-plus through
    * [[graft.operators.Graph.shortestPaths]] (max-plus = min-plus on
    * negated weights, every source at distance 0) — the dependency-level
    * assignment a DAG scheduler derives before wave-wise execution. The
    * oracle walks the same DAG with a recursive CTE and takes MAX(len).
    */
  private def q273(s: SparkSession, dir: String): DataFrame = {
    // key 0 would be a 0→0 self-loop (0·m = 0) — a cycle, not a DAG;
    // exclude it so the max-plus fixpoint exists
    val nodes = T(s, dir, "part").filter(col("p_partkey") >= 1)
      .select(col("p_partkey").as("k"))
    def scaled(m: Int) = nodes.as("a")
      .join(nodes.as("b"), col("b.k") === col("a.k") * m)
      .select(col("a.k").as("src"), col("b.k").as("dst"))
    val edges = scaled(2).unionByName(scaled(3)).withColumn("w", lit(-1L))
    graft.operators.Graph
      .shortestPaths(edges, nodes.select(col("k").as("node")), rounds = 20)
      .select(col("node"), negate(col("dist")).as("layer"))
      .orderBy(col("node"))
  }

  // longest path into each node of the divisor DAG via a recursive walk
  // from every node; the engine's bounded max-plus rounds reach the same
  // fixpoint (DAG depth << round budget)
  query("q273_topo_layers", q273)(Sql(
    """WITH RECURSIVE n AS (SELECT p_partkey AS k FROM part WHERE p_partkey >= 1), ed AS (SELECT a.k AS src, b.k AS dst FROM n a JOIN n b ON b.k = a.k * 2 UNION ALL SELECT a.k, b.k FROM n a JOIN n b ON b.k = a.k * 3), walk(node, len) AS (SELECT k, 0 FROM n UNION SELECT e.dst, w.len + 1 FROM walk w JOIN ed e ON e.src = w.node) SELECT node, CAST(MAX(len) AS BIGINT) AS layer FROM walk GROUP BY 1 ORDER BY 1"""))

  /** Per-document lexical diversity ([[graft.operators.TextPipeline
    * .lexicalDiversity]]): type/token and hapax-legomena ratios — the
    * corpus-quality gate that catches template spam (low TTR) and
    * generated filler (degenerate hapax profile). Two map-side-combined
    * aggregation levels, exact integer counts.
    */
  private def q275(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline
      .lexicalDiversity(T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // exact integer token/type/hapax counts over the canonical word split
  query("q275_lexical_diversity", q275)(Sql(
    """WITH w AS (SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2) SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types, CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS ttr, round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio FROM c GROUP BY doc_id ORDER BY doc_id"""))

  /** Out-of-order ingestion audit: lateness of each event = running max of
    * event-time over ARRIVAL order, minus its own event-time — the batch
    * measurement that tells a streaming deployment what watermark delay it
    * actually needs. The synthetic table is stored fully time-ordered, so
    * arrival order is the engine's deterministic md5-of-id ingest
    * sequence (a portable stand-in for a real ingest's arrival id; with
    * one, ORDER BY that instead). Per-user windows (one key shuffle, no
    * global sort), bucketed into a 4-bin histogram per type.
    */
  private def q276(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
      col("event_id"), expr("ts div 1000000000").as("sec"),
      md5(col("event_id").cast("string")).as("arr"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("lateness", max(col("sec")).over(w) - col("sec"))
      .withColumn("bucket",
        when(col("lateness") === 0, "a_on_time")
          .when(col("lateness") < 60, "b_lt_1m")
          .when(col("lateness") < 3600, "c_lt_1h")
          .otherwise("d_ge_1h"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), max(col("lateness")).as("max_lateness"))
      .orderBy(col("event_type"), col("bucket"))
  }

  // running max over the same per-user arrival order on both engines;
  // exact integer lateness and bucket counts
  query("q276_lateness_audit", q276)(Sql(
    """WITH e AS (SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000000000 AS sec, md5(CAST(event_id AS VARCHAR)) AS arr FROM events), l AS (SELECT event_type, MAX(sec) OVER (PARTITION BY user_id ORDER BY arr, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sec AS lateness FROM e) SELECT event_type, CASE WHEN lateness = 0 THEN 'a_on_time' WHEN lateness < 60 THEN 'b_lt_1m' WHEN lateness < 3600 THEN 'c_lt_1h' ELSE 'd_ge_1h' END AS bucket, COUNT(*) AS n, MAX(lateness) AS max_lateness FROM l GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Per-user event-type trigram mining (two `lead`s over the per-user
    * event-time order, then one combine): the sequential-pattern
    * counterpart of q222's Markov bigrams — the support table a
    * next-action model or funnel miner starts from. One key shuffle,
    * exact counts.
    */
  private def q279(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    e.withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(col("event_type").as("t1"), col("t2"), col("t3"))
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("t1"), col("t2"), col("t3"))
  }

  // two leads over the identical (sec, event_id) per-user order
  query("q279_seq_trigrams", q279)(Sql(
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec, event_id FROM events), t AS (SELECT event_type AS t1, lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)) SELECT t1, t2, t3, COUNT(*) AS n FROM t WHERE t3 IS NOT NULL GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Batch debounce/throttle: per (user, type), keep an event only if
    * ≥ 600 s passed since the last KEPT one — the greedy fold telemetry
    * pipelines use against alert storms and duplicate beacons. One
    * combine into a sorted per-key array, then a codegen'd
    * higher-order-function fold; per-key volume bounds the array (shard
    * hot keys by day first at extreme scale).
    */
  private def q282(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("user_id"), col("event_type"), expr("ts div 1000000000").as("sec"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sort_array(collect_list(col("sec"))).as("ss"))
      .select(col("user_id"), col("event_type"), explode(expr(
        """aggregate(ss,
             named_struct('lk', cast(-1000000 as bigint),
                          'kept', cast(array() as array<bigint>)),
             (acc, x) -> IF(x >= acc.lk + 600,
               named_struct('lk', x, 'kept', concat(acc.kept, array(x))),
               acc),
             acc -> acc.kept)""")).as("kept_sec"))
      .orderBy(col("user_id"), col("event_type"), col("kept_sec"))

  // the same greedy fold, sorted per key, first element always kept
  query("q282_debounce", q282)(Sql(
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events), g AS (SELECT user_id, event_type, list_sort(list(sec)) AS ss FROM e GROUP BY 1, 2), k AS (SELECT user_id, event_type, list_reduce(list_transform(ss, x -> [x]), (a, x) -> CASE WHEN x[1] >= a[-1] + 600 THEN list_append(a, x[1]) ELSE a END) AS kept FROM g) SELECT user_id, event_type, unnest(kept) AS kept_sec FROM k ORDER BY user_id, event_type, kept_sec"""))

  /** A/B experiment readout: deterministic md5 bucket assignment (the
    * production trait — re-running assignment can never reshuffle units),
    * outcome = the unit is an error event, and the pooled two-proportion
    * z-score from exact integer counts. One map-side-combined pass,
    * closed-form z replayed op-for-op. (The synthetic table has only ~15
    * users per mille, all converting, so the randomization unit here is
    * the event; the operator is unit-agnostic.)
    */
  private def q283(s: SparkSession, dir: String): DataFrame = {
    val units = T(s, dir, "events")
      .select((col("event_type") === "error").cast("long").as("conv"),
        pmod(conv(substring(md5(concat(lit("ab1:"),
          col("event_id").cast("string"))), 1, 13), 16, 10).cast("long"), lit(2))
          .as("arm"))
    val agg = units.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round((pa - pb) /
        sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)), 6)
        .as("z"))
  }

  // md5 bucket assignment and the pooled two-proportion z replayed
  // op-for-op from exact integer counts
  query("q283_ab_ztest", q283)(Sql(
    """WITH a AS (SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS conv, CAST(concat('0x', substr(md5(concat('ab1:', CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 AS arm FROM events), g AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a, CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b FROM a) SELECT n_a, n_b, conv_a, conv_b, round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a, round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b, round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z FROM g"""))

  /** Forward fill with a GAP LIMIT: interior missing hours inherit the
    * last observed per-user hourly value only while the gap is ≤ 3 hours;
    * longer outages stay `gap` (filling across a real outage fabricates
    * data — the limit is what production imputation uses). Same
    * spine + one-window shape as q191's interpolation.
    */
  private def q286(s: SparkSession, dir: String): DataFrame = {
    // interval-explode formulation (the q65 rewrite): within an interval
    // the previous observation IS the interval head, so status and fill
    // derive from the head directly — no bounds aggregate, no spine⋈census
    // join, windows over the census instead of the dense spine
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("hv"))
    val wLead = Window.partitionBy(col("user_id")).orderBy(col("hid"))
    hourly
      .withColumn("__next", lead(col("hid"), 1).over(wLead))
      .select(col("user_id"), col("hv"), col("hid").as("__h"),
        explode(sequence(col("hid"),
          coalesce(col("__next") - 1L, col("hid")))).as("hid"))
      .select(col("user_id"), col("hid"),
        when(col("hid") === col("__h"), "observed")
          .when(col("hid") - col("__h") <= 3, "filled")
          .otherwise("gap").as("status"),
        when(col("hid") === col("__h"), col("hv"))
          .when(col("hid") - col("__h") <= 3, col("hv")).as("v"))
      .orderBy(col("user_id"), col("hid"))
  }

  // same spine + running last-observed window; the 3-hour limit decides
  // filled vs gap identically
  query("q286_ffill_limit", q286)(Sql(
    """WITH hourly AS (SELECT user_id, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS hv FROM events GROUP BY 1, 2), bounds AS (SELECT user_id, MIN(hid) AS lo, MAX(hid) AS hi FROM hourly GROUP BY 1), spine AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hid FROM bounds), j AS (SELECT s.user_id, s.hid, h.hv FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hid = h.hid), w AS (SELECT user_id, hid, hv, last_value(hv IGNORE NULLS) OVER wp AS pv, last_value(CASE WHEN hv IS NOT NULL THEN hid END IGNORE NULLS) OVER wp AS ph FROM j WINDOW wp AS (PARTITION BY user_id ORDER BY hid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT user_id, hid, CASE WHEN hv IS NOT NULL THEN 'observed' WHEN hid - ph <= 3 THEN 'filled' ELSE 'gap' END AS status, CASE WHEN hv IS NOT NULL THEN hv WHEN hid - ph <= 3 THEN pv END AS v FROM w ORDER BY user_id, hid"""))

  /** Funnel latency percentiles: first signup → first subsequent purchase
    * per user, exact interpolated p50/p90 per market segment (the q82
    * replayable-interpolation pattern — no approximate percentile in the
    * readout path). One window per segment over per-user latencies.
    */
  private def q287(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"))
    val sign = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("sec")).as("s0"))
    val buy = e.filter(col("event_type") === "purchase")
      .join(sign, Seq("user_id"))
      .filter(col("sec") >= col("s0"))
      .groupBy(col("user_id"), col("s0")).agg(min(col("sec")).as("p0"))
    val lat = buy
      .join(T(s, dir, "customer"), col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("user_id"),
        (col("p0") - col("s0")).cast("double").as("lat"))
    val w = Window.partitionBy(col("seg")).orderBy(col("lat"), col("user_id"))
    val cw = Window.partitionBy(col("seg"))
    val ranked = lat.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
    def interp(p: Double): Column = {
      val pos = lit(1.0) + lit(p) * (col("n").cast("double") - 1.0)
      val lo = floor(pos).cast("long")
      val hi = ceil(pos).cast("long")
      val vLo = max(when(col("rn") === lo, col("lat")))
      val vHi = max(when(col("rn") === hi, col("lat")))
      vLo + max(pos - floor(pos)) * (vHi - vLo)
    }
    ranked.groupBy(col("seg"))
      .agg(interp(0.5).as("p50"), interp(0.9).as("p90"), max(col("n")).as("n"))
      .orderBy(col("seg"))
  }

  // the q82 interpolation replay over per-user funnel latencies
  query("q287_funnel_latency", q287)(Sql(
    s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events), sg AS (SELECT user_id, MIN(sec) AS s0 FROM e WHERE event_type = 'signup' GROUP BY 1), buy AS (SELECT e.user_id, sg.s0, MIN(e.sec) AS p0 FROM e JOIN sg ON e.user_id = sg.user_id WHERE e.event_type = 'purchase' AND e.sec >= sg.s0 GROUP BY 1, 2), l AS (SELECT c_mktsegment AS seg, b.user_id, CAST(b.p0 - b.s0 AS DOUBLE) AS lat FROM buy b JOIN customer ON b.user_id = c_custkey), r AS (SELECT seg, lat, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY lat, user_id) AS rn, COUNT(*) OVER (PARTITION BY seg) AS n FROM l) SELECT seg, ${interpSqlCol("0.5", "lat")} AS p50, ${interpSqlCol("0.9", "lat")} AS p90, MAX(n) AS n FROM r GROUP BY seg ORDER BY seg"""))

  /** Model-calibration reliability table + ECE: normalized account balance
    * as the score, has-any-order as the outcome, ten equal-width bins.
    * Per-bin mean score accumulates in DECIMAL (order-independent); the
    * expected-calibration-error terms are rounded-then-decimal-summed so
    * the single ECE number is reproducible bit-for-bit at any
    * parallelism.
    */
  private def q288(s: SparkSession, dir: String): DataFrame = {
    val buyers = T(s, dir, "orders").select(col("o_custkey")).distinct()
    val c = T(s, dir, "customer")
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"),
        col("o_custkey").isNotNull.cast("long").as("pos"))
    val mm = c.agg(min(col("c_acctbal")).as("blo"), max(col("c_acctbal")).as("bhi"))
    val scored = c.crossJoin(broadcast(mm))
      .withColumn("score", round((col("c_acctbal") - col("blo")) /
        (col("bhi") - col("blo")), 6).cast(DecimalType(12, 6)))
      .withColumn("bin",
        least(floor(col("score") * 10).cast("long"), lit(9L)))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("score")).as("score_sum"))
    val tot = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bins
      .withColumn("tot_n", sum(col("n")).over(tot))
      .withColumn("mean_score",
        col("score_sum").cast("double") / col("n").cast("double"))
      .withColumn("rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("term",
        round((col("n").cast("double") / col("tot_n").cast("double")) *
          abs(col("rate") - col("mean_score")), 9).cast(DecimalType(18, 9)))
      .withColumn("ece", sum(col("term")).over(tot).cast("double"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("mean_score"), 6).as("mean_score"),
        round(col("rate"), 6).as("rate"), col("ece"))
      .orderBy(col("bin"))
  }

  // decimal-summed scores and rounded ECE terms: bit-reproducible at
  // any parallelism, replayed here with the identical op order
  query("q288_calibration_ece", q288)(Sql(
    """WITH b0 AS (SELECT c_custkey, c_acctbal, CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END AS pos FROM customer), mm AS (SELECT MIN(c_acctbal) AS blo, MAX(c_acctbal) AS bhi FROM b0), s AS (SELECT c_custkey, pos, CAST(round((c_acctbal - blo) / (bhi - blo), 6) AS DECIMAL(12,6)) AS score FROM b0, mm), sb AS (SELECT LEAST(CAST(floor(score * 10) AS BIGINT), 9) AS bin, pos, score FROM s), bins AS (SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos, SUM(score) AS score_sum FROM sb GROUP BY 1), w AS (SELECT bin, n, n_pos, CAST(score_sum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score, CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS rate, SUM(n) OVER () AS tot_n FROM bins), t AS (SELECT bin, n, n_pos, mean_score, rate, CAST(round((CAST(n AS DOUBLE) / CAST(tot_n AS DOUBLE)) * abs(rate - mean_score), 9) AS DECIMAL(18,9)) AS term FROM w) SELECT bin, n, n_pos, round(mean_score, 6) AS mean_score, round(rate, 6) AS rate, CAST(SUM(term) OVER () AS DOUBLE) AS ece FROM t ORDER BY bin"""))

  /** Benford first-digit audit ([[graft.operators.Profiling
    * .benfordDigits]]) over order totals — the fabricated-data forensic:
    * observed leading-digit shares vs the pinned Benford constants, χ²
    * totaled in decimal. Leading digit from the integer part only, so no
    * cent-rounding boundary can flip a digit between engines.
    */
  private def q291(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling
      .benfordDigits(T(s, dir, "orders"), "o_totalprice")
      .orderBy(col("digit"))

  // the Benford expectations are the SAME pinned 12-decimal literals on
  // both engines; leading digit from the integer part only; χ² terms
  // rounded then decimal-summed (order-independent)
  query("q291_benford", q291)(Sql(
    """WITH obs AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit, COUNT(*) AS n FROM orders WHERE o_totalprice >= 1 GROUP BY 1), sp AS (SELECT * FROM (VALUES (1, 0.301029995664), (2, 0.176091259056), (3, 0.124938736608), (4, 0.096910013008), (5, 0.079181246048), (6, 0.066946789631), (7, 0.057991946978), (8, 0.051152522447), (9, 0.045757490561)) AS t(digit, expected_p)), j AS (SELECT sp.digit, COALESCE(obs.n, 0) AS n, sp.expected_p FROM sp LEFT JOIN obs USING (digit)), t2 AS (SELECT digit, n, expected_p, expected_p * CAST(SUM(n) OVER () AS DOUBLE) AS expected_n FROM j), d AS (SELECT digit, n, expected_p, expected_n, CAST(round((CAST(n AS DOUBLE) - expected_n) * (CAST(n AS DOUBLE) - expected_n) / expected_n, 6) AS DECIMAL(18,6)) AS chi2_term FROM t2) SELECT digit, n, expected_p, round(expected_n, 6) AS expected_n, CAST(chi2_term AS DOUBLE) AS chi2_term, CAST(SUM(chi2_term) OVER () AS DOUBLE) AS chi2_total FROM d ORDER BY digit"""))

  /** Column-level lineage ([[graft.plans.Lineage.columnLineage]]) of a
    * join→agg→window→literal query, extracted from the ANALYZED plan —
    * pure metadata, nothing executes. The oracle is the independently
    * hand-derived edge list: aggregates trace to their leaf columns,
    * the window share traces THROUGH the aliased aggregate to the same
    * leaf, and literal/count columns report the (null, null) no-lineage
    * row.
    */
  private def q298(s: SparkSession, dir: String): DataFrame = {
    val orders = T(s, dir, "orders")
    val customer = T(s, dir, "customer")
    val q = orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sumx(col("o_totalprice")).as("revenue"))
      .withColumn("revenue_share",
        round(col("revenue") / sum(col("revenue")).over(Window.partitionBy()), 6))
      .withColumn("tag", lit("gold"))
    graft.plans.Lineage
      .columnLineage(q, Map("orders" -> orders, "customer" -> customer))
      .orderBy(col("out_col"), col("src_table"), col("src_col"))
  }

  // the expected edge list derived BY HAND from the query's shape —
  // not replayed; literals/count(*) report the (NULL, NULL) row
  query("q298_column_lineage", q298)(Sql(
    """SELECT * FROM (VALUES ('c_mktsegment', 'customer', 'c_mktsegment'), ('n_orders', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)), ('revenue', 'orders', 'o_totalprice'), ('revenue_share', 'orders', 'o_totalprice'), ('tag', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))) AS t(out_col, src_table, src_col) ORDER BY out_col, src_table, src_col"""))

  /** Positional proximity search (the slop-query surface of the q205
    * phrase index): docs where BOTH probe terms occur within 10 token
    * positions — per-doc position lists joined doc-locally (cost bounded
    * by per-doc term frequency, never cross-doc), exact integer distance.
    */
  private def q302(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tok = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val probe = docs.filter(col("doc_id") === 0)
      .select(element_at(tok, 1).as("t0"), element_at(tok, 4).as("t1"))
      .head()
    val (t0, t1) = (probe.getString(0), probe.getString(1))
    val toks = docs.select(col("doc_id"), posexplode(tok).as(Seq("pos", "w")))
    def positions(t: String, nm: String) = toks.filter(col("w") === t)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as(s"n_$nm"), collect_list(col("pos")).as(s"ps_$nm"))
    positions(t0, "a").join(positions(t1, "b"), Seq("doc_id"))
      .select(col("doc_id"), col("n_a"), col("n_b"),
        expr("""aggregate(flatten(transform(ps_a, p -> transform(ps_b, r -> abs(p - r)))),
                cast(9223372036854775807 as bigint), (acc, x) -> least(acc, cast(x as bigint)))""")
          .as("min_dist"))
      .filter(col("min_dist") <= 10)
      .orderBy(col("doc_id"))
  }

  // same canonical tokenization (docwords), 1-based oracle positions
  // cancel in the differences; doc-local pair min, exact integers
  query("q302_proximity_search", q302)(Sql(
    s"""$HASH_MACROS; WITH w AS (SELECT doc_id, docwords(text) AS ws FROM documents), q AS (SELECT ws[1] AS t0, ws[4] AS t1 FROM w WHERE doc_id = 0), pa AS (SELECT d.doc_id, unnest(list_filter(range(1, len(d.ws) + 1), i6 -> d.ws[i6] = q.t0)) AS p FROM w d, q), pb AS (SELECT d.doc_id, unnest(list_filter(range(1, len(d.ws) + 1), i7 -> d.ws[i7] = q.t1)) AS p FROM w d, q), na AS (SELECT doc_id, COUNT(*) AS n_a FROM pa GROUP BY 1), nb AS (SELECT doc_id, COUNT(*) AS n_b FROM pb GROUP BY 1), j AS (SELECT pa.doc_id, MIN(abs(pa.p - pb.p)) AS min_dist FROM pa JOIN pb ON pa.doc_id = pb.doc_id GROUP BY 1) SELECT j.doc_id, na.n_a, nb.n_b, CAST(j.min_dist AS BIGINT) AS min_dist FROM j JOIN na ON j.doc_id = na.doc_id JOIN nb ON j.doc_id = nb.doc_id WHERE j.min_dist <= 10 ORDER BY j.doc_id"""))

  /** Calendar dimension with business-day arithmetic — the date-dim
    * staple every warehouse materializes: one row per day spanning the
    * order-date range with ISO week/weekday fields and a running
    * BUSINESS-DAY sequence (subtracting two rows' business_seq = business
    * days between, the add_business_days primitive). The spine is
    * date-range-sized metadata, so the one unpartitioned window is
    * aggregate-scale by construction.
    */
  private def q303(s: SparkSession, dir: String): DataFrame = {
    val b = T(s, dir, "orders")
      .agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
    val spine = b.select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val run = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .withColumn("dow", weekday(col("d")).cast("long"))
      .withColumn("is_weekend", col("dow") >= 5)
      .withColumn("business_seq",
        sum(when(col("dow") >= 5, 0L).otherwise(1L)).over(run))
      .select(date_format(col("d"), "yyyy-MM-dd").as("date_id"), col("dow"),
        col("is_weekend"), month(col("d")).cast("long").as("month"),
        quarter(col("d")).cast("long").as("quarter"),
        weekofyear(col("d")).cast("long").as("iso_week"), col("business_seq"))
      .orderBy(col("date_id"))
  }

  // isodow-1 = Spark weekday (0=Monday); both weekofyear are ISO-8601;
  // the business-day running count replays over the same spine
  query("q303_calendar_dim", q303)(Sql(
    """WITH b AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS lo, CAST(MAX(o_orderdate) AS DATE) AS hi FROM orders), spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM b), w AS (SELECT d, CAST(isodow(d) - 1 AS BIGINT) AS dow FROM spine) SELECT strftime(d, '%Y-%m-%d') AS date_id, dow, dow >= 5 AS is_weekend, CAST(month(d) AS BIGINT) AS month, CAST(quarter(d) AS BIGINT) AS quarter, CAST(weekofyear(d) AS BIGINT) AS iso_week, CAST(SUM(CASE WHEN dow >= 5 THEN 0 ELSE 1 END) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS business_seq FROM w ORDER BY date_id"""))

  /** Behavioral-regularity (bot) score: per-user entropy of the
    * inter-event-gap distribution over fixed edges — scripted traffic
    * collapses into one bucket (entropy → 0), humans spread out. One
    * lag-window pass for gaps, one combine; entropy terms on the 1e-9
    * grid decimal-summed per user (the q256 discipline), so the score is
    * parallelism- and engine-exact. Flags users with ≥ 20 gaps and
    * entropy < 0.6 nats.
    */
  private def q304(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"), col("event_id"),
      expr("ts div 1000000000").as("sec"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val gaps = e.withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
      .withColumn("bucket",
        when(col("gap") < 60, 0L).when(col("gap") < 300, 1L)
          .when(col("gap") < 900, 2L).when(col("gap") < 3600, 3L)
          .when(col("gap") < 21600, 4L).otherwise(5L))
    val byUser = Window.partitionBy(col("user_id"))
    val counts = gaps.groupBy(col("user_id"), col("bucket"))
      .agg(count(lit(1)).as("nb"))
      .withColumn("n", sum(col("nb")).over(byUser))
    val p = col("nb").cast("double") / col("n").cast("double")
    counts
      .withColumn("term",
        round(negate(p * log(p)), 9).cast(DecimalType(18, 9)))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_gaps"),
        count(lit(1)).as("n_buckets"),
        round(max(col("nb")).cast("double") /
          max(col("n")).cast("double"), 6).as("top_share"),
        sum(col("term")).cast("double").as("entropy"))
      .withColumn("bot_like", col("n_gaps") >= 20 && col("entropy") < 0.6)
      .orderBy(col("user_id"))
  }

  // entropy terms on the 1e-9 grid decimal-summed per user; identical
  // fixed gap edges and fixed-order p·ln(p) arithmetic
  query("q304_bot_score", q304)(Sql(
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec FROM events), g AS (SELECT user_id, sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap FROM e), b AS (SELECT user_id, CASE WHEN gap < 60 THEN 0 WHEN gap < 300 THEN 1 WHEN gap < 900 THEN 2 WHEN gap < 3600 THEN 3 WHEN gap < 21600 THEN 4 ELSE 5 END AS bucket FROM g WHERE gap IS NOT NULL), c AS (SELECT user_id, bucket, COUNT(*) AS nb FROM b GROUP BY 1, 2), c2 AS (SELECT user_id, bucket, nb, SUM(nb) OVER (PARTITION BY user_id) AS n FROM c), t AS (SELECT user_id, nb, n, CAST(round(-(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))), 9) AS DECIMAL(18,9)) AS term FROM c2), a AS (SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_gaps, COUNT(*) AS n_buckets, round(CAST(MAX(nb) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6) AS top_share, CAST(SUM(term) AS DOUBLE) AS entropy FROM t GROUP BY 1) SELECT user_id, n_gaps, n_buckets, top_share, entropy, n_gaps >= 20 AND entropy < 0.6 AS bot_like FROM a ORDER BY user_id"""))

  /** Two-hop recommendation candidates over the category co-occurrence
    * graph: categories reachable through a shared neighbor but NOT
    * directly co-bought (the anti-join is the point — direct pairs are
    * already merchandised; the second ring is where discovery lives).
    * The edge set is the TOP-400 pairs by support (rank-based, so the
    * graph keeps the same sparsity at every data scale — a fixed
    * threshold saturates as co-occurrence counts grow with volume); the
    * ranking window runs over the ≤ domain² pair AGGREGATE, never raw
    * rows. Score = distinct bridges + bottleneck support Σ min(w_ab,
    * w_bc) — exact integers.
    */
  private def q306(s: SparkSession, dir: String): DataFrame = {
    val baskets = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(T(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"),
        (col("p_partkey") % 200).as("item"))
    val pairs = graft.operators.Affinity
      .pairCounts(baskets, "basket", "item")
      .withColumn("__rk", row_number().over(Window.orderBy(
        col("n_ab").desc, col("item_a").asc, col("item_b").asc)))
      .filter(col("__rk") <= 400).drop("__rk")
      // 400 rows after the deterministic top-k; `edges` doubles it and is
      // then referenced THREE times (e1, e2, anti) — without the pin the
      // whole basket/pair/window build ran once per path (12 Generate
      // subtrees in the plan)
      .localCheckpoint(true)
    val edges = pairs.select(col("item_a").as("u"), col("item_b").as("v"),
        col("n_ab").as("w"))
      .unionByName(pairs.select(col("item_b").as("u"), col("item_a").as("v"),
        col("n_ab").as("w")))
    val twoHop = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .filter(col("e1.u") =!= col("e2.v"))
      .select(col("e1.u").as("src"), col("e2.v").as("rec"),
        col("e1.v").as("bridge"), least(col("e1.w"), col("e2.w")).as("bw"))
    twoHop.join(edges.select(col("u"), col("v")),
        col("src") === col("u") && col("rec") === col("v"), "left_anti")
      .groupBy(col("src"), col("rec"))
      .agg(count(lit(1)).as("n_bridges"), sum(col("bw")).as("bottleneck_support"))
      .orderBy(col("src"), col("rec"))
  }

  // the same top-400-by-(support, pair) edge set, symmetric closure,
  // bridge join and direct-pair anti-join — exact integer bridge
  // counts and bottlenecks
  query("q306_two_hop_recs", q306)(Sql(
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, p_partkey % 200 AS it FROM lineitem JOIN part ON l_partkey = p_partkey), p0 AS (SELECT l.it AS ia, r.it AS ib, COUNT(*) AS n_ab FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it GROUP BY 1, 2), p AS (SELECT ia, ib, n_ab FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_ab DESC, ia ASC, ib ASC) AS rk FROM p0) WHERE rk <= 400), e AS (SELECT ia AS u, ib AS v, n_ab AS w FROM p UNION ALL SELECT ib, ia, n_ab FROM p), th AS (SELECT e1.u AS src, e2.v AS rec, LEAST(e1.w, e2.w) AS bw FROM e e1 JOIN e e2 ON e1.v = e2.u WHERE e1.u <> e2.v), filt AS (SELECT th.src, th.rec, th.bw FROM th WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = th.src AND e.v = th.rec)) SELECT src, rec, COUNT(*) AS n_bridges, CAST(SUM(bw) AS BIGINT) AS bottleneck_support FROM filt GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Co-partitioned STAR join: fact (lineitem) and the orders leg both
    * bucketed ×8 on the order key — their join is exchange-free by
    * layout (BucketedJoinSpec asserts it on the executed plan); the
    * customer dimension rides a broadcast. The 100 TB shape: ONE shuffle
    * saved on the biggest join in the schema, dims never shuffled.
    */
  private def q309(s: SparkSession, dir: String): DataFrame = {
    val tag = math.abs(dir.hashCode).toString
    val (tl, to) = (s"graft_q309_lineitem_$tag", s"graft_q309_orders_$tag")
    val base = scratch(dir, "q309")
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/lineitem")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(tl)
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/orders")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(to)
    s.table(tl)
      .join(s.table(to), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sumx(col("l_extendedprice")).as("revenue"),
        sum(floor(col("l_quantity")).cast("long")).as("total_qty"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  // layout must not change answers: the bucketed star equals the plain
  // three-way join aggregate
  query("q309_star_bucketed", q309)(Sql(
    """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_lines, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** RELATIONAL DIVISION — "suppliers who supply ALL the probe parts" —
    * the classic for-all quantifier SQL lacks as a primitive, as the
    * double-anti-join: candidates × probe (a broadcast of the fixed-size
    * probe set), minus pairs that exist, leaves each candidate's MISSING
    * requirements; whoever has none qualifies. Every join is equi-keyed;
    * the one nested-loop is the 2-row probe broadcast (the scalar
    * pattern). Output carries each qualifier's volume over the probe.
    */
  private def q310(s: SparkSession, dir: String): DataFrame = {
    val probe = T(s, dir, "part").select(col("p_partkey"))
      .orderBy(col("p_partkey")).limit(2)
    val sp = T(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey")).distinct()
    val missing = T(s, dir, "supplier").select(col("s_suppkey"))
      .crossJoin(broadcast(probe))
      .join(sp, col("s_suppkey") === col("l_suppkey") &&
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("s_suppkey")).distinct()
    val qualified = T(s, dir, "supplier").select(col("s_suppkey"))
      .join(missing, Seq("s_suppkey"), "left_anti")
    val volume = T(s, dir, "lineitem")
      .join(broadcast(probe), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(floor(col("l_quantity")).cast("long")).as("total_qty"))
    qualified.join(volume, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("n_lines"), col("total_qty"))
      .orderBy(col("s_suppkey"))
  }

  // the for-all via NOT EXISTS double negation — same probe set (2
  // smallest part keys), same distinct pair relation
  query("q310_rel_division", q310)(Sql(
    """WITH probe AS (SELECT p_partkey FROM part ORDER BY p_partkey LIMIT 2), sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem), ok AS (SELECT s_suppkey FROM supplier s WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.l_suppkey = s.s_suppkey AND sp.l_partkey = p.p_partkey))), q AS (SELECT l_suppkey, COUNT(*) AS n_lines, CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty FROM lineitem JOIN probe ON l_partkey = p_partkey GROUP BY 1) SELECT ok.s_suppkey, q.n_lines, q.total_qty FROM ok JOIN q ON ok.s_suppkey = q.l_suppkey ORDER BY 1"""))

  /** Hierarchical share-of-parent (ratio-to-report): revenue per
    * (region, nation) with each nation's share of its REGION and each
    * region's share of the TOTAL — the BI staple behind every treemap.
    * Window sums run in DECIMAL over the ≤|nations| aggregate (double
    * window sums would be partition-order-dependent); ratios surface as
    * rounded doubles.
    */
  private def q311(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev_d"))
    val wRegion = Window.partitionBy(col("region"))
    val wAll = Window.partitionBy()
    rev
      .withColumn("region_d", sum(col("rev_d")).over(wRegion))
      .withColumn("total_d", sum(col("rev_d")).over(wAll))
      .select(col("region"), col("nation"),
        col("rev_d").cast("double").as("revenue"),
        round(col("rev_d").cast("double") / col("region_d").cast("double"), 6)
          .as("share_in_region"),
        round(col("region_d").cast("double") / col("total_d").cast("double"), 6)
          .as("region_share_of_total"))
      .orderBy(col("region"), col("nation"))
  }

  // window sums in DECIMAL over the nations aggregate — exact at any
  // order; identical ratio arithmetic
  query("q311_share_of_parent", q311)(Sql(
    """WITH rev AS (SELECT r_name AS region, n_name AS nation, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2), w AS (SELECT region, nation, rev_d, SUM(rev_d) OVER (PARTITION BY region) AS region_d, SUM(rev_d) OVER () AS total_d FROM rev) SELECT region, nation, CAST(rev_d AS DOUBLE) AS revenue, round(CAST(rev_d AS DOUBLE) / CAST(region_d AS DOUBLE), 6) AS share_in_region, round(CAST(region_d AS DOUBLE) / CAST(total_d AS DOUBLE), 6) AS region_share_of_total FROM w ORDER BY region, nation"""))

  /** Hourly OHLC bars per event type — the finance-standard candle
    * rollup: open/close by deterministic (sec, event_id) argmin/argmax,
    * high/low, volume, and a decimal-exact VWAP-style mean. ONE
    * map-side-combined aggregation; no window over raw rows.
    */
  private def q305(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("event_type"), col("event_id"),
      col("value"), expr("ts div 1000000000").as("sec"))
      .withColumn("hour", expr("sec div 3600"))
    e.groupBy(col("event_type"), col("hour"))
      .agg(
        min_by(col("value"), struct(col("sec"), col("event_id"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("sec"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"),
        round(sumx(col("value")) / count(lit(1)).cast("double"), 6)
          .as("mean_value"))
      .orderBy(col("event_type"), col("hour"))
  }

  // open/close replayed by the same (sec, event_id) total order; the
  // decimal-exact mean replays via the house SUMV pattern
  query("q305_ohlc_bars", q305)(Sql(
    """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts) // 1000000000 AS sec FROM events), h AS (SELECT *, sec // 3600 AS hour FROM e), r AS (SELECT event_type, hour, value, sec, event_id, ROW_NUMBER() OVER (PARTITION BY event_type, hour ORDER BY sec, event_id) AS rn_a, ROW_NUMBER() OVER (PARTITION BY event_type, hour ORDER BY sec DESC, event_id DESC) AS rn_z FROM h), a AS (SELECT event_type, hour, MAX(value) AS high, MIN(value) AS low, COUNT(*) AS volume, round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_value FROM h GROUP BY 1, 2) SELECT a.event_type, a.hour, o.value AS open, a.high, a.low, c.value AS close, a.volume, a.mean_value FROM a JOIN r o ON a.event_type = o.event_type AND a.hour = o.hour AND o.rn_a = 1 JOIN r c ON a.event_type = c.event_type AND a.hour = c.hour AND c.rn_z = 1 ORDER BY a.event_type, a.hour"""))

  /** Unigram-surprisal quality scoring — the perplexity-proxy filter a
    * CCNet-style corpus pipeline runs before training: per-word
    * negative log-probability under the corpus's own unigram model,
    * averaged per document (high = rare-word soup / gibberish, low =
    * boilerplate). Per-token terms hit the 9-decimal grid and accumulate
    * in DECIMAL (order-independent, §6); the corpus scan is one explode
    * + one broadcast-joined count table.
    */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val words = T(s, dir, "documents").select(col("doc_id"),
      explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
        .as("w"))
    val counts = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).cast("double").as("n_total"))
    words.join(counts, Seq("w")).join(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("n_total") / col("c").cast("double")), 9)
          .cast(DecimalType(28, 9)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  query("q194_unigram_surprisal", q194)(Sql(
    """WITH w AS (SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), c AS (SELECT w, COUNT(*) AS c FROM w GROUP BY 1), t AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM c), s AS (SELECT doc_id, CAST(round(ln(n_total / CAST(c AS DOUBLE)), 9) AS DECIMAL(28,9)) AS nll FROM w JOIN c USING (w) CROSS JOIN t) SELECT doc_id, COUNT(*) AS n_words, round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll FROM s GROUP BY doc_id ORDER BY doc_id"""))

  /** Bounded map-side TOP-K aggregator
    * ([[graft.functions.Aggregators.TopK]]): top-3 orders by price per
    * market segment through a typed Aggregator whose k-bounded buffer
    * does the ranking in the partial aggregation — each partition ships
    * ≤ k rows per group to the shuffle, vs the window formulation's full
    * per-group sort (the oracle, which must agree row-for-row).
    */
  private def q203(s: SparkSession, dir: String): DataFrame = {
    val joined = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .join(T(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"))
    joined
      .groupBy(col("c_mktsegment"))
      .agg(graft.functions.Aggregators.topK(3)(
        col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("c_mktsegment"), (col("i") + 1).cast("long").as("rnk"),
        col("p._2").as("o_orderkey"), col("p._1").as("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  query("q203_topk_aggregator", q203)(Sql(
    """SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (SELECT c_mktsegment, o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rnk <= 3 ORDER BY c_mktsegment, rnk"""))

  /** Rank-interpolated percentile replayed in SQL (mirrors q82's interp). */
  private def interpSql(p: String): String = interpSqlCol(p, "o_totalprice")

  /** Spark-exact percentile interpolation replay (see q82) over column `c`. */
  private def interpSqlCol(p: String, c: String): String = {
    val pos = s"(1.0 + $p * (CAST(n AS DOUBLE) - 1.0))"
    s"(MAX(CASE WHEN rn = CAST(floor($pos) AS BIGINT) THEN $c END) + MAX($pos - floor($pos)) * (MAX(CASE WHEN rn = CAST(ceil($pos) AS BIGINT) THEN $c END) - MAX(CASE WHEN rn = CAST(floor($pos) AS BIGINT) THEN $c END)))"
  }

  private def lagInterpSql(p: String): String = interpSqlCol(p, "delay_s")
}
