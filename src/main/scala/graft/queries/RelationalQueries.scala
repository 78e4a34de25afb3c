package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational

import Oracle.Sql
import Shared._

/** Queries built on the relational operators: joins, ordering, spatial,
  * affinity and attribution.
  */
private[queries] object RelationalQueries extends Family {
  private def q18(s: SparkSession, dir: String): DataFrame =
    Relational.discretePercentiles(
      T(s, dir, "orders"), "o_orderpriority", "o_totalprice", "o_orderkey",
      Seq(0.5, 0.9))
      .orderBy(col("o_orderpriority"))

  query("q18_quantiles", q18)(Sql(
    """SELECT o_orderpriority, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN o_totalprice END) AS p50, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT) THEN o_totalprice END) AS p90, MAX(cnt) AS n FROM (SELECT o_orderpriority, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn, COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM orders) GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Winsorization — the outlier-clipping data-prep step: per-group
    * exact discrete p05/p95 boundaries ([[Relational.discretePercentiles]],
    * q18's machinery) come back as a METADATA-SIZED broadcast table and
    * every value clips locally; never a global sort of the facts (q116's
    * discretize discipline). Raw vs clipped sums in exact decimal.
    */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val bounds = Relational.discretePercentiles(
      o, "o_orderpriority", "o_totalprice", "o_orderkey", Seq(0.05, 0.95))
      .select(col("o_orderpriority"), col("p5"), col("p95"))
    o.join(broadcast(bounds), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("o_totalprice"),
        least(greatest(col("o_totalprice"), col("p5")), col("p95")).as("w"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("sum_raw"),
        sumx(col("w")).as("sum_winsorized"))
      .orderBy(col("o_orderpriority"))
  }

  query("q204_winsorize", q204)(Sql(
    """WITH r AS (SELECT o_orderpriority, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn, COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM orders), b AS (SELECT o_orderpriority, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.05) AS BIGINT) THEN o_totalprice END) AS p5, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.95) AS BIGINT) THEN o_totalprice END) AS p95 FROM r GROUP BY 1) SELECT o.o_orderpriority, COUNT(*) AS n, CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw, CAST(SUM(CAST(least(greatest(o.o_totalprice, b.p5), b.p95) AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""))

  private def q19(s: SparkSession, dir: String): DataFrame =
    Relational.saltedSum(T(s, dir, "events"), "user_id", "value")
      .orderBy(col("user_id"))

  query("q19_skew_salted_agg", q19)(Sql(
    s"""SELECT user_id, COUNT(*) AS n, $SUMV AS total FROM events GROUP BY user_id ORDER BY user_id"""))

  private def q20(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"), evSec.as("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), evSec.as("csec"))
      .agg(max(col("event_id")).as("click_id"))
    Relational.asofJoin(purchases, clicks, "user_id", "sec", "csec", Seq("click_id"))
      .select(col("user_id"), col("event_id"), col("value"),
        col("click_id").as("attributed_click"))
      .orderBy(col("user_id"), col("event_id"))
  }

  query("q20_asof_join", q20)(Sql(
    """WITH p AS (SELECT user_id, event_id, value, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'purchase'), c AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS csec, MAX(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2) SELECT p.user_id, p.event_id, p.value, c.click_id AS attributed_click FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.sec >= c.csec ORDER BY p.user_id, p.event_id"""))

  /** As-of join with tolerance: like q20 but an attribution window of one
    * hour — clicks older than that yield null (pandas merge_asof
    * `tolerance` semantics).
    */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"), evSec.as("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), evSec.as("csec"))
      .agg(max(col("event_id")).as("click_id"))
    Relational.asofJoin(purchases, clicks, "user_id", "sec", "csec",
      Seq("click_id", "csec"))
      .select(col("user_id"), col("event_id"), col("value"),
        when(col("sec") - col("csec") <= 3600, col("click_id"))
          .as("attributed_click"))
      .orderBy(col("user_id"), col("event_id"))
  }

  query("q44_asof_tolerance", q44)(Sql(
    """WITH p AS (SELECT user_id, event_id, value, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'purchase'), c AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS csec, MAX(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2) SELECT p.user_id, p.event_id, p.value, CASE WHEN p.sec - c.csec <= 3600 THEN c.click_id END AS attributed_click FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.sec >= c.csec ORDER BY p.user_id, p.event_id"""))

  /** Range (interval) join: orders matched to OVERLAPPING price bands via
    * the bucketed equi-join in [[Relational.rangeJoin]] — no
    * broadcast-nested-loop, scales as fact + intervals×buckets.
    */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (1, 0, 30000), (2, 20000, 80000), (3, 75000, 200000),
      (4, 150000, 400000), (5, 380000, 600000))
      .toDF("band_id", "lo", "hi")
    Relational.rangeJoin(
      T(s, dir, "orders"), "o_totalprice", bands, "lo", "hi", 25000.0)
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_orders"), sumx(col("o_totalprice")).as("total"))
      .orderBy(col("band_id"))
  }

  query("q57_range_join", q57)(Sql(
    """WITH bands(band_id, lo, hi) AS (VALUES (1, 0, 30000), (2, 20000, 80000), (3, 75000, 200000), (4, 150000, 400000), (5, 380000, 600000)) SELECT band_id, lo, hi, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi GROUP BY band_id, lo, hi ORDER BY band_id"""))

  /** Salted join: orders (big, skewed side) joined to customer (replicated
    * small side) on (key, salt) — row-identical to the plain join, hot keys
    * spread over 16 reducers. Aggregated for a compact verifiable result.
    */
  private def q75(s: SparkSession, dir: String): DataFrame =
    Relational.saltedJoin(
      T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      T(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
      "o_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sumx(col("o_totalprice")).as("total"))
      .orderBy(col("c_mktsegment"))

  query("q75_salted_join", q75)(Sql(
    """SELECT c_mktsegment, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Trailing-24h distinct users per observed hour. The scalable shape —
    * dedup to (hour, user) pairs, bounded 24× explode, plain groupBy —
    * instead of the per-hour trailing-interval theta-join (which can only
    * plan as BNL). See [[Relational.trailingDistinct]].
    */
  private def q99(s: SparkSession, dir: String): DataFrame =
    Relational.trailingDistinct(
      T(s, dir, "events")
        .select(expr("ts div 1000000000 div 3600").as("hour_id"), col("user_id")),
      "hour_id", "user_id", windowBuckets = 24)
      .orderBy(col("hour_id"))

  // correlated trailing-interval COUNT(DISTINCT) — the declarative
  // statement of what the bounded-explode plan computes
  query("q99_trailing_distinct", q99)(Sql(
    """WITH pairs AS (SELECT DISTINCT epoch_ns(ts)//1000000000//3600 AS hour_id, user_id FROM events), hours AS (SELECT DISTINCT hour_id FROM pairs) SELECT h.hour_id, CAST((SELECT COUNT(DISTINCT p.user_id) FROM pairs p WHERE p.hour_id BETWEEN h.hour_id - 23 AND h.hour_id) AS BIGINT) AS n_distinct FROM hours h ORDER BY hour_id"""))

  /** Equal-frequency (quartile) discretization per priority group: exact
    * discrete boundaries from the q18 percentile machinery, broadcast
    * back, rows bucketed by boundary compare — the scalable two-phase
    * shape (never a global single-partition ntile).
    */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val bounds = Relational.discretePercentiles(
      o, "o_orderpriority", "o_totalprice", "o_orderkey", Seq(0.25, 0.5, 0.75))
      .select(col("o_orderpriority"), col("p25"), col("p50"), col("p75"))
    o.join(broadcast(bounds), Seq("o_orderpriority"))
      .withColumn("bucket",
        when(col("o_totalprice") <= col("p25"), 1L)
          .when(col("o_totalprice") <= col("p50"), 2L)
          .when(col("o_totalprice") <= col("p75"), 3L)
          .otherwise(4L))
      .groupBy(col("o_orderpriority"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy(col("o_orderpriority"), col("bucket"))
  }

  // boundaries replayed with the same ceil(n*p) discrete-rank rule as
  // Relational.discretePercentiles, then the same <=-boundary buckets
  query("q116_discretize", q116)(Sql(
    """WITH r AS (SELECT o_orderpriority, o_totalprice, o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn, COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM orders), b AS (SELECT o_orderpriority, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.25) AS BIGINT) THEN o_totalprice END) AS p25, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN o_totalprice END) AS p50, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.75) AS BIGINT) THEN o_totalprice END) AS p75 FROM r GROUP BY o_orderpriority) SELECT o.o_orderpriority, CAST(CASE WHEN o_totalprice <= p25 THEN 1 WHEN o_totalprice <= p50 THEN 2 WHEN o_totalprice <= p75 THEN 3 ELSE 4 END AS BIGINT) AS bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority GROUP BY 1, 2 ORDER BY o.o_orderpriority, bucket"""))

  /** Market-basket co-occurrence: the most frequent part pairs bought in
    * the same order. The self-join keys on the order (equi), so pair
    * generation is bounded by per-order basket size, never |parts|².
    */
  private def q123(s: SparkSession, dir: String): DataFrame =
    // per-order pair rows via the collect_list expansion (one exchange
    // fewer than the order-keyed self-join; pair set identical)
    graft.operators.Affinity.basketPairRows(
        T(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      .groupBy(col("item_a").as("p1"), col("item_b").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(50)

  query("q123_cooccurrence", q123)(Sql(
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_orders FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 ORDER BY n_orders DESC, p1, p2 LIMIT 50"""))

  /** Robust outlier detection per priority group: median and MAD (median
    * absolute deviation) from the exact discrete-percentile machinery,
    * then rows flagged where |x − med| > 3·MAD — resistant to the very
    * outliers it hunts, unlike mean/stddev fences.
    */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val med = Relational.discretePercentiles(
      o, "o_orderpriority", "o_totalprice", "o_orderkey", Seq(0.5))
      .select(col("o_orderpriority"), col("p50").as("med"))
    val dev = o.join(broadcast(med), Seq("o_orderpriority"))
      .withColumn("dev", abs(col("o_totalprice") - col("med")))
    val mad = Relational.discretePercentiles(
      dev, "o_orderpriority", "dev", "o_orderkey", Seq(0.5))
      .select(col("o_orderpriority"), col("p50").as("mad"))
    dev.join(broadcast(mad), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("dev") > col("mad") * 3.0, 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  // med and MAD replayed with the same ceil(n*0.5) discrete-rank rule;
  // the 3*mad fence is the same fixed-order double compare
  query("q124_robust_outliers", q124)(Sql(
    """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn, COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM orders), m AS (SELECT o_orderpriority, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN o_totalprice END) AS med FROM r GROUP BY 1), d AS (SELECT o.o_orderpriority, o.o_orderkey, abs(o.o_totalprice - m.med) AS dev, m.med FROM orders o JOIN m ON o.o_orderpriority = m.o_orderpriority), r2 AS (SELECT o_orderpriority, dev, med, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY dev, o_orderkey) AS rn, COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM d), m2 AS (SELECT o_orderpriority, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN dev END) AS mad FROM r2 GROUP BY 1) SELECT d.o_orderpriority, MAX(d.med) AS med, MAX(m2.mad) AS mad, CAST(SUM(CASE WHEN d.dev > m2.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, COUNT(*) AS n FROM d JOIN m2 ON d.o_orderpriority = m2.o_orderpriority GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority"""))

  /** Point-in-time dimension join — the leakage-safe feature join: each
    * purchase is enriched with the SCD2 state version (q64's islands) that
    * HELD at the purchase's own second, never a later one. Dim versions
    * sharing a `valid_from` second collapse to the highest version (the
    * state after that second's last event) so the as-of pick is
    * deterministic on both engines; the join itself is
    * [[Relational.asofJoin]]'s union+window shape — one shuffle by user,
    * no range-condition theta join.
    */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = T(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), evSec.as("sec"))
    val dimAll = ev
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1).otherwise(0))
      .withColumn("version", sum(col("chg")).over(cum))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state_type"),
        min(col("sec")).as("valid_from"))
    val wv = Window.partitionBy(col("user_id"), col("valid_from"))
      .orderBy(col("version").desc)
    val dim = dimAll
      .withColumn("__vrn", row_number().over(wv))
      .filter(col("__vrn") === 1).drop("__vrn")
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("sec"))
    Relational.asofJoin(facts, dim, "user_id", "sec", "valid_from",
      Seq("version", "state_type"))
      .orderBy(col("p_id"))
  }

  // q64's island replay + per-(user, valid_from) max-version collapse,
  // then the latest version at or before each purchase second — the
  // as-of inclusive-<= convention both engines pin identically
  query("q160_pit_join", q160)(Sql(
    """WITH e AS (SELECT user_id, event_id, event_type, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), c AS (SELECT user_id, event_id, event_type, sec, CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), g AS (SELECT user_id, event_type, sec, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version FROM c), i AS (SELECT user_id, version, MIN(event_type) AS state_type, MIN(sec) AS valid_from FROM g GROUP BY 1, 2), d AS (SELECT user_id, version, state_type, valid_from FROM (SELECT i.*, ROW_NUMBER() OVER (PARTITION BY user_id, valid_from ORDER BY version DESC) AS rn FROM i) WHERE rn = 1), p AS (SELECT user_id, event_id AS p_id, sec FROM e WHERE event_type = 'purchase'), j AS (SELECT p.p_id, p.user_id, p.sec, d.version, d.state_type, ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY d.valid_from DESC) AS rn FROM p JOIN d ON p.user_id = d.user_id AND d.valid_from <= p.sec) SELECT p_id, user_id, sec, version, state_type FROM j WHERE rn = 1 ORDER BY p_id"""))

  /** Shuffle-skew diagnostic ([[Relational.skewReport]]): per-key counts
    * vs a per-task target, flagged keys with their needed salt factor —
    * what gets consulted before a hot key melts an executor.
    */
  private def q166(s: SparkSession, dir: String): DataFrame =
    Relational.skewReport(
      T(s, dir, "events"), "event_type", threshold = 100, targetPerTask = 500)
      .orderBy(col("event_type"))

  // flagged keys and salt factors replay as a HAVING aggregate
  query("q166_skew_report", q166)(Sql(
    """SELECT event_type, COUNT(*) AS n, CAST(ceil(CAST(COUNT(*) AS DOUBLE) / 500.0) AS BIGINT) AS salt_factor FROM events GROUP BY 1 HAVING COUNT(*) >= 100 ORDER BY event_type"""))

  /** Grid-bucketed nearest-station spatial join
    * ([[graft.operators.Spatial.nearestWithin]]): customers as points,
    * suppliers as stations, a 5°-radius search — the reference domain's
    * (weather by city coordinate) canonical lookup, as a cell equi-join
    * rather than a distance cross join. Coordinates are derived from the
    * keys in exact integer micro-degrees so the oracle replays them
    * verbatim.
    */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    def latU(k: Column) = pmod(k * 48271L, lit(120000001L)) - 60000000L
    def lonU(k: Column) = pmod(k * 69621L, lit(360000001L)) - 180000000L
    val pts = T(s, dir, "customer").select(col("c_custkey"),
      latU(col("c_custkey")).as("lat_u"), lonU(col("c_custkey")).as("lon_u"))
    val st = T(s, dir, "supplier").select(col("s_suppkey"),
      latU(col("s_suppkey") * 7919L).as("lat_u"),
      lonU(col("s_suppkey") * 7919L).as("lon_u"))
    graft.operators.Spatial.nearestWithin(
      pts, st, "c_custkey", "s_suppkey", "lat_u", "lon_u", 5000000L)
      .orderBy(col("c_custkey"))
  }

  // same integer micro-degree coordinate derivation and planar metric;
  // the 3x3 neighborhood replication and cell equi-join replayed
  // literally, argmin with the same (dist2, id) tie break
  query("q175_spatial_join", q175)(Sql(
    """WITH p AS (SELECT c_custkey, (c_custkey * 48271) % 120000001 - 60000000 AS plat, (c_custkey * 69621) % 360000001 - 180000000 AS plon FROM customer), st AS (SELECT s_suppkey, (s_suppkey * 7919 * 48271) % 120000001 - 60000000 AS slat, (s_suppkey * 7919 * 69621) % 360000001 - 180000000 AS slon FROM supplier), sc AS (SELECT s_suppkey, slat, slon, CAST(floor(slat / 5000000.0) AS BIGINT) + d1.o AS cr, CAST(floor(slon / 5000000.0) AS BIGINT) + d2.o AS cc FROM st, (SELECT unnest([-1, 0, 1]) AS o) d1, (SELECT unnest([-1, 0, 1]) AS o) d2), cand AS (SELECT p.c_custkey, sc.s_suppkey, (p.plat - sc.slat) * (p.plat - sc.slat) + (p.plon - sc.slon) * (p.plon - sc.slon) AS dist2 FROM p JOIN sc ON CAST(floor(p.plat / 5000000.0) AS BIGINT) = sc.cr AND CAST(floor(p.plon / 5000000.0) AS BIGINT) = sc.cc), r AS (SELECT c_custkey, s_suppkey, dist2, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY dist2, s_suppkey) AS rn FROM cand WHERE dist2 <= 25000000000000) SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2 FROM r WHERE rn = 1 ORDER BY c_custkey"""))

  /** Weighted quantiles ([[Relational.weightedPercentiles]]): the price
    * below which 50% / 90% of shipped QUANTITY falls, per return flag —
    * quantity-weighted, not row-weighted, the distinction that matters
    * whenever rows carry unequal mass (token counts, bytes, durations).
    * The threshold comparison is pure integer arithmetic, so the cut is
    * engine-exact.
    */
  private def q218(s: SparkSession, dir: String): DataFrame =
    Relational.weightedPercentiles(
      T(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", "l_quantity",
      "l_orderkey", Seq(50, 90))
      .orderBy(col("l_returnflag"))

  // lower weighted-quantile: cumulative quantity in (value, tiebreak)
  // order; the integer-space threshold 100*cumw >= p*W replays exactly
  query("q218_weighted_quantile", q218)(Sql(
    """WITH b AS (SELECT l_returnflag, l_extendedprice, CAST(l_quantity AS BIGINT) AS w, SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tw FROM lineitem) SELECT l_returnflag, MIN(CASE WHEN cw * 100 >= tw * 50 THEN l_extendedprice END) AS p50_w, MIN(CASE WHEN cw * 100 >= tw * 90 THEN l_extendedprice END) AS p90_w, CAST(MAX(tw) AS BIGINT) AS total_weight FROM b GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Dynamic-gap sessionization ([[Relational.dynamicGapSessions]]): a
    * purchase or signup keeps the session alive for 3600s, anything else
    * 1800s — per-event gaps, overlapping intervals merged. The running
    * interval-merge is a single growing-frame window (incremental in
    * WindowExec), one shuffle on user_id; all bounds integer seconds.
    */
  private def q223(s: SparkSession, dir: String): DataFrame =
    Relational.dynamicGapSessions(
      T(s, dir, "events"), "user_id", evSec, col("event_id"),
      when(col("event_type").isin("purchase", "signup"), lit(3600L))
        .otherwise(lit(1800L)))
      .orderBy(col("user_id"), col("session_idx"))

  // interval-merge sessionization: new session exactly when the start
  // exceeds the running max end of all earlier intervals in the key
  query("q223_dynamic_sessions", q223)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, CASE WHEN event_type IN ('purchase', 'signup') THEN 3600 ELSE 1800 END AS gap FROM events), m AS (SELECT user_id, sec, sec + gap AS fin, MAX(sec + gap) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end, event_id FROM e), f AS (SELECT user_id, sec, fin, event_id, CASE WHEN prev_max_end IS NULL OR sec > prev_max_end THEN 1 ELSE 0 END AS is_new FROM m), g AS (SELECT user_id, sec, fin, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM f) SELECT user_id, session_idx, COUNT(*) AS n_events, MIN(sec) AS start_sec, MAX(fin) AS end_sec FROM g GROUP BY 1, 2 ORDER BY user_id, session_idx"""))

  /** Scalable global contiguous row ids ([[graft.operators.GlobalOrder]]):
    * the numbering `ROW_NUMBER() OVER (ORDER BY ...)` produces, computed
    * WITHOUT the single-partition window Spark would plan for it — range
    * repartition + local rank + broadcast per-partition offsets. The
    * driver-side state is O(partitions) longs; every heavy stage is
    * parallel. RelationalSpec asserts the plan has no SinglePartition
    * exchange on the numbering path.
    */
  private def q232(s: SparkSession, dir: String): DataFrame =
    graft.operators.GlobalOrder.rowNumbers(
      T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars").desc, col("doc_id")))
      .orderBy(col("global_id"))

  // numbering is the pure sort position, so the distributed
  // offset-and-local-rank construction replays as one window
  query("q232_global_ids", q232)(Sql(
    """SELECT doc_id, n_chars, CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS global_id FROM documents ORDER BY global_id"""))

  /** 2-D skyline per market segment — the cheapest-earliest Pareto
    * frontier of orders ([[Relational.skyline2d]]): sort-based windows,
    * zero self-joins (the oracle replays it with NOT EXISTS dominance).
    */
  private def q250(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").join(
      T(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
      col("o_custkey") === col("c_custkey"))
    Relational.skyline2d(
        o.select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 1000000 div 86400")
            .as("d"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("cents")),
        Seq("seg"), col("d"), col("cents"))
      .select(col("seg"), col("o_orderkey"), col("d"), col("cents"))
      .orderBy(col("seg"), col("d"), col("cents"), col("o_orderkey"))
  }

  query("q250_skyline", q250)(Sql(
    """WITH o AS (SELECT c_mktsegment AS seg, o_orderkey, epoch_ns(o_orderdate) // 1000000000 // 86400 AS d, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders JOIN customer ON o_custkey = c_custkey) SELECT seg, o_orderkey, d, cents FROM o q WHERE NOT EXISTS (SELECT 1 FROM o p WHERE p.seg = q.seg AND p.d <= q.d AND p.cents <= q.cents AND (p.d < q.d OR p.cents < q.cents)) ORDER BY seg, d, cents, o_orderkey"""))

  /** EXACT global percentiles
    * ([[graft.operators.GlobalOrder.exactPercentiles]]): the ground truth
    * q316's sketch approximates, at a plan with NO single-partition sort —
    * range-shuffle global ranks, then each quantile prunes to one row by
    * an equi-join on rank = ⌈q·N⌉ against a broadcast spine.
    */
  private def q318(s: SparkSession, dir: String): DataFrame =
    graft.operators.GlobalOrder.exactPercentiles(
      T(s, dir, "events"), "value", "event_id", Seq(0.5, 0.9, 0.99))

  // the order statistic at rank ceil(q*N) under the total (v, id) order
  query("q318_exact_percentile", q318)(Sql(
    """WITH e AS (SELECT CAST(value AS DOUBLE) AS v, event_id AS id FROM events), r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, id) AS rnk FROM e), n AS (SELECT COUNT(*) AS n FROM e), spine AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)) SELECT q AS quantile, v AS exact_value, n.n AS n_total FROM spine, n, r WHERE r.rnk = CAST(GREATEST(1, CEIL(q * n.n)) AS BIGINT) ORDER BY quantile"""))

  /** EXACT Shapley-value attribution
    * ([[graft.operators.Attribution.shapley]]): converting users collapse
    * to a 16-bucket touched-channel mask census; coalition values,
    * factorial weights and both v(S) lookups are broadcast spines; φ is
    * an exact scaled integer until one division by 4!.
    */
  private def q333(s: SparkSession, dir: String): DataFrame = {
    val masks = T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        (max(when(col("event_type") === "click", 1).otherwise(0)) +
          max(when(col("event_type") === "view", 2).otherwise(0)) +
          max(when(col("event_type") === "signup", 4).otherwise(0)) +
          max(when(col("event_type") === "error", 8).otherwise(0))).as("mask"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      .filter(col("conv") === 1)
      .groupBy(col("mask")).agg(count(lit(1)).as("n"))
    graft.operators.Attribution.shapley(masks,
        Seq(("click", 1), ("view", 2), ("signup", 4), ("error", 8)))
      .orderBy(col("channel"))
  }

  // v(S) = converting users with touched-set ⊆ S; φ exact over the 16
  // coalitions with 4!-scaled integer weights (6,2,2,6)
  query("q333_shapley_attribution", q333)(Sql(
    """WITH u AS (SELECT user_id, MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) + MAX(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END) + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) + MAX(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS mask, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv FROM events GROUP BY 1), mc AS (SELECT mask, COUNT(*) AS n FROM u WHERE conv = 1 GROUP BY 1), coal AS (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS s), vv AS (SELECT s, (s // 1) % 2 + (s // 2) % 2 + (s // 4) % 2 + (s // 8) % 2 AS sz, CAST(COALESCE(SUM(n), 0) AS BIGINT) AS v FROM coal LEFT JOIN mc ON (s | mask) = s GROUP BY 1, 2), ch AS (SELECT * FROM (VALUES ('click', 1), ('view', 2), ('signup', 4), ('error', 8)) AS t(channel, bit)), pairs AS (SELECT ch.channel, b.sz, b.v AS v_without, w.v AS v_with FROM ch JOIN vv b ON (b.s & ch.bit) = 0 JOIN vv w ON w.s = (b.s | ch.bit)) SELECT channel, round(CAST(SUM((CASE sz WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END) * (v_with - v_without)) AS DOUBLE) / 24.0, 6) AS phi FROM pairs GROUP BY 1 ORDER BY channel"""))

  /** Per-user INTERVAL UNION ([[graft.operators.Relational.intervalUnion]]):
    * each event opens a 10-minute activity span; overlapping spans merge
    * into maximal disjoint ones — total covered time under decay, the
    * coverage question q64's point-gap islands can't answer (an interval
    * can swallow a later-starting but earlier-ending one).
    */
  private def q334(s: SparkSession, dir: String): DataFrame = {
    val sec = expr("ts div 1000000000")
    graft.operators.Relational.intervalUnion(
        T(s, dir, "events").select(col("user_id"), sec.cast("long").as("s0"),
          (sec.cast("long") + 600L).as("e0")),
        "user_id", "s0", "e0")
      .orderBy(col("user_id"), col("span_start"))
  }

  // sweep-line merge: new span iff start clears the running max end
  query("q334_interval_union", q334)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s, CAST(epoch_ns(ts) // 1000000000 + 600 AS BIGINT) AS e FROM events), m AS (SELECT user_id, s, e, CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w THEN 1 ELSE 0 END AS nw FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), g AS (SELECT user_id, s, e, SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span FROM m) SELECT user_id, MIN(s) AS span_start, MAX(e) AS span_end, COUNT(*) AS n_merged FROM g GROUP BY user_id, span ORDER BY user_id, span_start"""))

  /** SPEARMAN rank correlation ([[graft.operators.Relational.spearman]]):
    * monotone association between per-user activity and spend — ranks
    * over each variable's own value domain with tie averaging (the q319
    * machinery twice), ρ exact until one pinned-double finish.
    */
  private def q335(s: SparkSession, dir: String): DataFrame = {
    val per = T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("acts"),
        (sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
          .as("cents"))
    graft.operators.Relational.spearman(per, "acts", "cents")
  }

  // tie-averaged doubled ranks per variable, Pearson over the ranks
  query("q335_spearman", q335)(Sql(
    """WITH per AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS x, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) AS y FROM events GROUP BY 1), rx AS (SELECT v, 2 * cc - t + 1 AS r2 FROM (SELECT x AS v, COUNT(*) AS t, SUM(COUNT(*)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc FROM per GROUP BY x)), ry AS (SELECT v, 2 * cc - t + 1 AS r2 FROM (SELECT y AS v, COUNT(*) AS t, SUM(COUNT(*)) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc FROM per GROUP BY y)), j AS (SELECT rx.r2 AS rxx, ry.r2 AS ryy FROM per JOIN rx ON per.x = rx.v JOIN ry ON per.y = ry.v), a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(rxx AS DECIMAL(38,0))) AS sx, SUM(CAST(ryy AS DECIMAL(38,0))) AS sy, SUM(CAST(rxx AS DECIMAL(38,0)) * CAST(rxx AS DECIMAL(38,0))) AS sxx, SUM(CAST(ryy AS DECIMAL(38,0)) * CAST(ryy AS DECIMAL(38,0))) AS syy, SUM(CAST(rxx AS DECIMAL(38,0)) * CAST(ryy AS DECIMAL(38,0))) AS sxy FROM j) SELECT n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho FROM a"""))

  /** GINI COEFFICIENT of customer revenue concentration
    * ([[graft.operators.GlobalOrder.rowNumbers]] + one exact aggregate):
    * G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) over ascending-ranked exact cents —
    * the inequality scalar a marketplace health report leads with; ranks
    * from the range shuffle, numerator exact in DECIMAL(38,0).
    */
  private def q338(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val rev = T(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val ranked = graft.operators.GlobalOrder.rowNumbers(
      rev, Seq(col("cents"), col("o_custkey")), "i")
    ranked
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"),
        sum(col("i").cast(d38) * col("cents").cast(d38)).as("s2"))
      .select(col("n"), col("total_cents"),
        round((lit(2L) * col("s2") -
            (col("n") + 1L).cast(d38) * col("total_cents").cast(d38))
            .cast("double") /
          (col("n").cast(d38) * col("total_cents").cast(d38)).cast("double"),
          6).as("gini"))
  }

  // G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) over ascending ranks
  query("q338_gini", q338)(Sql(
    """WITH r AS (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents FROM orders GROUP BY 1), rk AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM r), a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents, SUM(CAST(i AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS s2 FROM rk) SELECT n, total_cents, round(CAST(2 * s2 - CAST(n + 1 AS DECIMAL(38,0)) * CAST(total_cents AS DECIMAL(38,0)) AS DOUBLE) / CAST(CAST(n AS DECIMAL(38,0)) * CAST(total_cents AS DECIMAL(38,0)) AS DOUBLE), 6) AS gini FROM a"""))

  /** ABC INVENTORY CLASSES over part revenue
    * ([[graft.operators.GlobalOrder.prefixSums]]): cumulative revenue
    * share under descending order WITHOUT a single-partition window —
    * the range-shuffle prefix sum; class cut-offs compared as exact
    * integer cross-products (cum·100 ≤ tot·80), so no double share can
    * flip a part across the A/B boundary between engines.
    */
  private def q339(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val rev = T(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val cum = graft.operators.GlobalOrder.prefixSums(
      rev, Seq(col("cents").desc, col("l_partkey")), "cents", "cum")
    val tot = rev.agg(sum(col("cents")).as("tot"))
    cum.crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum").cast(d38) * 100 <= col("tot").cast(d38) * 80, "A")
          .when(col("cum").cast(d38) * 100 <= col("tot").cast(d38) * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"),
        round(sum(col("cents")).cast("double") /
          max(col("tot")).cast("double"), 6).as("share"))
      .orderBy(col("abc_class"))
  }

  // class cut-offs as exact integer cross-products on the cumulative
  query("q339_abc_classes", q339)(Sql(
    """WITH r AS (SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents FROM lineitem GROUP BY 1), c AS (SELECT cents, CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS cum, CAST(SUM(cents) OVER () AS DECIMAL(38,0)) AS tot FROM r), k AS (SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A' WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS abc_class, cents, tot FROM c) SELECT abc_class, COUNT(*) AS n_parts, CAST(SUM(cents) AS BIGINT) AS cents, round(CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share FROM k GROUP BY abc_class, tot ORDER BY abc_class"""))

  /** CLAMPED RUNNING BALANCE ([[graft.operators.Relational.clampedBalance]]):
    * per-supplier on-hand stock under receipts (+qty) and returns (−qty)
    * clamped to [0, 500] — the inventory fold no window can express
    * (each step depends on the CLAMPED previous value, not the raw
    * prefix sum); shortage and overflow hits counted in the same
    * sequential HOF fold, replayed exactly by the recursive-CTE oracle.
    */
  private def q363(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_suppkey"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("seq"),
      when(col("l_returnflag") === "R", -col("l_quantity").cast("long"))
        .otherwise(col("l_quantity").cast("long")).as("delta"))
    graft.operators.Relational.clampedBalance(li, "l_suppkey", "seq",
        "delta", cap = 500L)
      .orderBy(col("l_suppkey"))
  }

  // the clamp makes each step depend on the CLAMPED previous value —
  // replay is necessarily sequential per key
  query("q363_clamped_balance", q363)(Sql(
    """WITH RECURSIVE li AS (SELECT l_suppkey AS k, l_orderkey * 8 + l_linenumber AS seq, CASE WHEN l_returnflag = 'R' THEN -CAST(l_quantity AS BIGINT) ELSE CAST(l_quantity AS BIGINT) END AS d FROM lineitem), o AS (SELECT k, d, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq, d) AS rn FROM li), nn AS (SELECT k, COUNT(*) AS n FROM o GROUP BY 1), rec AS (SELECT k, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS h, CAST(0 AS BIGINT) AS lo, CAST(0 AS BIGINT) AS hi FROM nn UNION ALL SELECT r.k, r.rn + 1, LEAST(CAST(500 AS BIGINT), GREATEST(CAST(0 AS BIGINT), r.h + x.d)), r.lo + CASE WHEN r.h + x.d < 0 THEN 1 ELSE 0 END, r.hi + CASE WHEN r.h + x.d > 500 THEN 1 ELSE 0 END FROM rec r JOIN o x ON x.k = r.k AND x.rn = r.rn + 1) SELECT f.k AS l_suppkey, nn.n AS n_moves, f.h AS on_hand, f.lo AS n_shortages, f.hi AS n_overflows FROM rec f JOIN nn ON nn.k = f.k AND f.rn = nn.n ORDER BY f.k"""))

  /** EXACT-CENTS PRORATION ([[graft.operators.Relational.prorateCents]]):
    * each order's 10% discount (integer cents) split across its line
    * items proportionally to extended price, floors reconciled by
    * largest remainder so every order's allocations SUM EXACTLY to its
    * discount — the invoice requirement a double multiply silently
    * violates. Remainders compare as exact integers; zero floating
    * point anywhere.
    */
  private def q364(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("line_id"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("w"))
    val o = T(s, dir, "orders").select(col("o_orderkey"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 10")
        .as("disc"))
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("line_id"), col("w"), col("disc"))
    graft.operators.Relational.prorateCents(j, "l_orderkey", "line_id",
        "w", "disc")
      .orderBy(col("l_orderkey"), col("line_id"))
  }

  // pure integer arithmetic: floor shares + largest-remainder top-up
  query("q364_prorate_cents", q364)(Sql(
    """WITH li AS (SELECT l_orderkey, l_orderkey * 8 + l_linenumber AS line_id, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w FROM lineitem), o AS (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10 AS disc FROM orders), j AS (SELECT l_orderkey, line_id, w, disc FROM li JOIN o ON l_orderkey = o_orderkey), b AS (SELECT *, CAST(SUM(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS tw FROM j), c AS (SELECT *, disc * w AS num FROM b WHERE tw > 0), d AS (SELECT *, num // tw AS fs, num % tw AS rem FROM c), e AS (SELECT *, CAST(disc - SUM(fs) OVER (PARTITION BY l_orderkey) AS BIGINT) AS leftover, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY rem DESC, line_id, w) AS rk FROM d) SELECT l_orderkey, line_id, w, fs + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc FROM e ORDER BY l_orderkey, line_id"""))

  /** SCD VALIDITY-WINDOW AUDIT
    * ([[graft.operators.Relational.validityAudit]]): overlap/gap/empty
    * census per customer over deterministic [from, to) windows derived
    * from order dates (to = from + 1 + orderkey mod 40, so both defect
    * classes actually occur) — classified against the running max of
    * previous ends, the q334 sweep posture.
    */
  private def q376(s: SparkSession, dir: String): DataFrame = {
    val iv = T(s, dir, "orders").select(col("o_custkey"),
        col("o_orderkey").as("ok"),
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))).cast("long").as("from_day"))
      .withColumn("to_day",
        col("from_day") + lit(1L) + pmod(col("ok"), lit(40L)))
    graft.operators.Relational.validityAudit(iv, "o_custkey",
      "from_day", "to_day", Seq("ok")).orderBy(col("o_custkey"))
  }

  // sweep-rule overlap/gap census against the running max of prior ends
  query("q376_validity_audit", q376)(Sql(
    """WITH iv AS (SELECT o_custkey, CAST(o_orderkey AS BIGINT) AS ok, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS f FROM orders), i2 AS (SELECT o_custkey, ok, f, f + 1 + ok % 40 AS tt FROM iv), p AS (SELECT o_custkey, f, tt, MAX(tt) OVER (PARTITION BY o_custkey ORDER BY f, tt, ok ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM i2) SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(CASE WHEN f < pe THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps, CAST(SUM(CASE WHEN f > pe THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps, CAST(SUM(CASE WHEN tt <= f THEN 1 ELSE 0 END) AS BIGINT) AS n_empty, (SUM(CASE WHEN f < pe THEN 1 ELSE 0 END) + SUM(CASE WHEN f > pe THEN 1 ELSE 0 END) + SUM(CASE WHEN tt <= f THEN 1 ELSE 0 END)) = 0 AS clean FROM p GROUP BY o_custkey ORDER BY o_custkey"""))

  /** MAX-MIN FAIR allocation ([[graft.operators.Relational.waterfill]]):
    * each order's capacity (60% of total quantity) split across its
    * lines by water-filling — small demands met in full, the rest split
    * evenly with largest-remainder integer cents; duplicate
    * (orderkey, linenumber) pairs collapse in the demand census first
    * (the q363 duplicate-pair lesson).
    */
  private def q380(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber").cast("long")
        .as("l_linenumber"))
      .agg(sum(col("l_quantity").cast("long")).as("demand"))
      .withColumn("cap",
        expr("(sum(demand) over (partition by l_orderkey) * 3) div 5"))
    graft.operators.Relational.waterfill(li, "l_orderkey", "l_linenumber",
        "demand", "cap")
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // sorted prefix sums find the water level; floor + largest remainder
  query("q380_waterfill", q380)(Sql(
    """WITH li AS (SELECT l_orderkey AS g, CAST(l_linenumber AS BIGINT) AS l, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d FROM lineitem GROUP BY 1, 2), c AS (SELECT g, l, d, CAST((SUM(d) OVER (PARTITION BY g) * 3) // 5 AS BIGINT) AS cap FROM li), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY d, l) AS rn, COUNT(*) OVER (PARTITION BY g) AS n, CAST(SUM(d) OVER (PARTITION BY g ORDER BY d, l ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre FROM c), s AS (SELECT *, d * (n - rn + 1) <= cap - (pre - d) AS sat FROM r), t AS (SELECT *, CAST(SUM(CASE WHEN sat THEN 1 ELSE 0 END) OVER (PARTITION BY g) AS BIGINT) AS ns, CAST(SUM(CASE WHEN sat THEN d ELSE 0 END) OVER (PARTITION BY g) AS BIGINT) AS ss FROM s), u AS (SELECT *, CASE WHEN n - ns > 0 THEN (cap - ss) // (n - ns) END AS lvl, CASE WHEN n - ns > 0 THEN (cap - ss) % (n - ns) END AS lft, ROW_NUMBER() OVER (PARTITION BY g, sat ORDER BY l) AS rnu FROM t) SELECT g AS l_orderkey, l AS l_linenumber, d AS demand, CAST(CASE WHEN sat THEN d ELSE lvl + CASE WHEN rnu <= lft THEN 1 ELSE 0 END END AS BIGINT) AS alloc FROM u ORDER BY l_orderkey, l_linenumber"""))

  /** GCRA RATE-LIMIT AUDIT
    * ([[graft.operators.Relational.rateLimitAudit]]): replay each user's
    * event stream against a 1-per-60s limiter with burst 4 and report
    * would-be allowed/rejected counts — the offline capacity-planning
    * readout; all integer seconds, recursive-CTE oracle.
    */
  private def q384(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"),
      expr("ts div 1000000000").as("tsec"), col("event_id"))
    graft.operators.Relational.rateLimitAudit(ev, "user_id", "tsec",
      "event_id", emissionSec = 60L, burst = 4).orderBy(col("user_id"))
  }

  // the TAT recursion replayed per user; all integer seconds
  query("q384_rate_limit", q384)(Sql(
    """WITH RECURSIVE e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_id FROM events), o AS (SELECT user_id, t, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn FROM e), nn AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1), rec AS (SELECT user_id, CAST(1 AS BIGINT) AS rn, CAST(t + 60 AS BIGINT) AS tat, CAST(1 AS BIGINT) AS ok FROM o WHERE rn = 1 UNION ALL SELECT r.user_id, r.rn + 1, CAST(CASE WHEN e.t >= r.tat - 240 THEN greatest(r.tat, e.t) + 60 ELSE r.tat END AS BIGINT), r.ok + CASE WHEN e.t >= r.tat - 240 THEN 1 ELSE 0 END FROM rec r JOIN o e ON e.user_id = r.user_id AND e.rn = r.rn + 1) SELECT f.user_id, nn.n AS n_events, f.ok AS n_allowed, CAST(nn.n - f.ok AS BIGINT) AS n_rejected FROM rec f JOIN nn ON nn.user_id = f.user_id AND f.rn = nn.n ORDER BY f.user_id"""))

  /** Absorbing-Markov funnel metrics
    * ([[graft.operators.Attribution.absorbingMetrics]]): q281's journey
    * matrix (truncation at first purchase, start/conv/drop sentinels)
    * read through the fundamental matrix instead of removal effects —
    * per transient state, expected steps to absorption and the
    * conv/drop absorption split, as an 8-round bounded geometric series
    * in pure int64 p9/st6 arithmetic replayed bit for bit by the
    * oracle's unrolled CTE chain.
    */
  private def q415(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val o = e.withColumn("rn", row_number().over(w))
    val fp = o.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val p = o.join(fp, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .select(col("user_id"), col("event_type"), col("rn"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val steps = p.withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .select(col("event_type").as("src"),
        when(col("nxt").isNotNull, col("nxt"))
          .when(col("event_type") =!= "purchase", lit("drop"))
          .otherwise(lit(null)).as("dst"))
      .filter(col("dst").isNotNull)
    val starts = p.filter(col("rn") === 1)
      .select(lit("start").as("src"), col("event_type").as("dst"))
    val tr = starts.unionByName(steps)
      .withColumn("dst",
        when(col("dst") === "purchase", "conv").otherwise(col("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    graft.operators.Attribution.absorbingMetrics(tr,
        Seq("click", "signup", "view", "error"), steps = 8)
      .orderBy(col("state"))
  }

  // 8-round integer geometric series, bit-identical recurrence
  query("q415_absorbing_funnel", q415)(Sql(absorbingOracleSql))

  /** Kendall τ-b ([[graft.operators.Relational.kendallTauB]]) between
    * line quantity and line number — exact concordant/discordant pair
    * counts on the (quantity × linenumber) cell census with both tie
    * corrections; the discrete-domain rank correlation beside q271's
    * Spearman.
    */
  private def q424(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.kendallTauB(
      T(s, dir, "lineitem").select(col("l_quantity"), col("l_linenumber")),
      "l_quantity", "l_linenumber")

  // exact pair counts on the cell census, both tie corrections
  query("q424_kendall_tau", q424)(Sql(
    """WITH c AS (SELECT CAST(l_quantity AS BIGINT) AS x, CAST(l_linenumber AS BIGINT) AS y, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), p AS (SELECT SUM(CASE WHEN b.y > a.y THEN CAST(a.c AS DECIMAL(38,0)) * b.c END) AS cc, SUM(CASE WHEN b.y < a.y THEN CAST(a.c AS DECIMAL(38,0)) * b.c END) AS dd FROM c a JOIN c b ON b.x > a.x AND b.y <> a.y), m AS (SELECT CAST(SUM(c) AS DECIMAL(38,0)) AS n FROM c), tx AS (SELECT SUM(CAST(t AS DECIMAL(38,0)) * (t - 1)) AS tx2 FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY x)), ty AS (SELECT SUM(CAST(t AS DECIMAL(38,0)) * (t - 1)) AS ty2 FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY y)) SELECT CAST(m.n AS BIGINT) AS n, CAST(p.cc AS BIGINT) AS concordant, CAST(p.dd AS BIGINT) AS discordant, round((CAST(p.cc AS DOUBLE) - CAST(p.dd AS DOUBLE)) / sqrt((CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1.0) - CAST(tx.tx2 AS DOUBLE)) / 2.0 * ((CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1.0) - CAST(ty.ty2 AS DOUBLE)) / 2.0)), 6) AS tau_b FROM p, m, tx, ty"""))

  /** Cramér's V ([[graft.operators.Relational.cramersV]]) for order
    * status × priority — the normalized-χ² association on [0,1]
    * completing q256's mutual information on the same pair; FULL R×C
    * spine so empty cells pay their expected-count term.
    */
  private def q425(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.cramersV(
      T(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority")),
      "o_orderstatus", "o_orderpriority")
      .orderBy(col("x"), col("y"))

  // full R-by-C spine: empty cells pay their expected-count term
  query("q425_cramers_v", q425)(Sql(
    """WITH c AS (SELECT CAST(o_orderstatus AS VARCHAR) AS x, CAST(o_orderpriority AS VARCHAR) AS y, CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2), sp AS (SELECT dx.x, dy.y, CAST(COALESCE(c.o, 0) AS BIGINT) AS o FROM (SELECT DISTINCT x FROM c) dx CROSS JOIN (SELECT DISTINCT y FROM c) dy LEFT JOIN c USING (x, y)), t AS (SELECT x, y, o, CAST(SUM(o) OVER () AS BIGINT) AS n, CAST(SUM(o) OVER (PARTITION BY x) AS BIGINT) AS rx, CAST(SUM(o) OVER (PARTITION BY y) AS BIGINT) AS cy, CAST((SELECT COUNT(DISTINCT x) FROM c) AS BIGINT) AS nx, CAST((SELECT COUNT(DISTINCT y) FROM c) AS BIGINT) AS ny FROM sp), g AS (SELECT *, CAST(round(CAST(CAST(o AS DECIMAL(38,0)) * n - CAST(rx AS DECIMAL(38,0)) * cy AS DOUBLE) * CAST(CAST(o AS DECIMAL(38,0)) * n - CAST(rx AS DECIMAL(38,0)) * cy AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)), 9) AS DECIMAL(18,9)) AS term FROM t), s AS (SELECT SUM(term) AS ts FROM g) SELECT x, y, o, rx, cy, round(CAST(s.ts AS DOUBLE), 6) AS chi2, round(sqrt(CAST(s.ts AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(least(nx, ny) - 1 AS DOUBLE))), 6) AS cramers_v FROM g, s ORDER BY x, y"""))

  /** Spend-concentration report
    * ([[graft.operators.Relational.concentration]]): Gini, HHI and CR4
    * of per-customer spend within each nation — the inequality figures
    * beside q411's Theil decomposition; Gini's rank term from doubled
    * census ranks (pure integers), HHI/CR4 exact, one pinned division
    * each.
    */
  private def q436(s: SparkSession, dir: String): DataFrame = {
    val spend = T(s, dir, "orders").join(T(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(expr(
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)")
        .as("cents"))
    graft.operators.Relational.concentration(spend, "c_nationkey", "cents")
      .orderBy(col("g"))
  }

  // doubled census ranks make Σ rank·x exact with ties; top-4 SUM is
  // tie-invariant (equal values); string group keys on both sides
  query("q436_concentration", q436)(Sql(
    """WITH sp AS (SELECT CAST(c_nationkey AS VARCHAR) AS g, c_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), cen AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS t FROM sp GROUP BY 1, 2), rk AS (SELECT g, x, t, CAST(2 * SUM(t) OVER (PARTITION BY g ORDER BY x ROWS UNBOUNDED PRECEDING) - t + 1 AS BIGINT) AS r2 FROM cen), ag AS (SELECT g, CAST(SUM(t) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0)) * t) AS s, SUM(CAST(x AS DECIMAL(38,0)) * x * t) AS sxx, SUM(CAST(t AS DECIMAL(38,0)) * r2 * x) AS rx FROM rk GROUP BY g), tp AS (SELECT g, SUM(CAST(x AS DECIMAL(38,0))) AS top4 FROM (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn FROM sp) q WHERE rn <= 4 GROUP BY g) SELECT ag.g, ag.n, CAST(ag.s AS BIGINT) AS total, round(CASE WHEN ag.s <> 0 THEN (CAST(rx AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) END, 6) AS gini, round(CASE WHEN ag.s <> 0 THEN CAST(sxx AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) END, 6) AS hhi, round(CASE WHEN ag.s <> 0 THEN CAST(COALESCE(tp.top4, 0) AS DOUBLE) / CAST(s AS DOUBLE) END, 6) AS cr4 FROM ag LEFT JOIN tp ON ag.g = tp.g ORDER BY ag.g"""))

  /** Skewness / excess kurtosis ([[graft.operators.Relational.skewKurtosis]]):
    * per-priority Fisher g1 and excess g2 over order cents — the shape
    * moments that decide whether q83's mean±stddev summary is even
    * meaningful; exact DECIMAL(38,0) power sums, one pinned finish
    * (m2·√m2, never libm pow).
    */
  private def q476(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.skewKurtosis(
      T(s, dir, "orders").select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents")),
      "o_orderpriority", "cents")
      .orderBy(col("g"))

  // exact DECIMAL(38,0) power sums; pinned central-moment finish
  // (m2·sqrt(m2), not pow — libm pow is not cross-engine)
  query("q476_skew_kurtosis", q476)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(v AS DECIMAL(38,0))) AS s1, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS s2, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS s3, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS s4 FROM e GROUP BY g HAVING COUNT(*) >= 2), f AS (SELECT g, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean, CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2, CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3, CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4 FROM a), m AS (SELECT g, n, mean, r2 - mean * mean AS m2, r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3, r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 - 3.0 * mean * mean * mean * mean AS m4 FROM f) SELECT g, n, round(mean, 6) AS mean, round(CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) END, 6) AS skew_g1, round(CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) - 3.0 END, 6) AS kurt_g2 FROM m ORDER BY g"""))

  /** Two-sample Anderson–Darling ([[graft.operators.Relational.andersonDarling]]):
    * purchase-funnel value distributions view vs click, tail-weighted —
    * completes the two-sample family (q385 KS supremum, q470 CvM
    * integral, q393 energy distance) with the member that catches tail
    * divergence first.
    */
  private def q478(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.andersonDarling(
      T(s, dir, "events").filter(col("event_type").isin("view", "click"))
        .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("cents"),
          (col("event_type") === "view").as("isa")),
      "cents", col("isa"))

  // q470's census numerator, tail weight 1/(c·(N−c)), last block out
  query("q478_anderson_darling", q478)(Sql(
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, event_type = 'view' AS isa FROM events WHERE event_type IN ('view', 'click')), cen AS (SELECT v, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ta, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS tb FROM e GROUP BY v), rk AS (SELECT *, CAST(SUM(ta) OVER w AS BIGINT) AS ca, CAST(SUM(tb) OVER w AS BIGINT) AS cb, CAST(SUM(ta) OVER () AS BIGINT) AS na, CAST(SUM(tb) OVER () AS BIGINT) AS nb FROM cen WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)), dd AS (SELECT *, ca + cb AS c, na + nb AS nn, CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na AS d FROM rk), tm AS (SELECT na, nb, CAST(round(CAST(ta + tb AS DOUBLE) * CAST(d * d AS DOUBLE) / (CAST(c AS DOUBLE) * CAST(nn - c AS DOUBLE)), 9) AS DECIMAL(28,9)) AS term FROM dd WHERE c < nn), ag AS (SELECT MAX(na) AS n_a, MAX(nb) AS n_b, SUM(term) AS u FROM tm) SELECT n_a, n_b, round(CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(u AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END, 6) AS ad_a2 FROM ag"""))

  /** Partial correlation ([[graft.operators.Relational.partialCorr]]):
    * order total vs line count with quantity partialled out — the
    * confounder screen over q457's raw correlations; one exact-moment
    * pass, grid-rounded pairwise r's, pinned partial formula.
    */
  private def q495(s: SparkSession, dir: String): DataFrame = {
    val per = T(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("x"),
        count(lit(1)).as("y"),
        sum(floor(col("l_quantity")).cast("long")).as("z"))
    graft.operators.Relational.partialCorr(per, "x", "y", "z")
  }

  // one exact DECIMAL(38,0) moment pass, grid-rounded pairwise r's,
  // pinned partial formula over the grid values
  query("q495_partial_corr", q495)(Sql(
    """WITH per AS (SELECT l_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x, COUNT(*) AS y, CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS z FROM lineitem GROUP BY 1), ag AS (SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(z AS DECIMAL(38,0))) AS sz, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy, SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS szz, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS sxz, SUM(CAST(y AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS syz FROM per), rr AS (SELECT CAST(n AS BIGINT) AS n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS r_xy, round((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 9) AS r_xz, round((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 9) AS r_yz FROM ag) SELECT n, r_xy, r_xz, r_yz, CASE WHEN (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0.0 THEN round((r_xy - r_xz * r_yz) / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 6) END AS r_xy_given_z FROM rr"""))

  /** Curve knee ([[graft.operators.Relational.curveKnee]]): the elbow of
    * the cumulative-revenue-vs-rank curve — how many top customers
    * before diminishing returns, the cut q339's ABC classes eyeball; the
    * chord-distance argmax reduces to an exact integer cross-product.
    */
  private def q507(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "orders").groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val order = Seq(col("cents").desc, col("o_custkey"))
    val ranked = graft.operators.GlobalOrder.rowNumbers(rev, order, idCol = "x")
    val summed = graft.operators.GlobalOrder.prefixSums(
      rev, order, "cents", outCol = "y")
    val curve = ranked.select(col("o_custkey").as("ck"), col("x"))
      .join(summed.select(col("o_custkey"), col("y")),
        col("ck") === col("o_custkey"))
    graft.operators.Relational.curveKnee(curve, "x", "y")
  }

  // exact-integer chord cross-product argmax over the rank/cumsum curve
  query("q507_curve_knee", q507)(Sql(
    """WITH rev AS (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents FROM orders GROUP BY 1), r AS (SELECT o_custkey, cents, CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS x, CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS y FROM rev), e AS (SELECT MIN(x) AS x1, arg_min(y, x) AS y1, MAX(x) AS xn, arg_max(y, x) AS yn FROM r), d AS (SELECT x, y, abs((CAST(yn AS DECIMAL(38,0)) - CAST(y1 AS DECIMAL(38,0))) * (CAST(x AS DECIMAL(38,0)) - CAST(x1 AS DECIMAL(38,0))) - (CAST(xn AS DECIMAL(38,0)) - CAST(x1 AS DECIMAL(38,0))) * (CAST(y AS DECIMAL(38,0)) - CAST(y1 AS DECIMAL(38,0)))) AS dist FROM r, e), k AS (SELECT x, y, dist, ROW_NUMBER() OVER (ORDER BY dist DESC, x) AS rk FROM d) SELECT (SELECT COUNT(*) FROM r) AS n_points, (SELECT MIN(x) FROM r) AS x_lo, (SELECT MAX(x) FROM r) AS x_hi, x AS knee_x, y AS knee_y, CAST(dist AS DOUBLE) AS chord_cross FROM k WHERE rk = 1"""))

  /** Goodman–Kruskal gamma + Somers' D
    * ([[graft.operators.Relational.gkGamma]]): does order priority
    * order order value — the tie-aware ordinal pair beside q424's
    * tau-b, on the priority-ordinal × price-bucket census.
    */
  private def q566(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.gkGamma(
      T(s, dir, "orders").select(
        substring(col("o_orderpriority"), 1, 1).cast("long").as("pri"),
        when(col("o_totalprice") < 50000, 0L)
          .when(col("o_totalprice") < 150000, 1L)
          .when(col("o_totalprice") < 300000, 2L).otherwise(3L)
          .as("bucket")),
      "pri", "bucket")

  // tau-b's census grid, tie masses carried doubled so /2 stays exact
  query("q566_gk_gamma", q566)(Sql(
    """WITH src AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x, CASE WHEN o_totalprice < 50000 THEN 0 WHEN o_totalprice < 150000 THEN 1 WHEN o_totalprice < 300000 THEN 2 ELSE 3 END AS y FROM orders), cen AS (SELECT x, y, COUNT(*) AS c FROM src GROUP BY 1, 2), cd AS (SELECT SUM(CAST(a.c AS HUGEINT) * CAST(CASE WHEN b.y > a.y THEN b.c ELSE 0 END AS HUGEINT)) AS cc, SUM(CAST(a.c AS HUGEINT) * CAST(CASE WHEN b.y < a.y THEN b.c ELSE 0 END AS HUGEINT)) AS dd FROM cen a JOIN cen b ON b.x > a.x AND b.y <> a.y), m AS (SELECT CAST(SUM(c) AS HUGEINT) AS n, SUM(CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) - 1)) AS tb2 FROM cen), tx AS (SELECT SUM(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1)) AS tx2 FROM (SELECT SUM(c) AS t FROM cen GROUP BY x)), ty AS (SELECT SUM(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1)) AS ty2 FROM (SELECT SUM(c) AS t FROM cen GROUP BY y)), f AS (SELECT CAST(n AS BIGINT) AS n, CAST(cc AS BIGINT) AS concordant, CAST(dd AS BIGINT) AS discordant, CAST((tx2 - tb2) // 2 AS BIGINT) AS tied_x_only, CAST((ty2 - tb2) // 2 AS BIGINT) AS tied_y_only, CAST(tb2 // 2 AS BIGINT) AS tied_both FROM cd, m, tx, ty) SELECT *, CASE WHEN concordant + discordant > 0 THEN round(CAST(concordant - discordant AS DOUBLE) / (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)), 6) END AS gamma, CASE WHEN concordant + discordant + tied_y_only > 0 THEN round(CAST(concordant - discordant AS DOUBLE) / (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE) + CAST(tied_y_only AS DOUBLE)), 6) END AS somers_d_yx, CASE WHEN concordant + discordant + tied_x_only > 0 THEN round(CAST(concordant - discordant AS DOUBLE) / (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE) + CAST(tied_x_only AS DOUBLE)), 6) END AS somers_d_xy FROM f"""))

  /** Price indices ([[graft.operators.Relational.priceIndices]]):
    * Laspeyres/Paasche/Fisher between 1996 and 1997 over the matched
    * part basket — unit values from exact cents/qty sums.
    */
  private def q594(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.priceIndices(
      T(s, dir, "lineitem").select(col("l_partkey"),
        year(col("l_shipdate")).as("yr"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
        col("l_quantity").cast("long").as("q")),
      col("l_partkey"), col("yr"), col("cents"), col("q"),
      basePeriod = 1996L, curPeriod = 1997L)

  // matched-item unit values, cross terms pinned at 1e-9
  query("q594_price_indices", q594)(Sql(
    """WITH l AS (SELECT l_partkey AS item, CAST(year(l_shipdate) AS BIGINT) AS p, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, CAST(l_quantity AS BIGINT) AS q FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)), cen AS (SELECT item, p, CAST(SUM(cents) AS BIGINT) AS v, CAST(SUM(q) AS BIGINT) AS q FROM l GROUP BY 1, 2), b AS (SELECT item, v AS v0, q AS q0 FROM cen WHERE p = 1996), c AS (SELECT item, v AS v1, q AS q1 FROM cen WHERE p = 1997), m AS (SELECT b.item, v0, q0, v1, q1 FROM b JOIN c USING (item) WHERE q0 > 0 AND q1 > 0), a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matched, SUM(CAST(round((CAST(v1 AS DOUBLE) / CAST(q1 AS DOUBLE)) * CAST(q0 AS DOUBLE), 9) AS DECIMAL(28,9))) AS l_num, SUM(CAST(round((CAST(v0 AS DOUBLE) / CAST(q0 AS DOUBLE)) * CAST(q0 AS DOUBLE), 9) AS DECIMAL(28,9))) AS l_den, SUM(CAST(round((CAST(v1 AS DOUBLE) / CAST(q1 AS DOUBLE)) * CAST(q1 AS DOUBLE), 9) AS DECIMAL(28,9))) AS p_num, SUM(CAST(round((CAST(v0 AS DOUBLE) / CAST(q0 AS DOUBLE)) * CAST(q1 AS DOUBLE), 9) AS DECIMAL(28,9))) AS p_den FROM m), un AS (SELECT CAST(SUM(CASE WHEN v0 IS NULL OR v1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched FROM b FULL JOIN c USING (item)) SELECT n_matched, n_unmatched, CASE WHEN CAST(l_den AS DOUBLE) > 0.0 THEN round(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 6) END AS laspeyres, CASE WHEN CAST(p_den AS DOUBLE) > 0.0 THEN round(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6) END AS paasche, CASE WHEN CAST(l_den AS DOUBLE) > 0.0 AND CAST(p_den AS DOUBLE) > 0.0 THEN round(sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE)) * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))), 6) END AS fisher FROM a, un"""))

  /** G-test ([[graft.operators.Relational.gTest]]): the
    * likelihood-ratio twin of q128's χ² on status × priority —
    * additive across drill-downs, and 2n·MI in nats tying it to q256.
    */
  private def q598(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.gTest(
      T(s, dir, "orders"), "o_orderstatus", "o_orderpriority")

  // O·ln(O·n/(r·c)) over exact integers — E never materializes
  query("q598_g_test", q598)(Sql(
    """WITH cen AS (SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS o FROM orders GROUP BY 1, 2), t AS (SELECT x, y, o, SUM(o) OVER (PARTITION BY x) AS rt, SUM(o) OVER (PARTITION BY y) AS ct, SUM(o) OVER () AS n FROM cen), d AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS nx, CAST(COUNT(DISTINCT y) AS BIGINT) AS ny FROM cen), f AS (SELECT CAST(MAX(n) AS BIGINT) AS n, SUM(CAST(round(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))), 9) AS DECIMAL(28,9))) AS gs FROM t) SELECT n, (nx - 1) * (ny - 1) AS df, round(2.0 * CAST(gs AS DOUBLE), 6) AS g_stat, round(CAST(gs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mi_nats FROM f, d"""))

  /** Haberman adjusted residuals
    * ([[graft.operators.Relational.adjustedResiduals]]): WHICH
    * status × priority cells carry the dependence the total χ² flags.
    */
  private def q599(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.adjustedResiduals(
      T(s, dir, "orders"), "o_orderstatus", "o_orderpriority")

  // full spine; the Haberman denominator e(1−r/n)(1−c/n)
  query("q599_adjusted_residuals", q599)(Sql(
    """WITH cen AS (SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS o FROM orders GROUP BY 1, 2), sp AS (SELECT a.x, b.y FROM (SELECT DISTINCT x FROM cen) a CROSS JOIN (SELECT DISTINCT y FROM cen) b), g AS (SELECT sp.x, sp.y, COALESCE(cen.o, 0) AS o FROM sp LEFT JOIN cen ON cen.x = sp.x AND cen.y = sp.y), t AS (SELECT x, y, o, SUM(o) OVER (PARTITION BY x) AS rt, SUM(o) OVER (PARTITION BY y) AS ct, SUM(o) OVER () AS n FROM g), f AS (SELECT x, y, CAST(o AS BIGINT) AS o, CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e, (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(rt AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) AS dn FROM t) SELECT x, y, o, round(e, 6) AS expected, CASE WHEN e > 0.0 THEN round((CAST(o AS DOUBLE) - e) / sqrt(e), 6) END AS std_resid, CASE WHEN dn > 0.0 THEN round((CAST(o AS DOUBLE) - e) / sqrt(dn), 6) END AS adj_resid, CASE WHEN dn > 0.0 THEN (abs((CAST(o AS DOUBLE) - e) / sqrt(dn)) > 2.0) END AS notable FROM f ORDER BY x, y"""))

  /** Jarque–Bera ([[graft.operators.Relational.jarqueBera]]): the
    * normality VERDICT over q476's exact power sums — the gate before
    * any ±kσ rule is trusted on price by priority.
    */
  private def q607(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.jarqueBera(
      T(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "o_orderpriority", "cents").orderBy(col("g"))

  // q476's power sums, the one chi-square readout
  query("q607_jarque_bera", q607)(Sql(
    """WITH v AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c FROM orders), a AS (SELECT g, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2, SUM(c * c * c) AS s3, SUM(c * c * c * c) AS s4 FROM v GROUP BY 1 HAVING COUNT(*) >= 4), f AS (SELECT g, CAST(n AS BIGINT) AS n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean, CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2, CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3, CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4 FROM a), m AS (SELECT g, n, r2 - mean * mean AS m2, r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3, r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 - 3.0 * mean * mean * mean * mean AS m4 FROM f), j AS (SELECT g, n, m2, m3 / (m2 * sqrt(m2)) AS g1, m4 / (m2 * m2) - 3.0 AS g2 FROM m) SELECT g, n, CASE WHEN m2 > 0.0 THEN round(g1, 6) END AS skew_g1, CASE WHEN m2 > 0.0 THEN round(g2, 6) END AS kurt_g2, CASE WHEN m2 > 0.0 THEN round(CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6) END AS jarque_bera FROM j ORDER BY g"""))

  /** Lorenz deciles ([[graft.operators.Relational.lorenzCurve]]): the
    * bottom-d/10 value shares per priority — the distribution TABLE
    * q436's Gini scalar summarizes.
    */
  private def q626(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.lorenzCurve(
      T(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "o_orderpriority", "cents")

  // value census + cumulative windows; the straddling tie group
  // apportions x·(k−c) exactly — integer decile cuts end to end
  query("q626_lorenz_curve", q626)(Sql(
    """WITH v AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x FROM orders), cen AS (SELECT g, x, COUNT(*) AS t FROM v GROUP BY 1, 2), rk AS (SELECT g, x, CAST(t AS BIGINT) AS t, CAST(SUM(t) OVER w AS BIGINT) AS c, CAST(SUM(CAST(x AS DECIMAL(38,0)) * t) OVER w AS DECIMAL(38,0)) AS s FROM cen WINDOW w AS (PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), tot AS (SELECT g, MAX(c) AS n, MAX(s) AS stot FROM rk GROUP BY 1), sp AS (SELECT g, n, stot, CAST(unnest(range(1, 11)) AS BIGINT) AS d FROM tot), sp2 AS (SELECT g, n, stot, d, (n * d) // 10 AS k FROM sp), hit AS (SELECT sp2.g, sp2.d, sp2.n, sp2.stot, sp2.k, rk.s + CAST(rk.x AS DECIMAL(38,0)) * (sp2.k - rk.c) AS cumv FROM sp2 JOIN rk ON rk.g = sp2.g AND rk.c - rk.t < sp2.k AND sp2.k <= rk.c WHERE sp2.k > 0 UNION ALL SELECT g, d, n, stot, k, CAST(0 AS DECIMAL(38,0)) FROM sp2 WHERE k = 0) SELECT g, d AS decile, n AS n_units, k AS k_units, CAST(cumv AS BIGINT) AS cum_value, round(CAST(d AS DOUBLE) / 10.0, 6) AS pop_share, CASE WHEN stot <> 0 THEN round(CAST(cumv AS DOUBLE) / CAST(stot AS DOUBLE), 6) END AS value_share FROM hit ORDER BY g, decile"""))

  /** Concurrency sweep + Little's law
    * ([[graft.operators.Relational.concurrencySweep]]): average and
    * PEAK concurrent active users over per-user lifespans, with
    * L = λW emitted from both sides.
    */
  private def q635(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.concurrencySweep(
      T(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000").as("sec"))
        .groupBy(col("user_id"))
        .agg(min(col("sec")).as("s"), (max(col("sec")) + 1L).as("e")),
      "s", "e")

  // per-user lifespans, boundary census + one cumulative window over
  // the boundary domain, both Little's-law sides emitted
  query("q635_concurrency", q635)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec FROM events), iv AS (SELECT user_id, MIN(sec) AS s, MAX(sec) + 1 AS e FROM e GROUP BY 1), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(s) AS lo, MAX(e) AS hi, SUM(CAST(e - s AS DECIMAL(38,0))) AS busy FROM iv), bd AS (SELECT s AS sec, 1 AS d FROM iv UNION ALL SELECT e, -1 FROM iv), net AS (SELECT sec, CAST(SUM(d) AS BIGINT) AS net FROM bd GROUP BY 1), cumq AS (SELECT sec, CAST(SUM(net) OVER (ORDER BY sec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c FROM net), pk AS (SELECT c AS peak, sec AS peak_sec FROM cumq ORDER BY c DESC, sec ASC LIMIT 1) SELECT n, hi - lo AS span_sec, CAST(busy AS BIGINT) AS busy_sec, CASE WHEN hi > lo AND n > 0 THEN round(CAST(n AS DOUBLE) / CAST(hi - lo AS DOUBLE), 9) END AS lambda, CASE WHEN hi > lo AND n > 0 THEN round(CAST(busy AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS w_avg, CASE WHEN hi > lo AND n > 0 THEN round(CAST(busy AS DOUBLE) / CAST(hi - lo AS DOUBLE), 6) END AS l_avg, CASE WHEN hi > lo AND n > 0 THEN round(CAST(n AS DOUBLE) / CAST(hi - lo AS DOUBLE) * (CAST(busy AS DOUBLE) / CAST(n AS DOUBLE)), 6) END AS l_littles, peak, peak_sec FROM tot, pk"""))

  /** LTV curves ([[graft.operators.Relational.ltvCurve]]): cumulative
    * revenue per customer by account-age week per first-order-year
    * cohort — the value-weighted complement to q72's retention.
    */
  private def q642(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.ltvCurve(
      T(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "o_custkey", "o_orderdate", "cents")

  // first-order anchoring, integer week ages, one cumulative window
  // per cohort, a pinned per-customer division
  query("q642_ltv_curve", q642)(Sql(
    """WITH o0 AS (SELECT o_custkey AS u, o_orderdate AS d, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), fw AS (SELECT u, MIN(d) OVER (PARTITION BY u) AS f, d, v FROM o0), bs AS (SELECT u, CAST(year(f) AS BIGINT) AS cohort, CAST(datediff('day', f, d) AS BIGINT) // 7 AS age_week, v FROM fw), cen AS (SELECT cohort, age_week, CAST(COUNT(DISTINCT u) AS BIGINT) AS act, SUM(CAST(v AS DECIMAL(38,0))) AS rev FROM bs GROUP BY 1, 2), sz AS (SELECT cohort, CAST(COUNT(DISTINCT u) AS BIGINT) AS sz FROM bs GROUP BY 1), cm AS (SELECT cohort, age_week, act, rev, SUM(rev) OVER (PARTITION BY cohort ORDER BY age_week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cen) SELECT cm.cohort AS cohort, age_week, act AS n_active, CAST(rev AS BIGINT) AS revenue_cents, CAST(cum AS BIGINT) AS cum_revenue_cents, sz.sz AS cohort_size, CASE WHEN sz.sz > 0 THEN round(CAST(cum AS DOUBLE) / CAST(sz.sz AS DOUBLE), 6) END AS ltv_cents FROM cm JOIN sz ON cm.cohort = sz.cohort ORDER BY cm.cohort, age_week"""))

  /** Join-cardinality audit
    * ([[graft.operators.Relational.joinCardinalityAudit]]): the exact
    * pre-flight for the per-user self-join shape — output rows, the
    * amplification factor and the fan-out keys, from the key censuses
    * alone.
    */
  private def q643(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"))
    graft.operators.Relational.joinCardinalityAudit(ev, ev,
      "user_id", "user_id")
  }

  // two key censuses, exact DECIMAL38 per-key products, the top
  // fan-out keys with totals broadcast
  query("q643_join_audit", q643)(Sql(
    """WITH c AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS nl FROM events GROUP BY 1), p AS (SELECT k, nl, nl AS nr, CAST(nl AS DECIMAL(38,0)) * CAST(nl AS DECIMAL(38,0)) AS outr FROM c), t AS (SELECT (SELECT SUM(outr) FROM p) AS total_out, (SELECT SUM(CAST(nl AS DECIMAL(38,0))) FROM c) AS tl, (SELECT SUM(CAST(nl AS DECIMAL(38,0))) FROM c) AS tr, (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_keys), r AS (SELECT k, nl, nr, outr, CAST(ROW_NUMBER() OVER (ORDER BY outr DESC, k) AS BIGINT) AS rk FROM p) SELECT rk AS rank, CAST(k AS VARCHAR) AS key, nl AS n_left, nr AS n_right, CAST(outr AS BIGINT) AS out_rows, CAST(total_out AS BIGINT) AS total_out_rows, n_keys AS n_matched_keys, CASE WHEN greatest(tl, tr) <> 0 THEN round(CAST(total_out AS DOUBLE) / CAST(greatest(tl, tr) AS DOUBLE), 6) END AS amplification, CASE WHEN total_out <> 0 THEN round(CAST(outr AS DOUBLE) / CAST(total_out AS DOUBLE), 6) END AS share_of_out FROM r, t WHERE rk <= 5 ORDER BY rank"""))

  /** Skyline ([[graft.operators.Relational.skyline]]): the Pareto
    * frontier of cheap-AND-popular parts — non-dominated under
    * (minimize price, maximize quantity sold).
    */
  private def q654(s: SparkSession, dir: String): DataFrame = {
    val qty = T(s, dir, "lineitem").groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    graft.operators.Relational.skyline(
      T(s, dir, "part").join(qty, col("p_partkey") === col("l_partkey"))
        .select(col("p_partkey"),
          (col("p_retailprice").cast(DecimalType(12, 2)) * 100)
            .cast("long").as("cents"), col("qty")),
      "p_partkey", col("cents"), col("qty"))
  }

  // cell census, per-x best, one strict-dominance sweep over the
  // distinct-x domain
  query("q654_skyline", q654)(Sql(
    """WITH q AS (SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY 1), f AS (SELECT p_partkey AS id, CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, qty AS y FROM part JOIN q ON p_partkey = l_partkey), cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_members, MIN(id) AS exemplar FROM f GROUP BY 1, 2), bx AS (SELECT x, y, n_members, exemplar FROM (SELECT c.*, MAX(y) OVER (PARTITION BY x) AS ymax FROM cells c) WHERE y = ymax), sw AS (SELECT x, y, n_members, exemplar, MAX(y) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bc FROM bx) SELECT x, y, n_members, exemplar FROM sw WHERE bc IS NULL OR y > bc ORDER BY x"""))

  /** Fixed effects ([[graft.operators.Relational.fixedEffects]]): the
    * within-user effect of night hours on erroring — immune to
    * everything constant about the user, with the confounded pooled
    * slope beside it.
    */
  private def q655(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.fixedEffects(
      T(s, dir, "events").select(col("user_id"),
        expr("CAST(ts div 1000000000 div 3600 % 24 < 6 AS LONG)")
          .as("x"),
        (col("event_type") === "error").cast("long").as("y")),
      col("user_id"), col("x"), col("y"))

  // per-unit exact moments, pinned within-contributions summed as
  // decimals, the pooled slope beside the within slope
  query("q655_fixed_effects", q655)(Sql(
    """WITH e AS (SELECT user_id AS u, CASE WHEN epoch_ns(ts) // 1000000000 // 3600 % 24 < 6 THEN 1 ELSE 0 END AS x, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y FROM events), per AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS ni, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy FROM e GROUP BY 1), w AS (SELECT ni, sx, sy, sxy, sxx, syy, CAST(round(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(ni AS DOUBLE), 9) AS DECIMAL(28,9)) AS wxy, CAST(round(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(ni AS DOUBLE), 9) AS DECIMAL(28,9)) AS wxx, CAST(round(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(ni AS DOUBLE), 9) AS DECIMAL(28,9)) AS wyy FROM per), f AS (SELECT CAST(SUM(ni) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k, SUM(wxy) AS wxy, SUM(wxx) AS wxx, SUM(wyy) AS wyy, SUM(sx) AS tsx, SUM(sy) AS tsy, SUM(sxy) AS tsxy, SUM(sxx) AS tsxx FROM w), g AS (SELECT *, CAST(wxy AS DOUBLE) / CAST(wxx AS DOUBLE) AS beta, CAST(wyy AS DOUBLE) - CAST(wxy AS DOUBLE) * CAST(wxy AS DOUBLE) / CAST(wxx AS DOUBLE) AS sse, CAST(n AS DOUBLE) - CAST(k AS DOUBLE) - 1.0 AS dfree FROM f), h AS (SELECT *, sse / dfree / CAST(wxx AS DOUBLE) AS varb, CAST(n AS DOUBLE) * CAST(tsxx AS DOUBLE) - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE) AS cxxp, CAST(n AS DOUBLE) * CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE) * CAST(tsy AS DOUBLE) AS cxyp FROM g) SELECT n, k AS k_units, CASE WHEN CAST(wxx AS DOUBLE) > 0.0 AND sse > 0.0 AND dfree > 0.0 THEN round(beta, 6) END AS beta_within, CASE WHEN CAST(wxx AS DOUBLE) > 0.0 AND sse > 0.0 AND dfree > 0.0 THEN round(sqrt(varb), 6) END AS se_within, CASE WHEN CAST(wxx AS DOUBLE) > 0.0 AND sse > 0.0 AND dfree > 0.0 THEN round(beta / sqrt(varb), 6) END AS t_within, CASE WHEN cxxp > 0.0 THEN round(cxyp / cxxp, 6) END AS beta_pooled FROM h"""))

  /** Oaxaca–Blinder ([[graft.operators.Relational.oaxacaBlinder]]):
    * how much of the BUILDING-vs-MACHINERY spend gap is balance
    * composition vs different returns on the same balance.
    */
  private def q656(s: SparkSession, dir: String): DataFrame = {
    val spend = T(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("sp"))
    graft.operators.Relational.oaxacaBlinder(
      T(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select((col("c_mktsegment") === "BUILDING").as("isa"),
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
            .cast("long").as("x"),
          coalesce(col("sp"), lit(0L)).as("y")),
      col("isa"), col("x"), col("y"))
  }

  // per-group fits, the gap split priced at B's coefficients, parts
  // summing to the gap by construction
  query("q656_oaxaca", q656)(Sql(
    """WITH spend AS (SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sp FROM orders GROUP BY 1), c AS (SELECT c_mktsegment = 'BUILDING' AS isa, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, COALESCE(sp, 0) AS y FROM customer LEFT JOIN spend ON c_custkey = o_custkey WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), mom AS (SELECT isa, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx FROM c GROUP BY 1 HAVING COUNT(*) >= 3), ft AS (SELECT isa, n, CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0 THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) END AS beta, round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS xbar, round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS ybar FROM mom), a AS (SELECT n AS n_a, beta AS beta_a, xbar AS xbar_a, ybar AS ybar_a FROM ft WHERE isa), b AS (SELECT n AS n_b, beta AS beta_b, xbar AS xbar_b, ybar AS ybar_b FROM ft WHERE NOT isa) SELECT n_a, n_b, round(beta_a, 6) AS beta_a, round(beta_b, 6) AS beta_b, round(ybar_a - ybar_b, 6) AS gap, CASE WHEN beta_a IS NOT NULL AND beta_b IS NOT NULL THEN round((xbar_a - xbar_b) * beta_b, 6) END AS explained, CASE WHEN beta_a IS NOT NULL AND beta_b IS NOT NULL THEN round(ybar_a - ybar_b - (xbar_a - xbar_b) * beta_b, 6) END AS unexplained, CASE WHEN beta_a IS NOT NULL AND beta_b IS NOT NULL AND abs(ybar_a - ybar_b) > 0.0 THEN round((xbar_a - xbar_b) * beta_b / (ybar_a - ybar_b), 6) END AS share_explained FROM a, b"""))

  /** Newsvendor stock level ([[graft.operators.Relational.newsvendor]]):
    * per-part order quantity at the cu=3/co=1 critical fractile over
    * per-line demanded quantities, with expected underage/overage/cost
    * at the optimum — the PRESCRIPTION beside q670/q463's demand
    * descriptions.
    */
  private def q678(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.newsvendor(
      T(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity").cast("long").as("qty")),
      "l_partkey", "qty", underageCost = 3.0, overageCost = 1.0)

  // demand census, cumulative windows, fractile row pick, exact
  // prefix-sum expectations
  query("q678_newsvendor", q678)(Sql(
    """WITH cen AS (SELECT l_partkey AS k, CAST(l_quantity AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), cw AS (SELECT k, d, c, CAST(SUM(c) OVER (PARTITION BY k ORDER BY d) AS BIGINT) AS cum, CAST(SUM(c * d) OVER (PARTITION BY k ORDER BY d) AS BIGINT) AS cumv, CAST(SUM(c) OVER (PARTITION BY k) AS BIGINT) AS n, CAST(SUM(c * d) OVER (PARTITION BY k) AS BIGINT) AS totv FROM cen), flt AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) AS rn FROM cw WHERE CAST(cum AS DOUBLE) >= 0.75 * CAST(n AS DOUBLE)) SELECT k AS l_partkey, n, d AS q_star, round(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS service_level, round((CAST(totv - cumv AS DOUBLE) - CAST(d AS DOUBLE) * CAST(n - cum AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS exp_underage, round((CAST(d AS DOUBLE) * CAST(cum AS DOUBLE) - CAST(cumv AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS exp_overage, round(3.0 * ((CAST(totv - cumv AS DOUBLE) - CAST(d AS DOUBLE) * CAST(n - cum AS DOUBLE)) / CAST(n AS DOUBLE)) + 1.0 * ((CAST(d AS DOUBLE) * CAST(cum AS DOUBLE) - CAST(cumv AS DOUBLE)) / CAST(n AS DOUBLE)), 6) AS exp_cost FROM flt WHERE rn = 1 ORDER BY l_partkey"""))

  /** Atkinson inequality ([[graft.operators.Relational.atkinsonIndex]]):
    * the welfare-reading inequality number (1 − geomean/mean) on
    * positive customer balances per nation, beside q338's rank-based
    * Gini and q411's entropy-based Theil; negative balances counted,
    * not silently dropped.
    */
  private def q679(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.atkinsonIndex(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents")),
      "n_name", "cents")

  // positive-mass census, pinned-ln geometric mean, one pinned exp
  query("q679_atkinson", q679)(Sql(
    """WITH c AS (SELECT n_name AS k, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v FROM customer JOIN nation ON c_nationkey = n_nationkey), g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np, CAST(SUM(CASE WHEN v > 0 THEN v ELSE 0 END) AS BIGINT) AS sv, SUM(CAST(CASE WHEN v > 0 THEN round(ln(CAST(v AS DOUBLE)), 9) ELSE 0.0 END AS DECIMAL(28,12))) AS sl FROM c GROUP BY 1) SELECT k AS n_name, n, np AS n_pos, CASE WHEN np >= 1 THEN round(CAST(sv AS DOUBLE) / CAST(np AS DOUBLE), 6) END AS mean, CASE WHEN np >= 1 AND CAST(sv AS DOUBLE) / CAST(np AS DOUBLE) > 0.0 THEN round(1.0 - exp(round(CAST(sl AS DOUBLE) / CAST(np AS DOUBLE), 9)) / (CAST(sv AS DOUBLE) / CAST(np AS DOUBLE)), 6) + 0.0 END AS atkinson FROM g ORDER BY n_name"""))

  /** Erlang-C staffing ([[graft.operators.Relational.erlangStaffing]]):
    * per-type server counts meeting a 20% wait-probability target at a
    * 5-minute handle time, from the dense hourly arrival census — the
    * queueing prescription beside q14's volumes and q636's concurrency.
    */
  private def q682(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.erlangStaffing(
      hourlySpineDense(s, dir), "event_type", "n",
      serviceTimeSec = 300.0, targetWait = 0.2)

  // dense spine load, closed-form Erlang-B prefix sums over the
  // k-explode, pinned wait probabilities, min passing server count
  query("q682_erlang_staffing", q682)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid FROM events), b AS (SELECT MIN(hid) AS lo, MAX(hid) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hid), ty AS (SELECT DISTINCT k FROM h), cen AS (SELECT k, hid, CAST(COUNT(*) AS BIGINT) AS v FROM h GROUP BY 1, 2), fr AS MATERIALIZED (SELECT ty.k, sp.hid AS bb, COALESCE(cen.v, 0) AS v FROM ty CROSS JOIN sp LEFT JOIN cen ON cen.k = ty.k AND cen.hid = sp.hid), ld AS MATERIALIZED (SELECT k, CAST(COUNT(*) AS BIGINT) AS hours, round(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * (300.0 / 3600.0), 9) AS a FROM fr GROUP BY 1), tm AS (SELECT k, hours, a, CAST(unnest(range(0, 41)) AS BIGINT) AS kk FROM ld WHERE a > 0.0), lk AS (SELECT k, hours, a, kk, CASE WHEN kk = 0 THEN 0.0 ELSE round(ln(CAST(kk AS DOUBLE)), 12) END AS lnk FROM tm), lf AS (SELECT k, hours, a, kk, CAST(SUM(CAST(lnk AS DECIMAL(28,12))) OVER (PARTITION BY k ORDER BY kk) AS DOUBLE) AS lf FROM lk), tt AS (SELECT k, hours, a, kk, CAST(round(exp(CAST(kk AS DOUBLE) * round(ln(a), 9) - lf), 12) AS DECIMAL(28,12)) AS t FROM lf), ss AS (SELECT k, hours, a, kk, t, SUM(t) OVER (PARTITION BY k ORDER BY kk) AS s FROM tt), wv AS MATERIALIZED (SELECT k, hours, a, kk, round(CAST(kk AS DOUBLE) * (CAST(t AS DOUBLE) / CAST(s AS DOUBLE)) / (CAST(kk AS DOUBLE) - a * (1.0 - CAST(t AS DOUBLE) / CAST(s AS DOUBLE))), 9) AS w FROM ss WHERE kk >= 1 AND a < CAST(kk AS DOUBLE)), ck AS (SELECT k, MIN(kk) AS c_star FROM wv WHERE w <= 0.2 GROUP BY 1), cw AS (SELECT wv.k AS k, wv.kk AS kk, wv.w AS w FROM wv JOIN ck ON wv.k = ck.k AND wv.kk = ck.c_star) SELECT ld.k AS event_type, ld.hours, round(ld.a, 6) AS erlangs, cw.kk AS c_star, CASE WHEN cw.kk IS NOT NULL THEN round(cw.w, 6) END AS wait_prob, CASE WHEN cw.kk IS NOT NULL THEN round(ld.a / CAST(cw.kk AS DOUBLE), 6) END AS utilization FROM ld LEFT JOIN cw ON ld.k = cw.k ORDER BY event_type"""))

  /** XYZ variability classes ([[graft.operators.Relational.xyzClasses]]):
    * the predictability axis of the ABC/XYZ inventory matrix beside
    * q339's value axis — weekly-demand CV from the sparse census
    * (absent weeks ARE zeros, the q670 discipline).
    */
  private def q685(s: SparkSession, dir: String): DataFrame = {
    val d = weeklyDemand(s, dir).localCheckpoint(true)
    val b = d.agg(min(col("week")).as("lo"), max(col("week")).as("hi"))
      .head()
    graft.operators.Relational.xyzClasses(
      d, "l_partkey", "qty", b.getLong(1) - b.getLong(0) + 1L)
  }

  // sparse weekly census, spine-length moments, pinned CV classes
  query("q685_xyz_classes", q685)(Sql(
    """WITH d AS (SELECT l_partkey, date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS week, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY 1, 2), b AS (SELECT MAX(week) - MIN(week) + 1 AS t FROM d), g AS (SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS s, CAST(SUM(qty * qty) AS BIGINT) AS ss FROM d GROUP BY 1 HAVING SUM(qty) > 0), c AS (SELECT l_partkey, s, ss, CAST((SELECT t FROM b) AS BIGINT) AS t FROM g), r AS (SELECT l_partkey, t, CAST(s AS DOUBLE) / CAST(t AS DOUBLE) AS mean, CAST(ss AS DOUBLE) / CAST(t AS DOUBLE) - (CAST(s AS DOUBLE) / CAST(t AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(t AS DOUBLE)) AS varp FROM c), z AS (SELECT l_partkey, t, mean, round(sqrt(varp) / mean, 9) AS cv FROM r) SELECT l_partkey, t AS t_buckets, round(mean, 6) AS mean, round(cv, 6) + 0.0 AS cv, CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class FROM z ORDER BY l_partkey"""))

  /** L-moments ([[graft.operators.Relational.lMoments]]): λ₁, λ₂ and the
    * robust L-CV of order prices per priority — the dispersion family
    * that stays stable on heavy tails where classical variance explodes;
    * doubled-tie-rank census makes the λ₂ numerator a pure integer.
    */
  private def q469(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.lMoments(
      T(s, dir, "orders").select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents")),
      "o_orderpriority", "cents")
      .orderBy(col("g"))

  // doubled tie ranks make the λ₂ numerator a pure integer
  query("q469_l_moments", q469)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), cen AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), rk AS (SELECT g, v, t, CAST(SUM(t) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n FROM cen), r2 AS (SELECT *, 2 * c - t + 1 AS r2 FROM rk), ag AS (SELECT g, MAX(n) AS n, SUM(CAST(v AS DECIMAL(38,0)) * t) AS s, SUM(CAST(v AS DECIMAL(38,0)) * (CAST(t AS DECIMAL(38,0)) * r2 - CAST(t AS DECIMAL(38,0)) * (n + 1))) AS n2 FROM r2 GROUP BY g HAVING MAX(n) >= 2), f AS (SELECT g, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS l1, CAST(n2 AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS l2 FROM ag) SELECT g, n, round(l1, 6) AS l1, round(l2, 6) AS l2, round(CASE WHEN l1 <> 0.0 THEN l2 / l1 END, 6) AS l_cv FROM f ORDER BY g"""))

  /** Two-sample Cramér–von Mises
    * ([[graft.operators.Relational.cramerVonMises]]): integrated squared
    * CDF difference between view and click values — registers shelf-wide
    * shifts q385's supremum-only KS misses; cross-multiplied integer
    * census arithmetic to one pinned T.
    */
  private def q470(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.cramerVonMises(
      T(s, dir, "events").filter(col("event_type").isin("view", "click"))
        .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("cents"),
          (col("event_type") === "view").as("isa")),
      "cents", col("isa"))

  // cross-multiplied CDF differences over the pooled census
  query("q470_cramer_von_mises", q470)(Sql(
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, event_type = 'view' AS isa FROM events WHERE event_type IN ('view', 'click')), cen AS (SELECT v, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ta, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS tb FROM e GROUP BY v), rk AS (SELECT *, CAST(SUM(ta) OVER w AS BIGINT) AS ca, CAST(SUM(tb) OVER w AS BIGINT) AS cb, CAST(SUM(ta) OVER () AS BIGINT) AS na, CAST(SUM(tb) OVER () AS BIGINT) AS nb FROM cen WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)), dd AS (SELECT *, CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na AS d FROM rk), ag AS (SELECT MAX(na) AS n_a, MAX(nb) AS n_b, SUM(CAST(ta + tb AS DECIMAL(38,0)) * d * d) AS u FROM dd) SELECT n_a, n_b, round(CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(u AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)) END, 6) AS cvm_t FROM ag"""))

  /** Rule-based multi-touch credits
    * ([[graft.operators.Attribution.positionCredits]]): first/last/
    * linear/U-shaped per channel over converting users' pre-purchase
    * touches (the q281 journey derivation) — the four dashboard
    * heuristics beside the model-based q281 Markov and q343-family
    * Shapley; exact counts + 1e-9-grid rational credits.
    */
  private def q468(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val o = e.withColumn("rn", row_number().over(w))
    val fp = o.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val touches = o.join(fp, Seq("user_id"))
      .filter(col("rn") < col("prn"))
      .select(col("user_id"), col("rn"), col("event_type"))
    graft.operators.Attribution.positionCredits(touches,
        "user_id", "rn", "event_type")
      .orderBy(col("ch"))
  }

  // q281's journey derivation; exact end counts, 1e-9 rational credits
  query("q468_position_credits", q468)(Sql(
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec, event_id FROM events), o AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn FROM e), fp AS (SELECT user_id, MIN(rn) AS prn FROM o WHERE event_type = 'purchase' GROUP BY 1), t AS (SELECT o.user_id AS j, o.rn AS ord, o.event_type AS ch FROM o JOIN fp ON o.user_id = fp.user_id WHERE o.rn < fp.prn), b AS (SELECT j, ch, CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY ord) AS BIGINT) AS i, CAST(COUNT(*) OVER (PARTITION BY j) AS BIGINT) AS n FROM t), c AS (SELECT ch, CAST(COUNT(*) AS BIGINT) AS n_touches, CAST(SUM(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch, CAST(SUM(CASE WHEN i = n THEN 1 ELSE 0 END) AS BIGINT) AS last_touch, SUM(CAST(round(1.0 / CAST(n AS DOUBLE), 9) AS DECIMAL(18,9))) AS lin, SUM(CAST(round(CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5 WHEN i = 1 OR i = n THEN 0.4 ELSE 0.2 / CAST(n - 2 AS DOUBLE) END, 9) AS DECIMAL(18,9))) AS ush FROM b GROUP BY ch) SELECT ch, n_touches, first_touch, last_touch, round(CAST(lin AS DOUBLE), 6) AS linear, round(CAST(ush AS DOUBLE), 6) AS u_shaped FROM c ORDER BY ch"""))

  /** Rank-biased overlap
    * ([[graft.operators.Relational.rankBiasedOverlap]]): split-half
    * stability of the top-10 parts-by-revenue ranking (even vs odd
    * orders) — the top-weighted ranking-drift number a dashboard needs
    * where plain overlap@k misreads; pinned 0.9-power weights, exact
    * max-rank census, 1e-9 terms.
    */
  private def q461(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").join(T(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), pmod(col("o_orderkey"), lit(2L)).as("half"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    // top-10 via TakeOrdered (orderBy+limit — no single-partition window
    // over the full part domain), then the rank window runs on 10 rows;
    // (rev desc, l_partkey) is a total order so the result is identical
    def top(h: Long): DataFrame = li.filter(col("half") === h)
      .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
      .orderBy(col("rev").desc, col("l_partkey")).limit(10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rev").desc, col("l_partkey"))).cast("long"))
    graft.operators.Relational.rankBiasedOverlap(
      top(0), top(1), "l_partkey", "rnk", k = 10)
  }

  // full-outer rank join -> max-rank census; pinned 0.9-power weights
  query("q461_rbo", q461)(Sql(
    """WITH li AS (SELECT l_partkey, o_orderkey % 2 AS half, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM lineitem JOIN orders ON l_orderkey = o_orderkey), r0 AS (SELECT item, ra FROM (SELECT l_partkey AS item, CAST(ROW_NUMBER() OVER (ORDER BY SUM(cents) DESC, l_partkey) AS BIGINT) AS ra FROM li WHERE half = 0 GROUP BY l_partkey) q WHERE ra <= 10), r1 AS (SELECT item, rb FROM (SELECT l_partkey AS item, CAST(ROW_NUMBER() OVER (ORDER BY SUM(cents) DESC, l_partkey) AS BIGINT) AS rb FROM li WHERE half = 1 GROUP BY l_partkey) q WHERE rb <= 10), j AS (SELECT GREATEST(COALESCE(ra, 11), COALESCE(rb, 11)) AS m FROM r0 FULL OUTER JOIN r1 USING (item)), jf AS (SELECT m FROM j WHERE m <= 10), sp AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS d), xd AS (SELECT d, CAST(COUNT(jf.m) AS BIGINT) AS x FROM sp LEFT JOIN jf ON jf.m <= sp.d GROUP BY d), tm AS (SELECT d, x, CAST(round([0.1, 0.09, 0.081, 0.0729, 0.06561, 0.059049, 0.0531441, 0.04782969, 0.043046721, 0.0387420489][CAST(d AS INTEGER)] * CAST(x AS DOUBLE) / CAST(d AS DOUBLE), 9) AS DECIMAL(18,9)) AS term FROM xd) SELECT CAST(10 AS BIGINT) AS k, MAX(CASE WHEN d = 10 THEN x END) AS overlap_at_k, round(CAST(SUM(term) AS DOUBLE), 6) AS rbo FROM tm"""))

  /** Correlation matrix ([[graft.operators.Relational.corrMatrix]]):
    * all-pairs Pearson between the per-user activity metrics — which
    * features move together, the numeric companion of q453's balance
    * table; entity-keyed pair join (k²/2 per entity, k = 3), exact
    * decimal moments, pinned r per pair.
    */
  private def q457(s: SparkSession, dir: String): DataFrame = {
    val users = T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
          .as("cents"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
    graft.operators.Relational.corrMatrix(users, "user_id",
        Seq("n_events", "cents", "n_purchases"))
      .orderBy(col("ma"), col("mb"))
  }

  // entity-keyed pair melt; exact decimal moments; pinned r per pair
  query("q457_corr_matrix", q457)(Sql(
    """WITH u AS (SELECT user_id AS id, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases FROM events GROUP BY 1), mel AS (SELECT id, 'n_events' AS m, n_events AS v FROM u UNION ALL SELECT id, 'cents', cents FROM u UNION ALL SELECT id, 'n_purchases', n_purchases FROM u), pr AS (SELECT a.m AS ma, b.m AS mb, a.v AS x, b.v AS y FROM mel a JOIN mel b ON a.id = b.id AND a.m < b.m), ag AS (SELECT ma, mb, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy, SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx, SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy FROM pr GROUP BY 1, 2), dn AS (SELECT *, sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den FROM ag) SELECT ma, mb, n, round(CASE WHEN den <> 0.0 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den END, 6) AS r FROM dn ORDER BY ma, mb"""))

  /** MEDIAN + order-statistic CI ([[graft.operators.Relational.medianCI]]):
    * per-priority order-price median with the distribution-free 95%
    * interval — ranks resolved on the value domain, no per-row sort.
    */
  private def q394(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderpriority"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    graft.operators.Relational.medianCI(o, "o_orderpriority", "cents")
      .orderBy(col("g"))
  }

  // discrete-rank lookups for the median and both CI bounds
  query("q394_median_ci", q394)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), bv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), rk AS (SELECT g, v, CAST(SUM(t) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n FROM bv), rr AS (SELECT g, v, c, n, (n + 1) // 2 AS rmed, greatest(1, CAST(floor((CAST(n AS DOUBLE) - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS rlo, least(n, 1 + CAST(ceil((CAST(n AS DOUBLE) + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS rhi FROM rk) SELECT g, MAX(n) AS n, MIN(CASE WHEN c >= rmed THEN v END) AS median, MIN(CASE WHEN c >= rlo THEN v END) AS ci_lo, MIN(CASE WHEN c >= rhi THEN v END) AS ci_hi FROM rr GROUP BY g ORDER BY g"""))

  /** EXACT TRIMMED MEAN ([[graft.operators.Relational.trimmedMean]]):
    * 5%-each-side trimmed order price per priority class, tie groups
    * straddling the trim boundary apportioned exactly on the value
    * domain — the robust mean beside q204's clamping winsorize.
    */
  private def q391(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderpriority"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    graft.operators.Relational.trimmedMean(o, "o_orderpriority", "cents",
      trimBp = 500).orderBy(col("g"))
  }

  // value-domain rank-interval overlap: exact tie apportioning
  query("q391_trimmed_mean", q391)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), bv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), rk AS (SELECT g, v, t, CAST(SUM(t) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n FROM bv), kp AS (SELECT g, v, t, c, n, (n * 500) // 10000 AS l FROM rk), ov AS (SELECT g, v, t, n, l, greatest(0, least(c, n - l) - greatest(c - t, l)) AS keep FROM kp) SELECT g, MAX(n) AS n, CAST(MAX(l) AS BIGINT) AS n_trimmed_each, round(CAST(SUM(CAST(v AS DECIMAL(38,0)) * CAST(keep AS DECIMAL(38,0))) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) - 2.0 * CAST(MAX(l) AS DOUBLE)), 6) AS trimmed_mean, round(CAST(SUM(CAST(v AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6) AS raw_mean FROM ov GROUP BY g ORDER BY g"""))

  /** EVENTUALLY-FOLLOWS graph
    * ([[graft.operators.Affinity.eventuallyFollows]]): per ordered
    * event-type pair, how many users saw a strictly before b (first
    * occurrences) — the process-mining relation q222's adjacent-step
    * Markov transitions can't see.
    */
  private def q387(s: SparkSession, dir: String): DataFrame =
    graft.operators.Affinity.eventuallyFollows(T(s, dir, "events"),
      "user_id", "event_type", "ts").orderBy(col("a"), col("b"))

  // first-occurrence census then the strict-precedence pair join
  query("q387_eventually_follows", q387)(Sql(
    """WITH f AS (SELECT user_id AS c, event_type AS act, MIN(epoch_ns(ts)) AS t FROM events GROUP BY 1, 2), n AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS nc FROM f) SELECT x.act AS a, y.act AS b, CAST(COUNT(*) AS BIGINT) AS n_cases, round(CAST(COUNT(*) AS DOUBLE) / CAST(n.nc AS DOUBLE), 6) AS case_share FROM f x JOIN f y ON x.c = y.c AND x.act <> y.act AND x.t < y.t, n GROUP BY x.act, y.act, n.nc ORDER BY a, b"""))

  /** Interval-overlap join ([[Relational.intervalOverlapJoin]]): per-user
    * daily activity spans × incident windows (±900 s around sampled error
    * events), joined on a shared hour-bucket grid instead of the
    * broadcast-nested-loop a raw theta-join would plan — the overlap-join
    * shape that survives 100 TB. Canonical-bucket filtering emits each
    * overlapping pair exactly once, no distinct pass.
    */
  private def q269(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events")
    val spans = e.groupBy(col("user_id"),
        expr("(ts div 1000000000) div 86400").as("day"))
      .agg(min(expr("ts div 1000000000")).as("span_lo"),
        max(expr("ts div 1000000000")).as("span_hi"))
    val windows = e.filter(col("event_type") === "error" &&
        col("event_id") % 197 === 0)
      .select(col("event_id").as("win_id"),
        (expr("ts div 1000000000") - 900).as("win_lo"),
        (expr("ts div 1000000000") + 900).as("win_hi"))
    Relational.intervalOverlapJoin(spans, windows,
        "span_lo", "span_hi", "win_lo", "win_hi", bucketWidth = 3600L)
      .groupBy(col("user_id"), col("day"), col("span_lo"), col("span_hi"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy(col("user_id"), col("day"))
  }

  // the bucketed overlap join must equal the plain inequality join; the
  // canonical-bucket filter makes each pair count exactly once
  query("q269_interval_join", q269)(Sql(
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events), spans AS (SELECT user_id, sec // 86400 AS day, MIN(sec) AS span_lo, MAX(sec) AS span_hi FROM e GROUP BY 1, 2), w AS (SELECT event_id AS win_id, sec - 900 AS win_lo, sec + 900 AS win_hi FROM e WHERE event_type = 'error' AND event_id % 197 = 0) SELECT s.user_id, s.day, s.span_lo, s.span_hi, COUNT(*) AS n_windows FROM spans s JOIN w ON s.span_lo <= w.win_hi AND w.win_lo <= s.span_hi GROUP BY 1, 2, 3, 4 ORDER BY 1, 2"""))

  /** Decile lift/gains table — the model-evaluation staple: customers
    * ranked by account balance into GLOBAL deciles
    * ([[graft.operators.GlobalOrder.ntiles]] — range-shuffle, no
    * single-partition window), response = has-any-order, then per-decile
    * response rate and cumulative lift. Exact integer counts; the
    * 10-row cumulative window runs over the aggregate, not the data.
    */
  private def q272(s: SparkSession, dir: String): DataFrame = {
    val buyers = T(s, dir, "orders").select(col("o_custkey")).distinct()
    val base = T(s, dir, "customer")
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"),
        col("o_custkey").isNotNull.cast("long").as("pos"))
    val dec = graft.operators.GlobalOrder.ntiles(base,
      Seq(col("c_acctbal").desc, col("c_custkey").asc), 10, "decile")
    val per = dec.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wa = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("cum_n", sum(col("n")).over(wc))
      .withColumn("cum_pos", sum(col("n_pos")).over(wc))
      .withColumn("tot_n", sum(col("n")).over(wa))
      .withColumn("tot_pos", sum(col("n_pos")).over(wa))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        round((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
          (col("tot_pos").cast("double") / col("tot_n").cast("double")), 6)
          .as("cum_lift"))
      .orderBy(col("decile"))
  }

  // per-decile lift from exact integer counts; ntile tie-break order is
  // the same total order on both engines
  query("q272_decile_lift", q272)(Sql(
    """WITH b AS (SELECT c_custkey, c_acctbal, CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END AS pos FROM customer), d AS (SELECT *, CAST(ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS decile FROM b), p AS (SELECT decile, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos FROM d GROUP BY 1), c AS (SELECT decile, n, n_pos, SUM(n) OVER wc AS cum_n, SUM(n_pos) OVER wc AS cum_pos, SUM(n) OVER () AS tot_n, SUM(n_pos) OVER () AS tot_pos FROM p WINDOW wc AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT decile, n, n_pos, round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate, round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6) AS cum_lift FROM c ORDER BY decile"""))

  /** Markov removal-effect attribution
    * ([[graft.operators.Attribution.markovRemoval]]): user journeys
    * truncated at first purchase feed a first-order transition matrix
    * (distributed counting: one window pass, one combine); the
    * bounded-step absorption recursion runs in pure int64 p9 arithmetic
    * on the O(channels²) collected matrix. Each channel's credit is the
    * start→conv probability drop when paths through it are deleted.
    */
  private def q281(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val o = e.withColumn("rn", row_number().over(w))
    val fp = o.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val p = o.join(fp, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .select(col("user_id"), col("event_type"), col("rn"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val steps = p.withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .select(col("event_type").as("src"),
        when(col("nxt").isNotNull, col("nxt"))
          .when(col("event_type") =!= "purchase", lit("drop"))
          .otherwise(lit(null)).as("dst"))
      .filter(col("dst").isNotNull)
    val starts = p.filter(col("rn") === 1)
      .select(lit("start").as("src"), col("event_type").as("dst"))
    val tr = starts.unionByName(steps)
      .withColumn("dst",
        when(col("dst") === "purchase", "conv").otherwise(col("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    graft.operators.Attribution.markovRemoval(tr,
        Seq("click", "signup", "view", "error"), steps = 8)
      .orderBy(col("channel"))
  }

  // the absorption recursion replays in pure int64 p9 arithmetic:
  // identical floor-scaled probabilities, identical 8 unrolled steps
  query("q281_markov_attribution", q281)(Sql(
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec, event_id FROM events), o AS (SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn FROM e), fp AS (SELECT user_id, MIN(rn) AS prn FROM o WHERE event_type = 'purchase' GROUP BY 1), p AS (SELECT o.user_id, o.event_type, o.rn FROM o LEFT JOIN fp USING (user_id) WHERE fp.prn IS NULL OR o.rn <= fp.prn), st AS (SELECT 'start' AS src, event_type AS dst FROM p WHERE rn = 1), sq AS (SELECT event_type AS src, lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY rn) AS nxt FROM p), tr0 AS (SELECT src, CASE WHEN nxt IS NOT NULL THEN nxt WHEN src <> 'purchase' THEN 'drop' ELSE NULL END AS dst FROM sq UNION ALL SELECT src, dst FROM st), cnt AS (SELECT src, CASE WHEN dst = 'purchase' THEN 'conv' ELSE dst END AS dst, COUNT(*) AS n FROM tr0 WHERE dst IS NOT NULL GROUP BY 1, 2), tot AS (SELECT src, SUM(n) AS nt FROM cnt GROUP BY 1), pm AS (SELECT c.src, c.dst, (c.n * 1000000000) // t.nt AS p9 FROM cnt c JOIN tot t ON c.src = t.src), scen AS (SELECT * FROM (VALUES ('__base__'), ('click'), ('signup'), ('view'), ('error')) v(scenario)), tm AS MATERIALIZED (SELECT sc.scenario, p.src, p.dst, p.p9 FROM scen sc JOIN pm p ON sc.scenario = '__base__' OR (p.src <> sc.scenario AND p.dst <> sc.scenario)), stt AS (SELECT DISTINCT scenario, src AS state FROM tm), cv AS (SELECT scenario, src AS state, p9 FROM tm WHERE dst = 'conv'), v0 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(c.p9, 0) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state), v1 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v0 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), v2 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v1 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), v3 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v2 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), v4 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v3 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), v5 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v4 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), v6 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v5 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), v7 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v6 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), v8 AS MATERIALIZED (SELECT s.scenario, s.state, COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.v), 0) // 1000000000) AS v FROM stt s LEFT JOIN cv c ON c.scenario = s.scenario AND c.state = s.state LEFT JOIN tm t ON t.scenario = s.scenario AND t.src = s.state AND t.dst NOT IN ('conv', 'drop') LEFT JOIN v7 pv ON pv.scenario = s.scenario AND pv.state = t.dst GROUP BY s.scenario, s.state), fin AS (SELECT scenario, v FROM v8 WHERE state = 'start'), b AS (SELECT v AS vb FROM fin WHERE scenario = '__base__'), re AS (SELECT f.scenario AS channel, b.vb - f.v AS re9, b.vb FROM fin f, b WHERE f.scenario <> '__base__'), ts_ AS (SELECT SUM(re9) AS t9 FROM re) SELECT channel, round(CAST(re9 AS DOUBLE) / CAST(vb AS DOUBLE), 6) AS removal_effect, round(CAST(re9 AS DOUBLE) / CAST(t9 AS DOUBLE), 6) AS attribution FROM re, ts_ ORDER BY channel"""))

  /** Market-basket association rules ([[graft.operators.Affinity
    * .assocRules]]): baskets = orders, items = part brands; support,
    * confidence and lift for every co-bought brand pair in both
    * orientations. Pair generation is basket-keyed (never cross-basket);
    * everything after the pair aggregate is brand-domain-sized.
    */
  private def q294(s: SparkSession, dir: String): DataFrame = {
    val baskets = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(T(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
    graft.operators.Affinity.assocRules(baskets, "basket", "item")
      .orderBy(col("ante"), col("cons"))
  }

  // basket-keyed pair join, brand-domain-sized rule table; identical
  // fixed-order support/confidence/lift arithmetic
  query("q294_assoc_rules", q294)(Sql(
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS it FROM lineitem JOIN part ON l_partkey = p_partkey), s AS (SELECT it, COUNT(*) AS n_i FROM b GROUP BY 1), t AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM b), p AS (SELECT l.it AS ia, r.it AS ib, COUNT(*) AS n_ab FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it GROUP BY 1, 2), r2 AS (SELECT ia AS ante, ib AS cons, n_ab FROM p UNION ALL SELECT ib, ia, n_ab FROM p) SELECT ante, cons, n_ab, sa.n_i AS n_ante, sc.n_i AS n_cons, round(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6) AS support, round(CAST(n_ab AS DOUBLE) / CAST(sa.n_i AS DOUBLE), 6) AS confidence, round(CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE) / (CAST(sa.n_i AS DOUBLE) * CAST(sc.n_i AS DOUBLE)), 6) AS lift FROM r2 JOIN s sa ON ante = sa.it JOIN s sc ON cons = sc.it CROSS JOIN t ORDER BY ante, cons"""))

  /** Item-item top-3 neighbors ([[graft.operators.Affinity
    * .itemNeighbors]]) by co-occurrence cosine over brand baskets — the
    * precomputed neighborhood an item-based recommender serves from.
    * Ranking windows are keyed per item; ties break on the neighbor id
    * after 1e-6 rounding so both engines rank identically.
    */
  private def q296(s: SparkSession, dir: String): DataFrame = {
    val baskets = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(T(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
    graft.operators.Affinity.itemNeighbors(baskets, "basket", "item", k = 3)
      .orderBy(col("item"), col("rank"))
  }

  // both engines rank on the 1e-6-rounded cosine with the neighbor-id
  // tie-break — identical top-3 per item
  query("q296_item_neighbors", q296)(Sql(
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS it FROM lineitem JOIN part ON l_partkey = p_partkey), s AS (SELECT it, COUNT(*) AS n_i FROM b GROUP BY 1), p AS (SELECT l.it AS ia, r.it AS ib, COUNT(*) AS n_ab FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it GROUP BY 1, 2), bo AS (SELECT ia AS item, ib AS neighbor, n_ab FROM p UNION ALL SELECT ib, ia, n_ab FROM p), sc AS (SELECT item, neighbor, n_ab, round(CAST(n_ab AS DOUBLE) / sqrt(CAST(si.n_i AS DOUBLE) * CAST(sn.n_i AS DOUBLE)), 6) AS cosine FROM bo JOIN s si ON item = si.it JOIN s sn ON neighbor = sn.it), r AS (SELECT item, neighbor, n_ab, cosine, ROW_NUMBER() OVER (PARTITION BY item ORDER BY cosine DESC, neighbor ASC) AS rank FROM sc) SELECT item, CAST(rank AS BIGINT) AS rank, neighbor, n_ab, cosine FROM r WHERE rank <= 3 ORDER BY item, rank"""))

  /** q415 replay: q281's journey census, then the 8-round geometric
    * series for expected steps (st, 1e6 scale) and conv/drop absorption
    * (cv/dv, 1e9 scale) in pure integer arithmetic — the same
    * floor-divide recurrence the Scala fold runs, bit for bit.
    */
  private val absorbingOracleSql: String = {
    val rounds = 8
    val sb = new StringBuilder(
      "WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec, event_id FROM events), " +
        "o AS (SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn FROM e), " +
        "fp AS (SELECT user_id, MIN(rn) AS prn FROM o WHERE event_type = 'purchase' GROUP BY 1), " +
        "p AS (SELECT o.user_id, o.event_type, o.rn FROM o LEFT JOIN fp USING (user_id) WHERE fp.prn IS NULL OR o.rn <= fp.prn), " +
        "st AS (SELECT 'start' AS src, event_type AS dst FROM p WHERE rn = 1), " +
        "sq AS (SELECT event_type AS src, lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY rn) AS nxt FROM p), " +
        "tr0 AS (SELECT src, CASE WHEN nxt IS NOT NULL THEN nxt WHEN src <> 'purchase' THEN 'drop' ELSE NULL END AS dst FROM sq UNION ALL SELECT src, dst FROM st), " +
        "cnt AS (SELECT src, CASE WHEN dst = 'purchase' THEN 'conv' ELSE dst END AS dst, COUNT(*) AS n FROM tr0 WHERE dst IS NOT NULL GROUP BY 1, 2), " +
        "tot AS (SELECT src, SUM(n) AS nt FROM cnt GROUP BY 1), " +
        "pm AS (SELECT c.src, c.dst, (c.n * 1000000000) // t.nt AS p9 FROM cnt c JOIN tot t ON c.src = t.src), " +
        "stt AS (SELECT DISTINCT src AS state FROM pm), " +
        "cvp AS (SELECT src AS state, p9 FROM pm WHERE dst = 'conv'), " +
        "drp AS (SELECT src AS state, p9 FROM pm WHERE dst = 'drop'), " +
        "i0 AS (SELECT s.state, CAST(1000000 AS BIGINT) AS stp, COALESCE(c.p9, 0) AS cv, COALESCE(d.p9, 0) AS dv FROM stt s LEFT JOIN cvp c ON c.state = s.state LEFT JOIN drp d ON d.state = s.state)")
    for (t <- 1 to rounds)
      sb.append(s", i$t AS (SELECT s.state, " +
        "1000000 + (COALESCE(SUM(t.p9 * pv.stp), 0) // 1000000000) AS stp, " +
        "COALESCE(MAX(c.p9), 0) + (COALESCE(SUM(t.p9 * pv.cv), 0) // 1000000000) AS cv, " +
        "COALESCE(MAX(d.p9), 0) + (COALESCE(SUM(t.p9 * pv.dv), 0) // 1000000000) AS dv " +
        "FROM stt s LEFT JOIN cvp c ON c.state = s.state LEFT JOIN drp d ON d.state = s.state " +
        "LEFT JOIN pm t ON t.src = s.state AND t.dst NOT IN ('conv', 'drop') " +
        s"LEFT JOIN i${t - 1} pv ON pv.state = t.dst GROUP BY s.state)")
    sb.append(s" SELECT f.state, CAST(t2.nt AS BIGINT) AS n_out, " +
      "round(CAST(f.stp AS DOUBLE) / 1000000.0, 6) AS exp_steps, " +
      "round(CAST(f.cv AS DOUBLE) / 1000000000.0, 6) AS p_conv, " +
      "round(CAST(f.dv AS DOUBLE) / 1000000000.0, 6) AS p_drop " +
      s"FROM i$rounds f JOIN tot t2 ON t2.src = f.state ORDER BY f.state")
    sb.toString
  }
}
