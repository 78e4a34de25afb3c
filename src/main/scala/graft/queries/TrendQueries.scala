package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Oracle.Sql
import Shared._

/** Time-series and trend queries. */
private[queries] object TrendQueries extends Family {
  /** Per-key trend regression ([[graft.operators.Trend.olsPerKey]]):
    * closed-form OLS slope of hourly volume per event type — one
    * aggregation per key, x re-based so every sum stays integer-exact.
    */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .select(expr("ts div 1000000000 div 3600").as("hour_id"),
        col("event_type"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))
    graft.operators.Trend.olsPerKey(hourly, "event_type", "hour_id", "n")
      .orderBy(col("event_type"))
  }

  // closed-form OLS over exact integer sums; identical double op order
  query("q147_trend_ols", q147)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b AS (SELECT event_type, hour_id - MIN(hour_id) OVER (PARTITION BY event_type) AS x, n AS y FROM h), a AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy, COUNT(DISTINCT x) AS nx FROM b GROUP BY 1) SELECT event_type, n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope FROM a WHERE nx >= 2 ORDER BY event_type"""))

  /** Seasonal anomaly detection
    * ([[graft.operators.Trend.seasonalAnomalies]]): hourly volume per
    * event type against its hour-of-day profile, flagged beyond 2
    * residual standard deviations — the batch complement to the
    * streaming trailing-baseline alerts (q136).
    */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .select(expr("ts div 1000000000 div 3600").as("hour_id"),
        col("event_type"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))
    graft.operators.Trend.seasonalAnomalies(
      hourly, "event_type", "hour_id", 24, "n", 2.0)
      .orderBy(col("event_type"), col("hour_id"))
  }

  // residual squares quantized to DECIMAL(28,12) before the sum on both
  // sides (order-independent), sqrt/divisions correctly rounded
  query("q148_seasonal_anomaly", q148)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), p AS (SELECT event_type, hour_id, hour_id % 24 AS season_pos, CAST(n AS DOUBLE) AS n FROM h), w AS (SELECT event_type, hour_id, n, AVG(n) OVER (PARTITION BY event_type, season_pos) AS seasonal FROM p), r AS (SELECT event_type, hour_id, n, seasonal, n - seasonal AS resid FROM w), t AS (SELECT event_type, hour_id, n, seasonal, resid, sqrt(CAST(SUM(CAST(resid * resid AS DECIMAL(28,12))) OVER (PARTITION BY event_type) AS DOUBLE) / CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE)) AS sd FROM r) SELECT event_type, hour_id, CAST(n AS BIGINT) AS n, round(seasonal, 6) AS seasonal, CAST(CASE WHEN abs(resid) > 2.0 * sd THEN 1 ELSE 0 END AS INT) AS anomaly FROM t ORDER BY event_type, hour_id"""))

  /** First-order Markov transition matrix ([[Trend.markovTransitions]])
    * over per-user event paths: every consecutive event-type step, counted
    * corpus-wide, with the exact conditional probability. The |states|²
    * output is metadata-sized regardless of input scale; p is one
    * correctly-rounded division of exact integers, engine-identical.
    */
  private def q222(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.markovTransitions(
      T(s, dir, "events"), "user_id", evSec, col("event_id"), "event_type")
      .orderBy(col("from_state"), col("to_state"))

  // consecutive steps via the same (sec, event_id) order as q71; the
  // window total runs over the |states|² aggregate; p is one exact-int
  // division, bit-identical across engines
  query("q222_markov_transitions", q222)(Sql(
    """WITH e AS (SELECT user_id, event_type, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, event_id FROM events), l AS (SELECT event_type AS from_state, lead(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS to_state FROM e), c AS (SELECT from_state, to_state, COUNT(*) AS n FROM l WHERE to_state IS NOT NULL GROUP BY 1, 2) SELECT from_state, to_state, n, CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS n_from, CAST(n AS DOUBLE) / CAST(CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS DOUBLE) AS p FROM c ORDER BY from_state, to_state"""))

  /** CUSUM level-shift detection over per-type hourly revenue
    * ([[graft.operators.Trend.cusumShifts]]): the recursive statistic in
    * closed form — cumsum + running-min windows, exact integer throughout.
    */
  private def q248(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.cusumShifts(
        hourly, "event_type", "hid", "cents", kCents = 10000L, hCents = 200000L)
      .orderBy(col("event_type"), col("hid"))
  }

  query("q248_cusum", q248)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), s AS (SELECT event_type, hid, v, COUNT(*) OVER (PARTITION BY event_type) AS m, SUM(v) OVER (PARTITION BY event_type) AS t FROM h), d AS (SELECT event_type, hid, m, m * v - t - m * 10000 AS d FROM s), p AS (SELECT event_type, hid, m, SUM(d) OVER w AS p FROM d WINDOW w AS (PARTITION BY event_type ORDER BY hid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), c AS (SELECT event_type, hid, m, p - LEAST(0, MIN(p) OVER (PARTITION BY event_type ORDER BY hid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s FROM p) SELECT event_type, hid, round(CAST(s AS DOUBLE) / (CAST(m AS DOUBLE) * 100.0), 6) AS cusum, CAST(s > m * 200000 AS INTEGER) AS shifted FROM c ORDER BY event_type, hid"""))

  /** Per-user EWMA of hourly spend ([[graft.operators.Trend.ewmaPerKey]]):
    * a left fold inside one codegen'd higher-order aggregate, replayed
    * bit-for-bit by the oracle's list_reduce (α = 0.25 is a power of two,
    * keeping even the products exact).
    */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .cast("double").as("v"))
    graft.operators.Trend.ewmaPerKey(hourly, "user_id", "hid", "v", 0.25)
      .orderBy(col("user_id"))
  }

  query("q253_ewma", q253)(Sql(
    """WITH h AS (SELECT user_id, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) AS v FROM events GROUP BY 1, 2), l AS (SELECT user_id, COUNT(*) AS n, list(v ORDER BY hid) AS vs FROM h GROUP BY 1) SELECT user_id, n, round(list_reduce(vs, (acc, x) -> 0.25 * x + 0.75 * acc), 6) AS ewma FROM l ORDER BY user_id"""))

  /** Per-type autocorrelation of the hourly revenue series at lags 1 and
    * 24 ([[graft.operators.Trend.autocorrPerKey]]) — the seasonality
    * detector that complements q147's trend and q148's anomalies: one
    * lead-window pass per lag over the key-partitioned shuffle, exact
    * DECIMAL(38,0) sums, closed-form Pearson in pinned double order.
    */
  private def q255(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.autocorrPerKey(
        hourly, "event_type", "hid", "cents", Seq(1, 24))
      .orderBy(col("event_type"), col("lag"))
  }

  // row-order lead (not time-offset) on both engines; exact DECIMAL(38,0)
  // sums feed the identically-ordered closed-form Pearson
  query("q255_autocorr", q255)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), l AS (SELECT event_type, lag, v AS x, w FROM (SELECT event_type, hid, v, lead(v, 1) OVER (PARTITION BY event_type ORDER BY hid) AS w, CAST(1 AS BIGINT) AS lag FROM h UNION ALL SELECT event_type, hid, v, lead(v, 24) OVER (PARTITION BY event_type ORDER BY hid) AS w, CAST(24 AS BIGINT) AS lag FROM h) WHERE w IS NOT NULL), a AS (SELECT event_type, lag, COUNT(*) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(w AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS syy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS sxy FROM l GROUP BY 1, 2) SELECT event_type, lag, n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf FROM a WHERE n >= 3 ORDER BY event_type, lag"""))

  /** Per-user Holt double-exponential smoothing of hourly spend
    * ([[graft.operators.Trend.holtPerKey]]): level + trend folded in one
    * codegen'd higher-order aggregate, α=β=0.5 powers of two — the
    * trend-aware forecast EWMA (q253) structurally lags. The oracle
    * replays the recursion with a recursive CTE, same IEEE op order.
    */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .cast("double").as("v"))
    graft.operators.Trend.holtPerKey(hourly, "user_id", "hid", "v", 0.5, 0.5)
      .orderBy(col("user_id"))
  }

  // the Holt recursion replays as a recursive CTE in the identical IEEE
  // op order (s recomputed inside b on both engines)
  query("q261_holt", q261)(Sql(
    """WITH RECURSIVE h AS (SELECT user_id, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) AS v FROM events GROUP BY 1, 2), o AS (SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hid) AS rn FROM h), nn AS (SELECT user_id, COUNT(*) AS n FROM o GROUP BY 1), rec AS (SELECT a.user_id, CAST(2 AS BIGINT) AS rn, b.v AS s, b.v - a.v AS b FROM o a JOIN o b ON a.user_id = b.user_id AND a.rn = 1 AND b.rn = 2 UNION ALL SELECT r.user_id, r.rn + 1, 0.5 * x.v + 0.5 * (r.s + r.b) AS s, 0.5 * ((0.5 * x.v + 0.5 * (r.s + r.b)) - r.s) + 0.5 * r.b AS b FROM rec r JOIN o x ON x.user_id = r.user_id AND x.rn = r.rn + 1) SELECT f.user_id, nn.n, round(f.s, 6) AS level, round(f.b, 6) AS trend, round(f.s + f.b, 6) AS forecast FROM rec f JOIN nn ON nn.user_id = f.user_id AND f.rn = nn.n WHERE nn.n >= 2 ORDER BY f.user_id"""))

  /** Per-type HOLT–WINTERS triple exponential smoothing
    * ([[graft.operators.Trend.holtWintersPerKey]]): level + trend +
    * 24-hour additive seasonality folded in ONE codegen'd HOF aggregate
    * with an array-slot struct accumulator — the daily-cycle forecaster
    * q261's trend-only Holt structurally misses. α=0.5, β=γ=0.25 (powers
    * of two, exact complements); the oracle replays the identical
    * recursion as a recursive CTE carrying the 24 slots as a LIST.
    */
  private def q315(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .cast("double").as("v"))
    graft.operators.Trend.holtWintersPerKey(hourly, "event_type", "hid", "v",
        0.5, 0.25, 0.25, 24)
      .orderBy(col("event_type"))
  }

  // the triple-smoothing recursion replays as a recursive CTE carrying
  // the 24 seasonal slots as a LIST, level recomputed inside trend and
  // seasonal on both engines (the q261 discipline, scaled up)
  query("q315_holt_winters", q315)(Sql(
    """WITH RECURSIVE h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) AS v FROM events GROUP BY 1, 2), o AS (SELECT event_type, v, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hid) AS rn FROM h), nn AS (SELECT event_type, COUNT(*) AS n FROM o GROUP BY 1), rec AS (SELECT event_type, CAST(1 AS BIGINT) AS rn, v AS l, CAST(0 AS DOUBLE) AS b, list_transform(range(24), i -> CAST(0 AS DOUBLE)) AS s FROM o WHERE rn = 1 UNION ALL SELECT r.event_type, r.rn + 1, 0.5 * (x.v - r.s[CAST(r.rn % 24 AS INTEGER) + 1]) + 0.5 * (r.l + r.b) AS l, 0.25 * ((0.5 * (x.v - r.s[CAST(r.rn % 24 AS INTEGER) + 1]) + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b AS b, r.s[1:CAST(r.rn % 24 AS INTEGER)] || [0.25 * (x.v - (0.5 * (x.v - r.s[CAST(r.rn % 24 AS INTEGER) + 1]) + 0.5 * (r.l + r.b))) + 0.75 * r.s[CAST(r.rn % 24 AS INTEGER) + 1]] || r.s[CAST(r.rn % 24 AS INTEGER) + 2:24] AS s FROM rec r JOIN o x ON x.event_type = r.event_type AND x.rn = r.rn + 1) SELECT f.event_type, nn.n, round(f.l, 6) AS level, round(f.b, 6) AS trend, round(f.l + f.b + f.s[CAST(nn.n % 24 AS INTEGER) + 1], 6) AS forecast FROM rec f JOIN nn ON nn.event_type = f.event_type AND f.rn = nn.n WHERE nn.n >= 2 ORDER BY f.event_type"""))

  /** THEIL–SEN robust slope per event type
    * ([[graft.operators.Trend.theilSenPerKey]]): the median of all
    * pairwise hourly slopes — a 29%-breakdown trend estimate OLS (q147/
    * q293) can't give; pair generation key-local and bounded by the hour
    * domain.
    */
  private def q320(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("v"))
    graft.operators.Trend.theilSenPerKey(hourly, "event_type", "hid", "v")
      .orderBy(col("event_type"))
  }

  // median pairwise slope: lower-median rank over each key's slope set
  query("q320_theil_sen", q320)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), p AS (SELECT a.event_type, CAST(b.v - a.v AS DOUBLE) / CAST(b.hid - a.hid AS DOUBLE) AS slope FROM h a JOIN h b ON a.event_type = b.event_type AND b.hid > a.hid), r AS (SELECT event_type, slope, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn, COUNT(*) OVER (PARTITION BY event_type) AS np FROM p) SELECT event_type, np AS n_pairs, round(slope, 6) AS slope FROM r WHERE rn = (np + 1) // 2 ORDER BY event_type"""))

  /** KAPLAN–MEIER survival over user lifetimes
    * ([[graft.operators.Trend.kaplanMeier]]): right-censoring-correct
    * retention curve (users last seen in the final time tertile are
    * censored, not churned); everything past one per-user aggregate runs
    * over the duration domain; the survival product folds sequentially
    * and replays via list_reduce.
    */
  private def q321(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    graft.operators.Trend.kaplanMeier(ev, "user_id", "sec", cutoff)
      .orderBy(col("t"))
  }

  // survival = sequential product of (1 - d/n_risk) over death times,
  // replayed via list_reduce over the k-prefix (1.0-seeded, engine fold
  // order)
  query("q321_kaplan_meier", q321)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last FROM e GROUP BY 1), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death FROM u), bt AS (SELECT t, CAST(SUM(death) AS BIGINT) AS d, CAST(SUM(1 - death) AS BIGINT) AS c, COUNT(*) AS n_t FROM lv GROUP BY 1), rk AS (SELECT t, d, c, CAST(SUM(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM bt), f AS (SELECT t, d, c, n_risk, 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor FROM rk), idx AS (SELECT t, d, c, n_risk, ROW_NUMBER() OVER (ORDER BY t) AS i FROM f), arr AS (SELECT list(factor ORDER BY t) AS fs FROM f) SELECT t, d AS n_death, c AS n_censored, n_risk, round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:CAST(i AS INTEGER)]), (a, x) -> a * x), 6) AS survival FROM idx, arr ORDER BY t"""))

  /** LTTB downsampling ([[graft.operators.Trend.lttbPerKey]]): each
    * event type's hourly series reduced to 20 shape-preserving points
    * (largest-triangle-three-buckets) — the dashboard reducer that keeps
    * peaks where striding drops them; the whole sequential selection is
    * one HOF fold, replayed by a recursive CTE carrying the anchor.
    */
  private def q353(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("v"))
    graft.operators.Trend.lttbPerKey(hourly, "event_type", "hid", "v", 20)
      .orderBy(col("event_type"), col("idx"))
  }

  // the bucket-sequential LTTB selection replays as a recursive CTE
  // carrying the anchor; argmax ties break earliest on both engines
  query("q353_lttb_downsample", q353)(Sql(
    """WITH RECURSIVE h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), pts AS (SELECT event_type AS key, list(struct_pack(x := hid, y := v) ORDER BY hid) AS p, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY 1 HAVING COUNT(*) > 20), rec AS (SELECT key, CAST(0 AS BIGINT) AS step, CAST(p[1]['x'] AS DOUBLE) AS ax, CAST(p[1]['y'] AS DOUBLE) AS ay, CAST(0 AS BIGINT) AS chosen FROM pts UNION ALL SELECT z.key, z.step + 1, CAST(z.p[z.bj]['x'] AS DOUBLE), CAST(z.p[z.bj]['y'] AS DOUBLE), z.bj FROM (SELECT t.key, t.step, t.p, t.best['j'] AS bj FROM (SELECT u.key, u.step, u.p, list_reduce(list_transform(range(u.lo, u.hi + 1), j -> struct_pack(a := abs((u.ax - u.cx) * (CAST(u.p[j]['y'] AS DOUBLE) - u.ay) - (u.ax - CAST(u.p[j]['x'] AS DOUBLE)) * (u.cy - u.ay)), j := j)), (acc, e) -> CASE WHEN e['a'] > acc['a'] THEN e ELSE acc END) AS best FROM (SELECT r.key, r.step, r.ax, r.ay, pts.p, pts.n, 2 + (r.step * (pts.n - 2)) // 18 AS lo, 1 + ((r.step + 1) * (pts.n - 2)) // 18 AS hi, CASE WHEN r.step = 17 THEN CAST(pts.p[CAST(pts.n AS INTEGER)]['x'] AS DOUBLE) ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(pts.p[(2 + ((r.step + 1) * (pts.n - 2)) // 18):(1 + ((r.step + 2) * (pts.n - 2)) // 18)], e -> CAST(e['x'] AS DOUBLE))), (a, b) -> a + b) / CAST((1 + ((r.step + 2) * (pts.n - 2)) // 18) - (2 + ((r.step + 1) * (pts.n - 2)) // 18) + 1 AS DOUBLE) END AS cx, CASE WHEN r.step = 17 THEN CAST(pts.p[CAST(pts.n AS INTEGER)]['y'] AS DOUBLE) ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(pts.p[(2 + ((r.step + 1) * (pts.n - 2)) // 18):(1 + ((r.step + 2) * (pts.n - 2)) // 18)], e -> CAST(e['y'] AS DOUBLE))), (a, b) -> a + b) / CAST((1 + ((r.step + 2) * (pts.n - 2)) // 18) - (2 + ((r.step + 1) * (pts.n - 2)) // 18) + 1 AS DOUBLE) END AS cy FROM rec r JOIN pts ON pts.key = r.key WHERE r.step < 18) u) t) z), final AS (SELECT key, CAST(1 AS BIGINT) AS idx FROM pts UNION ALL SELECT key, chosen FROM rec WHERE step >= 1 UNION ALL SELECT key, n FROM pts) SELECT f.key AS event_type, f.idx, pts.p[CAST(f.idx AS INTEGER)]['x'] AS x, pts.p[CAST(f.idx AS INTEGER)]['y'] AS y FROM final f JOIN pts ON pts.key = f.key ORDER BY event_type, idx"""))

  /** LAGGED CROSS-CORRELATION ([[graft.operators.Trend.crossCorr]]):
    * Pearson r between hourly view counts and purchase counts at lags
    * −3..+3 — the lead/lag detector q255's autocorrelation can't see
    * (it correlates a series only with itself). Hour-domain frame, lag
    * spine broadcast, sums exact in DECIMAL(38,0), one pinned-order
    * double finish per lag.
    */
  private def q360(s: SparkSession, dir: String): DataFrame = {
    val h = T(s, dir, "events")
      .groupBy(expr("(ts div 1000000000) div 3600").as("hid"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    graft.operators.Trend.crossCorr(h, "hid", "x", "y", -3 to 3)
  }

  // per-lag Pearson over shifted hour pairs, DECIMAL(38,0) exact sums
  query("q360_crosscorr", q360)(Sql(
    """WITH h AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS t, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y FROM events GROUP BY 1), l AS (SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS t(lag)), p AS (SELECT l.lag, a.x, b.y FROM l CROSS JOIN h a JOIN h b ON b.t = a.t + l.lag), s AS (SELECT lag, COUNT(*) AS np, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy FROM p GROUP BY 1) SELECT lag, CAST(np AS BIGINT) AS n_pairs, round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r FROM s ORDER BY lag"""))

  /** ROLLING-ORIGIN Holt BACKTEST
    * ([[graft.operators.Trend.holtBacktestPerKey]]): at every hour t ≥ 3
    * the pre-update (level, trend) state forecasts the hour's value;
    * |error| and sMAPE terms accumulate inside the same sequential fold
    * (double-sum order pinned to series order, replayed term-for-term by
    * the recursive-CTE oracle). The "should I trust q261's forecaster on
    * this series" report, per event type.
    */
  private def q361(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .cast("double").as("v"))
    graft.operators.Trend.holtBacktestPerKey(
        hourly, "event_type", "hid", "v", 0.5, 0.5)
      .orderBy(col("event_type"))
  }

  // the backtest recursion carries (s, b, err-sum, smape-sum, count)
  // in series order — double accumulation replayed term for term
  query("q361_holt_backtest", q361)(Sql(
    """WITH RECURSIVE h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) AS v FROM events GROUP BY 1, 2), o AS (SELECT event_type, v, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hid) AS rn FROM h), nn AS (SELECT event_type, COUNT(*) AS n FROM o GROUP BY 1), rec AS (SELECT a.event_type, CAST(2 AS BIGINT) AS rn, b.v AS s, b.v - a.v AS b, CAST(0 AS DOUBLE) AS es, CAST(0 AS DOUBLE) AS sm, CAST(0 AS BIGINT) AS c FROM o a JOIN o b ON a.event_type = b.event_type AND a.rn = 1 AND b.rn = 2 UNION ALL SELECT r.event_type, r.rn + 1, 0.5 * x.v + 0.5 * (r.s + r.b), 0.5 * ((0.5 * x.v + 0.5 * (r.s + r.b)) - r.s) + 0.5 * r.b, r.es + abs(x.v - (r.s + r.b)), r.sm + CASE WHEN abs(x.v) + abs(r.s + r.b) = 0 THEN 0.0 ELSE 2.0 * abs(x.v - (r.s + r.b)) / (abs(x.v) + abs(r.s + r.b)) END, r.c + 1 FROM rec r JOIN o x ON x.event_type = r.event_type AND x.rn = r.rn + 1) SELECT f.event_type, nn.n, f.c AS n_forecasts, round(f.es / CAST(f.c AS DOUBLE), 6) AS mae, round(f.sm / CAST(f.c AS DOUBLE), 6) AS smape FROM rec f JOIN nn ON nn.event_type = f.event_type AND f.rn = nn.n WHERE nn.n >= 3 ORDER BY f.event_type"""))

  /** MAXIMUM DRAWDOWN per supplier
    * ([[graft.operators.Trend.maxDrawdown]]): deepest peak-to-trough fall
    * of each supplier's line-price series in exact cents — two
    * key-partitioned window/aggregate shuffles, zero sequential state.
    * The order is pinned to (shipdate, orderkey, linenumber, cents)
    * because this synthetic lineitem carries duplicate
    * (orderkey, linenumber) pairs — the q363 lesson.
    */
  private def q370(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_suppkey"),
      col("l_shipdate").as("t"), col("l_orderkey").as("ok"),
      col("l_linenumber").cast("long").as("ln"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.maxDrawdown(li, "l_suppkey",
      Seq("t", "ok", "ln", "cents"), "cents").orderBy(col("l_suppkey"))
  }

  // running-max window replay with the identical pinned tie-break order
  query("q370_max_drawdown", q370)(Sql(
    """WITH s AS (SELECT l_suppkey, l_shipdate AS t, l_orderkey AS ok, CAST(l_linenumber AS BIGINT) AS ln, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM lineitem), w AS (SELECT l_suppkey, cents, MAX(cents) OVER (PARTITION BY l_suppkey ORDER BY t, ok, ln, cents ROWS UNBOUNDED PRECEDING) - cents AS dd FROM s) SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n, MAX(dd) AS max_drawdown, MAX(cents) AS peak, MIN(cents) AS trough FROM w GROUP BY l_suppkey ORDER BY l_suppkey"""))

  /** 1-D KALMAN local-level filter per user
    * ([[graft.operators.Trend.kalmanLevelPerKey]]) over hourly spend —
    * the uncertainty-aware smoother beside q261's Holt: adaptive gain,
    * posterior variance in the answer. q=0.25, r=1.0 (powers of two);
    * oracle replays the recursion as a recursive CTE carrying (x, P).
    */
  private def q374(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .cast("double").as("v"))
    graft.operators.Trend.kalmanLevelPerKey(hourly, "user_id", "hid", "v",
      qVar = 0.25, rVar = 1.0).orderBy(col("user_id"))
  }

  // the Kalman recursion replayed step-for-step, same IEEE op order
  query("q374_kalman_level", q374)(Sql(
    """WITH RECURSIVE h AS (SELECT user_id, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) AS v FROM events GROUP BY 1, 2), o AS (SELECT user_id, v, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hid) AS rn FROM h), nn AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1), rec AS (SELECT user_id, CAST(1 AS BIGINT) AS rn, v AS x, CAST(1.0 AS DOUBLE) AS p FROM o WHERE rn = 1 UNION ALL SELECT r.user_id, r.rn + 1, r.x + ((r.p + 0.25) / ((r.p + 0.25) + 1.0)) * (e.v - r.x) AS x, (1.0 - (r.p + 0.25) / ((r.p + 0.25) + 1.0)) * (r.p + 0.25) AS p FROM rec r JOIN o e ON e.user_id = r.user_id AND e.rn = r.rn + 1) SELECT f.user_id, nn.n, round(f.x, 6) AS level, round(f.p, 6) AS p_var FROM rec f JOIN nn ON nn.user_id = f.user_id AND f.rn = nn.n ORDER BY f.user_id"""))

  /** CLASSICAL ADDITIVE DECOMPOSITION
    * ([[graft.operators.Trend.maDecompose]]) of the global hourly event
    * count into trend (centered 2×24 MA) + daily seasonal indices +
    * remainder — the "growing vs just cycling" splitter; bucket-domain
    * frame, exact integers to the single grid division.
    */
  private def q375(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(expr("(ts div 1000000000) div 3600").as("hid"))
      .agg(count(lit(1)).as("c"))
    graft.operators.Trend.maDecompose(hourly, "hid", "c", period = 24)
      .orderBy(col("t"))
  }

  // centered 2x24 MA + equal-slot seasonal means on the decimal grid
  query("q375_ma_decompose", q375)(Sql(
    """WITH h AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS t, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1), w AS (SELECT t, x, SUM(x) OVER (ORDER BY t ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) + SUM(x) OVER (ORDER BY t ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS s, COUNT(*) OVER (ORDER BY t ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) + COUNT(*) OVER (ORDER BY t ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS c FROM h), de AS (SELECT t, x, CASE WHEN c = 48 THEN CAST(round(CAST(s AS DOUBLE) / 48.0, 6) AS DECIMAL(18,6)) END AS trend, t % 24 AS slot FROM w), dd AS (SELECT t, x, trend, slot, CAST(x AS DECIMAL(18,6)) - trend AS d FROM de), sm AS (SELECT slot, CAST(round(CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS seas0 FROM dd WHERE trend IS NOT NULL GROUP BY slot), ct AS (SELECT CAST(round(CAST(SUM(seas0) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS ctr FROM sm) SELECT dd.t, dd.x, CAST(dd.trend AS DOUBLE) AS trend, CAST(sm.seas0 - ct.ctr AS DOUBLE) AS seasonal, CAST(CAST(dd.x AS DECIMAL(18,6)) - dd.trend - (sm.seas0 - ct.ctr) AS DOUBLE) AS remainder FROM dd LEFT JOIN sm ON dd.slot = sm.slot CROSS JOIN ct ORDER BY dd.t"""))

  /** HILL TAIL-INDEX ([[graft.operators.Trend.hillTailIndex]]) of the
    * order-price distribution from the top-101 order statistics — "is
    * this tail power-law-heavy enough that sums are giant-dominated";
    * the distributional companion to q277's Zipf rank fit.
    */
  private def q383(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.hillTailIndex(
      T(s, dir, "orders").select(
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents")),
      "cents", k = 100)

  // top-(k+1) order statistics; log-ratio terms on the 1e-9 grid
  query("q383_hill_tail", q383)(Sql(
    """WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders WHERE o_totalprice > 0), top AS (SELECT cents AS v FROM v ORDER BY v DESC LIMIT 101), thr AS (SELECT MIN(v) AS xmin FROM top), r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn FROM top) SELECT CAST(COUNT(*) AS BIGINT) AS k, MIN(thr.xmin) AS xmin, round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(CAST(round(ln(CAST(v AS DOUBLE) / CAST(thr.xmin AS DOUBLE)), 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS alpha FROM r, thr WHERE rn <= 100"""))

  /** Mann–Kendall trend test ([[graft.operators.Trend.mannKendall]])
    * over each event type's daily-count series: the nonparametric
    * monotone-trend screen (exact integer S, tie-corrected variance,
    * continuity-corrected Z) beside q147's parametric OLS slope.
    */
  private def q421(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_type"), expr("(ts div 1000000000) div 86400").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    graft.operators.Trend.mannKendall(ev, "event_type", "day", "cnt")
      .select(col("k").as("event_type"), col("n"), col("s"),
        col("var_s"), col("z"))
      .orderBy(col("event_type"))
  }

  // exact integer S and tie census; one pinned Z per key
  query("q421_mann_kendall", q421)(Sql(mkSql))

  /** Ljung–Box portmanteau test ([[graft.operators.Trend.ljungBoxPerKey]])
    * over each event type's hourly volume series, lags 1..6 — "is there
    * ANY serial structure left", the whiteness gate q255's single-lag
    * ACF can't aggregate; cross-multiplied integer autocorrelations,
    * per-lag terms on the 1e-9 grid, one pinned Q per key.
    */
  private def q429(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.ljungBoxPerKey(
        hourly, "event_type", "hid", "cents", maxLag = 6)
      .orderBy(col("event_type"))
  }

  // cross-multiplied LB autocorrelations; 1e-9 terms, pinned Q
  query("q429_ljung_box", q429)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), mo AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(v AS DECIMAL(38,0))) AS s, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS ssq FROM h GROUP BY 1), lg AS (SELECT event_type, k, v, w FROM (SELECT event_type, v, LAG(v, 1) OVER (PARTITION BY event_type ORDER BY hid) AS w, CAST(1 AS BIGINT) AS k FROM h UNION ALL SELECT event_type, v, LAG(v, 2) OVER (PARTITION BY event_type ORDER BY hid), 2 FROM h UNION ALL SELECT event_type, v, LAG(v, 3) OVER (PARTITION BY event_type ORDER BY hid), 3 FROM h UNION ALL SELECT event_type, v, LAG(v, 4) OVER (PARTITION BY event_type ORDER BY hid), 4 FROM h UNION ALL SELECT event_type, v, LAG(v, 5) OVER (PARTITION BY event_type ORDER BY hid), 5 FROM h UNION ALL SELECT event_type, v, LAG(v, 6) OVER (PARTITION BY event_type ORDER BY hid), 6 FROM h) q WHERE w IS NOT NULL), a AS (SELECT event_type, k, SUM(CAST(v AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS sp, SUM(CAST(v AS DECIMAL(38,0))) AS sx, SUM(CAST(w AS DECIMAL(38,0))) AS sy FROM lg GROUP BY 1, 2), r AS (SELECT a.event_type, a.k, mo.n, CAST(CAST(mo.n AS DECIMAL(38,0)) * mo.n * a.sp - CAST(mo.n AS DECIMAL(38,0)) * mo.s * (a.sx + a.sy) + (CAST(mo.n AS DECIMAL(38,0)) - a.k) * mo.s * mo.s AS DOUBLE) / CAST(CAST(mo.n AS DECIMAL(38,0)) * mo.n * mo.ssq - CAST(mo.n AS DECIMAL(38,0)) * mo.s * mo.s AS DOUBLE) AS r FROM a JOIN mo ON a.event_type = mo.event_type WHERE mo.n > a.k AND CAST(mo.n AS DECIMAL(38,0)) * mo.ssq <> mo.s * mo.s), tm AS (SELECT event_type, n, k, r, CAST(round(r * r / CAST(n - k AS DOUBLE), 9) AS DECIMAL(18,9)) AS term FROM r) SELECT event_type, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS m, round(MAX(CASE WHEN k = 1 THEN r END), 6) AS r1, round(CAST(MAX(n) AS DOUBLE) * (CAST(MAX(n) AS DOUBLE) + 2.0) * CAST(SUM(term) AS DOUBLE), 6) AS q_stat FROM tm GROUP BY event_type ORDER BY event_type"""))

  /** Page–Hinkley drift monitor ([[graft.operators.Trend.pageHinkley]])
    * over each event type's hourly volume — the reference-free
    * mean-shift detector beside q248's known-level CUSUM: per-step
    * deviations from the RUNNING mean on the 1e-9 grid, exact decimal
    * cumulative/min folds, alarm at λ = $1000 of hourly lift.
    */
  private def q438(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.pageHinkley(
        hourly, "event_type", "hid", "cents",
        deltaCents = 0.0, lambdaCents = 100000.0)
      .orderBy(col("event_type"))
  }

  // per-step running-mean deviations on the 1e-9 grid; exact decimal
  // cumsum/min folds; peak tie broken by earliest bucket
  query("q438_page_hinkley", q438)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), w1 AS (SELECT event_type, hid, v, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hid) AS rn, SUM(v) OVER (PARTITION BY event_type ORDER BY hid ROWS UNBOUNDED PRECEDING) AS s FROM h), t2 AS (SELECT event_type, hid, CAST(round(CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(rn AS DOUBLE) - 0.0, 9) AS DECIMAL(28,9)) AS term FROM w1), m1 AS (SELECT event_type, hid, SUM(term) OVER (PARTITION BY event_type ORDER BY hid ROWS UNBOUNDED PRECEDING) AS m FROM t2), p1 AS (SELECT event_type, hid, m - MIN(m) OVER (PARTITION BY event_type ORDER BY hid ROWS UNBOUNDED PRECEDING) AS ph FROM m1), pk2 AS (SELECT event_type, hid, ph, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ph DESC, hid) AS pr FROM p1), ag AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, MIN(CASE WHEN CAST(ph AS DOUBLE) > 100000.0 THEN hid END) AS alarm_bucket FROM p1 GROUP BY 1) SELECT ag.event_type, ag.n, round(CAST(pk2.ph AS DOUBLE), 6) AS max_ph, pk2.hid AS peak_bucket, ag.alarm_bucket, ag.alarm_bucket IS NOT NULL AS alarmed FROM ag JOIN pk2 ON ag.event_type = pk2.event_type AND pk2.pr = 1 ORDER BY ag.event_type"""))

  /** Theta-method forecast ([[graft.operators.Trend.thetaPerKey]]): the
    * M3-winning SES-with-drift — OLS theta-0 line + SES-smoothed
    * theta-2 line, equal-weight one-step combination — per user over
    * hourly spend; beside q147 (pure OLS) and q261 (Holt).
    */
  private def q484(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.thetaPerKey(hourly, "user_id", "hid", "cents")
      .orderBy(col("user_id"))
  }

  // exact-integer OLS sums; SES fold replayed in list_reduce order
  query("q484_theta_forecast", q484)(Sql(
    """WITH h AS (SELECT user_id, epoch_ns(ts)//1000000000//3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v FROM events GROUP BY 1, 2), r AS (SELECT user_id, hid, v, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hid) AS BIGINT) AS t, CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM h), s AS (SELECT user_id, MAX(n) AS n, CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(t * t) AS BIGINT) AS stt, SUM(CAST(v AS DECIMAL(38,0))) AS sx, SUM(CAST(t AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS stx FROM r GROUP BY user_id HAVING MAX(n) >= 3), f AS (SELECT user_id, n, (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b, st, sx FROM s), f2 AS (SELECT user_id, n, b, (CAST(sx AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS a FROM f), l AS (SELECT r.user_id, f2.n, f2.a, f2.b, list(2.0 * CAST(r.v AS DOUBLE) - (f2.a + f2.b * CAST(r.t AS DOUBLE)) ORDER BY r.t) AS ys FROM r JOIN f2 ON r.user_id = f2.user_id GROUP BY 1, 2, 3, 4), z AS (SELECT user_id, n, a, b, list_reduce(ys, (a9, y9) -> 0.5 * y9 + 0.5 * a9) AS lvl FROM l) SELECT user_id, n, round(a, 6) AS a, round(b, 6) AS b, round(lvl, 6) AS level, round(0.5 * lvl + 0.5 * (a + b * (CAST(n AS DOUBLE) + 1.0)), 6) AS forecast FROM z ORDER BY user_id"""))

  /** Hampel filter ([[graft.operators.Trend.hampelPerKey]]): per-user
    * hourly spend despiked by the centered 7-point rolling median —
    * outlier iff |x − med| > 3·1.4826·MAD (pinned 4.4478), the robust
    * gate q253's EWMA and q300's z-band can't give on heavy tails;
    * exact integer order statistics inside one key-partitioned window.
    */
  private def q487(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.hampelPerKey(hourly, "user_id", "hid", "cents")
      .withColumnRenamed("v", "cents")
      .orderBy(col("user_id"), col("hid"))
  }

  // exact 7-element order statistics (list_sort + [4]) inside the
  // key-partitioned centered window; pinned 4.4478 robust compare
  query("q487_hampel_filter", q487)(Sql(
    """WITH h AS (SELECT user_id, epoch_ns(ts)//1000000000//3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents FROM events GROUP BY 1, 2), w AS (SELECT user_id, hid, cents, list(cents) OVER win AS win FROM h WINDOW win AS (PARTITION BY user_id ORDER BY hid ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), m AS (SELECT user_id, hid, cents, win, len(win) AS nwin, CASE WHEN len(win) = 7 THEN list_sort(win)[4] END AS med FROM w), d AS (SELECT user_id, hid, cents, nwin, med, CASE WHEN nwin = 7 THEN list_sort(list_transform(win, x -> abs(x - med)))[4] END AS mad FROM m) SELECT user_id, hid, cents, med, mad, CASE WHEN nwin = 7 THEN CAST(abs(cents - med) AS DOUBLE) > 4.4478 * CAST(mad AS DOUBLE) END AS is_outlier FROM d ORDER BY user_id, hid"""))

  /** Dominant period ([[graft.operators.Trend.dominantPeriodPerKey]]):
    * per event type, the hourly-lag (2..24) with the strongest
    * autocorrelation — the periodicity screen run before fitting a
    * seasonal model with a guessed season length; argmax over q255's
    * exact-moment ACF grid.
    */
  private def q501(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.dominantPeriodPerKey(
        hourly, "event_type", "hid", "cents", maxLag = 24)
      .orderBy(col("event_type"))
  }

  query("q501_dominant_period", q501)(Sql(dominantPeriodOracleSql))

  /** Seasonal band monitor ([[graft.operators.Trend.seasonalBandPerKey]]):
    * per (event type, hour-of-day) the exact p10/p50/p90 envelope of
    * per-day spend at that slot and whether the newest day breaches it —
    * "is today's 3pm normal for a 3pm".
    */
  private def q504(s: SparkSession, dir: String): DataFrame = {
    val slots = T(s, dir, "events")
      .groupBy(col("event_type"), evDateId.as("d"),
        pmod(expr("(ts div 1000000000) div 3600"), lit(24L)).as("hod"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.seasonalBandPerKey(
        slots, "event_type", "d", "hod", "cents")
      .orderBy(col("k"), col("slot"))
  }

  // (key, slot, value) census order stats with integer ceiling ranks;
  // pinned newest-day probe; all windows slot-partitioned
  query("q504_seasonal_band", q504)(Sql(seasonalBandOracleSql))

  /** Restricted mean survival time ([[graft.operators.Trend.rmstFromKm]]):
    * the area under q321's KM curve to a 200-bucket horizon — the
    * censoring-proof "average lifetime" summary; step integral with
    * grid-survival × integer-gap terms.
    */
  private def q519(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    graft.operators.Trend.rmstFromKm(
      graft.operators.Trend.kaplanMeier(ev, "user_id", "sec", cutoff),
      tau = 200L)
  }

  // the q321 KM chain + the step integral to tau=200, grid terms
  query("q519_rmst", q519)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last FROM e GROUP BY 1), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death FROM u), bt AS (SELECT t, CAST(SUM(death) AS BIGINT) AS d, COUNT(*) AS n_t FROM lv GROUP BY 1), rk AS (SELECT t, d, CAST(SUM(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM bt), f AS (SELECT t, 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor FROM rk), idx AS (SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS i FROM f), arr AS (SELECT list(factor ORDER BY t) AS fs FROM f), km AS (SELECT t, round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:CAST(i AS INTEGER)]), (a, x) -> a * x), 6) AS survival FROM idx, arr), lg AS (SELECT t, survival, COALESCE(LAG(t) OVER (ORDER BY t), 0) AS prev_t, COALESCE(LAG(survival) OVER (ORDER BY t), 1.0) AS prev_s FROM km), seg AS (SELECT CAST(round(prev_s * CAST(LEAST(t, 200) - prev_t AS DOUBLE), 6) AS DECIMAL(18,6)) AS term FROM lg WHERE prev_t < 200), tl AS (SELECT MAX(t) AS last_t, arg_max(survival, t) AS last_s FROM km), bd AS (SELECT CAST(SUM(term) AS DOUBLE) AS body, COUNT(*) AS n_steps FROM seg), rm AS (SELECT round(bd.body + CASE WHEN tl.last_t < 200 THEN round(tl.last_s * CAST(200 - tl.last_t AS DOUBLE), 6) ELSE 0.0 END, 6) AS rmst, bd.n_steps FROM bd, tl) SELECT CAST(200 AS BIGINT) AS tau, CAST(n_steps AS BIGINT) AS n_steps, rmst, round(rmst / 200.0, 6) AS mean_survival FROM rm"""))

  /** Log-rank test ([[graft.operators.Trend.logRank]]): do the two
    * md5-split user arms' survival curves differ — the censoring-aware
    * whole-curve comparison completing the survival shelf (q321 curve,
    * q519 summary, this gate); hypergeometric O−E/V terms per duration.
    */
  private def q520(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    graft.operators.Trend.logRank(ev, "user_id", "sec", cutoff,
      pmod(conv(substring(md5(concat(lit("lr1:"),
        col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
        lit(2)) === 0)
  }

  // hypergeometric O-E/V terms per duration bucket, grid-decimal sums
  query("q520_logrank", q520)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last, CAST(concat('0x', substr(md5(concat('lr1:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa FROM e GROUP BY user_id), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death, isa FROM u), bt AS (SELECT t, CAST(SUM(CASE WHEN isa THEN death ELSE 0 END) AS BIGINT) AS da, CAST(SUM(death) AS BIGINT) AS d, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS nta, COUNT(*) AS nt FROM lv GROUP BY 1), rk AS (SELECT t, da, d, nta, CAST(SUM(nta) OVER lat AS BIGINT) AS ra, CAST(SUM(nt) OVER lat AS BIGINT) AS r FROM bt WINDOW lat AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), tm AS (SELECT da, CAST(round(CAST(ra AS DOUBLE) / CAST(r AS DOUBLE) * CAST(d AS DOUBLE), 9) AS DECIMAL(28,9)) AS e_t, CAST(CASE WHEN r > 1 THEN round(CAST(d AS DOUBLE) * (CAST(ra AS DOUBLE) / CAST(r AS DOUBLE)) * (1.0 - CAST(ra AS DOUBLE) / CAST(r AS DOUBLE)) * (CAST(r AS DOUBLE) - CAST(d AS DOUBLE)) / (CAST(r AS DOUBLE) - 1.0), 9) ELSE 0.0 END AS DECIMAL(28,9)) AS v_t FROM rk), ag AS (SELECT CAST(SUM(da) AS BIGINT) AS o_a, SUM(e_t) AS e_a, SUM(v_t) AS v FROM tm), us AS (SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS n_b FROM u) SELECT us.n_a, us.n_b, ag.o_a, round(CAST(ag.e_a AS DOUBLE), 6) AS e_a, CASE WHEN CAST(ag.v AS DOUBLE) > 0.0 THEN round((CAST(ag.o_a AS DOUBLE) - CAST(ag.e_a AS DOUBLE)) * (CAST(ag.o_a AS DOUBLE) - CAST(ag.e_a AS DOUBLE)) / CAST(ag.v AS DOUBLE), 6) END AS chi2 FROM ag, us"""))

  /** Greenwood bands ([[graft.operators.Trend.kmGreenwood]]): q321's
    * survival curve shipped WITH its variance — S ± 1.96·SE clamped to
    * [0,1], the error bars a retention readout needs before anyone
    * reads a difference off two curves.
    */
  private def q547(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    graft.operators.Trend.kmGreenwood(
      graft.operators.Trend.kaplanMeier(ev, "user_id", "sec", cutoff))
      .orderBy(col("t"))
  }

  // the q519 KM chain + Greenwood running variance, bands off the
  // ROUNDED se
  query("q547_km_greenwood", q547)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last FROM e GROUP BY 1), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death FROM u), bt AS (SELECT t, CAST(SUM(death) AS BIGINT) AS d, COUNT(*) AS n_t FROM lv GROUP BY 1), rk AS (SELECT t, d, CAST(SUM(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM bt), f AS (SELECT t, d, n_risk, 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor FROM rk), idx AS (SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS i FROM f), arr AS (SELECT list(factor ORDER BY t) AS fs FROM f), km AS (SELECT f.t, f.d, f.n_risk, round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:CAST(i AS INTEGER)]), (a, x) -> a * x), 6) AS survival FROM f JOIN idx ON f.t = idx.t, arr), gw AS (SELECT t, d, n_risk, survival, CASE WHEN n_risk > d THEN CAST(round(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * (CAST(n_risk AS DOUBLE) - CAST(d AS DOUBLE))), 9) AS DECIMAL(28,9)) END AS inc FROM km), g2 AS (SELECT t, d, n_risk, survival, SUM(inc) OVER cum AS g, SUM(CASE WHEN inc IS NULL THEN 1 ELSE 0 END) OVER cum AS bad FROM gw WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), g3 AS (SELECT t, d, n_risk, survival, bad, round(survival * sqrt(CAST(g AS DOUBLE)), 6) AS se FROM g2) SELECT t, d AS n_death, n_risk, survival, CASE WHEN bad = 0 THEN se END AS se, CASE WHEN bad = 0 THEN round(greatest(survival - 1.96 * se, 0.0), 6) END AS lo, CASE WHEN bad = 0 THEN round(least(survival + 1.96 * se, 1.0), 6) END AS hi FROM g3 ORDER BY t"""))

  /** Seasonal strength ([[graft.operators.Trend.seasonalStrength]]):
    * per event type, the variance share the hour-of-day profile
    * explains — whether q148/q504's seasonal machinery should run on
    * this key at all.
    */
  private def q561(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .select(col("event_type"),
        expr("ts div 1000000000 div 3600").cast("long").as("hour_id"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Trend.seasonalStrength(
      hourly, "event_type", "hour_id", 24, "cnt")
      .orderBy(col("event_type"))
  }

  // (key, slot) moment census; two pinned ratios, clamped
  query("q561_seasonal_strength", q561)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id FROM events), c AS (SELECT k, hour_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 2), ps AS (SELECT k, hour_id % 24 AS slot, CAST(COUNT(*) AS BIGINT) AS n_h, SUM(CAST(cnt AS DECIMAL(38,0))) AS s_h, SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))) AS ss_h FROM c GROUP BY 1, 2), pw AS (SELECT *, CAST(round(CAST(ss_h AS DOUBLE) - CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE) / CAST(n_h AS DOUBLE), 6) AS DECIMAL(38,6)) AS w_term FROM ps), pk AS (SELECT k, CAST(SUM(n_h) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_slots, SUM(s_h) AS s, SUM(ss_h) AS ss, SUM(w_term) AS ssw FROM pw GROUP BY k) SELECT k AS event_type, n AS n_buckets, n_slots, CASE WHEN CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0.0 THEN greatest(round(1.0 - CAST(ssw AS DOUBLE) / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6), 0.0) END AS strength FROM pk ORDER BY event_type"""))

  /** Durbin–Watson residual screen
    * ([[graft.operators.Trend.durbinWatson]]): is each event type's
    * hourly-volume trend model (q147's OLS) missing serial structure —
    * the regression-diagnostics complement to q429's raw-series
    * Ljung–Box.
    */
  private def q564(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .select(expr("ts div 1000000000 div 3600").as("hour_id"),
        col("event_type"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))
    graft.operators.Trend.durbinWatson(hourly, "event_type", "hour_id", "n")
      .orderBy(col("event_type"))
  }

  // q147's hourly OLS census, residuals pinned to DECIMAL(28,9), lag-1
  // differences and squares summed exactly per key
  query("q564_durbin_watson", q564)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b AS (SELECT event_type, CAST(hour_id - MIN(hour_id) OVER (PARTITION BY event_type) AS BIGINT) AS x, CAST(n AS BIGINT) AS y FROM h), a AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy, COUNT(DISTINCT x) AS nx FROM b GROUP BY 1), f AS (SELECT event_type, n, sx, sy, (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope FROM a WHERE nx >= 2 AND n >= 3), f2 AS (SELECT event_type, n, slope, (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS icept FROM f), r AS (SELECT b.event_type, b.x, f2.n, f2.slope, f2.icept, CAST(round(CAST(b.y AS DOUBLE) - (f2.icept + f2.slope * CAST(b.x AS DOUBLE)), 9) AS DECIMAL(28,9)) AS e FROM b JOIN f2 ON b.event_type = f2.event_type), r2 AS (SELECT *, lag(e) OVER (PARTITION BY event_type ORDER BY x) AS ep FROM r), t AS (SELECT event_type, MAX(n) AS n, round(MAX(slope), 6) AS slope, round(MAX(icept), 6) AS intercept, SUM(CASE WHEN ep IS NOT NULL THEN CAST(round((CAST(e AS DOUBLE) - CAST(ep AS DOUBLE)) * (CAST(e AS DOUBLE) - CAST(ep AS DOUBLE)), 9) AS DECIMAL(28,9)) END) AS num, SUM(CAST(round(CAST(e AS DOUBLE) * CAST(e AS DOUBLE), 9) AS DECIMAL(28,9))) AS den FROM r2 GROUP BY 1) SELECT event_type, n, slope, intercept, CASE WHEN CAST(den AS DOUBLE) > 0.0 THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS dw, CASE WHEN CAST(den AS DOUBLE) > 0.0 THEN round(1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2.0, 6) END AS rho1 FROM t ORDER BY event_type"""))

  /** The q147/q564 hourly frame shared by the regression-diagnostics
    * family (trend OLS, Durbin–Watson, Goldfeld–Quandt, Cook's D). */
  private def hourlyVolumes(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(expr("ts div 1000000000 div 3600").as("hour_id"),
        col("event_type"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))

  /** Goldfeld–Quandt heteroscedasticity screen
    * ([[graft.operators.Trend.goldfeldQuandt]]): are each trend's late
    * residuals wider than its early ones — the fanning-out complement
    * to q564's serial-memory DW on the same hourly fits.
    */
  private def q569(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.goldfeldQuandt(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")
      .orderBy(col("event_type"))

  // the q564 hourly census split into rank thirds; SSE via the OLS
  // orthogonality form over exact integer sums
  query("q569_goldfeld_quandt", q569)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b AS (SELECT event_type, hour_id AS x, CAST(n AS BIGINT) AS y, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_id) AS rn, COUNT(*) OVER (PARTITION BY event_type) AS nk FROM h), sg AS (SELECT event_type, x, y, CASE WHEN rn <= nk // 3 THEN 'lo' WHEN rn > nk - nk // 3 THEN 'hi' END AS seg FROM b WHERE nk // 3 >= 3), cen AS (SELECT event_type, seg, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(y * y) AS BIGINT) AS syy, COUNT(DISTINCT x) AS nx FROM sg WHERE seg IS NOT NULL GROUP BY 1, 2), f0 AS (SELECT event_type, seg, n, sx, sy, sxy, syy, (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b FROM cen WHERE nx >= 2), f1 AS (SELECT event_type, seg, n, b, (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a, sy, sxy, syy FROM f0), fit AS (SELECT event_type, seg, n, round(b, 6) AS slope, round(greatest(0.0, CAST(syy AS DOUBLE) - a * CAST(sy AS DOUBLE) - b * CAST(sxy AS DOUBLE)), 9) AS sse FROM f1), w AS (SELECT event_type, MAX(CASE WHEN seg = 'lo' THEN n END) AS n_lo, MAX(CASE WHEN seg = 'hi' THEN n END) AS n_hi, MAX(CASE WHEN seg = 'lo' THEN slope END) AS slope_lo, MAX(CASE WHEN seg = 'hi' THEN slope END) AS slope_hi, MAX(CASE WHEN seg = 'lo' THEN sse END) AS sse_lo, MAX(CASE WHEN seg = 'hi' THEN sse END) AS sse_hi FROM fit GROUP BY 1) SELECT event_type, n_lo, n_hi, slope_lo, slope_hi, sse_lo, sse_hi, CASE WHEN n_lo > 2 AND n_hi > 2 AND sse_lo > 0.0 THEN round((sse_hi / (CAST(n_hi AS DOUBLE) - 2.0)) / (sse_lo / (CAST(n_lo AS DOUBLE) - 2.0)), 6) END AS f_ratio FROM w ORDER BY event_type"""))

  /** Cook's distance ([[graft.operators.Trend.cooksDistance]]): which
    * single hours own each event type's trend line — per-point
    * leverage, studentized residual and D flagged at 4/n.
    */
  private def q571(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.cooksDistance(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")
      .orderBy(col("event_type"), col("x"))

  // q564's census prefix; slope/intercept pinned at 1e-9 before the
  // per-point leverage/influence arithmetic
  query("q571_cooks_distance", q571)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b AS (SELECT event_type, hour_id AS x, CAST(n AS BIGINT) AS y FROM h), cen AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(y * y) AS BIGINT) AS syy, COUNT(DISTINCT x) AS nx FROM b GROUP BY 1), f0 AS (SELECT *, (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS br FROM cen WHERE nx >= 2 AND n >= 4), f1 AS (SELECT *, (CAST(sy AS DOUBLE) - br * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS ar FROM f0), fit AS (SELECT event_type, n, round(br, 9) AS slope, round(ar, 9) AS icept, round(greatest(0.0, CAST(syy AS DOUBLE) - ar * CAST(sy AS DOUBLE) - br * CAST(sxy AS DOUBLE)), 9) AS sse, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar, CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS sxx_c FROM f1), r AS (SELECT b.event_type, b.x, b.y, fit.n, round(CAST(b.y AS DOUBLE) - (fit.icept + fit.slope * CAST(b.x AS DOUBLE)), 9) AS e, 1.0 / CAST(fit.n AS DOUBLE) + (CAST(b.x AS DOUBLE) - fit.xbar) * (CAST(b.x AS DOUBLE) - fit.xbar) / fit.sxx_c AS hl, fit.sse / (CAST(fit.n AS DOUBLE) - 2.0) AS s2, fit.sse AS sse FROM b JOIN fit ON b.event_type = fit.event_type) SELECT event_type, x, y, n, e AS resid, round(hl, 6) AS leverage, CASE WHEN sse > 0.0 AND hl < 1.0 THEN round(e / sqrt(s2 * (1.0 - hl)), 6) END AS r_student, CASE WHEN sse > 0.0 AND hl < 1.0 THEN round(e * e * hl / (2.0 * s2 * (1.0 - hl) * (1.0 - hl)), 6) END AS cooks_d, CASE WHEN sse > 0.0 AND hl < 1.0 THEN (e * e * hl / (2.0 * s2 * (1.0 - hl) * (1.0 - hl)) > 4.0 / CAST(n AS DOUBLE)) END AS influential FROM r ORDER BY event_type, x"""))

  /** Chow structural-break test ([[graft.operators.Trend.chowTest]])
    * at each trend's median hour — does granting the break beat two
    * parameters' worth of noise, the significance companion to q301's
    * detector.
    */
  private def q582(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.chowTest(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")
      .orderBy(col("event_type"))

  // pooled + half censuses at the median rank, q569's SSE discipline
  query("q582_chow_test", q582)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b AS (SELECT event_type, hour_id AS x, CAST(n AS BIGINT) AS y, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_id) AS rn, COUNT(*) OVER (PARTITION BY event_type) AS nk FROM h), sg AS (SELECT event_type, x, y, CASE WHEN rn <= nk // 2 THEN 1 ELSE 2 END AS seg FROM b WHERE nk // 2 >= 3), cp AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(y * y) AS BIGINT) AS syy, COUNT(DISTINCT x) AS nx FROM sg GROUP BY 1), fp AS (SELECT event_type, n, round(greatest(0.0, CAST(syy AS DOUBLE) - ((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) * CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sxy AS DOUBLE)), 9) AS sse_pooled FROM cp WHERE nx >= 2), ch AS (SELECT event_type, seg, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(y * y) AS BIGINT) AS syy, COUNT(DISTINCT x) AS nx FROM sg GROUP BY 1, 2), f0 AS (SELECT event_type, seg, n, sx, sy, sxy, syy, (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS bb FROM ch WHERE nx >= 2), fh AS (SELECT event_type, seg, n, round(bb, 6) AS sl, round(greatest(0.0, CAST(syy AS DOUBLE) - ((CAST(sy AS DOUBLE) - bb * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) * CAST(sy AS DOUBLE) - bb * CAST(sxy AS DOUBLE)), 9) AS sseh FROM f0), w AS (SELECT event_type, MAX(CASE WHEN seg = 1 THEN n END) AS n1, MAX(CASE WHEN seg = 2 THEN n END) AS n2, MAX(CASE WHEN seg = 1 THEN sl END) AS slope1, MAX(CASE WHEN seg = 2 THEN sl END) AS slope2, MAX(CASE WHEN seg = 1 THEN sseh END) AS sse1, MAX(CASE WHEN seg = 2 THEN sseh END) AS sse2 FROM fh GROUP BY 1) SELECT fp.event_type, fp.n, w.n1, w.n2, w.slope1, w.slope2, fp.sse_pooled, round(w.sse1 + w.sse2, 9) AS sse_split, CASE WHEN w.n1 IS NOT NULL AND w.n2 IS NOT NULL AND fp.n > 4 AND w.sse1 + w.sse2 > 0.0 THEN round((greatest(0.0, fp.sse_pooled - (w.sse1 + w.sse2)) / 2.0) / ((w.sse1 + w.sse2) / (CAST(fp.n AS DOUBLE) - 4.0)), 6) END AS f_stat FROM fp JOIN w ON fp.event_type = w.event_type ORDER BY fp.event_type"""))

  /** Partial autocorrelation to lag 3
    * ([[graft.operators.Trend.pacf3PerKey]]): where each hourly
    * series' PACF cuts off is the AR order its trend model needs —
    * the order meter q255's raw ACF can't give.
    */
  private def q588(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.pacf3PerKey(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")
      .orderBy(col("event_type"))

  // classic common-mean ACF with exact lag sums, then the DL ladder
  query("q588_pacf", q588)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b AS (SELECT event_type, CAST(n AS BIGINT) AS v, LEAD(CAST(n AS BIGINT), 1) OVER w AS w1, LEAD(CAST(n AS BIGINT), 2) OVER w AS w2, LEAD(CAST(n AS BIGINT), 3) OVER w AS w3 FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_id)), cen AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v * w1 ELSE 0 END) AS BIGINT) AS svw1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh1, CAST(SUM(COALESCE(w1, 0)) AS BIGINT) AS st1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk1, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN v * w2 ELSE 0 END) AS BIGINT) AS svw2, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh2, CAST(SUM(COALESCE(w2, 0)) AS BIGINT) AS st2, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk2, CAST(SUM(CASE WHEN w3 IS NOT NULL THEN v * w3 ELSE 0 END) AS BIGINT) AS svw3, CAST(SUM(CASE WHEN w3 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh3, CAST(SUM(COALESCE(w3, 0)) AS BIGINT) AS st3, CAST(SUM(CASE WHEN w3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk3 FROM b GROUP BY 1 HAVING COUNT(*) >= 4), st AS (SELECT event_type, n, round((CAST(svw1 AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sh1 AS DOUBLE) + CAST(st1 AS DOUBLE)) + CAST(nk1 AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) / (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS r1, round((CAST(svw2 AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sh2 AS DOUBLE) + CAST(st2 AS DOUBLE)) + CAST(nk2 AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) / (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS r2, round((CAST(svw3 AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sh3 AS DOUBLE) + CAST(st3 AS DOUBLE)) + CAST(nk3 AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) / (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS r3 FROM cen WHERE CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) > 0.0), f AS (SELECT *, 1.0 - r1 * r1 AS p22den, CASE WHEN 1.0 - r1 * r1 <> 0.0 THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p22 FROM st), f2 AS (SELECT *, r1 - p22 * r1 AS p21 FROM f), f3 AS (SELECT *, 1.0 - p21 * r1 - p22 * r2 AS p33den FROM f2) SELECT event_type, n, r1, r2, r3, round(r1, 6) AS pacf1, CASE WHEN p22den <> 0.0 THEN round(p22, 6) END AS pacf2, CASE WHEN p22den <> 0.0 AND p33den <> 0.0 THEN round((r3 - p21 * r2 - p22 * r1) / p33den, 6) END AS pacf3 FROM f3 ORDER BY event_type"""))

  /** Gumbel block-maxima fit ([[graft.operators.Trend.gumbelMaxima]]):
    * daily peak-volume extremes per event type → method-of-moments μ/β
    * and 10/100-block return levels — the expected-peak meter beside
    * q383's tail-heaviness index.
    */
  private def q589(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.gumbelMaxima(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")
      .orderBy(col("event_type"))

  // daily-max census → two exact moments → the MoM fit, with the
  // Gumbel constants interpolated as identical double literals
  query("q589_gumbel_maxima", q589)(Sql(
    s"""WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), blk AS (SELECT event_type, hour_id // 24 AS blk, CAST(MAX(n) AS BIGINT) AS m FROM h GROUP BY 1, 2), cen AS (SELECT event_type, COUNT(*) AS n_blocks, CAST(MAX(m) AS BIGINT) AS max_obs, CAST(SUM(m) AS BIGINT) AS sm, CAST(SUM(m * m) AS BIGINT) AS smm FROM blk GROUP BY 1 HAVING COUNT(*) >= 3), f AS (SELECT event_type, n_blocks, max_obs, CAST(sm AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean, (CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(n_blocks AS DOUBLE)) / (CAST(n_blocks AS DOUBLE) - 1.0) AS vr FROM cen), g AS (SELECT event_type, n_blocks, max_obs, mean, sqrt(vr) * ${math.sqrt(6.0) / math.Pi} AS beta FROM f WHERE vr > 0.0), g2 AS (SELECT *, mean - 0.5772156649 * beta AS mu FROM g) SELECT event_type, n_blocks, max_obs, round(mu, 6) AS mu, round(beta, 6) AS beta, round(mu - beta * ${math.log(-math.log(1.0 - 1.0 / 10.0))}, 6) AS rl10, round(mu - beta * ${math.log(-math.log(1.0 - 1.0 / 100.0))}, 6) AS rl100 FROM g2 ORDER BY event_type"""))

  /** Actuarial life table ([[graft.operators.Trend.lifeTable]]): daily
    * retention intervals with the half-exposure withdrawal convention —
    * the reporting-granularity sibling of q321's exact-time KM.
    */
  private def q590(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    graft.operators.Trend.lifeTable(ev, "user_id", "sec", cutoff)
      .orderBy(col("interval"))
  }

  // q321's lives chain at daily intervals with the actuarial c/2
  // half-exposure convention
  query("q590_life_table", q590)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last FROM e GROUP BY 1), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death FROM u), ivl AS (SELECT t // 24 AS iv, death FROM lv), bt AS (SELECT iv, CAST(SUM(death) AS BIGINT) AS d, CAST(SUM(1 - death) AS BIGINT) AS c, COUNT(*) AS n_t FROM ivl GROUP BY 1), rk AS (SELECT iv, d, c, CAST(SUM(n_t) OVER (ORDER BY iv ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_enter FROM bt), f AS (SELECT iv, d, c, n_enter, CAST(n_enter AS DOUBLE) - CAST(c AS DOUBLE) / 2.0 AS n_eff FROM rk), f2 AS (SELECT *, CASE WHEN n_eff > 0.0 THEN CAST(d AS DOUBLE) / n_eff ELSE 0.0 END AS q FROM f), f3 AS (SELECT *, 1.0 - q AS factor FROM f2), idx AS (SELECT iv, d, c, n_enter, n_eff, q, ROW_NUMBER() OVER (ORDER BY iv) AS i FROM f3), arr AS (SELECT list(factor ORDER BY iv) AS fs FROM f3) SELECT iv AS "interval", n_enter, d AS n_death, c AS n_censored, round(n_eff, 6) AS n_eff, round(q, 6) AS q_prob, round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:CAST(i AS INTEGER)]), (a, x) -> a * x), 6) AS survival FROM idx, arr ORDER BY 1"""))

  /** Cox proportional hazards
    * ([[graft.operators.Trend.coxBinaryFromLives]]) on
    * TIME-TO-FIRST-PURCHASE: the hazard RATIO between the md5-split
    * user arms — "arm A converts θ× as fast", the magnitude q520's
    * log-rank verdict doesn't give. Non-purchasers censor at their
    * last activity.
    */
  private def q591(s: SparkSession, dir: String): DataFrame = {
    val lives = T(s, dir, "events")
      .select(col("user_id"),
        expr("ts div 1000000000").cast("long").as("sec"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("sec")).as("first"), max(col("sec")).as("last"),
        min(when(col("event_type") === "purchase", col("sec")))
          .as("conv"))
      .select(
        ((coalesce(col("conv"), col("last")) - col("first")) / 3600L)
          .cast("long").as("t"),
        col("conv").isNotNull.cast("long").as("death"),
        (pmod(conv(substring(md5(concat(lit("cx:"),
          col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)) === 0).as("isa"))
    graft.operators.Trend.coxBinaryFromLives(lives)
  }

  // the geometric bisection replayed as a recursive CTE: sqrt
  // midpoints are IEEE-exact, score terms pinned at 1e-9, so both
  // engines walk identical brackets
  query("q591_cox_ph", q591)(Sql(
    s"""WITH RECURSIVE e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, event_type FROM events), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last, MIN(CASE WHEN event_type = 'purchase' THEN sec END) AS conv FROM e GROUP BY 1), lv AS (SELECT CAST((COALESCE(conv, last) - first) // 3600 AS BIGINT) AS t, CASE WHEN conv IS NOT NULL THEN 1 ELSE 0 END AS death, (CAST(concat('0x', substr(md5(concat('cx:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0) AS isa FROM u), bt AS (SELECT t, CAST(SUM(CASE WHEN isa THEN death ELSE 0 END) AS BIGINT) AS d1, CAST(SUM(death) AS BIGINT) AS d, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS nt1, COUNT(*) AS nt FROM lv GROUP BY 1), rk AS (SELECT t, d1, d, CAST(SUM(nt) OVER w - SUM(nt1) OVER w AS BIGINT) AS n0, CAST(SUM(nt1) OVER w AS BIGINT) AS n1 FROM bt WINDOW w AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), cen AS (SELECT d1, d, n0, n1 FROM rk WHERE d > 0), us AS (SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS n_b, CAST(SUM(CASE WHEN isa THEN death ELSE 0 END) AS BIGINT) AS d_a, CAST(SUM(death) AS BIGINT) AS d_total FROM lv), bis AS (SELECT 0 AS i, CAST(0.0001 AS DOUBLE) AS lo, CAST(10000.0 AS DOUBLE) AS hi UNION ALL SELECT i + 1, CASE WHEN ${coxScoreSql("sqrt(lo * hi)")} > 0 THEN sqrt(lo * hi) ELSE lo END, CASE WHEN ${coxScoreSql("sqrt(lo * hi)")} > 0 THEN hi ELSE sqrt(lo * hi) END FROM bis WHERE i < 60), fin AS (SELECT sqrt(lo * hi) AS th FROM bis WHERE i = 60), chk AS (SELECT (${coxScoreSql("CAST(0.0001 AS DOUBLE)")} > 0 AND ${coxScoreSql("CAST(10000.0 AS DOUBLE)")} <= 0 AND (SELECT COUNT(*) FROM cen) > 0) AS ok), inf AS (SELECT SUM(CAST(round(CAST(d AS DOUBLE) * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * th / ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * th) * (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) * th)), 9) AS DECIMAL(28,9))) AS ii FROM cen, fin) SELECT n_a, n_b, d_a, d_total, CASE WHEN ok AND CAST(ii AS DOUBLE) > 0.0 THEN round(th, 6) END AS hr, CASE WHEN ok AND CAST(ii AS DOUBLE) > 0.0 THEN round(ln(th), 6) END AS beta, CASE WHEN ok AND CAST(ii AS DOUBLE) > 0.0 THEN round(1.0 / sqrt(CAST(ii AS DOUBLE)), 6) END AS se, CASE WHEN ok AND CAST(ii AS DOUBLE) > 0.0 THEN round(ln(th) * sqrt(CAST(ii AS DOUBLE)), 6) END AS z FROM us, fin, chk, inf"""))

  /** DTW between daily-rhythm profiles
    * ([[graft.operators.Trend.dtwProfiles]]): phase-tolerant shape
    * distance between event types' hour-of-day mixes — a 2-hour shift
    * reads near-zero here and large under q455's slot-wise JSD.
    */
  private def q601(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.dtwProfiles(
      T(s, dir, "events"), col("event_type"),
      expr("ts div 1000000000 div 3600 % 24"))

  // pure-integer DP replayed as a recursive CTE marching the
  // anti-diagonal wavefront with the previous two diagonals as lists
  query("q601_dtw_profiles", q601)(Sql(
    """WITH RECURSIVE cen AS (SELECT event_type AS k, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS s, COUNT(*) AS c FROM events GROUP BY 1, 2), tot AS (SELECT k, SUM(c) AS t FROM cen GROUP BY 1), sp AS (SELECT k, CAST(unnest(range(0, 24)) AS BIGINT) AS s FROM tot), prof AS (SELECT sp.k, sp.s, CAST(COALESCE((cen.c * 1000000) // tot.t, 0) AS BIGINT) AS ppm FROM sp JOIN tot ON tot.k = sp.k LEFT JOIN cen ON cen.k = sp.k AND cen.s = sp.s), arrs AS (SELECT k, list(ppm ORDER BY s) AS v FROM prof GROUP BY 1), prs AS (SELECT a.k AS ka, b.k AS kb, a.v AS va, b.v AS vb FROM arrs a JOIN arrs b ON a.k < b.k), dp(ka, kb, va, vb, d, prev, cur) AS (SELECT ka, kb, va, vb, 0, CAST([] AS BIGINT[]), [abs(va[1] - vb[1])] FROM prs UNION ALL SELECT ka, kb, va, vb, d + 1, cur, list_transform(range(greatest(0, d - 22), least(23, d + 1) + 1), i -> abs(va[CAST(i + 1 AS INTEGER)] - vb[CAST(d + 2 - i AS INTEGER)]) + least(CASE WHEN i >= 1 AND i - 1 >= greatest(0, d - 23) THEN cur[CAST(i - greatest(0, d - 23) AS INTEGER)] ELSE 9223372036854775807 END, CASE WHEN i <= d THEN cur[CAST(i - greatest(0, d - 23) + 1 AS INTEGER)] ELSE 9223372036854775807 END, CASE WHEN i >= 1 AND i <= d AND i - 1 >= greatest(0, d - 24) THEN prev[CAST(i - greatest(0, d - 24) AS INTEGER)] ELSE 9223372036854775807 END)) FROM dp WHERE d < 46), fin AS (SELECT ka, kb, cur[1] AS dtw FROM dp WHERE d = 46) SELECT ka AS key_a, kb AS key_b, CAST(dtw AS BIGINT) AS dtw_ppm, round(CAST(dtw AS DOUBLE) / 1e6, 6) AS dtw_share FROM fin ORDER BY key_a, key_b"""))

  /** Circular time-of-day statistics
    * ([[graft.operators.Trend.circularStats]]): mean direction,
    * resultant length, and the Rayleigh rhythm-existence test — hour
    * is a circle, the linear mean of {23h, 1h} is nonsense noon.
    */
  private def q602(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.circularStats(
      T(s, dir, "events"), col("event_type"),
      expr("ts div 1000000000 div 3600 % 24"))
      .orderBy(col("key"))

  // per-slot cos/sin pinned at 1e-12 before the exact decimal sums
  query("q602_circular_stats", q602)(Sql(
    """WITH cen AS (SELECT event_type AS k, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS s, COUNT(*) AS c FROM events GROUP BY 1, 2), st AS (SELECT k, c, CAST(round(cos(s * (2 * pi() / 24)), 12) AS DECIMAL(15,12)) AS cs, CAST(round(sin(s * (2 * pi() / 24)), 12) AS DECIMAL(15,12)) AS sn FROM cen), a AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n, SUM(CAST(c AS DECIMAL(26,12)) * cs) AS sc, SUM(CAST(c AS DECIMAL(26,12)) * sn) AS ss FROM st GROUP BY 1), f AS (SELECT k, n, sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / CAST(n AS DOUBLE) AS r, atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) AS dir FROM a) SELECT k AS key, n, round(((dir + 2 * pi()) % (2 * pi())) * (24 / (2 * pi())), 6) AS mean_hour, round(r, 6) AS resultant_r, round(1.0 - r, 6) AS circ_variance, round(CAST(n AS DOUBLE) * r * r, 6) AS rayleigh_z FROM f ORDER BY key"""))

  /** Haar energy decomposition ([[graft.operators.Trend.haarEnergy]]):
    * which timescale owns each hourly series' variance — exact-integer
    * multi-resolution energies, the spectrum q501's single period and
    * q255's fixed lags can't draw.
    */
  private def q604(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.haarEnergy(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")

  // five unrolled pair-halving levels, exact integer energies
  query("q604_haar_energy", q604)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b0 AS (SELECT event_type AS k, CAST(n AS BIGINT) AS v, CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_id) - 1 AS BIGINT) AS i, COUNT(*) OVER (PARTITION BY event_type) AS nn FROM h), base AS (SELECT k, i, v FROM b0 WHERE i < (nn // 32) * 32), l1 AS (SELECT k, i // 2 AS i2, MAX(CASE WHEN i % 2 = 0 THEN v END) AS a, MAX(CASE WHEN i % 2 = 1 THEN v END) AS b FROM base GROUP BY 1, 2), e1 AS (SELECT k, CAST(1 AS BIGINT) AS level, CAST(COUNT(*) AS BIGINT) AS n_coeffs, CAST(SUM((a - b) * (a - b)) AS BIGINT) AS energy FROM l1 GROUP BY 1), c1 AS (SELECT k, i2 AS i, a + b AS v FROM l1), l2 AS (SELECT k, i // 2 AS i2, MAX(CASE WHEN i % 2 = 0 THEN v END) AS a, MAX(CASE WHEN i % 2 = 1 THEN v END) AS b FROM c1 GROUP BY 1, 2), e2 AS (SELECT k, CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT), CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l2 GROUP BY 1), c2 AS (SELECT k, i2 AS i, a + b AS v FROM l2), l3 AS (SELECT k, i // 2 AS i2, MAX(CASE WHEN i % 2 = 0 THEN v END) AS a, MAX(CASE WHEN i % 2 = 1 THEN v END) AS b FROM c2 GROUP BY 1, 2), e3 AS (SELECT k, CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT), CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l3 GROUP BY 1), c3 AS (SELECT k, i2 AS i, a + b AS v FROM l3), l4 AS (SELECT k, i // 2 AS i2, MAX(CASE WHEN i % 2 = 0 THEN v END) AS a, MAX(CASE WHEN i % 2 = 1 THEN v END) AS b FROM c3 GROUP BY 1, 2), e4 AS (SELECT k, CAST(4 AS BIGINT), CAST(COUNT(*) AS BIGINT), CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l4 GROUP BY 1), c4 AS (SELECT k, i2 AS i, a + b AS v FROM l4), l5 AS (SELECT k, i // 2 AS i2, MAX(CASE WHEN i % 2 = 0 THEN v END) AS a, MAX(CASE WHEN i % 2 = 1 THEN v END) AS b FROM c4 GROUP BY 1, 2), e5 AS (SELECT k, CAST(5 AS BIGINT), CAST(COUNT(*) AS BIGINT), CAST(SUM((a - b) * (a - b)) AS BIGINT) FROM l5 GROUP BY 1), c5 AS (SELECT k, i2 AS i, a + b AS v FROM l5), ea AS (SELECT k, CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT), CAST(SUM(v * v) AS BIGINT) FROM c5 GROUP BY 1), allx AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM ea), tot AS (SELECT k, CAST(SUM(energy) AS BIGINT) AS te FROM allx GROUP BY 1) SELECT allx.k AS event_type, level, n_coeffs, energy, CASE WHEN te > 0 THEN round(CAST(energy AS DOUBLE) / CAST(te AS DOUBLE), 6) END AS energy_share FROM allx JOIN tot ON allx.k = tot.k ORDER BY event_type, level"""))

  /** Mean-excess table ([[graft.operators.Trend.meanExcess]]): the
    * peaks-over-threshold diagnostic beside q589's block maxima —
    * rising slope = Pareto tail, flat = exponential.
    */
  private def q605(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.meanExcess(
      hourlyVolumes(s, dir).select(col("event_type"), col("n")),
      "event_type", "n")

  // value census → ceiling-rank thresholds → one conditional excess
  // pass with the spine broadcast
  query("q605_mean_excess", q605)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), base AS (SELECT event_type AS k, CAST(n AS BIGINT) AS v FROM h), cen AS (SELECT k, v, COUNT(*) AS c FROM base GROUP BY 1, 2), rk AS (SELECT k, v, CAST(SUM(c) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, CAST(SUM(c) OVER (PARTITION BY k) AS BIGINT) AS n FROM cen), sp AS (SELECT CAST(unnest([50, 75, 90, 95]) AS BIGINT) AS pct), th AS (SELECT k, pct, MIN(v) AS u, MAX(n) AS n FROM rk, sp WHERE cum * 100 >= pct * n GROUP BY 1, 2), ex AS (SELECT b.k, t.pct, COUNT(*) AS n_exceed, CAST(SUM(b.v - t.u) AS BIGINT) AS excess_sum FROM base b JOIN th t ON b.k = t.k AND b.v > t.u GROUP BY 1, 2) SELECT th.k AS event_type, th.pct, th.u AS threshold, th.n, CAST(COALESCE(ex.n_exceed, 0) AS BIGINT) AS n_exceed, round(CAST(COALESCE(ex.n_exceed, 0) AS DOUBLE) / CAST(th.n AS DOUBLE), 6) AS exceed_share, CASE WHEN ex.n_exceed > 0 THEN round(CAST(ex.excess_sum AS DOUBLE) / CAST(ex.n_exceed AS DOUBLE), 6) END AS mean_excess FROM th LEFT JOIN ex ON th.k = ex.k AND th.pct = ex.pct ORDER BY event_type, th.pct"""))

  /** Kupiec POF backtest ([[graft.operators.Trend.kupiecPof]]): does
    * the first-half 95th-percentile alert line fire at its claimed 5%
    * on the second half — the out-of-sample verdict.
    */
  private def q606(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.kupiecPof(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")

  // first-half calibration, second-half violations, four pinned lns
  query("q606_kupiec_pof", q606)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b0 AS (SELECT event_type AS k, CAST(n AS BIGINT) AS v, CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_id) AS BIGINT) AS r, COUNT(*) OVER (PARTITION BY event_type) AS nn FROM h), base AS (SELECT k, v, (r * 2 <= nn) AS half FROM b0), calc AS (SELECT k, v, COUNT(*) AS c FROM base WHERE half GROUP BY 1, 2), rk AS (SELECT k, v, CAST(SUM(c) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, CAST(SUM(c) OVER (PARTITION BY k) AS BIGINT) AS nc FROM calc), cal AS (SELECT k, MIN(v) AS u FROM rk WHERE cum * 100 >= 95 * nc GROUP BY 1), t AS (SELECT b.k, cal.u, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN b.v > cal.u THEN 1 ELSE 0 END) AS BIGINT) AS x FROM base b JOIN cal ON b.k = cal.k WHERE NOT b.half GROUP BY 1, 2), f AS (SELECT k, u, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS xhat FROM t), g AS (SELECT *, round((CAST(n AS DOUBLE) - CAST(x AS DOUBLE)) * ln(0.95) + CAST(x AS DOUBLE) * ln(0.05), 9) AS lc, round(CASE WHEN x = 0 THEN CAST(n AS DOUBLE) * ln(1.0 - xhat) WHEN x = n THEN CAST(n AS DOUBLE) * ln(xhat) ELSE (CAST(n AS DOUBLE) - CAST(x AS DOUBLE)) * ln(1.0 - xhat) + CAST(x AS DOUBLE) * ln(xhat) END, 9) AS lo FROM f) SELECT k AS event_type, u AS threshold, n, x, CAST(0.05 AS DOUBLE) AS claimed_rate, round(xhat, 6) AS observed_rate, round(-2.0 * (lc - lo), 6) AS kupiec_lr FROM g ORDER BY event_type"""))

  /** Record-breaking statistics ([[graft.operators.Trend.recordStats]]):
    * running-maximum records vs the harmonic budget — the
    * extremes-only trend detector beside q421's Mann–Kendall.
    */
  private def q609(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.recordStats(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")
      .orderBy(col("event_type"))

  // strict running-max flags + the pinned harmonic budget
  query("q609_record_stats", q609)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b0 AS (SELECT event_type AS k, hour_id AS b, CAST(n AS BIGINT) AS v FROM h), fl AS (SELECT k, b, v, MAX(v) OVER (PARTITION BY k ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM b0), fr AS (SELECT k, b, CASE WHEN pm IS NULL OR v > pm THEN 1 ELSE 0 END AS rec FROM fl), a AS (SELECT k, COUNT(*) AS n, CAST(SUM(rec) AS BIGINT) AS n_records, MAX(CASE WHEN rec = 1 THEN b END) AS last_record_bucket FROM fr GROUP BY 1), hh AS (SELECT k, n, n_records, last_record_bucket, (SELECT SUM(CAST(round(1.0 / CAST(i AS DOUBLE), 12) AS DECIMAL(28,12))) FROM unnest(range(1, n + 1)) AS u(i)) AS hn FROM a) SELECT k AS event_type, CAST(n AS BIGINT) AS n, n_records, last_record_bucket, round(CAST(hn AS DOUBLE), 6) AS expected_records, round(CAST(n_records AS DOUBLE) / CAST(hn AS DOUBLE), 6) AS record_ratio FROM hh ORDER BY event_type"""))

  /** Theil's U + error decomposition
    * ([[graft.operators.Trend.theilU]]): the seasonal-naive baseline
    * scored and diagnosed — bias/variance/covariance shares of its
    * MSE, the yardstick every seasonal model must beat.
    */
  private def q611(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.theilU(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")

  // one lag self-join, exact pair moments, the UM/US/UC closure
  query("q611_theil_u", q611)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b0 AS (SELECT event_type AS k, hour_id AS b, CAST(n AS BIGINT) AS v FROM h), pr AS (SELECT k, v, LAG(v, 24) OVER (PARTITION BY k ORDER BY b) AS f FROM b0), pp AS (SELECT k, v, f FROM pr WHERE f IS NOT NULL), cen AS (SELECT k, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sa, CAST(SUM(f) AS BIGINT) AS sf, CAST(SUM(v * v) AS BIGINT) AS saa, CAST(SUM(f * f) AS BIGINT) AS sff, CAST(SUM((v - f) * (v - f)) AS BIGINT) AS sse FROM pp GROUP BY 1 HAVING COUNT(*) >= 3), g AS (SELECT k, CAST(n AS BIGINT) AS n, CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) AS abar, CAST(sf AS DOUBLE) / CAST(n AS DOUBLE) AS fbar, CAST(saa AS DOUBLE) / CAST(n AS DOUBLE) AS raa, CAST(sff AS DOUBLE) / CAST(n AS DOUBLE) AS rff, CAST(sse AS DOUBLE) / CAST(n AS DOUBLE) AS mse FROM cen), g2 AS (SELECT *, raa - abar * abar AS va, rff - fbar * fbar AS vf FROM g), g3 AS (SELECT *, (fbar - abar) * (fbar - abar) / mse AS um, (sqrt(vf) - sqrt(va)) * (sqrt(vf) - sqrt(va)) / mse AS us FROM g2) SELECT k AS event_type, n, round(sqrt(mse), 6) AS rmse, CASE WHEN raa + rff > 0.0 THEN round(sqrt(mse) / (sqrt(raa) + sqrt(rff)), 6) END AS theil_u1, CASE WHEN mse > 0.0 THEN round(um, 6) END AS um_bias, CASE WHEN mse > 0.0 AND va >= 0.0 AND vf >= 0.0 THEN round(us, 6) END AS us_variance, CASE WHEN mse > 0.0 AND va >= 0.0 AND vf >= 0.0 THEN round(1.0 - um - us, 6) END AS uc_covariance FROM g3 ORDER BY event_type"""))

  /** Hour-of-day uniformity χ²
    * ([[graft.operators.Trend.uniformityChi2]]): the ANY-shape rhythm
    * test — a bimodal commute pattern cancels q602's Rayleigh
    * resultant but not this.
    */
  private def q613(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.uniformityChi2(
      T(s, dir, "events"), col("event_type"),
      expr("ts div 1000000000 div 3600 % 24"))

  // full slot spine — an empty slot still owes its n/k expectation
  query("q613_uniformity_chi2", q613)(Sql(
    """WITH cen AS (SELECT event_type AS k, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS s, COUNT(*) AS c FROM events GROUP BY 1, 2), sp AS (SELECT k, CAST(unnest(range(0, 24)) AS BIGINT) AS s FROM (SELECT DISTINCT k FROM cen)), fu AS (SELECT sp.k, sp.s, COALESCE(cen.c, 0) AS c FROM sp LEFT JOIN cen ON cen.k = sp.k AND cen.s = sp.s), tot AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n FROM fu GROUP BY 1), f AS (SELECT fu.k, fu.c, tot.n, CAST(tot.n AS DOUBLE) / 24 AS e FROM fu JOIN tot ON fu.k = tot.k WHERE tot.n > 0) SELECT k AS key, n, CAST(23 AS BIGINT) AS df, round(CAST(SUM(CAST(round((CAST(c AS DOUBLE) - e) * (CAST(c AS DOUBLE) - e) / e, 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2 FROM f GROUP BY k, n ORDER BY key"""))

  /** Hurst exponent ([[graft.operators.Trend.hurstRS]]): long-memory
    * in each hourly series — persistence vs mean reversion from the
    * R/S slope, beyond anything q255/q588's fixed lags can see.
    */
  private def q615(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.hurstRS(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")

  // four unrolled R/S window sizes, pinned ratios, the 4-point fit
  query("q615_hurst", q615)(Sql(
    s"""WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), hbase AS (SELECT event_type AS k, CAST(n AS BIGINT) AS v, CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_id) - 1 AS BIGINT) AS i FROM h), pts AS (${hurstPtsSql(8)} UNION ALL ${hurstPtsSql(16)} UNION ALL ${hurstPtsSql(32)} UNION ALL ${hurstPtsSql(64)}), fit AS (SELECT k, COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy FROM pts GROUP BY 1 HAVING COUNT(*) >= 3) SELECT k AS event_type, CAST(np AS BIGINT) AS n_sizes, round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS hurst FROM fit ORDER BY event_type"""))

  /** Sample entropy ([[graft.operators.Trend.sampleEntropy]]):
    * regularity of each hourly series — the nonlinear complement to
    * q615's long memory and q604's energy levels.
    */
  private def q619(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.sampleEntropy(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")

  // integer template-match censuses per key, ln the only libm call
  query("q619_sample_entropy", q619)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id, COUNT(*) AS n FROM events GROUP BY 1, 2), b0 AS (SELECT event_type AS k, CAST(n AS BIGINT) AS v, hour_id FROM h), base AS (SELECT k, v, CAST(ROW_NUMBER() OVER w AS BIGINT) AS i, LEAD(v, 1) OVER w AS v1, LEAD(v, 2) OVER w AS v2 FROM b0 WINDOW w AS (PARTITION BY k ORDER BY hour_id)), bb AS (SELECT * FROM base WHERE v2 IS NOT NULL), pr AS (SELECT a.k, a.v2 AS x2, b.v2 AS w2 FROM bb a JOIN bb b ON a.k = b.k AND a.i < b.i AND abs(a.v - b.v) <= 20 AND abs(a.v1 - b.v1) <= 20), ag AS (SELECT k, COUNT(*) AS b_matches, CAST(SUM(CASE WHEN abs(x2 - w2) <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS a_matches FROM pr GROUP BY 1) SELECT k AS event_type, b_matches, a_matches, CASE WHEN a_matches > 0 AND b_matches > 0 THEN round(-ln(CAST(a_matches AS DOUBLE) / CAST(b_matches AS DOUBLE)), 6) + 0.0 END AS sampen FROM ag ORDER BY event_type"""))

  /** Sharpe/Sortino ([[graft.operators.Trend.sharpeSortino]]):
    * risk-adjusted drift of each type's daily volume — total vs
    * downside-only volatility, beside q370's drawdown.
    */
  private def q624(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.sharpeSortino(
      T(s, dir, "events")
        .select(col("event_type"),
          expr("ts div 1000000000 div 86400").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n")),
      "event_type", "day", "n")

  // pinned daily log returns, exact decimal moment sums
  query("q624_sharpe_sortino", q624)(Sql(
    """WITH d0 AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS day FROM events), dc AS (SELECT k, day, COUNT(*) AS v FROM d0 GROUP BY 1, 2), r0 AS (SELECT k, CAST(v AS BIGINT) AS v, LAG(CAST(v AS BIGINT)) OVER (PARTITION BY k ORDER BY day) AS pv FROM dc), rr AS (SELECT k, CAST(round(ln(CAST(v AS DOUBLE) / CAST(pv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS r FROM r0 WHERE pv IS NOT NULL AND pv > 0 AND v > 0), cen AS (SELECT k, COUNT(*) AS n, SUM(r) AS sr, SUM(CAST(round(CAST(r AS DOUBLE) * CAST(r AS DOUBLE), 9) AS DECIMAL(28,9))) AS srr, SUM(CASE WHEN r < 0 THEN CAST(round(CAST(r AS DOUBLE) * CAST(r AS DOUBLE), 9) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END) AS sneg FROM rr GROUP BY 1 HAVING COUNT(*) >= 3), f AS (SELECT k, CAST(n AS BIGINT) AS n, CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS mean, (CAST(srr AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0) AS vr, sqrt(CAST(sneg AS DOUBLE) / CAST(n AS DOUBLE)) AS dd FROM cen) SELECT k AS event_type, n AS n_returns, round(mean, 6) AS mean_return, CASE WHEN vr > 0.0 THEN round(sqrt(vr), 6) END AS volatility, round(dd, 6) AS downside_dev, CASE WHEN vr > 0.0 THEN round(mean / sqrt(vr), 6) END AS sharpe, CASE WHEN dd > 0.0 THEN round(mean / dd, 6) END AS sortino FROM f ORDER BY event_type"""))

  /** Taylor's power law ([[graft.operators.Trend.taylorLaw]]): the
    * variance-mean scaling exponent across (type, hour-of-day) series
    * — how alert bands must widen with volume, the cross-key
    * complement to q456's per-key dispersion.
    */
  private def q627(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.taylorLaw(
      T(s, dir, "events").select(
        concat(col("event_type"), lit(":"),
          expr("ts div 1000000000 div 3600 % 24")).as("k"),
        expr("ts div 1000000000 div 86400").as("day"),
        lit(1L).as("one")),
      "k", "day", "one")

  // per-key exact moments, pinned ln points on the 1e-9 grid,
  // decimal-summed term products, one pinned-double OLS finish
  query("q627_taylor_law", q627)(Sql(
    """WITH e AS (SELECT concat(event_type, ':', CAST(epoch_ns(ts) // 1000000000 // 3600 % 24 AS VARCHAR)) AS k, CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS day FROM events), dc AS (SELECT k, day, COUNT(*) AS v FROM e GROUP BY 1, 2), cen AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(v AS DECIMAL(38,0))) AS s, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS ss FROM dc GROUP BY 1 HAVING COUNT(*) >= 2), mv AS (SELECT k, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m, (CAST(ss AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0) AS vv FROM cen), pts AS (SELECT CAST(round(ln(m), 9) AS DECIMAL(28,9)) AS lx, CAST(round(ln(vv), 9) AS DECIMAL(28,9)) AS ly FROM mv WHERE m > 0.0 AND vv > 0.0), p2 AS (SELECT lx, ly, CAST(round(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE), 9) AS DECIMAL(28,9)) AS xx, CAST(round(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE), 9) AS DECIMAL(28,9)) AS xy, CAST(round(CAST(ly AS DOUBLE) * CAST(ly AS DOUBLE), 9) AS DECIMAL(28,9)) AS yy FROM pts), f AS (SELECT CAST(COUNT(*) AS BIGINT) AS np, SUM(lx) AS sx, SUM(ly) AS sy, SUM(xx) AS sxx, SUM(xy) AS sxy, SUM(yy) AS syy FROM p2), g AS (SELECT np, CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy, CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx, CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy, CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy FROM f) SELECT np AS n_points, CASE WHEN np >= 3 AND cxx > 0.0 THEN round(cxy / cxx, 6) END AS slope, CASE WHEN np >= 3 AND cxx > 0.0 THEN round((sy - cxy / cxx * sx) / CAST(np AS DOUBLE), 6) END AS intercept, CASE WHEN np >= 3 AND cxx > 0.0 AND cyy > 0.0 THEN round(cxy * cxy / (cxx * cyy), 6) END AS r2 FROM g"""))

  /** Dickey–Fuller ([[graft.operators.Trend.dickeyFuller]]): is each
    * hourly series a random walk or mean-reverting — the stationarity
    * gate before q147's trend fits mean anything.
    */
  private def q628(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.dickeyFuller(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")

  // one lag pass, exact DECIMAL(38,0) moments, centered cross-forms,
  // the 5% constant-only critical value as a shared literal
  query("q628_dickey_fuller", q628)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid, CAST(COUNT(*) AS BIGINT) AS v FROM events GROUP BY 1, 2), o AS (SELECT k, v AS x, LEAD(v) OVER (PARTITION BY k ORDER BY hid) AS nx FROM h), p AS (SELECT k, x, nx - x AS d FROM o WHERE nx IS NOT NULL), f AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(d AS DECIMAL(38,0))) AS sd, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(x AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))) AS sxd, SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))) AS sdd FROM p GROUP BY 1 HAVING COUNT(*) >= 4), g AS (SELECT k, n, CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx, CAST(n AS DOUBLE) * CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE) AS cxy, CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS cyy FROM f), g2 AS (SELECT k, n, cxx, cxy, cxy / cxx AS rho, (cyy - cxy * cxy / cxx) / CAST(n AS DOUBLE) AS sse FROM g), g3 AS (SELECT k, n, cxx, sse, rho, sqrt(sse / (CAST(n AS DOUBLE) - 2.0) * CAST(n AS DOUBLE) / cxx) AS se FROM g2) SELECT k AS event_type, n AS n_diffs, CASE WHEN cxx > 0.0 AND sse > 0.0 THEN round(rho, 6) END AS rho, CASE WHEN cxx > 0.0 AND sse > 0.0 THEN round(rho / se, 6) END AS df_stat, CASE WHEN cxx > 0.0 AND sse > 0.0 THEN rho / se < -2.86 END AS stationary FROM g3 ORDER BY k"""))

  /** Granger causality ([[graft.operators.Trend.grangerCausality]]):
    * does yesterday's view volume predict today's purchases beyond
    * purchases' own history — the directional upgrade of q360's
    * symmetric lagged correlation. Zero-filled shared hour spine.
    */
  private def q629(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.grangerCausality(
      vpHourly(s, dir), "h", "x", "y")

  // zero-filled shared spine, one lag pass, the 2x2 normal equations
  // closed-form, pinned-double F finish, both directions
  query("q629_granger", q629)(Sql(
    """WITH h AS (SELECT CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hh, event_type FROM events), b AS (SELECT MIN(hh) AS lo, MAX(hh) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hh), cen AS (SELECT hh, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y FROM h GROUP BY 1), fr AS (SELECT sp.hh, COALESCE(cen.x, 0) AS x, COALESCE(cen.y, 0) AS y FROM sp LEFT JOIN cen USING (hh)), lg AS (SELECT hh, x, y, LAG(x) OVER (ORDER BY hh) AS xl, LAG(y) OVER (ORDER BY hh) AS yl FROM fr), rws AS (SELECT * FROM lg WHERE xl IS NOT NULL), mom AS (SELECT 'x->y' AS direction, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(yl AS DECIMAL(38,0))) AS s1, SUM(CAST(xl AS DECIMAL(38,0))) AS s2, SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy, SUM(CAST(y AS DECIMAL(38,0)) * CAST(yl AS DECIMAL(38,0))) AS sy1, SUM(CAST(y AS DECIMAL(38,0)) * CAST(xl AS DECIMAL(38,0))) AS sy2, SUM(CAST(yl AS DECIMAL(38,0)) * CAST(yl AS DECIMAL(38,0))) AS s11, SUM(CAST(xl AS DECIMAL(38,0)) * CAST(xl AS DECIMAL(38,0))) AS s22, SUM(CAST(yl AS DECIMAL(38,0)) * CAST(xl AS DECIMAL(38,0))) AS s12 FROM rws UNION ALL SELECT 'y->x', CAST(COUNT(*) AS BIGINT), SUM(CAST(x AS DECIMAL(38,0))), SUM(CAST(xl AS DECIMAL(38,0))), SUM(CAST(yl AS DECIMAL(38,0))), SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))), SUM(CAST(x AS DECIMAL(38,0)) * CAST(xl AS DECIMAL(38,0))), SUM(CAST(x AS DECIMAL(38,0)) * CAST(yl AS DECIMAL(38,0))), SUM(CAST(xl AS DECIMAL(38,0)) * CAST(xl AS DECIMAL(38,0))), SUM(CAST(yl AS DECIMAL(38,0)) * CAST(yl AS DECIMAL(38,0))), SUM(CAST(xl AS DECIMAL(38,0)) * CAST(yl AS DECIMAL(38,0))) FROM rws), cc AS (SELECT direction, n, CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy, CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c11, CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c22, CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c12, CAST(n AS DOUBLE) * CAST(sy1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS c1y, CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS c2y FROM mom), dd AS (SELECT direction, n, cyy, c11, (cyy - c1y * c1y / c11) / CAST(n AS DOUBLE) AS sser, c11 * c22 - c12 * c12 AS det, (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1, (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2, c1y, c2y FROM cc), ee AS (SELECT direction, n, c11, det, sser, b2, (cyy - b1 * c1y - b2 * c2y) / CAST(n AS DOUBLE) AS sseu FROM dd) SELECT direction, n, CASE WHEN n >= 5 AND c11 > 0.0 AND det > 0.0 AND sseu > 0.0 THEN round(b2, 6) END AS lag_coef, CASE WHEN n >= 5 AND c11 > 0.0 AND det > 0.0 AND sseu > 0.0 THEN round(sser, 6) END AS sse_restricted, CASE WHEN n >= 5 AND c11 > 0.0 AND det > 0.0 AND sseu > 0.0 THEN round(sseu, 6) END AS sse_unrestricted, CASE WHEN n >= 5 AND c11 > 0.0 AND det > 0.0 AND sseu > 0.0 THEN round((sser - sseu) / (sseu / (CAST(n AS DOUBLE) - 3.0)), 6) END AS f_stat FROM ee ORDER BY direction"""))

  /** Zero-filled shared hour spine carrying view (x) and purchase (y)
    * counts — the aligned two-series frame q629 (Granger) and q638
    * (Engle–Granger) both regress over. */
  private def vpHourly(s: SparkSession, dir: String): DataFrame = {
    val h = T(s, dir, "events")
      .select(expr("ts div 1000000000 div 3600").as("h"),
        col("event_type"))
    val spine = h.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("h"))
    val cen = h.groupBy(col("h"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    spine.join(cen, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** Classical additive decomposition
    * ([[graft.operators.Trend.classicalDecomposition]]): each type's
    * 24-hour seasonal index table + strength of seasonality — how much
    * of the series is just the daily cycle.
    */
  private def q634(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.classicalDecomposition(
      hourlySpineDense(s, dir), "event_type", "hour_id", "n", period = 24)

  // dense spine, 2x24 centered-MA trend, pinned detrended grid,
  // centered slot means, Hyndman strength from re-pinned variances
  query("q634_seasonal_decomposition", q634)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid FROM events), b AS (SELECT MIN(hid) AS lo, MAX(hid) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hid), ty AS (SELECT DISTINCT k FROM h), cen AS (SELECT k, hid, CAST(COUNT(*) AS BIGINT) AS v FROM h GROUP BY 1, 2), fr AS (SELECT ty.k, sp.hid AS bb, COALESCE(cen.v, 0) AS v FROM ty CROSS JOIN sp LEFT JOIN cen ON cen.k = ty.k AND cen.hid = sp.hid), w AS (SELECT k, bb, v, 2 * SUM(v) OVER iw AS inner2, LAG(v, 12) OVER pw AS lo12, LEAD(v, 12) OVER pw AS hi12, COUNT(*) OVER iw AS cnt FROM fr WINDOW iw AS (PARTITION BY k ORDER BY bb ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING), pw AS (PARTITION BY k ORDER BY bb)), d AS (SELECT k, bb, CAST(round(CAST(v AS DOUBLE) - CAST(lo12 + inner2 + hi12 AS DOUBLE) / 48.0, 9) AS DECIMAL(28,9)) AS detr, bb % 24 AS slot FROM w WHERE lo12 IS NOT NULL AND hi12 IS NOT NULL AND cnt = 23), sm AS (SELECT k, slot, CAST(COUNT(*) AS BIGINT) AS n_obs, SUM(detr) AS sd FROM d GROUP BY 1, 2), sm2 AS (SELECT k, slot, n_obs, CAST(round(CAST(sd AS DOUBLE) / CAST(n_obs AS DOUBLE), 9) AS DECIMAL(28,9)) AS raw FROM sm), ct AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS ns, SUM(raw) AS sraw FROM sm2 GROUP BY 1), ct2 AS (SELECT k, CAST(round(CAST(sraw AS DOUBLE) / CAST(ns AS DOUBLE), 9) AS DECIMAL(28,9)) AS ctr FROM ct WHERE ns = 24), se AS (SELECT sm2.k, slot, n_obs, CAST(raw - ctr AS DECIMAL(28,9)) AS sj FROM sm2 JOIN ct2 ON sm2.k = ct2.k), rm AS (SELECT d.k, d.detr, CAST(d.detr - se.sj AS DECIMAL(28,9)) AS r FROM d JOIN se ON d.k = se.k AND d.slot = se.slot), rv AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nt, SUM(detr) AS sdt, SUM(CAST(round(CAST(detr AS DOUBLE) * CAST(detr AS DOUBLE), 9) AS DECIMAL(28,9))) AS sdd, SUM(r) AS sr, SUM(CAST(round(CAST(r AS DOUBLE) * CAST(r AS DOUBLE), 9) AS DECIMAL(28,9))) AS srr FROM rm GROUP BY 1 HAVING COUNT(*) >= 48), st AS (SELECT k, CASE WHEN (CAST(sdd AS DOUBLE) - CAST(nt AS DOUBLE) * (CAST(sdt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(sdt AS DOUBLE) / CAST(nt AS DOUBLE))) / (CAST(nt AS DOUBLE) - 1.0) > 0.0 THEN round(greatest(0.0, 1.0 - ((CAST(srr AS DOUBLE) - CAST(nt AS DOUBLE) * (CAST(sr AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(nt AS DOUBLE))) / (CAST(nt AS DOUBLE) - 1.0)) / ((CAST(sdd AS DOUBLE) - CAST(nt AS DOUBLE) * (CAST(sdt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(sdt AS DOUBLE) / CAST(nt AS DOUBLE))) / (CAST(nt AS DOUBLE) - 1.0))), 6) END AS strength FROM rv) SELECT se.k AS event_type, slot, n_obs, round(CAST(sj AS DOUBLE), 6) AS seasonal, strength FROM se JOIN st ON se.k = st.k ORDER BY event_type, slot"""))

  /** Newey–West HAC slope errors
    * ([[graft.operators.Trend.neweyWestSlope]]): the honest trend
    * error bar when residuals are serially correlated — the
    * CORRECTION to what q564's DW detects.
    */
  private def q637(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.neweyWestSlope(
      hourlySpineDense(s, dir), "event_type", "hour_id", "n", lags = 3)

  // dense spine, row-index regressor, pinned fit, grid scores, the
  // Bartlett-weighted lag sums decimal-exact
  query("q637_newey_west", q637)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid FROM events), b AS (SELECT MIN(hid) AS lo, MAX(hid) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hid), ty AS (SELECT DISTINCT k FROM h), cen AS (SELECT k, hid, CAST(COUNT(*) AS BIGINT) AS v FROM h GROUP BY 1, 2), fr AS (SELECT ty.k, sp.hid AS bb, COALESCE(cen.v, 0) AS v FROM ty CROSS JOIN sp LEFT JOIN cen ON cen.k = ty.k AND cen.hid = sp.hid), ix AS (SELECT k, bb, v, CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY bb) AS BIGINT) AS i FROM fr), mom AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(i AS DECIMAL(38,0))) AS si, SUM(CAST(v AS DECIMAL(38,0))) AS sv, SUM(CAST(i AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS siv, SUM(CAST(i AS DECIMAL(38,0)) * CAST(i AS DECIMAL(38,0))) AS sii, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS svv FROM ix GROUP BY 1 HAVING COUNT(*) >= 8), ft AS (SELECT k, n, CAST(n AS DOUBLE) * CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE) AS cxx, CAST(n AS DOUBLE) * CAST(siv AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sv AS DOUBLE) AS cxy, CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) AS cyy, CAST(si AS DOUBLE) AS sid, CAST(sv AS DOUBLE) AS svd FROM mom), ft2 AS (SELECT k, n, cxx, cxy, cyy, round(cxy / cxx, 9) AS bb2, round((svd - cxy / cxx * sid) / CAST(n AS DOUBLE), 9) AS aa, round(sid / CAST(n AS DOUBLE), 9) AS xb FROM ft), sc AS (SELECT ix.k, ix.bb, round((CAST(ix.i AS DOUBLE) - ft2.xb) * round(CAST(ix.v AS DOUBLE) - ft2.aa - ft2.bb2 * CAST(ix.i AS DOUBLE), 9), 9) AS u FROM ix JOIN ft2 ON ix.k = ft2.k), lgd AS (SELECT k, u, LAG(u, 1) OVER pw AS u1, LAG(u, 2) OVER pw AS u2, LAG(u, 3) OVER pw AS u3 FROM sc WINDOW pw AS (PARTITION BY k ORDER BY bb)), hg AS (SELECT k, SUM(CAST(round(u * u, 9) AS DECIMAL(28,9))) AS g0, SUM(CAST(round(u * u1, 9) AS DECIMAL(28,9))) AS g1, SUM(CAST(round(u * u2, 9) AS DECIMAL(28,9))) AS g2, SUM(CAST(round(u * u3, 9) AS DECIMAL(28,9))) AS g3 FROM lgd GROUP BY 1), fin AS (SELECT ft2.k, ft2.n, ft2.bb2, (ft2.cyy - ft2.cxy * ft2.cxy / ft2.cxx) / CAST(ft2.n AS DOUBLE) AS sse, ft2.cxx / CAST(ft2.n AS DOUBLE) AS sxxc, ft2.cxx AS cxx, CAST(hg.g0 AS DOUBLE) + 2.0 * 0.75 * CAST(COALESCE(hg.g1, 0) AS DOUBLE) + 2.0 * 0.5 * CAST(COALESCE(hg.g2, 0) AS DOUBLE) + 2.0 * 0.25 * CAST(COALESCE(hg.g3, 0) AS DOUBLE) AS shac FROM ft2 JOIN hg ON ft2.k = hg.k) SELECT k AS event_type, n, CASE WHEN cxx > 0.0 AND sse > 0.0 AND shac > 0.0 THEN round(bb2, 6) END AS slope, CASE WHEN cxx > 0.0 AND sse > 0.0 AND shac > 0.0 THEN round(sqrt(sse / (CAST(n AS DOUBLE) - 2.0) / sxxc), 6) END AS se_ols, CASE WHEN cxx > 0.0 AND sse > 0.0 AND shac > 0.0 THEN round(sqrt(shac) / sxxc, 6) END AS se_nw, CASE WHEN cxx > 0.0 AND sse > 0.0 AND shac > 0.0 THEN round(sqrt(shac) / sxxc / sqrt(sse / (CAST(n AS DOUBLE) - 2.0) / sxxc), 6) END AS se_ratio FROM fin ORDER BY event_type"""))

  /** Engle–Granger cointegration
    * ([[graft.operators.Trend.engleGranger]]): do view and purchase
    * volumes share one stochastic trend — the levels-modeling license
    * q629's differenced Granger gives up.
    */
  private def q638(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.engleGranger(vpHourly(s, dir), "h", "x", "y")

  // step-1 pinned OLS on the shared spine, step-2 DF on the 1e-9
  // residual grid, the -3.34 two-series critical value shared
  query("q638_cointegration", q638)(Sql(
    """WITH h AS (SELECT CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hh, event_type FROM events), b AS (SELECT MIN(hh) AS lo, MAX(hh) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hh), cen AS (SELECT hh, CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y FROM h GROUP BY 1), fr AS (SELECT sp.hh, COALESCE(cen.x, 0) AS x, COALESCE(cen.y, 0) AS y FROM sp LEFT JOIN cen USING (hh)), mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx FROM fr), ft AS (SELECT n, CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx0, CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy0, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd FROM mom), ft2 AS (SELECT n AS nn, CASE WHEN cxx0 > 0.0 THEN round(cxy0 / cxx0, 9) END AS beta, CASE WHEN cxx0 > 0.0 THEN round((syd - cxy0 / cxx0 * sxd) / CAST(n AS DOUBLE), 9) END AS alpha, cxx0 FROM ft), rs AS (SELECT fr.hh, CAST(round(CAST(fr.y AS DOUBLE) - ft2.alpha - ft2.beta * CAST(fr.x AS DOUBLE), 9) AS DECIMAL(28,9)) AS r, ft2.nn, ft2.beta, ft2.alpha, ft2.cxx0 FROM fr, ft2), rs2 AS (SELECT nn, beta, alpha, cxx0, r, CAST(LEAD(r, 1) OVER (ORDER BY hh) - r AS DECIMAL(28,9)) AS d FROM rs), rs3 AS (SELECT * FROM rs2 WHERE d IS NOT NULL), f AS (SELECT nn, beta, alpha, cxx0, CAST(COUNT(*) AS BIGINT) AS m, SUM(r) AS sr, SUM(d) AS sd, SUM(CAST(round(CAST(r AS DOUBLE) * CAST(r AS DOUBLE), 9) AS DECIMAL(28,9))) AS srr, SUM(CAST(round(CAST(r AS DOUBLE) * CAST(d AS DOUBLE), 9) AS DECIMAL(28,9))) AS srd, SUM(CAST(round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE), 9) AS DECIMAL(28,9))) AS sdd FROM rs3 GROUP BY 1, 2, 3, 4), g AS (SELECT *, CAST(m AS DOUBLE) * CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) AS cxx, CAST(m AS DOUBLE) * CAST(srd AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sd AS DOUBLE) AS cxy, CAST(m AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS cyy FROM f), g2 AS (SELECT *, cxy / cxx AS rho, (cyy - cxy * cxy / cxx) / CAST(m AS DOUBLE) AS sse FROM g), g3 AS (SELECT *, sqrt(sse / (CAST(m AS DOUBLE) - 2.0) * CAST(m AS DOUBLE) / cxx) AS se FROM g2) SELECT CAST(nn AS BIGINT) AS n, CASE WHEN cxx0 > 0.0 THEN round(beta, 6) END AS beta, CASE WHEN cxx0 > 0.0 THEN round(alpha, 6) END AS alpha, CASE WHEN cxx0 > 0.0 AND m >= 4 AND cxx > 0.0 AND sse > 0.0 THEN round(rho, 6) END AS rho, CASE WHEN cxx0 > 0.0 AND m >= 4 AND cxx > 0.0 AND sse > 0.0 THEN round(rho / se, 6) END AS df_stat, CASE WHEN cxx0 > 0.0 AND m >= 4 AND cxx > 0.0 AND sse > 0.0 THEN rho / se < -3.34 END AS cointegrated FROM g3"""))

  /** HMM regime evidence ([[graft.operators.Trend.hmmRegimeEvidence]]):
    * is each hourly series one Poisson rate or a quiet/burst mixture —
    * the scaled-forward likelihood ratio, model-based where q341/q456
    * are moment-based.
    */
  private def q641(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.hmmRegimeEvidence(
      hourlyVolumes(s, dir), "event_type", "hour_id", "n")

  // per-key pinned rates, the renormalized forward fold as a
  // recursive CTE carrying two bounded scores + an exact decimal total
  query("q641_hmm_regimes", q641)(Sql(
    """WITH RECURSIVE h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid, CAST(COUNT(*) AS BIGINT) AS v FROM events GROUP BY 1, 2), o AS (SELECT k, v, CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY hid) AS BIGINT) AS rn FROM h), par0 AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, round(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS lam FROM o GROUP BY 1 HAVING COUNT(*) >= 8 AND SUM(v) > 0), par AS (SELECT k, n, lam, round(0.5 * lam, 9) AS lam0, round(2.0 * lam, 9) AS lam1, round(ln(round(0.5 * lam, 9)), 12) AS l0, round(ln(round(2.0 * lam, 9)), 12) AS l1, round(ln(lam), 12) AS lm, round(ln(0.9), 12) AS ls, round(ln(0.1), 12) AS lw, round(ln(0.5), 12) AS lp FROM par0), rec AS (SELECT par.k, CAST(1 AS BIGINT) AS rn, round(par.lp + round(CAST(o.v AS DOUBLE) * par.l0 - par.lam0, 9), 9) - greatest(round(par.lp + round(CAST(o.v AS DOUBLE) * par.l0 - par.lam0, 9), 9), round(par.lp + round(CAST(o.v AS DOUBLE) * par.l1 - par.lam1, 9), 9)) AS d0, round(par.lp + round(CAST(o.v AS DOUBLE) * par.l1 - par.lam1, 9), 9) - greatest(round(par.lp + round(CAST(o.v AS DOUBLE) * par.l0 - par.lam0, 9), 9), round(par.lp + round(CAST(o.v AS DOUBLE) * par.l1 - par.lam1, 9), 9)) AS d1, CAST(greatest(round(par.lp + round(CAST(o.v AS DOUBLE) * par.l0 - par.lam0, 9), 9), round(par.lp + round(CAST(o.v AS DOUBLE) * par.l1 - par.lam1, 9), 9)) AS DECIMAL(28,9)) AS ll FROM par JOIN o ON o.k = par.k AND o.rn = 1 UNION ALL SELECT r.k, r.rn + 1, f.f0 - greatest(f.f0, f.f1), f.f1 - greatest(f.f0, f.f1), CAST(r.ll + CAST(greatest(f.f0, f.f1) AS DECIMAL(28,9)) AS DECIMAL(28,9)) FROM rec r JOIN par ON par.k = r.k JOIN o x ON x.k = r.k AND x.rn = r.rn + 1, LATERAL (SELECT round(round(greatest(r.d0 + par.ls, r.d1 + par.lw) + round(ln(1.0 + round(exp(round(least(r.d0 + par.ls, r.d1 + par.lw) - greatest(r.d0 + par.ls, r.d1 + par.lw), 9)), 12)), 12), 9) + round(CAST(x.v AS DOUBLE) * par.l0 - par.lam0, 9), 9) AS f0, round(round(greatest(r.d0 + par.lw, r.d1 + par.ls) + round(ln(1.0 + round(exp(round(least(r.d0 + par.lw, r.d1 + par.ls) - greatest(r.d0 + par.lw, r.d1 + par.ls), 9)), 12)), 12), 9) + round(CAST(x.v AS DOUBLE) * par.l1 - par.lam1, 9), 9) AS f1) f), fin AS (SELECT rec.k, rec.ll + CAST(round(greatest(rec.d0, rec.d1) + round(ln(1.0 + round(exp(round(least(rec.d0, rec.d1) - greatest(rec.d0, rec.d1), 9)), 12)), 12), 9) AS DECIMAL(28,9)) AS ll2 FROM rec JOIN par0 ON par0.k = rec.k AND rec.rn = par0.n), l1s AS (SELECT o.k, SUM(CAST(round(CAST(o.v AS DOUBLE) * par.lm - par.lam, 9) AS DECIMAL(28,9))) AS ll1 FROM o JOIN par ON par.k = o.k GROUP BY 1) SELECT fin.k AS event_type, par0.n, round(CAST(ll1 AS DOUBLE), 4) AS ll_single, round(CAST(ll2 AS DOUBLE), 4) AS ll_regime, round(2.0 * (CAST(ll2 AS DOUBLE) - CAST(ll1 AS DOUBLE)), 6) AS lr, round(2.0 * (CAST(ll2 AS DOUBLE) - CAST(ll1 AS DOUBLE)), 6) > 5.99 AS regime_evidence FROM fin JOIN l1s ON l1s.k = fin.k JOIN par0 ON par0.k = fin.k ORDER BY event_type"""))

  /** Competing risks ([[graft.operators.Trend.competingRisks]]):
    * cumulative incidence of purchase-ended vs otherwise-ended
    * lifetimes — WHAT ends each lifetime, where q321 only says when.
    */
  private def q645(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"),
      expr("ts div 1000000000").as("sec"), col("event_id"),
      col("event_type"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi"))
      .head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    val lives = ev.groupBy(col("user_id"))
      .agg(min(col("sec")).as("first"), max(col("sec")).as("last"),
        max_by(col("event_type"), struct(col("sec"), col("event_id")))
          .as("last_type"))
      .select(((col("last") - col("first")) / 3600L).cast("long").as("t"),
        (col("last") <= cutoff && col("last_type") === "purchase")
          .as("ia"),
        (col("last") <= cutoff && col("last_type") =!= "purchase")
          .as("ib"))
    graft.operators.Trend.competingRisks(lives, "t", col("ia"), col("ib"))
  }

  // all-cause KM factor chain, S(u-) folds, per-step increments
  // pinned + decimal-cumulated per cause
  query("q645_competing_risks", q645)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id, event_type FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), r AS (SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec DESC, event_id DESC) AS rn FROM e), lt AS (SELECT user_id, event_type AS last_type FROM r WHERE rn = 1), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last FROM e GROUP BY 1), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, (last <= (SELECT lo + 2 * (hi - lo) // 3 FROM b)) AND last_type = 'purchase' AS ia, (last <= (SELECT lo + 2 * (hi - lo) // 3 FROM b)) AND last_type <> 'purchase' AS ib FROM u JOIN lt USING (user_id)), byt AS (SELECT t, CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS da, CAST(SUM(CASE WHEN ib AND NOT ia THEN 1 ELSE 0 END) AS BIGINT) AS db, CAST(SUM(CASE WHEN NOT ia AND NOT ib THEN 1 ELSE 0 END) AS BIGINT) AS c, COUNT(*) AS n_t FROM lv GROUP BY 1), rk AS (SELECT t, da, db, c, CAST(SUM(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM byt), fk AS (SELECT *, 1.0 - CAST(da + db AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor FROM rk), idx AS (SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS i FROM fk), arr AS (SELECT list(factor ORDER BY t) AS fs FROM fk), st AS (SELECT fk.t, fk.da, fk.db, fk.c, fk.n_risk, list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:CAST(i - 1 AS INTEGER)]), (a, x) -> a * x) AS sprev, list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:CAST(i AS INTEGER)]), (a, x) -> a * x) AS snow FROM fk JOIN idx ON fk.t = idx.t CROSS JOIN arr), inc AS (SELECT *, CAST(round(sprev * (CAST(da AS DOUBLE) / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(28,9)) AS inca, CAST(round(sprev * (CAST(db AS DOUBLE) / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(28,9)) AS incb FROM st) SELECT t, n_risk, da AS n_cause_a, db AS n_cause_b, c AS n_censored, round(snow, 6) AS surv_all, round(CAST(SUM(inca) OVER w AS DOUBLE), 6) AS cif_a, round(CAST(SUM(incb) OVER w AS DOUBLE), 6) AS cif_b FROM inc WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY t"""))

  /** Mean cumulative function
    * ([[graft.operators.Trend.meanCumulativeFunction]]): expected
    * cumulative events per user by the user's own age — the
    * recurrent-events curve the one-death survival shelf can't draw.
    */
  private def q646(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.meanCumulativeFunction(
      T(s, dir, "events").select(col("user_id"),
        expr("ts div 1000000000").as("sec")),
      "user_id", "sec")

  // event-age + lifespan censuses, suffix risk window, pinned rates,
  // exact decimal running MCF
  query("q646_mcf", q646)(Sql(
    """WITH e AS (SELECT user_id AS u, epoch_ns(ts) // 1000000000 AS sec FROM events), w AS (SELECT u, sec, MIN(sec) OVER (PARTITION BY u) AS first, MAX(sec) OVER (PARTITION BY u) AS last FROM e), dc AS (SELECT CAST((sec - first) // 3600 AS BIGINT) AS a, CAST(COUNT(*) AS BIGINT) AS d FROM w GROUP BY 1), lc AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS wt FROM (SELECT DISTINCT u, CAST((last - first) // 3600 AS BIGINT) AS l FROM w) GROUP BY 1), mg AS (SELECT a, CAST(SUM(d) AS BIGINT) AS d, CAST(SUM(wt) AS BIGINT) AS wt FROM (SELECT a, d, 0 AS wt FROM dc UNION ALL SELECT l, 0, wt FROM lc) GROUP BY 1), rk AS (SELECT a, d, CAST(SUM(wt) OVER (ORDER BY a ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM mg), rt AS (SELECT a, d, n_risk, CASE WHEN n_risk > 0 THEN round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 9) END AS rate FROM rk), mc AS (SELECT a, d, n_risk, rate, SUM(CAST(COALESCE(rate, 0.0) AS DECIMAL(28,9))) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mcf FROM rt) SELECT a AS age, d AS n_events, n_risk, rate, round(CAST(mcf AS DOUBLE), 6) AS mcf FROM mc WHERE d > 0 ORDER BY age"""))

  /** Price elasticity ([[graft.operators.Trend.logLogFit]]): per-brand
    * ln(quantity) on ln(retail price) across parts — "1% up in price
    * moves demand b%".
    */
  private def q648(s: SparkSession, dir: String): DataFrame = {
    val qty = T(s, dir, "lineitem").groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    graft.operators.Trend.logLogFit(
      T(s, dir, "part").join(qty, col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"),
          (col("p_retailprice").cast(DecimalType(12, 2)) * 100)
            .cast("long").as("cents"), col("qty")),
      "p_brand", col("cents"), col("qty"))
  }

  // per-part quantity census, pinned ln points, per-brand
  // closed-form fit
  query("q648_price_elasticity", q648)(Sql(
    """WITH q AS (SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY 1), fr AS (SELECT p_brand AS g, CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, qty AS y FROM part JOIN q ON p_partkey = l_partkey), pts AS (SELECT g, CAST(round(ln(CAST(x AS DOUBLE)), 9) AS DECIMAL(28,9)) AS lx, CAST(round(ln(CAST(y AS DOUBLE)), 9) AS DECIMAL(28,9)) AS ly FROM fr WHERE x > 0 AND y > 0), p2 AS (SELECT g, lx, ly, CAST(round(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE), 9) AS DECIMAL(28,9)) AS xx, CAST(round(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE), 9) AS DECIMAL(28,9)) AS xy, CAST(round(CAST(ly AS DOUBLE) * CAST(ly AS DOUBLE), 9) AS DECIMAL(28,9)) AS yy FROM pts), f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS np, SUM(lx) AS sx, SUM(ly) AS sy, SUM(xx) AS sxx, SUM(xy) AS sxy, SUM(yy) AS syy FROM p2 GROUP BY 1), g2 AS (SELECT g, np, CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy, CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx, CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy, CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy FROM f) SELECT g, np AS n_points, CASE WHEN np >= 3 AND cxx > 0.0 THEN round(cxy / cxx, 6) END AS slope, CASE WHEN np >= 3 AND cxx > 0.0 THEN round((sy - cxy / cxx * sx) / CAST(np AS DOUBLE), 6) END AS intercept, CASE WHEN np >= 3 AND cxx > 0.0 AND cyy > 0.0 THEN round(cxy * cxy / (cxx * cyy), 6) END AS r2 FROM g2 ORDER BY g"""))

  /** Yule–Walker AR(2) fit ([[graft.operators.Trend.yuleWalkerAr2]]):
    * per-type autoregressive coefficients, innovation variance and the
    * one-step forecast from the hourly volume series — the MODEL
    * behind q255's autocorrelations and q588's PACF signatures.
    */
  private def q657(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.yuleWalkerAr2(
      hourlySpineDense(s, dir), "event_type", "hour_id", "n")

  // dense spine, exact integer lag-product sums, pinned rho's, the
  // closed-form phi pair, re-pinned sigma2 and one-step forecast
  query("q657_yule_walker", q657)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid FROM events), b AS (SELECT MIN(hid) AS lo, MAX(hid) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hid), ty AS (SELECT DISTINCT k FROM h), cen AS (SELECT k, hid, CAST(COUNT(*) AS BIGINT) AS v FROM h GROUP BY 1, 2), fr AS MATERIALIZED (SELECT ty.k, sp.hid AS bb, COALESCE(cen.v, 0) AS v FROM ty CROSS JOIN sp LEFT JOIN cen ON cen.k = ty.k AND cen.hid = sp.hid), led AS (SELECT k, bb, v, LEAD(v, 1) OVER (PARTITION BY k ORDER BY bb) AS w1, LEAD(v, 2) OVER (PARTITION BY k ORDER BY bb) AS w2 FROM fr), cn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v * w1 ELSE 0 END) AS BIGINT) AS svw1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh1, CAST(SUM(COALESCE(w1, 0)) AS BIGINT) AS st1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk1, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN v * w2 ELSE 0 END) AS BIGINT) AS svw2, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh2, CAST(SUM(COALESCE(w2, 0)) AS BIGINT) AS st2, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk2 FROM led GROUP BY 1 HAVING COUNT(*) >= 5), lt AS (SELECT k, MAX(CASE WHEN rn = 1 THEN v END) AS v_last, MAX(CASE WHEN rn = 2 THEN v END) AS v_prev FROM (SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY bb DESC) AS rn FROM fr) WHERE rn <= 2 GROUP BY 1), rw AS (SELECT cn.k AS k, n, v_last, v_prev, CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mr, CAST(svv AS DOUBLE) / CAST(n AS DOUBLE) - mr * mr AS c0r, (CAST(svw1 AS DOUBLE) - mr * (CAST(sh1 AS DOUBLE) + CAST(st1 AS DOUBLE)) + CAST(nk1 AS DOUBLE) * mr * mr) / CAST(n AS DOUBLE) AS c1r, (CAST(svw2 AS DOUBLE) - mr * (CAST(sh2 AS DOUBLE) + CAST(st2 AS DOUBLE)) + CAST(nk2 AS DOUBLE) * mr * mr) / CAST(n AS DOUBLE) AS c2r FROM cn JOIN lt ON cn.k = lt.k), stg AS (SELECT k, n, v_last, v_prev, round(mr, 9) AS m, round(c0r, 9) AS c0, CASE WHEN c0r > 0.0 THEN round(c1r / c0r, 9) END AS r1, CASE WHEN c0r > 0.0 THEN round(c2r / c0r, 9) END AS r2 FROM rw), ph AS (SELECT k, n, v_last, v_prev, m, c0, r1, r2, r1 * (1.0 - r2) / (1.0 - r1 * r1) AS p1, (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2, (r1 IS NOT NULL AND 1.0 - r1 * r1 <> 0.0) AS ok FROM stg) SELECT k AS event_type, n, round(m, 6) AS mean, CASE WHEN ok THEN round(p1, 6) + 0.0 END AS phi1, CASE WHEN ok THEN round(p2, 6) + 0.0 END AS phi2, CASE WHEN ok THEN round(c0 * (1.0 - p1 * r1 - p2 * r2), 6) + 0.0 END AS sigma2, CASE WHEN ok THEN round(m + p1 * (CAST(v_last AS DOUBLE) - m) + p2 * (CAST(v_prev AS DOUBLE) - m), 6) + 0.0 END AS forecast_next FROM ph ORDER BY event_type"""))

  /** Diebold–Mariano forecast comparison
    * ([[graft.operators.Trend.dieboldMariano]]): is the seasonal-naive
    * (same hour yesterday) forecast BETTER than the last-hour naive, or
    * is the backtest gap luck — Newey–West-studentized loss
    * differential per type.
    */
  private def q658(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_id"))
    val base = hourlySpineDense(s, dir)
      .withColumn("f1", lag(col("n"), 1).over(w))
      .withColumn("f2", lag(col("n"), 24).over(w))
      .filter(col("f1").isNotNull && col("f2").isNotNull)
    graft.operators.Trend.dieboldMariano(
      base, "event_type", "hour_id", "n", "f1", "f2", lags = 3)
  }

  // dense spine, two naive forecasts as lags, pinned loss
  // differential grid, Bartlett-weighted decimal lag sums, one
  // pinned studentization
  query("q658_diebold_mariano", q658)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid FROM events), b AS (SELECT MIN(hid) AS lo, MAX(hid) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hid), ty AS (SELECT DISTINCT k FROM h), cen AS (SELECT k, hid, CAST(COUNT(*) AS BIGINT) AS v FROM h GROUP BY 1, 2), fr AS (SELECT ty.k, sp.hid AS bb, COALESCE(cen.v, 0) AS v FROM ty CROSS JOIN sp LEFT JOIN cen ON cen.k = ty.k AND cen.hid = sp.hid), lg AS (SELECT k, bb, v, LAG(v, 1) OVER (PARTITION BY k ORDER BY bb) AS f1, LAG(v, 24) OVER (PARTITION BY k ORDER BY bb) AS f2 FROM fr), dd AS (SELECT k, bb, round((CAST(v AS DOUBLE) - CAST(f1 AS DOUBLE)) * (CAST(v AS DOUBLE) - CAST(f1 AS DOUBLE)) - (CAST(v AS DOUBLE) - CAST(f2 AS DOUBLE)) * (CAST(v AS DOUBLE) - CAST(f2 AS DOUBLE)), 9) AS d FROM lg WHERE f1 IS NOT NULL AND f2 IS NOT NULL), led AS (SELECT k, bb, d, LEAD(d, 1) OVER (PARTITION BY k ORDER BY bb) AS d1, LEAD(d, 2) OVER (PARTITION BY k ORDER BY bb) AS d2, LEAD(d, 3) OVER (PARTITION BY k ORDER BY bb) AS d3 FROM dd), cn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(d AS DECIMAL(28,9))) AS sd, SUM(CAST(round(d * d, 9) AS DECIMAL(28,9))) AS sdd, SUM(CAST(CASE WHEN d1 IS NOT NULL THEN round(d * d1, 9) ELSE 0.0 END AS DECIMAL(28,9))) AS sx1, SUM(CAST(CASE WHEN d1 IS NOT NULL THEN d ELSE 0.0 END AS DECIMAL(28,9))) AS sa1, SUM(CAST(COALESCE(d1, 0.0) AS DECIMAL(28,9))) AS sb1, CAST(SUM(CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl1, SUM(CAST(CASE WHEN d2 IS NOT NULL THEN round(d * d2, 9) ELSE 0.0 END AS DECIMAL(28,9))) AS sx2, SUM(CAST(CASE WHEN d2 IS NOT NULL THEN d ELSE 0.0 END AS DECIMAL(28,9))) AS sa2, SUM(CAST(COALESCE(d2, 0.0) AS DECIMAL(28,9))) AS sb2, CAST(SUM(CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl2, SUM(CAST(CASE WHEN d3 IS NOT NULL THEN round(d * d3, 9) ELSE 0.0 END AS DECIMAL(28,9))) AS sx3, SUM(CAST(CASE WHEN d3 IS NOT NULL THEN d ELSE 0.0 END AS DECIMAL(28,9))) AS sa3, SUM(CAST(COALESCE(d3, 0.0) AS DECIMAL(28,9))) AS sb3, CAST(SUM(CASE WHEN d3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl3 FROM led GROUP BY 1 HAVING COUNT(*) >= 8), g AS (SELECT k, n, CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS dbar, CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) AS g0, (CAST(sx1 AS DOUBLE) - dbar * (CAST(sa1 AS DOUBLE) + CAST(sb1 AS DOUBLE)) + CAST(nl1 AS DOUBLE) * dbar * dbar) / CAST(n AS DOUBLE) AS g1, (CAST(sx2 AS DOUBLE) - dbar * (CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)) + CAST(nl2 AS DOUBLE) * dbar * dbar) / CAST(n AS DOUBLE) AS g2, (CAST(sx3 AS DOUBLE) - dbar * (CAST(sa3 AS DOUBLE) + CAST(sb3 AS DOUBLE)) + CAST(nl3 AS DOUBLE) * dbar * dbar) / CAST(n AS DOUBLE) AS g3 FROM cn), f AS (SELECT k, n, dbar, g0 + 1.5 * g1 + 1.0 * g2 + 0.5 * g3 AS lrv FROM g) SELECT k AS event_type, n, round(dbar, 6) + 0.0 AS mean_loss_diff, round(lrv, 6) + 0.0 AS lrv, CASE WHEN lrv > 0.0 THEN round(dbar / sqrt(lrv / CAST(n AS DOUBLE)), 6) + 0.0 END AS dm_stat, CASE WHEN lrv > 0.0 THEN abs(dbar / sqrt(lrv / CAST(n AS DOUBLE))) > 1.96 END AS significant_95 FROM f ORDER BY event_type"""))

  /** Zero-inflated Poisson fit ([[graft.operators.Trend.zipFit]]): the
    * structural-zeros decomposition of weekly part demand over the
    * DENSE week spine — π (never-ordered mass) and λ (rate when
    * active), with the fitted vs observed zero share as the one-glance
    * diagnostic; the parametric answer beside q464's SBC routing.
    */
  private def q670(s: SparkSession, dir: String): DataFrame = {
    // sparse path: absent weeks ARE the zeros — the key × bucket grid
    // is never materialized (the shape that survives 10⁹ keys)
    val d = weeklyDemand(s, dir).localCheckpoint(true)
    val b = d.agg(min(col("week")).as("lo"), max(col("week")).as("hi"))
      .head()
    graft.operators.Trend.zipFitFromSparse(
      d, "l_partkey", "qty", b.getLong(1) - b.getLong(0) + 1L)
  }

  // dense week spine, exact integer moments, pinned MoM closed form,
  // fitted-vs-observed zero share with exp pinned at 1e-12
  query("q670_zip_fit", q670)(Sql(
    """WITH d AS (SELECT l_partkey, date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS week, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY 1, 2), b AS (SELECT MIN(week) AS lo, MAX(week) AS hi FROM d), cen AS (SELECT l_partkey, CAST((SELECT hi - lo + 1 FROM b) AS BIGINT) AS n, SUM(CAST(qty AS DECIMAL(38,0))) AS s, SUM(CAST(qty * qty AS DECIMAL(38,0))) AS ss, CAST((SELECT hi - lo + 1 FROM b) AS BIGINT) - COUNT(*) + CAST(SUM(CASE WHEN qty = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z FROM d GROUP BY 1), g AS (SELECT l_partkey, n, z, s, round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9) AS m, round((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 9) AS v FROM cen), h AS (SELECT *, round((v + m * m - m) / m, 9) AS lam FROM g), i AS (SELECT *, round(1.0 - m / lam, 9) AS pi, (s > 0 AND lam > m AND lam > 0.0) AS ok, round(exp(-lam), 12) AS ez FROM h) SELECT l_partkey, n, m + 0.0 AS mean, v + 0.0 AS variance, round(CAST(z AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS zero_share, CASE WHEN ok THEN round(pi, 6) + 0.0 END AS pi_hat, CASE WHEN ok THEN round(lam, 6) + 0.0 END AS lambda_hat, CASE WHEN ok THEN round(pi + (1.0 - pi) * ez, 6) + 0.0 END AS fit_zero_share FROM i ORDER BY l_partkey"""))

  /** MA(1) fit ([[graft.operators.Trend.ma1Fit]]): the moving-average
    * verdict beside q657's AR(2) on the same hourly series — θ from the
    * invertible root of ρ₁ = θ/(1+θ²), with |ρ₁| ≥ ½ refusing loudly
    * ("this is not an MA(1)").
    */
  private def q671(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.ma1Fit(
      hourlySpineDense(s, dir), "event_type", "hour_id", "n")

  // dense spine, lag-1 census, pinned rho1, invertible-root theta
  // with sqrt guarded behind the |rho1| < 1/2 CASE
  query("q671_ma1_fit", q671)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid FROM events), b AS (SELECT MIN(hid) AS lo, MAX(hid) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hid), ty AS (SELECT DISTINCT k FROM h), cen AS (SELECT k, hid, CAST(COUNT(*) AS BIGINT) AS v FROM h GROUP BY 1, 2), fr AS MATERIALIZED (SELECT ty.k, sp.hid AS bb, COALESCE(cen.v, 0) AS v FROM ty CROSS JOIN sp LEFT JOIN cen ON cen.k = ty.k AND cen.hid = sp.hid), led AS (SELECT k, bb, v, LEAD(v, 1) OVER (PARTITION BY k ORDER BY bb) AS w1 FROM fr), cn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v * w1 ELSE 0 END) AS BIGINT) AS svw1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh1, CAST(SUM(COALESCE(w1, 0)) AS BIGINT) AS st1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk1 FROM led GROUP BY 1 HAVING COUNT(*) >= 5), rw AS (SELECT k, n, CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mr, CAST(svv AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) AS c0r, (CAST(svw1 AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sh1 AS DOUBLE) + CAST(st1 AS DOUBLE)) + CAST(nk1 AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(n AS DOUBLE) AS c1r FROM cn), stg AS (SELECT k, n, round(mr, 9) AS m, round(c0r, 9) AS c0, CASE WHEN c0r > 0.0 THEN round(c1r / c0r, 9) END AS r1 FROM rw), th AS (SELECT k, n, m, c0, r1, CASE WHEN r1 IS NULL OR abs(r1) >= 0.5 THEN NULL WHEN r1 = 0.0 THEN 0.0 ELSE (1.0 - sqrt(1.0 - 4.0 * r1 * r1)) / (2.0 * r1) END AS t, (r1 IS NOT NULL AND abs(r1) < 0.5) AS inv FROM stg) SELECT k AS event_type, n, round(m, 6) AS mean, CASE WHEN r1 IS NOT NULL THEN round(r1, 6) + 0.0 END AS r1, CASE WHEN inv THEN round(t, 6) + 0.0 END AS theta, CASE WHEN inv THEN round(c0 / (1.0 + t * t), 6) + 0.0 END AS sigma2 FROM th ORDER BY event_type"""))

  /** ARMA(1,1) fit ([[graft.operators.Trend.arma11Fit]]): the mixed
    * model between q657 and q671 — φ from the lag-1→2 ACF decay,
    * θ from the reciprocal-root quadratic, both refusing on
    * non-stationary or non-ARMA signatures.
    */
  private def q672(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.arma11Fit(
      hourlySpineDense(s, dir), "event_type", "hour_id", "n")

  // dense spine, lag-1/2 census, phi from the ACF decay, theta from
  // the reciprocal-root quadratic with every sqrt CASE-guarded
  query("q672_arma11_fit", q672)(Sql(
    """WITH h AS (SELECT event_type AS k, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hid FROM events), b AS (SELECT MIN(hid) AS lo, MAX(hid) AS hi FROM h), sp AS (SELECT CAST(unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS BIGINT) AS hid), ty AS (SELECT DISTINCT k FROM h), cen AS (SELECT k, hid, CAST(COUNT(*) AS BIGINT) AS v FROM h GROUP BY 1, 2), fr AS MATERIALIZED (SELECT ty.k, sp.hid AS bb, COALESCE(cen.v, 0) AS v FROM ty CROSS JOIN sp LEFT JOIN cen ON cen.k = ty.k AND cen.hid = sp.hid), led AS (SELECT k, bb, v, LEAD(v, 1) OVER (PARTITION BY k ORDER BY bb) AS w1, LEAD(v, 2) OVER (PARTITION BY k ORDER BY bb) AS w2 FROM fr), cn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v * w1 ELSE 0 END) AS BIGINT) AS svw1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh1, CAST(SUM(COALESCE(w1, 0)) AS BIGINT) AS st1, CAST(SUM(CASE WHEN w1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk1, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN v * w2 ELSE 0 END) AS BIGINT) AS svw2, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN v ELSE 0 END) AS BIGINT) AS sh2, CAST(SUM(COALESCE(w2, 0)) AS BIGINT) AS st2, CAST(SUM(CASE WHEN w2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk2 FROM led GROUP BY 1 HAVING COUNT(*) >= 6), rw AS (SELECT k, n, CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mr, CAST(svv AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) AS c0r, (CAST(svw1 AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sh1 AS DOUBLE) + CAST(st1 AS DOUBLE)) + CAST(nk1 AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(n AS DOUBLE) AS c1r, (CAST(svw2 AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sh2 AS DOUBLE) + CAST(st2 AS DOUBLE)) + CAST(nk2 AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(n AS DOUBLE) AS c2r FROM cn), stg AS (SELECT k, n, round(mr, 9) AS m, round(c0r, 9) AS c0, CASE WHEN c0r > 0.0 THEN round(c1r / c0r, 9) END AS r1, CASE WHEN c0r > 0.0 THEN round(c2r / c0r, 9) END AS r2 FROM rw), ph AS (SELECT k, n, m, c0, r1, r2, CASE WHEN r1 IS NOT NULL AND r1 <> 0.0 THEN r2 / r1 END AS f FROM stg), qd AS (SELECT k, n, m, c0, r1, f, r1 - f AS qa, 2.0 * r1 * f - 1.0 - f * f AS qb FROM ph), dd AS (SELECT k, n, m, c0, r1, f, qa, qb, qb * qb - 4.0 * qa * qa AS disc FROM qd), tt AS (SELECT k, n, m, c0, f, qa, qb, disc, CASE WHEN f IS NULL THEN NULL WHEN qa = 0.0 THEN 0.0 WHEN disc >= 0.0 THEN (CASE WHEN abs((-qb - sqrt(disc)) / (2.0 * qa)) <= 1.0 THEN (-qb - sqrt(disc)) / (2.0 * qa) ELSE (-qb + sqrt(disc)) / (2.0 * qa) END) END AS t, (f IS NOT NULL AND abs(f) < 1.0 AND ((qa = 0.0 AND qb <> 0.0) OR (qa <> 0.0 AND disc >= 0.0))) AS ok FROM dd), sd AS (SELECT *, 1.0 + 2.0 * f * t + t * t AS sden FROM tt) SELECT k AS event_type, n, round(m, 6) AS mean, CASE WHEN ok THEN round(f, 6) + 0.0 END AS phi, CASE WHEN ok THEN round(t, 6) + 0.0 END AS theta, CASE WHEN ok AND sden > 0.0 THEN round(c0 * (1.0 - f * f) / sden, 6) + 0.0 END AS sigma2 FROM sd ORDER BY event_type"""))

  /** Weibull lifetime fit ([[graft.operators.Trend.weibullFit]]):
    * median-rank probability-plot regression on positive order→ship
    * latencies per return flag — shape (hazard direction), scale, and
    * the plot-linearity r² beside q589's Gumbel extremes.
    */
  private def q673(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_returnflag"), to_date(col("l_shipdate")).as("sd"))
    val o = T(s, dir, "orders").select(col("o_orderkey"),
      to_date(col("o_orderdate")).as("od"))
    graft.operators.Trend.weibullFit(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_returnflag"),
          datediff(col("sd"), col("od")).cast("long").as("lat")),
      "l_returnflag", "lat")
  }

  // duration census, median ranks exploded from cumulative counts,
  // pinned ln grid, decimal OLS sums, exp-of-pinned scale
  query("q673_weibull_fit", q673)(Sql(
    """WITH d AS (SELECT l_returnflag AS k, CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS t FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) >= 1), cen AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2), cw AS (SELECT k, t, c, CAST(SUM(c) OVER (PARTITION BY k ORDER BY t) AS BIGINT) AS cum, CAST(SUM(c) OVER (PARTITION BY k) AS BIGINT) AS n FROM cen), rk AS (SELECT k, t, n, CAST(unnest(range(cum - c + 1, cum + 1)) AS BIGINT) AS i FROM cw), xy AS (SELECT k, t, n, round(ln(CAST(t AS DOUBLE)), 9) AS x, round(ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3) / (CAST(n AS DOUBLE) + 0.4))), 9) AS y FROM rk), g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(DISTINCT t) AS BIGINT) AS nd, SUM(CAST(x AS DECIMAL(28,9))) AS sx, SUM(CAST(y AS DECIMAL(28,9))) AS sy, SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS sxx, SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS sxy, SUM(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS syy FROM xy GROUP BY 1 HAVING COUNT(*) >= 5), a AS (SELECT k, n, nd, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx, CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy, CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy FROM g), b2 AS (SELECT *, (nd >= 2 AND cxx > 0.0) AS ok, cxy / cxx AS shp FROM a) SELECT k AS l_returnflag, n, CASE WHEN ok THEN round(shp, 6) + 0.0 END AS shape, CASE WHEN ok AND shp > 0.0 THEN round(exp(-round((syd - shp * sxd) / CAST(n AS DOUBLE) / shp, 9)), 6) END AS scale, CASE WHEN ok AND cyy > 0.0 THEN round(cxy * cxy / (cxx * cyy), 6) + 0.0 END AS r2 FROM b2 ORDER BY l_returnflag"""))

  /** Per-cohort Kaplan–Meier
    * ([[graft.operators.Trend.kaplanMeierFromLives]]): censoring-correct
    * retention curves per signup-week cohort — q72's raw retention
    * treats still-active users as churned; this doesn't.
    */
  private def q560(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val lo = b.getLong(0)
    val cutoff = lo + 2L * (b.getLong(1) - lo) / 3L
    val lives = ev.groupBy(col("user_id"))
      .agg(min(col("sec")).as("first"), max(col("sec")).as("last"))
      .select(expr(s"(first - $lo) div 604800").as("cohort_week"),
        expr("(last - first) div 3600").as("t"),
        when(col("last") > cutoff, 0L).otherwise(1L).as("death"))
    graft.operators.Trend.kaplanMeierFromLives(lives, "cohort_week")
      .orderBy(col("cohort_week"), col("t"))
  }

  // the q519 KM chain partitioned by signup-week cohort
  query("q560_km_cohorts", q560)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last FROM e GROUP BY 1), lv AS (SELECT CAST((first - (SELECT lo FROM b)) // 604800 AS BIGINT) AS k, CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death FROM u), bt AS (SELECT k, t, CAST(SUM(death) AS BIGINT) AS d, CAST(SUM(1 - death) AS BIGINT) AS c, COUNT(*) AS n_t FROM lv GROUP BY 1, 2), rk AS (SELECT k, t, d, c, CAST(SUM(n_t) OVER (PARTITION BY k ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM bt), f AS (SELECT k, t, d, c, n_risk, 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor FROM rk), idx AS (SELECT k, t, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) AS i FROM f), arr AS (SELECT k, list(factor ORDER BY t) AS fs FROM f GROUP BY k) SELECT f.k AS cohort_week, f.t AS t, f.d AS n_death, f.c AS n_censored, f.n_risk, round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:CAST(i AS INTEGER)]), (a, x) -> a * x), 6) AS survival FROM f JOIN idx ON f.k = idx.k AND f.t = idx.t JOIN arr ON f.k = arr.k ORDER BY cohort_week, f.t"""))

  /** Nelson–Aalen cumulative hazard ([[graft.operators.Trend
    * .nelsonAalen]]): q321's KM census re-read as additive hazard —
    * H(t) = Σ d/n_risk with the Fleming–Harrington survival exp(−H),
    * the is-churn-accelerating view the survival curve's shape hides.
    */
  private def q533(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    graft.operators.Trend.nelsonAalen(
      graft.operators.Trend.kaplanMeier(ev, "user_id", "sec", cutoff))
      .orderBy(col("t"))
  }

  // the q519 KM census chain re-read as additive hazard
  query("q533_nelson_aalen", q533)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last FROM e GROUP BY 1), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death FROM u), bt AS (SELECT t, CAST(SUM(death) AS BIGINT) AS d, COUNT(*) AS n_t FROM lv GROUP BY 1), rk AS (SELECT t, d, CAST(SUM(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM bt), na AS (SELECT t, d, n_risk, CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 9) AS DECIMAL(28,9)) AS h FROM rk) SELECT t, d AS n_death, n_risk, CAST(h AS DOUBLE) AS h_inc, CAST(SUM(h) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_hazard, round(exp(-CAST(SUM(h) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) AS fh_survival FROM na ORDER BY t"""))

  /** Gehan–Breslow–Wilcoxon test ([[graft.operators.Trend
    * .gehanWilcoxon]]): q520's log-rank re-weighted by the at-risk
    * share — early churn differences dominate where log-rank weighs all
    * event times equally.
    */
  private def q534(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").cast("long").as("sec"))
    val b = ev.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi")).head()
    val cutoff = b.getLong(0) + 2L * (b.getLong(1) - b.getLong(0)) / 3L
    graft.operators.Trend.gehanWilcoxon(ev, "user_id", "sec", cutoff,
      pmod(conv(substring(md5(concat(lit("lr1:"),
        col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
        lit(2)) === 0)
  }

  // the q520 arm census with at-risk-share weights (scale-invariant
  // form of the classic n_risk weighting)
  query("q534_gehan_wilcoxon", q534)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), u AS (SELECT user_id, MIN(sec) AS first, MAX(sec) AS last, CAST(concat('0x', substr(md5(concat('lr1:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa FROM e GROUP BY user_id), lv AS (SELECT CAST((last - first) // 3600 AS BIGINT) AS t, CASE WHEN last > (SELECT lo + 2 * (hi - lo) // 3 FROM b) THEN 0 ELSE 1 END AS death, isa FROM u), bt AS (SELECT t, CAST(SUM(CASE WHEN isa THEN death ELSE 0 END) AS BIGINT) AS da, CAST(SUM(death) AS BIGINT) AS d, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS nta, COUNT(*) AS nt FROM lv GROUP BY 1), rk AS (SELECT t, da, d, nta, CAST(SUM(nta) OVER lat AS BIGINT) AS ra, CAST(SUM(nt) OVER lat AS BIGINT) AS r FROM bt WINDOW lat AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), us AS (SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS n_b FROM u), tm AS (SELECT CAST(round(CAST(r AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * (CAST(da AS DOUBLE) - CAST(ra AS DOUBLE) / CAST(r AS DOUBLE) * CAST(d AS DOUBLE)), 9) AS DECIMAL(28,9)) AS u_t, CAST(CASE WHEN r > 1 THEN round(CAST(r AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * (CAST(r AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * CAST(d AS DOUBLE) * (CAST(ra AS DOUBLE) / CAST(r AS DOUBLE)) * (1.0 - CAST(ra AS DOUBLE) / CAST(r AS DOUBLE)) * (CAST(r AS DOUBLE) - CAST(d AS DOUBLE)) / (CAST(r AS DOUBLE) - 1.0), 9) ELSE 0.0 END AS DECIMAL(28,9)) AS v_t FROM rk, us), ag AS (SELECT SUM(u_t) AS uu, SUM(v_t) AS v FROM tm) SELECT us.n_a, us.n_b, CASE WHEN CAST(ag.v AS DOUBLE) > 0.0 THEN round(CAST(ag.uu AS DOUBLE) / sqrt(CAST(ag.v AS DOUBLE)), 6) END AS z, CASE WHEN CAST(ag.v AS DOUBLE) > 0.0 THEN round(CAST(ag.uu AS DOUBLE) * CAST(ag.uu AS DOUBLE) / CAST(ag.v AS DOUBLE), 6) END AS chi2 FROM ag, us"""))

  /** Croston's intermittent-demand forecast
    * ([[graft.operators.Trend.crostonPerKey]]): weekly part demand is
    * SPARSE (most part-weeks are zero) — Croston smooths sizes and
    * inter-demand intervals separately where Holt would forecast
    * mostly-zero noise; one HOF fold per part over demand events only,
    * α = 0.5, recursive-CTE replay with explicit anchor casts.
    */
  private def q463(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.crostonPerKey(weeklyDemand(s, dir),
        "l_partkey", "week", "qty")
      .orderBy(col("l_partkey"))

  // demand events only; the fold replays as a per-key recursive CTE
  // with explicit anchor casts (the §6 DECIMAL-anchor trap)
  query("q463_croston", q463)(Sql(
    """WITH RECURSIVE d AS (SELECT l_partkey AS k, date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS b, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1, 2), e AS (SELECT k, b, x, ROW_NUMBER() OVER (PARTITION BY k ORDER BY b) AS rn, CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n FROM d WHERE x > 0), r AS (SELECT k, rn, CAST(x AS DOUBLE) AS z, CAST(-1 AS DOUBLE) AS p, CAST(b AS DOUBLE) AS lb, n FROM e WHERE rn = 1 AND n >= 2 UNION ALL SELECT e.k, e.rn, 0.5 * CAST(e.x AS DOUBLE) + 0.5 * r.z, CASE WHEN r.p < 0 THEN CAST(e.b AS DOUBLE) - r.lb ELSE 0.5 * (CAST(e.b AS DOUBLE) - r.lb) + 0.5 * r.p END, CAST(e.b AS DOUBLE), r.n FROM r JOIN e ON e.k = r.k AND e.rn = r.rn + 1) SELECT k AS l_partkey, n AS n_demands, round(z, 6) AS size_hat, round(p, 6) AS interval_hat, round(z / p, 6) AS rate_forecast FROM r WHERE rn = n ORDER BY k"""))

  /** SBC demand classification ([[graft.operators.Trend.sbcClassify]]):
    * route each part's demand series to the right forecaster —
    * smooth/intermittent/erratic/lumpy from (ADI, CV²) at the standard
    * 1.32/0.49 cutoffs; exact census moments, pinned compares.
    */
  private def q464(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.sbcClassify(weeklyDemand(s, dir),
        "l_partkey", "week", "qty")
      .orderBy(col("l_partkey"))

  // census moments -> (ADI, CV²) -> pinned 1.32/0.49 routing
  query("q464_sbc_classify", q464)(Sql(
    """WITH d AS (SELECT l_partkey AS k, date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS b, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1, 2), e AS (SELECT k, b, x FROM d WHERE x > 0), m AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, MIN(b) AS b0, MAX(b) AS b1, SUM(CAST(x AS DECIMAL(38,0))) AS s, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS ss FROM e GROUP BY k HAVING COUNT(*) >= 2 AND SUM(CAST(x AS DECIMAL(38,0))) > 0), f AS (SELECT k, n, CAST(b1 - b0 AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS adi, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS variance FROM m), f2 AS (SELECT k, n, adi, variance / (mean * mean) AS cv2 FROM f) SELECT k AS l_partkey, n AS n_demands, round(adi, 6) AS adi, round(cv2, 6) AS cv2, CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth' WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent' WHEN adi < 1.32 THEN 'erratic' ELSE 'lumpy' END AS class FROM f2 ORDER BY k"""))

  /** Pinball-loss evaluation ([[graft.operators.Trend.pinballEval]]):
    * score each event type's train-half p90 as a quantile forecast over
    * the test half — the calibration-aware metric a point-MAE can't
    * give; exact census order-stat forecast, 0.9·integer terms on the
    * 1e-9 grid.
    */
  private def q465(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.pinballEval(hourly, "event_type", "hid", "cents")
      .orderBy(col("event_type"))
  }

  // train-half order-stat forecast; 0.9·int terms; (0.9 - 1.0) as the
  // SAME two literals both engines (a -0.1 literal parses differently)
  query("q465_pinball", q465)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), tr AS (SELECT event_type, v FROM h WHERE hid % 2 = 0), te AS (SELECT event_type, v FROM h WHERE hid % 2 = 1), cen AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS t FROM tr GROUP BY 1, 2), rk AS (SELECT event_type, v, CAST(SUM(t) OVER (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM cen), f AS (SELECT event_type, MIN(v) AS f FROM rk WHERE c * 10000 >= n * 9000 GROUP BY 1), tm AS (SELECT te.event_type, te.v - f.f AS d FROM te JOIN f USING (event_type)), t2 AS (SELECT event_type, CAST(round(GREATEST(0.9 * CAST(d AS DOUBLE), (0.9 - 1.0) * CAST(d AS DOUBLE)), 9) AS DECIMAL(28,9)) AS term FROM tm) SELECT t2.event_type, MAX(f.f) AS forecast, CAST(COUNT(*) AS BIGINT) AS n_test, round(CAST(SUM(term) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS pinball FROM t2 JOIN f ON t2.event_type = f.event_type GROUP BY 1 ORDER BY 1"""))

  /** Negative-binomial MoM fit ([[graft.operators.Trend.negbinFit]]):
    * the parameter step after q456 says "overdispersed" — r̂ = m²/(v−m),
    * p̂ = m/v per event type's hourly counts, the NB whose alert bands
    * fit bursty series; NULL parameters when not overdispersed.
    */
  private def q459(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Trend.negbinFit(hourly, "event_type", "cnt")
      .orderBy(col("event_type"))
  }

  // the q456 moments re-read as NB(r, p); NULL when not overdispersed
  query("q459_negbin_fit", q459)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(cnt AS DECIMAL(38,0))) AS s, SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))) AS ss FROM h GROUP BY 1 HAVING COUNT(*) >= 2), f AS (SELECT event_type, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS variance FROM m) SELECT event_type, n, round(mean, 6) AS mean, round(variance, 6) AS variance, round(CASE WHEN variance > mean AND mean > 0.0 THEN mean * mean / (variance - mean) END, 6) AS r_hat, round(CASE WHEN variance > mean AND mean > 0.0 THEN mean / variance END, 6) AS p_hat FROM f ORDER BY event_type"""))

  /** Overdispersion check ([[graft.operators.Trend.dispersionCheck]]):
    * variance-to-mean ratio of each event type's hourly counts + the
    * Poisson dispersion statistic — the modeling gate before fitting
    * ±k√λ alert bands (VMR ≫ 1 needs an empirical band instead);
    * exact integer moments, pinned finish.
    */
  private def q456(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Trend.dispersionCheck(hourly, "event_type", "cnt")
      .orderBy(col("event_type"))
  }

  // integer count moments; VMR and (n−1)·VMR single pinned finishes
  query("q456_dispersion", q456)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(cnt AS DECIMAL(38,0))) AS s, SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))) AS ss FROM h GROUP BY 1 HAVING COUNT(*) >= 2), f AS (SELECT event_type, n, s, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS variance FROM m) SELECT event_type, n, round(mean, 6) AS mean, round(variance, 6) AS variance, round(CASE WHEN s > 0 THEN variance / mean END, 6) AS vmr, round(CASE WHEN s > 0 THEN (CAST(n AS DOUBLE) - 1.0) * (variance / mean) END, 6) AS dispersion_stat FROM f ORDER BY event_type"""))

  /** XmR control chart ([[graft.operators.Trend.xmrChart]]): natural
    * process limits x̄ ± 2.66·M̄R per event type's hourly volume with
    * special-cause violations — the SPC single-excursion flag beside
    * q438's accumulating Page–Hinkley; exact integer sums, pinned
    * limits, engine-exact point compares.
    */
  private def q446(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.xmrChart(hourly, "event_type", "hid", "cents")
      .orderBy(col("event_type"))
  }

  // integer Σx and Σ|Δx|; pinned limits; engine-exact point compares
  query("q446_xmr_chart", q446)(Sql(xmrSql))

  /** Seasonal Mann–Kendall
    * ([[graft.operators.Trend.seasonalMannKendall]]): cross-DAY monotone
    * trend per event type WITHIN each hour-of-day season (Hirsch–Slack)
    * — the diurnal cycle q421's plain MK would misread as trend; S and
    * the variance numerators combine as exact integers across the 24
    * seasons before the single /18.
    */
  private def q439(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
      .select(col("event_type"), pmod(col("hid"), lit(24L)).as("hod"),
        expr("hid div 24").as("day"), col("cents"))
    graft.operators.Trend.seasonalMannKendall(
        hourly, "event_type", "hod", "day", "cents")
      .orderBy(col("k"))
  }

  // per-season integer pair counts and variance numerators, summed
  // exact before the single /18; continuity-corrected Z on the total
  query("q439_seasonal_mk", q439)(Sql(
    """WITH h AS (SELECT event_type AS k, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), b AS (SELECT k, hid % 24 AS h, hid // 24 AS t, v FROM h), s AS (SELECT a.k, CAST(SUM(CASE WHEN b2.v > a.v THEN 1 WHEN b2.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s FROM b a JOIN b b2 ON a.k = b2.k AND a.h = b2.h AND a.t < b2.t GROUP BY a.k), tj AS (SELECT k, h, v, CAST(COUNT(*) AS BIGINT) AS tj FROM b GROUP BY 1, 2, 3), ts2 AS (SELECT k, h, CAST(SUM(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT) AS tsum, CAST(SUM(tj) AS BIGINT) AS n_h FROM tj GROUP BY 1, 2), ps AS (SELECT k, CAST(SUM(n_h) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_seasons, CAST(SUM(n_h * (n_h - 1) * (2 * n_h + 5) - tsum) AS BIGINT) AS numvar FROM ts2 GROUP BY k) SELECT s.k, ps.n, ps.n_seasons, s.s, round(CAST(numvar AS DOUBLE) / 18.0, 6) AS var_s, round(CASE WHEN s.s > 0 THEN (CAST(s.s AS DOUBLE) - 1.0) / sqrt(CAST(numvar AS DOUBLE) / 18.0) WHEN s.s < 0 THEN (CAST(s.s AS DOUBLE) + 1.0) / sqrt(CAST(numvar AS DOUBLE) / 18.0) ELSE 0.0 END, 6) AS z FROM s JOIN ps ON s.k = ps.k WHERE numvar > 0 ORDER BY s.k"""))

  /** Distributed PAVA ([[graft.operators.Trend.isotonicPava]]) at 100×
    * q406's bucket domain ($200 buckets instead of $20k): range-shuffled
    * local pooling + one metadata-sized driver stack merge reaches the
    * same unique isotonic optimum the minimax form defines — the oracle
    * IS the minimax replay at this domain, proving plan-independence of
    * the answer; per-x expansion by the q57 containment join.
    */
  private def q419(s: SparkSession, dir: String): DataFrame = {
    val b = T(s, dir, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 20000")
          .as("bucket"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("conv"))
      .groupBy(col("bucket"))
      .agg(sum(col("conv")).as("ysum"), count(lit(1)).as("n"))
    graft.operators.Trend.isotonicPava(b, "bucket", "ysum", "n")
      .orderBy(col("x"))
  }

  // the minimax replay at the PAVA domain: plan-independent optimum
  query("q419_isotonic_pava", q419)(Sql(
    """WITH b AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 20000 AS x, CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ys, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1), rk AS (SELECT x, ys, n, ROW_NUMBER() OVER (ORDER BY x) AS rn, CAST(SUM(ys) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp, CAST(SUM(n) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc FROM b), pr AS (SELECT j.rn AS j, k.rn AS k, CAST(round(CAST(k.cp - (j.cp - j.ys) AS DOUBLE) / CAST(k.cc - (j.cc - j.n) AS DOUBLE), 12) AS DECIMAL(24,12)) AS avg FROM rk j JOIN rk k ON j.rn <= k.rn), m AS (SELECT j, k AS i, MIN(avg) OVER (PARTITION BY j ORDER BY k DESC ROWS UNBOUNDED PRECEDING) AS m FROM pr), f AS (SELECT i, MAX(m) AS f FROM m GROUP BY i) SELECT rk.x, rk.n, round(CAST(rk.ys AS DOUBLE) / CAST(rk.n AS DOUBLE), 6) AS raw_rate, round(CAST(f.f AS DOUBLE), 6) AS fitted_rate FROM rk JOIN f ON rk.rn = f.i ORDER BY rk.x"""))

  /** ISOTONIC calibration ([[graft.operators.Trend.isotonicFit]]): the
    * monotone order-status rate curve over price buckets by the exact
    * minimax characterization (PAVA's unique answer without a merge
    * schedule) — the score-to-probability calibration fit, bucket
    * domain by contract.
    */
  private def q406(s: SparkSession, dir: String): DataFrame = {
    val b = T(s, dir, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 2000000")
          .as("bucket"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("conv"))
      .groupBy(col("bucket"))
      .agg(sum(col("conv")).as("ysum"), count(lit(1)).as("n"))
    graft.operators.Trend.isotonicFit(b, "bucket", "ysum", "n")
      .orderBy(col("x"))
  }

  // minimax isotonic: prefix sums -> suffix-min per start -> max
  query("q406_isotonic", q406)(Sql(
    """WITH b AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 2000000 AS x, CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ys, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1), rk AS (SELECT x, ys, n, ROW_NUMBER() OVER (ORDER BY x) AS rn, CAST(SUM(ys) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp, CAST(SUM(n) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc FROM b), pr AS (SELECT j.rn AS j, k.rn AS k, CAST(round(CAST(k.cp - (j.cp - j.ys) AS DOUBLE) / CAST(k.cc - (j.cc - j.n) AS DOUBLE), 12) AS DECIMAL(24,12)) AS avg FROM rk j JOIN rk k ON j.rn <= k.rn), m AS (SELECT j, k AS i, MIN(avg) OVER (PARTITION BY j ORDER BY k DESC ROWS UNBOUNDED PRECEDING) AS m FROM pr), f AS (SELECT i, MAX(m) AS f FROM m GROUP BY i) SELECT rk.x, rk.n, round(CAST(rk.ys AS DOUBLE) / CAST(rk.n AS DOUBLE), 6) AS raw_rate, round(CAST(f.f AS DOUBLE), 6) AS fitted_rate FROM rk JOIN f ON rk.rn = f.i ORDER BY rk.x"""))

  /** MASE-scored backtest ([[graft.operators.Trend.maseBacktest]]):
    * q361's Holt rolling-origin MAE scaled by the lag-24 seasonal-naive
    * MAE — the unit-free "beats repeating yesterday?" verdict per event
    * type.
    */
  private def q404(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.maseBacktest(hourly, "event_type", "hid",
      "cents", 0.5, 0.5, season = 24).orderBy(col("event_type"))
  }

  // q361's recursion + a lag-24 naive denominator; ratio of the rounds
  query("q404_mase_backtest", q404)(Sql(
    """WITH RECURSIVE h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS vc FROM events GROUP BY 1, 2), o AS (SELECT event_type, CAST(vc AS DOUBLE) AS v, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hid) AS rn FROM h), nn AS (SELECT event_type, COUNT(*) AS n FROM o GROUP BY 1), rec AS (SELECT a.event_type, CAST(2 AS BIGINT) AS rn, b.v AS s, b.v - a.v AS b, CAST(0 AS DOUBLE) AS es, CAST(0 AS BIGINT) AS c FROM o a JOIN o b ON a.event_type = b.event_type AND a.rn = 1 AND b.rn = 2 UNION ALL SELECT r.event_type, r.rn + 1, 0.5 * x.v + 0.5 * (r.s + r.b), 0.5 * ((0.5 * x.v + 0.5 * (r.s + r.b)) - r.s) + 0.5 * r.b, r.es + abs(x.v - (r.s + r.b)), r.c + 1 FROM rec r JOIN o x ON x.event_type = r.event_type AND x.rn = r.rn + 1), sn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ns, CAST(SUM(abs(vc - lg)) AS BIGINT) AS sae FROM (SELECT event_type, vc, LAG(vc, 24) OVER (PARTITION BY event_type ORDER BY hid) AS lg FROM h) q WHERE lg IS NOT NULL GROUP BY 1) SELECT f.event_type, nn.n, f.c AS n_forecasts, round(f.es / CAST(f.c AS DOUBLE), 6) AS mae, round(CAST(sn.sae AS DOUBLE) / CAST(sn.ns AS DOUBLE), 6) AS mae_snaive, round(round(f.es / CAST(f.c AS DOUBLE), 6) / round(CAST(sn.sae AS DOUBLE) / CAST(sn.ns AS DOUBLE), 6), 6) AS mase FROM rec f JOIN nn ON nn.event_type = f.event_type AND f.rn = nn.n JOIN sn ON sn.event_type = f.event_type WHERE nn.n >= 3 ORDER BY f.event_type"""))

  /** SAX SYMBOLIZATION ([[graft.operators.Trend.saxSymbols]]): per-user
    * hourly spend compressed to 4-hour PAA means then a 4-letter motif
    * string via exact-rank global breakpoints — the symbolic form motif
    * mining and whole-series indexing consume.
    */
  private def q392(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("user_id"), expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    graft.operators.Trend.saxSymbols(hourly, "user_id", "hid", "cents",
      paaWindow = 4, alphabet = 4).orderBy(col("k"))
  }

  // PAA means on the grid; exact-rank breakpoints; ordered string_agg
  query("q392_sax_symbols", q392)(Sql(
    """WITH h AS (SELECT user_id AS k, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents FROM events GROUP BY 1, 2), paa AS (SELECT k, hid // 4 AS seg, CAST(round(CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS m FROM h GROUP BY 1, 2), d AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS t FROM paa GROUP BY m), rk AS (SELECT m, CAST(SUM(t) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER () AS BIGINT) AS n FROM d), bp AS (SELECT MIN(CASE WHEN c >= (n * 1 + 3) // 4 THEN m END) AS b1, MIN(CASE WHEN c >= (n * 2 + 3) // 4 THEN m END) AS b2, MIN(CASE WHEN c >= (n * 3 + 3) // 4 THEN m END) AS b3 FROM rk), sym AS (SELECT k, seg, (CASE WHEN m > bp.b1 THEN 1 ELSE 0 END + CASE WHEN m > bp.b2 THEN 1 ELSE 0 END + CASE WHEN m > bp.b3 THEN 1 ELSE 0 END) AS si FROM paa, bp) SELECT k, CAST(COUNT(*) AS BIGINT) AS n_segments, string_agg(['a','b','c','d'][si + 1], '' ORDER BY seg) AS sax FROM sym GROUP BY k ORDER BY k"""))

  /** Per-type rolling 7-day OLS slope ([[graft.operators.Trend
    * .rollingOlsPerKey]]) over daily event counts — the local-trend
    * series a monitoring dashboard plots (q147 fits one global line;
    * this emits the trend at every point). Exact integer window sums,
    * closed-form slope in pinned double order.
    */
  private def q293(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 86400").as("day"))
      .agg(count(lit(1)).as("n_events"))
    graft.operators.Trend.rollingOlsPerKey(daily, "event_type", "day",
        "n_events", win = 7)
      .orderBy(col("event_type"), col("x"))
  }

  // exact integer window sums, closed-form slope/intercept in the same
  // pinned double op order; NULL before a full 7-row window
  query("q293_rolling_ols", q293)(Sql(
    """WITH d AS (SELECT event_type, (epoch_ns(ts) // 1000000000) // 86400 AS day, COUNT(*) AS y FROM events GROUP BY 1, 2), w AS (SELECT event_type, day AS x, y, COUNT(*) OVER win AS n, SUM(day) OVER win AS sx, SUM(y) OVER win AS sy, SUM(day * y) OVER win AS sxy, SUM(day * day) OVER win AS sxx FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)), r AS (SELECT event_type, x, y, n, sx, sy, CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den, (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw FROM w) SELECT event_type, x, y, CASE WHEN n = 7 AND den <> 0 THEN round(slope_raw, 6) END AS slope, CASE WHEN n = 7 AND den <> 0 THEN round((CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) END AS intercept FROM r ORDER BY event_type, x"""))

  /** Per-type changepoint ([[graft.operators.Trend.changePointPerKey]])
    * over daily event counts: the single binary-segmentation split that
    * maximizes the two-segment SSE reduction — "when did the level
    * shift", from exact integer prefix sums in one ordered pass per key.
    */
  private def q301(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 86400").as("day"))
      .agg(count(lit(1)).as("n_events"))
    graft.operators.Trend.changePointPerKey(daily, "event_type", "day",
        "n_events")
      .orderBy(col("event_type"))
  }

  // same integer prefix sums, same pinned-order gain arithmetic,
  // argmax on the 1e-6-rounded gain with the earliest-split tie-break
  query("q301_changepoint", q301)(Sql(
    """WITH d AS (SELECT event_type, (epoch_ns(ts) // 1000000000) // 86400 AS day, COUNT(*) AS y FROM events GROUP BY 1, 2), w AS (SELECT event_type, day, y, COUNT(*) OVER run AS cn, SUM(y) OVER run AS cs, SUM(y * y) OVER run AS cq, COUNT(*) OVER k AS n, SUM(y) OVER k AS s, SUM(y * y) OVER k AS q FROM d WINDOW run AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), k AS (PARTITION BY event_type)), g AS (SELECT event_type, day, cn, n, cs, s, round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(cq AS DOUBLE) - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)) - ((CAST(q AS DOUBLE) - CAST(cq AS DOUBLE)) - (CAST(s AS DOUBLE) - CAST(cs AS DOUBLE)) * (CAST(s AS DOUBLE) - CAST(cs AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(cn AS DOUBLE))), 6) AS gain FROM w WHERE cn < n), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gain DESC, day ASC) AS rk FROM g) SELECT event_type, day AS split_x, CAST(cn AS BIGINT) AS n_left, CAST(n - cn AS BIGINT) AS n_right, round(CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE), 6) AS mean_left, round((CAST(s AS DOUBLE) - CAST(cs AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(cn AS DOUBLE)), 6) AS mean_right, gain FROM r WHERE rk = 1 ORDER BY event_type"""))

  /** The q591 Cox score Σ round(d1 − d·n1·θ/(n0+n1·θ), 1e-9) as an
    * exact-decimal scalar subquery over the duration census `cen`. */
  private def coxScoreSql(m: String): String =
    s"(SELECT SUM(CAST(round(CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * " +
      s"CAST(n1 AS DOUBLE) * ($m) / (CAST(n0 AS DOUBLE) + " +
      s"CAST(n1 AS DOUBLE) * ($m)), 9) AS DECIMAL(28,9))) FROM cen)"

  /** One R/S point (ln w, ln mean R/S) for the q615 oracle at window
    * size `w`, read from the `hbase` (k, i, v) CTE. */
  private def hurstPtsSql(w: Int): String =
    s"SELECT k, CAST(round(ln(CAST($w AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x, " +
      s"CAST(round(ln(mrs), 9) AS DECIMAL(18,9)) AS y FROM (" +
      s"SELECT k, CAST(SUM(rs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mrs FROM (" +
      s"SELECT k, blk, CAST(round((dmax - dmin) / sqrt(vr), 9) AS DECIMAL(28,9)) AS rs, vr FROM (" +
      s"SELECT k, blk, MAX(CAST(cum AS DOUBLE) - CAST(j AS BIGINT) * (CAST(s1 AS DOUBLE) / $w)) AS dmax, " +
      s"MIN(CAST(cum AS DOUBLE) - CAST(j AS BIGINT) * (CAST(s1 AS DOUBLE) / $w)) AS dmin, " +
      s"CAST(MAX(s2) AS DOUBLE) / $w - (CAST(MAX(s1) AS DOUBLE) / $w) * (CAST(MAX(s1) AS DOUBLE) / $w) AS vr FROM (" +
      s"SELECT k, i // $w AS blk, i, v, COUNT(*) OVER (PARTITION BY k, i // $w) AS cnt, " +
      s"SUM(v) OVER (PARTITION BY k, i // $w) AS s1, SUM(v * v) OVER (PARTITION BY k, i // $w) AS s2, " +
      s"SUM(v) OVER (PARTITION BY k, i // $w ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      s"ROW_NUMBER() OVER (PARTITION BY k, i // $w ORDER BY i) AS j FROM hbase) q0 " +
      s"WHERE cnt = $w GROUP BY k, blk) q1 WHERE vr > 0) q2 GROUP BY k) q3"

  /** q501 replay: the q255 per-lag LEAD census for every lag 2..24,
    * grid-rounded ACF, (acf desc, lag asc) argmax per key.
    */
  private def dominantPeriodOracleSql: String = {
    val lagUnions = (2 to 24).map(l =>
      s"SELECT event_type, hid, v, lead(v, $l) OVER (PARTITION BY event_type ORDER BY hid) AS w, CAST($l AS BIGINT) AS lag FROM h")
      .mkString(" UNION ALL ")
    s"""WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), l AS (SELECT event_type, lag, v AS x, w FROM ($lagUnions) WHERE w IS NOT NULL), a AS (SELECT event_type, lag, COUNT(*) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(w AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS syy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS sxy FROM l GROUP BY 1, 2), acf AS (SELECT event_type, lag, n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf FROM a WHERE n >= 3), f AS (SELECT event_type, lag, n, acf, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY acf DESC, lag) AS rk, COUNT(*) OVER (PARTITION BY event_type) AS n_lags FROM acf WHERE acf IS NOT NULL) SELECT event_type, lag AS period, acf AS strength, n AS n_pairs, CAST(n_lags AS BIGINT) AS n_lags FROM f WHERE rk = 1 ORDER BY event_type"""
  }
}
