package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => TF}

import Oracle.Sql
import Shared._

/** Drift, testing and comparison statistics. */
private[queries] object DriftQueries extends Family {
  /** Distribution-drift monitor: per-bin PSI of the latest day's event
    * values against all prior days ([[graft.operators.Drift.psiBins]]).
    */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val maxDate = ev.agg(max(evDateId)).head().getString(0)
    graft.operators.Drift.psiBins(ev, "value", evDateId === maxDate, bins = 10)
      .orderBy(col("bin"))
  }

  // densities from integer counts with the same fixed-order double ops;
  // psi terms computed from the UNROUNDED densities like the Spark side
  query("q109_psi_drift", q109)(Sql(psiDriftOracleSql))

  /** Mutual information between order status and priority
    * ([[graft.operators.Drift.mutualInfo]]) — feature relevance from ONE
    * contingency pass; every window below the groupBy runs over the
    * |X|·|Y|-row aggregate, never the input. Per-cell terms land on the
    * 9-decimal grid before the order-independent decimal total.
    */
  private def q256(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.mutualInfo(
        T(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority")),
        "o_orderstatus", "o_orderpriority")
      .orderBy(col("x"), col("y"))

  query("q256_mutual_info", q256)(Sql(
    """WITH j AS (SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS n_xy FROM orders GROUP BY 1, 2), t AS (SELECT x, y, n_xy, CAST(SUM(n_xy) OVER (PARTITION BY x) AS BIGINT) AS n_x, CAST(SUM(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y, CAST(SUM(n_xy) OVER () AS BIGINT) AS n FROM j), m AS (SELECT x, y, n_xy, n_x, n_y, CAST(round(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 9) AS DECIMAL(18,9)) AS mi_term FROM t) SELECT x, y, n_xy, n_x, n_y, CAST(mi_term AS DOUBLE) AS mi_term, CAST(SUM(mi_term) OVER () AS DOUBLE) AS mi_total FROM m ORDER BY x, y"""))

  /** MANN–WHITNEY U with tie correction
    * ([[graft.operators.Drift.mannWhitney]]): the non-parametric
    * location test next to q283's z-test and q295's KS — purchase vs
    * click values, ranks computed over the VALUE DOMAIN (never a per-row
    * global sort), doubled-rank and tie sums exact in DECIMAL(38,0).
    */
  private def q319(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.mannWhitney(
      T(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click")),
      "value", col("event_type") === "purchase")

  // doubled average ranks (2c - t + 1) and the tie term in exact
  // decimals; mu/sigma/z in the engine's pinned double order
  query("q319_mann_whitney", q319)(Sql(
    """WITH e AS (SELECT CAST(value AS DOUBLE) AS v, event_type = 'purchase' AS isa FROM events WHERE event_type IN ('purchase', 'click')), bv AS (SELECT v, SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ta, SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS tb FROM e GROUP BY v), rk AS (SELECT ta, tb, ta + tb AS t, SUM(ta + tb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM bv), ag AS (SELECT CAST(SUM(ta) AS BIGINT) AS na, CAST(SUM(tb) AS BIGINT) AS nb, SUM(CAST(ta AS DECIMAL(38,0)) * CAST(2 * c - t + 1 AS DECIMAL(38,0))) AS ra2, SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS ties FROM rk) SELECT na AS n_a, nb AS n_b, CAST(ra2 - CAST(na AS DECIMAL(38,0)) * CAST(na + 1 AS DECIMAL(38,0)) AS DOUBLE) / 2.0 AS u_a, round((CAST(ra2 - CAST(na AS DECIMAL(38,0)) * CAST(na + 1 AS DECIMAL(38,0)) AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 * ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0))))), 6) AS z FROM ag"""))

  /** WELCH'S t-TEST ([[graft.operators.Drift.welchTTest]]): view-event
    * value cents vs click-event value cents — the unequal-variance mean
    * test beside q283's proportion z-test and q319's rank test; both
    * slices' moments from one conditional pass, sums exact in
    * DECIMAL(38,0), t and Welch–Satterthwaite df in pinned-order
    * doubles.
    */
  private def q362(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .filter(col("event_type").isin("view", "click"))
      .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"),
        (col("event_type") === "view").as("isa"))
    graft.operators.Drift.welchTTest(ev, "cents", col("isa"))
  }

  // moments exact in DECIMAL(38,0); t and Welch df in pinned doubles
  query("q362_welch_ttest", q362)(Sql(welchSql))

  /** KRUSKAL–WALLIS H ([[graft.operators.Drift.kruskalWallis]]): does
    * any order-priority class price systematically higher — the k-group
    * rank test beside q319's two-sample Mann–Whitney, on the same
    * value-domain rank formulation (no global per-row sort).
    */
  private def q373(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.kruskalWallis(T(s, dir, "orders"),
      "o_totalprice", "o_orderpriority").orderBy(col("g"))

  // doubled-rank replay over the value domain; R2^2/n terms on the grid
  query("q373_kruskal_wallis", q373)(Sql(
    """WITH bv AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, CAST(o_orderpriority AS VARCHAR) AS g, CAST(COUNT(*) AS BIGINT) AS tvg FROM orders GROUP BY 1, 2), byv AS (SELECT v, CAST(SUM(tvg) AS BIGINT) AS t FROM bv GROUP BY v), rk AS (SELECT v, t, 2 * SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t + 1 AS r2 FROM byv), pg AS (SELECT g, CAST(SUM(tvg) AS BIGINT) AS n_g, SUM(CAST(tvg AS DECIMAL(38,0)) * CAST(r2 AS DECIMAL(38,0))) AS r2sum FROM bv JOIN rk USING (v) GROUP BY g), pt AS (SELECT g, n_g, r2sum, CAST(round(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6)) AS term FROM pg), ti AS (SELECT SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS ties FROM rk), ag AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, SUM(term) AS ts FROM pt) SELECT g, n_g, CAST(r2sum AS DOUBLE) / 2.0 AS rank_sum, round(3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * CAST(ts AS DOUBLE) - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat, round((3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * CAST(ts AS DOUBLE) - 3.0 * (CAST(n AS DOUBLE) + 1.0)) / (1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) AS h_tie_corrected FROM pt, ti, ag ORDER BY g"""))

  /** THEIL T decomposition ([[graft.operators.Drift.theilIndex]]):
    * order-price inequality split additively into between-priority and
    * within-priority components — the decomposition the Gini (q338)
    * cannot give; exact-input doubles, grid terms, O(1) outputs.
    */
  private def q411(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderpriority"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    graft.operators.Drift.theilIndex(o, "cents", "o_orderpriority")
      .orderBy(col("g"))
  }

  // grid terms times scale-0 counts; O(1) outputs only
  query("q411_theil_index", q411)(Sql(
    """WITH e AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), bv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), wt AS (SELECT g, v, t, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS ng, SUM(CAST(v AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) OVER (PARTITION BY g) AS xg, CAST(SUM(t) OVER () AS BIGINT) AS n, SUM(CAST(v AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) OVER () AS x FROM bv), pg AS (SELECT g, ng, xg, n, x, SUM(CAST(round((CAST(v AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(xg AS DOUBLE)) * ln(CAST(v AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(xg AS DOUBLE)), 9) AS DECIMAL(18,9)) * CAST(t AS DECIMAL(20,0))) AS tg_sum, SUM(CAST(round((CAST(v AS DOUBLE) * CAST(n AS DOUBLE) / CAST(x AS DOUBLE)) * ln(CAST(v AS DOUBLE) * CAST(n AS DOUBLE) / CAST(x AS DOUBLE)), 9) AS DECIMAL(18,9)) * CAST(t AS DECIMAL(20,0))) AS tu_sum FROM wt GROUP BY 1, 2, 3, 4, 5), fin AS (SELECT g, ng, xg, n, x, tg_sum, tu_sum, CAST(round((CAST(xg AS DOUBLE) / CAST(x AS DOUBLE)) * (CAST(tg_sum AS DOUBLE) / CAST(ng AS DOUBLE)), 9) AS DECIMAL(18,9)) AS within_term, CAST(round((CAST(xg AS DOUBLE) / CAST(x AS DOUBLE)) * ln(CAST(xg AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(x AS DOUBLE) * CAST(ng AS DOUBLE))), 9) AS DECIMAL(18,9)) AS between_term FROM pg) SELECT g, ng AS n_g, round(CAST(xg AS DOUBLE) / CAST(x AS DOUBLE), 6) AS income_share, round(CAST(tg_sum AS DOUBLE) / CAST(ng AS DOUBLE), 6) AS theil_g, round(CAST(SUM(within_term) OVER () AS DOUBLE), 6) AS theil_within, round(CAST(SUM(between_term) OVER () AS DOUBLE), 6) AS theil_between, round(CAST(SUM(tu_sum) OVER () AS DOUBLE) / CAST(n AS DOUBLE), 6) AS theil_total FROM fin ORDER BY g"""))

  /** SPRT per user ([[graft.operators.Drift.sprt]]): Wald's sequential
    * test walking each user's event stream for purchase-rate
    * H1 p=0.25 vs H0 p=0.15 with ±ln(19) boundaries — the early-stopping
    * monitor without the peeking problem; first crossing by struct-min.
    */
  private def q412(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"),
      expr("ts div 1000000000").as("tsec"), col("event_id"),
      col("event_type"))
    graft.operators.Drift.sprt(ev, "user_id", Seq("tsec", "event_id"),
      col("event_type") === "purchase", p0 = 0.15, p1 = 0.25,
      alphaInv = 19.0).orderBy(col("user_id"))
  }

  // the LLR walk with integer counts; first crossing by min rank
  query("q412_sprt", q412)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec, event_id, event_type = 'purchase' AS conv FROM events), o AS (SELECT user_id, CASE WHEN conv THEN 1 ELSE 0 END AS c, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn FROM e), wk AS (SELECT user_id, rn, CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1 FROM o), ll AS (SELECT user_id, rn, CAST(n1 AS DOUBLE) * ln(0.25 / 0.15) + CAST(rn - n1 AS DOUBLE) * ln((1.0 - 0.25) / (1.0 - 0.15)) AS llr FROM wk), dd AS (SELECT user_id, rn, llr, CASE WHEN llr >= ln(19.0) THEN 'h1' WHEN llr <= -ln(19.0) THEN 'h0' END AS dcn FROM ll), fin AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_total, round(max_by(llr, rn), 6) AS llr_final, CAST(MIN(CASE WHEN dcn IS NOT NULL THEN rn END) AS BIGINT) AS n_at_decision FROM dd GROUP BY 1) SELECT f.user_id, f.n_total, COALESCE(d.dcn, 'continue') AS decision, f.n_at_decision, round(d.llr, 6) AS llr_at_decision, f.llr_final FROM fin f LEFT JOIN dd d ON d.user_id = f.user_id AND d.rn = f.n_at_decision ORDER BY f.user_id"""))

  /** BH-FDR over a per-nation Welch z family
    * ([[graft.operators.Drift.bhFdr]]): each nation's customer balances
    * tested against the rest (exact DECIMAL moments, pinned Welch z),
    * p-values through the pinned A&S 26.2.17 tail polynomial
    * ([[graft.operators.Drift.normalTailP2]]) onto the 1e-9 grid, then
    * the step-up rule over the 25-hypothesis family — the
    * multiple-testing gate the per-key test shelf needs before anyone
    * reads 25 "significant" nations off 25 raw p-values.
    */
  private def q420(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val c = T(s, dir, "customer")
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("cents"))
    val cts = col("cents").cast(d38)
    val g = c.groupBy(col("n_name")).agg(count(lit(1)).as("na"),
      sum(cts).as("sa"), sum(cts * cts).as("saa"))
    val t = c.agg(count(lit(1)).as("nt"), sum(cts).as("st"),
      sum(cts * cts).as("stt"))
    def dbl(x: Column): Column = x.cast("double")
    val j = g.crossJoin(broadcast(t)).select(col("n_name"), col("na"),
      dbl(col("sa")).as("saD"), dbl(col("saa")).as("saaD"),
      (col("nt") - col("na")).as("nb"),
      dbl(col("st") - col("sa")).as("sbD"),
      dbl(col("stt") - col("saa")).as("sbbD"))
    val na = dbl(col("na"))
    val nb = dbl(col("nb"))
    val va = (na * col("saaD") - col("saD") * col("saD")) /
      (na * (na - 1.0))
    val vb = (nb * col("sbbD") - col("sbD") * col("sbD")) /
      (nb * (nb - 1.0))
    val z = (col("saD") / na - col("sbD") / nb) / sqrt(va / na + vb / nb)
    val withP = j.select(col("n_name"), round(z, 6).as("zr"),
      round(graft.operators.Drift.normalTailP2(z), 9).as("p"))
    graft.operators.Drift
      .bhFdr(withP.select(col("n_name"), col("p")), "n_name", "p", 0.05)
      .join(withP.select(col("n_name").as("k"), col("zr")), Seq("k"))
      .select(col("k").as("nation"), col("zr").as("z"), col("p"),
        col("p_rank"), col("bh_crit"), col("rejected"))
      .orderBy(col("p_rank"))
  }

  // pinned Welch z + A&S tail polynomial + step-up over the family
  query("q420_bh_fdr", q420)(Sql(
    """WITH c AS (SELECT n.n_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM customer JOIN nation n ON c_nationkey = n_nationkey), g AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS na, SUM(CAST(cents AS DECIMAL(38,0))) AS sa, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS saa FROM c GROUP BY 1), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt, SUM(CAST(cents AS DECIMAL(38,0))) AS st, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS stt FROM c), j AS (SELECT n_name, na, CAST(sa AS DOUBLE) AS saD, CAST(saa AS DOUBLE) AS saaD, nt - na AS nb, CAST(st - sa AS DOUBLE) AS sbD, CAST(stt - saa AS DOUBLE) AS sbbD FROM g, t), zc AS (SELECT n_name, (saD / CAST(na AS DOUBLE) - sbD / CAST(nb AS DOUBLE)) / sqrt(((CAST(na AS DOUBLE) * saaD - saD * saD) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE) + ((CAST(nb AS DOUBLE) * sbbD - sbD * sbD) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE)) AS z FROM j), pt AS (SELECT n_name, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zc), pp AS (SELECT n_name, round(z, 6) AS zr, round(2.0 * 0.3989422804014327 * exp(-(abs(z) * abs(z)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt, 9) AS p FROM pt), bh AS (SELECT n_name, zr, p, CAST(ROW_NUMBER() OVER (ORDER BY p, n_name) AS BIGINT) AS r, CAST(COUNT(*) OVER () AS BIGINT) AS m FROM pp), km AS (SELECT MAX(CASE WHEN p * CAST(m AS DOUBLE) <= CAST(r AS DOUBLE) * 0.05 THEN r END) AS kmax FROM bh) SELECT n_name AS nation, zr AS z, p, r AS p_rank, round(CAST(r AS DOUBLE) * 0.05 / CAST(m AS DOUBLE), 9) AS bh_crit, (km.kmax IS NOT NULL AND r <= km.kmax) AS rejected FROM bh, km ORDER BY p_rank"""))

  /** Cochran–Armitage trend test
    * ([[graft.operators.Drift.cochranArmitage]]): does the fulfilled
    * rate TREND across $50k order-price buckets — the ordered
    * alternative q408's ANOVA wastes power on; exact integer moments,
    * one pinned Z.
    */
  private def q426(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.cochranArmitage(
      T(s, dir, "orders").select(
        expr("least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 5000000, 9)")
          .as("bucket"),
        col("o_orderstatus")),
      "bucket", col("o_orderstatus") === "F")
      .orderBy(col("score"))

  // exact integer moments; Z = (T*N)*sqrt(N)/sqrt(Var*N^3)
  query("q426_cochran_armitage", q426)(Sql(
    """WITH b AS (SELECT least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000, 9) AS w, CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s FROM orders), g AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_g, CAST(SUM(s) AS BIGINT) AS y_g FROM b GROUP BY 1), t AS (SELECT w, n_g, y_g, CAST(SUM(n_g) OVER () AS BIGINT) AS n, CAST(SUM(y_g) OVER () AS BIGINT) AS y, SUM(CAST(w AS DECIMAL(38,0)) * CAST(y_g AS DECIMAL(38,0))) OVER () AS swy, SUM(CAST(w AS DECIMAL(38,0)) * CAST(n_g AS DECIMAL(38,0))) OVER () AS swn, SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0)) * CAST(n_g AS DECIMAL(38,0))) OVER () AS swwn FROM g) SELECT w AS score, n_g, y_g, round(CAST(y_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS rate, round(CAST(CAST(n AS DECIMAL(38,0)) * swy - CAST(y AS DECIMAL(38,0)) * swn AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) / sqrt(CAST(CAST(y AS DECIMAL(38,0)) * CAST(n - y AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(n AS DECIMAL(38,0)) * swwn - swn * swn AS DOUBLE)), 6) AS z_trend FROM t ORDER BY score"""))

  /** Brown–Forsythe variance-homogeneity test
    * ([[graft.operators.Drift.brownForsythe]]): do the order-priority
    * groups share a price SPREAD — the dispersion gate q408's ANOVA
    * (same grouping) assumes away; median-centered |x − med_g| by exact
    * census order statistics, then the one-way F on the deviations.
    */
  private def q428(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.brownForsythe(
      T(s, dir, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        col("o_orderpriority")),
      "cents", "o_orderpriority")
      .orderBy(col("g"))

  // census order-stat medians, then the q408 F replay on |x − med|
  query("q428_brown_forsythe", q428)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), cen AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), rk AS (SELECT g, v, t, CAST(SUM(t) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n_g FROM cen), md AS (SELECT g, MIN(v) AS med FROM rk WHERE c >= (n_g + 1) // 2 GROUP BY g), z AS (SELECT cen.g, abs(cen.v - md.med) AS z, cen.t, md.med FROM cen JOIN md ON cen.g = md.g), pg AS (SELECT g, CAST(SUM(t) AS BIGINT) AS n_g, MAX(med) AS med, SUM(CAST(z AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) AS s_g, SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) AS ss_g FROM z GROUP BY g), pt AS (SELECT *, CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6)) AS term FROM pg), t AS (SELECT CAST(SUM(n_g) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS k, CAST(SUM(s_g) AS DOUBLE) AS s, CAST(SUM(ss_g) AS DOUBLE) AS ss, CAST(SUM(term) AS DOUBLE) AS tsum FROM pt) SELECT g, n_g, med, round(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS mad_mean, round(((t.tsum - t.s * t.s / t.n) / (t.k - 1.0)) / (((t.ss - t.s * t.s / t.n) - (t.tsum - t.s * t.s / t.n)) / (t.n - t.k)), 6) AS bf_stat FROM pt, t ORDER BY g"""))

  /** Friedman complete-block rank test ([[graft.operators.Drift.friedman]]):
    * do event TYPES differ in daily volume once the day itself (the
    * block) is ranked out — the within-block sibling of q373's
    * Kruskal–Wallis, immune to day-level level shifts that would pollute
    * a pooled ranking; (day × type) spine zero-filled so blocks are
    * complete, doubled-rank integer arithmetic to one pinned χ².
    */
  private def q430(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events")
      .select(expr("(ts div 1000000000) div 86400").as("day"), col("event_type"))
    val counts = e.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val spine = e.select(col("day")).distinct()
      .crossJoin(broadcast(e.select(col("event_type")).distinct()))
    val full = spine.join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
    graft.operators.Drift.friedman(full, "day", "event_type", "n")
      .orderBy(col("j"))
  }

  // zero-filled (day × type) spine; doubled in-block ranks; tie-
  // corrected χ² from pure integers
  query("q430_friedman", q430)(Sql(
    """WITH e AS (SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, event_type FROM events), cnt AS (SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), sp AS (SELECT d.day, t.event_type FROM (SELECT DISTINCT day FROM e) d, (SELECT DISTINCT event_type FROM e) t), fl AS (SELECT sp.day AS b, sp.event_type AS j, COALESCE(cnt.n, 0) AS v FROM sp LEFT JOIN cnt ON sp.day = cnt.day AND sp.event_type = cnt.event_type), cen AS (SELECT b, v, CAST(COUNT(*) AS BIGINT) AS t FROM fl GROUP BY 1, 2), rk AS (SELECT b, v, t, CAST(2 * SUM(t) OVER (PARTITION BY b ORDER BY v ROWS UNBOUNDED PRECEDING) - t + 1 AS BIGINT) AS r2 FROM cen), wr AS (SELECT fl.j, rk.r2 FROM fl JOIN rk ON fl.b = rk.b AND fl.v = rk.v), pt AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS n_b, SUM(CAST(r2 AS DECIMAL(38,0))) AS r2sum FROM wr GROUP BY j), sq AS (SELECT SUM(CAST(t AS DECIMAL(38,0)) * CAST(r2 AS DECIMAL(38,0)) * CAST(r2 AS DECIMAL(38,0))) AS r2sq FROM rk), tt AS (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS k FROM pt), nm AS (SELECT SUM((r2sum - CAST(n_b AS DECIMAL(38,0)) * (tt.k + 1)) * (r2sum - CAST(n_b AS DECIMAL(38,0)) * (tt.k + 1))) AS num, MAX(n_b) AS b FROM pt, tt), dn AS (SELECT sq.r2sq - CAST(nm.b AS DECIMAL(38,0)) * tt.k * (tt.k + 1) * (tt.k + 1) AS den FROM sq, nm, tt) SELECT pt.j, pt.n_b, CAST(pt.r2sum AS DOUBLE) / 2.0 AS rank_sum, round(CASE WHEN dn.den <> 0 THEN CAST(tt.k - 1 AS DOUBLE) * CAST(nm.num AS DOUBLE) / CAST(dn.den AS DOUBLE) END, 6) AS chi2 FROM pt, tt, nm, dn ORDER BY pt.j"""))

  /** Jonckheere–Terpstra ordered-alternative test
    * ([[graft.operators.Drift.jonckheereTerpstra]]): does line QUANTITY
    * trend with order PRIORITY (1-URGENT … 5-LOW) — the
    * continuous-response sibling of q426's Cochran–Armitage; exact 2J
    * from the (priority, quantity) cell census, tie-corrected variance
    * from pure integer censuses, one pinned Z.
    */
  private def q435(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.jonckheereTerpstra(
      T(s, dir, "lineitem").join(T(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
            .as("prio"),
          col("l_quantity").cast("long").as("qty")),
      "prio", "qty")
      .orderBy(col("g"))

  // doubled-J integer pair census; tie-corrected variance from pure
  // integer census sums; one pinned Z broadcast per group
  query("q435_jonckheere", q435)(Sql(
    """WITH e AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g, CAST(l_quantity AS BIGINT) AS v FROM lineitem JOIN orders ON l_orderkey = o_orderkey), c AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), j AS (SELECT COALESCE(SUM(CAST(a.t AS DECIMAL(38,0)) * b.t * (CASE WHEN a.v < b.v THEN 2 WHEN a.v = b.v THEN 1 ELSE 0 END)), 0) AS j2 FROM c a JOIN c b ON a.g < b.g), gr AS (SELECT g, CAST(SUM(t) AS BIGINT) AS n_g, SUM(CAST(v AS DECIMAL(38,0)) * t) AS sv FROM c GROUP BY g), gm AS (SELECT SUM(CAST(n_g AS DECIMAL(38,0))) AS n, SUM(CAST(n_g AS DECIMAL(38,0)) * n_g) AS sn2, SUM(CAST(n_g AS DECIMAL(38,0)) * (n_g - 1)) AS u1, SUM(CAST(n_g AS DECIMAL(38,0)) * (n_g - 1) * (2 * n_g + 5)) AS u2, SUM(CAST(n_g AS DECIMAL(38,0)) * (n_g - 1) * (n_g - 2)) AS u3 FROM gr), tv AS (SELECT v, CAST(SUM(t) AS BIGINT) AS tu FROM c GROUP BY v), tm AS (SELECT COALESCE(SUM(CAST(tu AS DECIMAL(38,0)) * (tu - 1)), 0) AS w1, COALESCE(SUM(CAST(tu AS DECIMAL(38,0)) * (tu - 1) * (2 * tu + 5)), 0) AS w2, COALESCE(SUM(CAST(tu AS DECIMAL(38,0)) * (tu - 1) * (tu - 2)), 0) AS w3 FROM tv), fin AS (SELECT gr.g, gr.n_g, gr.sv, j.j2, CAST(gm.n AS DOUBLE) AS nd, gm.sn2, gm.u1, gm.u2, gm.u3, tm.w1, tm.w2, tm.w3, gm.n FROM gr, j, gm, tm), vv AS (SELECT *, (nd * (nd - 1.0) * (2.0 * nd + 5.0) - CAST(u2 AS DOUBLE) - CAST(w2 AS DOUBLE)) / 72.0 + CAST(u3 AS DOUBLE) * CAST(w3 AS DOUBLE) / (36.0 * nd * (nd - 1.0) * (nd - 2.0)) + CAST(u1 AS DOUBLE) * CAST(w1 AS DOUBLE) / (8.0 * nd * (nd - 1.0)) AS varj FROM fin) SELECT g, n_g, round(CAST(sv AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS mean_v, CAST(j2 AS DOUBLE) / 2.0 AS j_stat, round(CASE WHEN varj > 0.0 THEN (CAST(j2 AS DOUBLE) - CAST(n * n - sn2 AS DOUBLE) / 2.0) / (2.0 * sqrt(varj)) END, 6) AS z FROM vv ORDER BY g"""))

  /** Cochran's Q ([[graft.operators.Drift.cochranQ]]): do event TYPES
    * differ in their day-level "above the day's average volume" flag —
    * the paired-binary k-treatment test completing q409's McNemar the
    * way q430's Friedman completes Kruskal–Wallis; zero-filled
    * (day × type) spine, the flag is the exact integer compare
    * n·k > day_total, Q from pure integer census sums.
    */
  private def q437(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events")
      .select(expr("(ts div 1000000000) div 86400").as("day"),
        col("event_type"))
    val counts = e.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val spine = e.select(col("day")).distinct()
      .crossJoin(broadcast(e.select(col("event_type")).distinct()))
    val full = spine.join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wd = Window.partitionBy(col("day"))
    val flagged = full
      .withColumn("k", count(lit(1)).over(wd))
      .withColumn("tot", sum(col("n")).over(wd))
      .select(col("day"), col("event_type"),
        (col("n") * col("k") > col("tot")).as("above"))
    graft.operators.Drift.cochranQ(flagged, "day", "event_type",
        col("above"))
      .orderBy(col("j"))
  }

  // zero-filled spine; the above-average flag is an exact integer
  // compare; Q from pure integer treatment/block census sums
  query("q437_cochran_q", q437)(Sql(
    """WITH e AS (SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, event_type FROM events), cnt AS (SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), sp AS (SELECT d.day, t.event_type FROM (SELECT DISTINCT day FROM e) d, (SELECT DISTINCT event_type FROM e) t), fl AS (SELECT sp.day, sp.event_type, COALESCE(cnt.n, 0) AS n FROM sp LEFT JOIN cnt ON sp.day = cnt.day AND sp.event_type = cnt.event_type), ab AS (SELECT day AS b, event_type AS j, CASE WHEN n * (COUNT(*) OVER (PARTITION BY day)) > (SUM(n) OVER (PARTITION BY day)) THEN 1 ELSE 0 END AS x FROM fl), pt AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS n_b, CAST(SUM(x) AS BIGINT) AS c_j FROM ab GROUP BY j), bm AS (SELECT SUM(CAST(ri AS DECIMAL(38,0))) AS t, SUM(CAST(ri AS DECIMAL(38,0)) * ri) AS sr2 FROM (SELECT b, CAST(SUM(x) AS BIGINT) AS ri FROM ab GROUP BY b) q), tt AS (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS k, SUM(CAST(c_j AS DECIMAL(38,0)) * c_j) AS sc2 FROM pt) SELECT pt.j, pt.n_b, pt.c_j, round(CASE WHEN tt.k * bm.t - bm.sr2 <> 0 THEN CAST(tt.k - 1 AS DOUBLE) * CAST(tt.k * sc2 - bm.t * bm.t AS DOUBLE) / CAST(tt.k * bm.t - bm.sr2 AS DOUBLE) END, 6) AS q_stat FROM pt, bm, tt ORDER BY pt.j"""))

  /** Group-sequential monitoring
    * ([[graft.operators.Drift.groupSequential]]): the view-vs-click
    * value test evaluated at three interim time looks against pinned
    * O'Brien–Fleming-style boundaries (3.471/2.454/2.004) — peeking
    * discipline the plain q362 z-gate lacks; one conditional-moment
    * pass for all looks, the stop decision broadcast.
    */
  private def q472(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.groupSequential(
      T(s, dir, "events").filter(col("event_type").isin("view", "click"))
        .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("cents"),
          (col("event_type") === "view").as("isa"),
          expr("ts div 1000000000").as("sec")),
      "cents", col("isa"), col("sec"),
      boundaries = Seq(3.471, 2.454, 2.004))
      .orderBy(col("look"))

  // integer time-fraction cutoffs; one conditional pass per look;
  // pinned OBF boundary literals; stop decision broadcast
  query("q472_group_sequential", q472)(Sql(
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, event_type = 'view' AS isa, epoch_ns(ts) // 1000000000 AS sec FROM events WHERE event_type IN ('view', 'click')), bb AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e), lk AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), 3.471), (CAST(2 AS BIGINT), 2.454), (CAST(3 AS BIGINT), 2.004)) AS t(look, boundary)), cu AS (SELECT lk.look, lk.boundary, bb.lo + (bb.hi - bb.lo) * lk.look // 3 AS cut FROM lk, bb), m AS (SELECT cu.look, cu.boundary, CAST(SUM(CASE WHEN e.sec <= cu.cut AND isa THEN 1 ELSE 0 END) AS BIGINT) AS na, CAST(SUM(CASE WHEN e.sec <= cu.cut AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS nb, SUM(CASE WHEN e.sec <= cu.cut AND isa THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS sa, SUM(CASE WHEN e.sec <= cu.cut AND NOT isa THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS sb, SUM(CASE WHEN e.sec <= cu.cut AND isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS saa, SUM(CASE WHEN e.sec <= cu.cut AND NOT isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS sbb FROM cu, e GROUP BY 1, 2), zz AS (SELECT look, boundary, na, nb, round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / sqrt(((CAST(na AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE) + ((CAST(nb AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE)), 6) AS z FROM m), st AS (SELECT *, abs(z) > boundary AS crossed FROM zz) SELECT look, na AS n_a, nb AS n_b, boundary, z, crossed, MIN(CASE WHEN crossed THEN look END) OVER () AS stop_at_look FROM st ORDER BY look"""))

  /** Bartlett variance homogeneity ([[graft.operators.Drift.bartlett]]):
    * do the priorities share a variance — the parametric sibling of
    * q428's Brown–Forsythe and the admissibility gate for any
    * pooled-variance readout; grid-summed cross-group reductions, only
    * O(1)-magnitude statistics leave.
    */
  private def q477(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.bartlett(
      T(s, dir, "orders").select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents")),
      "o_orderpriority", "cents")

  // per-group pinned S²; grid-summed cross-group reductions; only
  // ln S²_p and T leave (the q458 magnitude rule)
  query("q477_bartlett", q477)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(v AS DECIMAL(38,0))) AS s1, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS s2 FROM e GROUP BY g HAVING COUNT(*) >= 2), p AS (SELECT n, (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS s2i FROM a), ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_total, SUM(CAST(round((CAST(n AS DOUBLE) - 1.0) * s2i, 9) AS DECIMAL(38,9))) AS spnum, SUM(CAST(round((CAST(n AS DOUBLE) - 1.0) * ln(s2i), 9) AS DECIMAL(28,9))) AS sumln, SUM(CAST(round(1.0 / (CAST(n AS DOUBLE) - 1.0), 9) AS DECIMAL(28,9))) AS suminv FROM p), z AS (SELECT k, n_total, ln(CAST(spnum AS DOUBLE) / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))) AS lnsp, 1.0 + (CAST(suminv AS DOUBLE) - 1.0 / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))) / (3.0 * (CAST(k AS DOUBLE) - 1.0)) AS corr, (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)) AS nmk, CAST(sumln AS DOUBLE) AS sl FROM ag) SELECT k, n_total, round(lnsp, 6) AS ln_sp2, round(CASE WHEN k >= 2 THEN (nmk * lnsp - sl) / corr END, 6) AS t_bartlett, k - 1 AS dof FROM z"""))

  /** Wilcoxon signed-rank test ([[graft.operators.Drift
    * .wilcoxonSignedRank]]): per-customer paired yearly spend (1996 vs
    * 1995) — did customer totals systematically move year-over-year,
    * the paired rank test beside q319's two-sample Mann–Whitney and
    * q362's parametric Welch; |d| ranks from the value-domain census,
    * doubled-rank/tie sums exact in DECIMAL(38,0), pinned z.
    */
  private def q485(s: SparkSession, dir: String): DataFrame = {
    val y = T(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(col("o_custkey").as("k"), year(col("o_orderdate")).as("yr"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val a = y.filter(col("yr") === 1996).select(col("k"), col("cents").as("a"))
    val b = y.filter(col("yr") === 1995).select(col("k"), col("cents").as("b"))
    graft.operators.Drift.wilcoxonSignedRank(a.join(b, "k"), "a", "b")
  }

  // |d|-domain census ranks (doubled averages), DECIMAL(38,0) W/tie
  // sums, one pinned tie-corrected z — the paired mannWhitney shape
  query("q485_wilcoxon_signed_rank", q485)(Sql(
    """WITH y AS (SELECT o_custkey AS k, year(o_orderdate) AS yr, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1, 2), p AS (SELECT a.k, a.cents AS a, b.cents AS b FROM y a JOIN y b ON a.k = b.k AND a.yr = 1996 AND b.yr = 1995), dd AS (SELECT a - b AS d FROM p), cz AS (SELECT COUNT(*) AS n_zero FROM dd WHERE d = 0), c AS (SELECT abs(d) AS ad, CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos, COUNT(*) AS t FROM dd WHERE d <> 0 GROUP BY 1), r AS (SELECT ad, npos, t, SUM(t) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct FROM c), r2 AS (SELECT npos, t, 2 * ct - t + 1 AS r2 FROM r), ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n, SUM(CAST(npos AS DECIMAL(38,0)) * CAST(r2 AS DECIMAL(38,0))) AS w2, SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS ties FROM r2) SELECT COALESCE(n, 0) AS n_pairs, (SELECT n_zero FROM cz) AS n_zero, CASE WHEN n > 0 THEN CAST(w2 AS DOUBLE) / 2.0 END AS w_plus, CASE WHEN n > 0 THEN round((CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0) / (2.0 * sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0 - CAST(ties AS DOUBLE) / 48.0)), 6) END AS z FROM ag"""))

  /** Ansari–Bradley dispersion test ([[graft.operators.Drift
    * .ansariBradley]]): are urgent orders' totals more spread than
    * low-priority ones — the rank test for SCALE beside q428's
    * Brown–Forsythe (parametric-robust) and q477's Bartlett
    * (parametric); tie-robust doubled score sums from the value-domain
    * census, exact without-replacement variance.
    */
  private def q490(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.ansariBradley(
      T(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"), col("o_orderpriority")),
      "cents", col("o_orderpriority") === "1-URGENT")

  // doubled tie-run score sums (no division in the exact path), grid
  // decimals for A and the score second moment, pinned z
  query("q490_ansari_bradley", q490)(Sql(
    """WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, o_orderpriority = '1-URGENT' AS isa FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')), c AS (SELECT v, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na, COUNT(*) AS t FROM o GROUP BY 1), s AS (SELECT na, t, SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2, SUM(t) OVER () AS nn FROM c), st AS (SELECT na, t, c2, nn, c2 - t + 1 AS lo, (nn + 1) // 2 AS k FROM s), sc AS (SELECT na, t, nn, CASE WHEN lo <= LEAST(c2, k) THEN (CAST(lo AS DECIMAL(38,0)) + CAST(LEAST(c2, k) AS DECIMAL(38,0))) * (CAST(LEAST(c2, k) AS DECIMAL(38,0)) - CAST(lo AS DECIMAL(38,0)) + 1) ELSE CAST(0 AS DECIMAL(38,0)) END + CASE WHEN GREATEST(lo, k + 1) <= c2 THEN CAST(nn + 1 AS DECIMAL(38,0)) * (CAST(c2 AS DECIMAL(38,0)) - CAST(GREATEST(lo, k + 1) AS DECIMAL(38,0)) + 1) * 2 - (CAST(GREATEST(lo, k + 1) AS DECIMAL(38,0)) + CAST(c2 AS DECIMAL(38,0))) * (CAST(c2 AS DECIMAL(38,0)) - CAST(GREATEST(lo, k + 1) AS DECIMAL(38,0)) + 1) ELSE CAST(0 AS DECIMAL(38,0)) END AS sg2 FROM st), ag AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(t - na) AS BIGINT) AS n_b, CAST(SUM(t) AS BIGINT) AS n, SUM(sg2) AS m1x2, SUM(CAST(round(CAST(sg2 AS DOUBLE) * CAST(sg2 AS DOUBLE) / (4.0 * CAST(t AS DOUBLE)), 9) AS DECIMAL(28,9))) AS m2, SUM(CAST(round(CAST(na AS DOUBLE) * CAST(sg2 AS DOUBLE) / (2.0 * CAST(t AS DOUBLE)), 9) AS DECIMAL(28,9))) AS ab FROM sc) SELECT n_a, n_b, CAST(ab AS DOUBLE) AS ab_stat, round(CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) * (CAST(m2 AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(m1x2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))) * (CAST(m1x2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)))) > 0.0 THEN (CAST(ab AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(m1x2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)))) / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) * (CAST(m2 AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(m1x2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))) * (CAST(m1x2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))))) END, 6) AS z FROM ag"""))

  /** Top movers ([[graft.operators.Drift.topMovers]]): the 10 users whose
    * event volume shifted most between the first and second half of the
    * time range — period-over-period "heavy changers" via the map-side
    * bounded TopK aggregator (≤k rows per partition cross the shuffle,
    * never the user domain).
    */
  private def q491(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"), evSec.as("sec"))
    val pin = ev.agg(min(col("sec")), max(col("sec"))).head()
    val cutoff = (pin.getLong(0) + pin.getLong(1)) / 2 // pinned midpoint
    graft.operators.Drift.topMovers(ev, "user_id",
      col("sec") >= cutoff, k = 10)
      .orderBy(col("rank"))
  }

  // the TopK aggregator's (|Δ| desc, key asc) total order replays as
  // a rank filter; pinned midpoint cutoff from min/max scan
  query("q491_top_movers", q491)(Sql(topMoversOracleSql))

  /** Delta-method ratio z-test ([[graft.operators.Drift.ratioDeltaZ]]):
    * value-per-event between two md5-split user arms, tested the
    * statistically correct way for a ratio metric — per-UNIT numerator/
    * denominator moments, delta-method variance (covariance term
    * included), never a per-row t-test.
    */
  private def q496(s: SparkSession, dir: String): DataFrame = {
    val units = T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("x"), count(lit(1)).as("y"))
      .withColumn("arm",
        pmod(conv(substring(md5(concat(lit("ratio1:"),
          col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)))
    graft.operators.Drift.ratioDeltaZ(units, "x", "y", col("arm") === 0)
  }

  // per-unit moment censuses, delta-method variance with the
  // covariance term, pinned z — md5-split arms replay exactly
  query("q496_ratio_delta_z", q496)(Sql(
    """WITH u AS (SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x, COUNT(*) AS y FROM events GROUP BY 1), a AS (SELECT x, y, CAST(concat('0x', substr(md5(concat('ratio1:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa FROM u), g AS (SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n_b, SUM(CASE WHEN isa THEN CAST(x AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxa, SUM(CASE WHEN NOT isa THEN CAST(x AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxb, SUM(CASE WHEN isa THEN CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sya, SUM(CASE WHEN NOT isa THEN CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS syb, SUM(CASE WHEN isa THEN CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxxa, SUM(CASE WHEN NOT isa THEN CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxxb, SUM(CASE WHEN isa THEN CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS syya, SUM(CASE WHEN NOT isa THEN CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS syyb, SUM(CASE WHEN isa THEN CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxya, SUM(CASE WHEN NOT isa THEN CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxyb FROM a), h AS (SELECT n_a, n_b, sya, syb, CAST(n_a AS DOUBLE) AS nda, CAST(n_b AS DOUBLE) AS ndb, CAST(sxa AS DOUBLE) / CAST(sya AS DOUBLE) AS ra, CAST(sxb AS DOUBLE) / CAST(syb AS DOUBLE) AS rb, CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE) AS ybara, CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE) AS ybarb, (CAST(n_a AS DOUBLE) * CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE)) / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS vxa, (CAST(n_a AS DOUBLE) * CAST(syya AS DOUBLE) - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE)) / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS vya, (CAST(n_a AS DOUBLE) * CAST(sxya AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE)) / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS cxya, (CAST(n_b AS DOUBLE) * CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE)) / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS vxb, (CAST(n_b AS DOUBLE) * CAST(syyb AS DOUBLE) - CAST(syb AS DOUBLE) * CAST(syb AS DOUBLE)) / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS vyb, (CAST(n_b AS DOUBLE) * CAST(sxyb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(syb AS DOUBLE)) / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS cxyb FROM g), i AS (SELECT n_a, n_b, ra, rb, (vxa + ra * ra * vya - 2.0 * ra * cxya) / (nda * ybara * ybara) AS va, (vxb + rb * rb * vyb - 2.0 * rb * cxyb) / (ndb * ybarb * ybarb) AS vb2, n_a > 1 AND n_b > 1 AND sya <> 0 AND syb <> 0 AS ok FROM h) SELECT n_a, n_b, CASE WHEN ok THEN round(ra, 6) END AS ratio_a, CASE WHEN ok THEN round(rb, 6) END AS ratio_b, CASE WHEN ok AND va + vb2 > 0.0 THEN round((ra - rb) / sqrt(va + vb2), 6) END AS z FROM i"""))

  /** Dunn post-hoc test ([[graft.operators.Drift.dunnTest]]): WHICH
    * order priorities differ in totals after q373's Kruskal–Wallis says
    * "some do" — all pairwise mean-rank gaps over the POOLED ranking,
    * tie-corrected σ, A&S tail p-values, BH step-up over the 10-pair
    * family.
    */
  private def q499(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.dunnTest(
      T(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "cents", "o_orderpriority")
      .orderBy(col("p_rank"))

  // pooled doubled ranks, tie-corrected sigma, A&S tail polynomial in
  // the identical literal order, q420 step-up over the pair family
  query("q499_dunn_posthoc", q499)(Sql(
    """WITH o AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders), vg AS (SELECT CAST(cents AS DOUBLE) AS v, g, COUNT(*) AS tvg FROM o GROUP BY 1, 2), bv AS (SELECT v, CAST(SUM(tvg) AS BIGINT) AS t FROM vg GROUP BY 1), rk AS (SELECT v, t, SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM bv), r2t AS (SELECT v, t, 2 * c - t + 1 AS r2 FROM rk), pg AS (SELECT g, CAST(SUM(tvg) AS BIGINT) AS n_g, SUM(CAST(tvg AS DECIMAL(38,0)) * CAST(r2 AS DECIMAL(38,0))) AS r2sum FROM vg JOIN r2t USING (v) GROUP BY 1), pg2 AS (SELECT g, n_g, round(CAST(r2sum AS DOUBLE) / CAST(n_g AS DOUBLE), 9) AS mr2 FROM pg), gl AS (SELECT SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS ties, CAST(SUM(t) AS BIGINT) AS nn FROM r2t), pr AS (SELECT a.g AS g_i, a.n_g AS n_i, a.mr2 AS mr2_i, b.g AS g_j, b.n_g AS n_j, b.mr2 AS mr2_j FROM pg2 a JOIN pg2 b ON a.g < b.g), zz AS (SELECT g_i, g_j, n_i, n_j, mr2_i, mr2_j, (mr2_i - mr2_j) / 2.0 / sqrt((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) / 12.0 - CAST(ties AS DOUBLE) / (12.0 * (CAST(nn AS DOUBLE) - 1.0))) * (1.0 / CAST(n_i AS DOUBLE) + 1.0 / CAST(n_j AS DOUBLE))) AS z FROM pr, gl), pt AS (SELECT g_i, g_j, n_i, n_j, mr2_i, mr2_j, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zz), pp AS (SELECT g_i, g_j, n_i, n_j, mr2_i, mr2_j, round(z, 6) AS zr, round(2.0 * 0.3989422804014327 * exp(-(abs(z) * abs(z)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt, 9) AS p FROM pt), bh AS (SELECT g_i, g_j, n_i, n_j, mr2_i, mr2_j, zr, p, CAST(ROW_NUMBER() OVER (ORDER BY p, g_i, g_j) AS BIGINT) AS r, CAST(COUNT(*) OVER () AS BIGINT) AS m FROM pp), km AS (SELECT MAX(CASE WHEN p * CAST(m AS DOUBLE) <= CAST(r AS DOUBLE) * 0.05 THEN r END) AS kmax FROM bh) SELECT g_i, g_j, n_i, n_j, mr2_i / 2.0 AS mean_rank_i, mr2_j / 2.0 AS mean_rank_j, zr AS z, p, r AS p_rank, (km.kmax IS NOT NULL AND r <= km.kmax) AS significant FROM bh, km ORDER BY p_rank"""))

  /** Heterogeneous-treatment-effect z-test ([[graft.operators.Drift
    * .hteZTest]]): does the md5-split arm effect on event value DIFFER
    * between view and click events — the interaction readout that
    * catches segment-opposite effects hiding behind a flat global
    * q362; one conditional-moment pass over the four cells.
    */
  private def q502(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .filter(col("event_type").isin("view", "click"))
      .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"), col("event_type"), col("user_id"))
      .withColumn("arm",
        pmod(conv(substring(md5(concat(lit("hte1:"),
          col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)))
    graft.operators.Drift.hteZTest(ev, "cents",
      col("arm") === 0, col("event_type") === "view")
  }

  // four (segment x arm) moment cells in one pass, Welch per-segment
  // effects, pinned interaction z
  query("q502_hte_ztest", q502)(Sql(
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, event_type = 'view' AS s1, CAST(concat('0x', substr(md5(concat('hte1:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa FROM events WHERE event_type IN ('view', 'click')), g AS (SELECT CAST(SUM(CASE WHEN s1 AND isa THEN 1 ELSE 0 END) AS BIGINT) AS n1a, SUM(CASE WHEN s1 AND isa THEN CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1a, SUM(CASE WHEN s1 AND isa THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss1a, CAST(SUM(CASE WHEN s1 AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n1b, SUM(CASE WHEN s1 AND NOT isa THEN CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1b, SUM(CASE WHEN s1 AND NOT isa THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss1b, CAST(SUM(CASE WHEN NOT s1 AND isa THEN 1 ELSE 0 END) AS BIGINT) AS n2a, SUM(CASE WHEN NOT s1 AND isa THEN CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2a, SUM(CASE WHEN NOT s1 AND isa THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss2a, CAST(SUM(CASE WHEN NOT s1 AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n2b, SUM(CASE WHEN NOT s1 AND NOT isa THEN CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2b, SUM(CASE WHEN NOT s1 AND NOT isa THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss2b FROM e), h AS (SELECT n1a, n1b, n2a, n2b, CAST(s1a AS DOUBLE) / CAST(n1a AS DOUBLE) AS m1a, CAST(s1b AS DOUBLE) / CAST(n1b AS DOUBLE) AS m1b, CAST(s2a AS DOUBLE) / CAST(n2a AS DOUBLE) AS m2a, CAST(s2b AS DOUBLE) / CAST(n2b AS DOUBLE) AS m2b, (CAST(n1a AS DOUBLE) * CAST(ss1a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)) / (CAST(n1a AS DOUBLE) * (CAST(n1a AS DOUBLE) - 1.0)) / CAST(n1a AS DOUBLE) AS v1a, (CAST(n1b AS DOUBLE) * CAST(ss1b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)) / (CAST(n1b AS DOUBLE) * (CAST(n1b AS DOUBLE) - 1.0)) / CAST(n1b AS DOUBLE) AS v1b, (CAST(n2a AS DOUBLE) * CAST(ss2a AS DOUBLE) - CAST(s2a AS DOUBLE) * CAST(s2a AS DOUBLE)) / (CAST(n2a AS DOUBLE) * (CAST(n2a AS DOUBLE) - 1.0)) / CAST(n2a AS DOUBLE) AS v2a, (CAST(n2b AS DOUBLE) * CAST(ss2b AS DOUBLE) - CAST(s2b AS DOUBLE) * CAST(s2b AS DOUBLE)) / (CAST(n2b AS DOUBLE) * (CAST(n2b AS DOUBLE) - 1.0)) / CAST(n2b AS DOUBLE) AS v2b FROM g), i AS (SELECT n1a, n1b, n2a, n2b, m1a - m1b AS d1, m2a - m2b AS d2, v1a + v1b AS vv1, v2a + v2b AS vv2, n1a > 1 AND n1b > 1 AND n2a > 1 AND n2b > 1 AS ok FROM h) SELECT n1a, n1b, n2a, n2b, CASE WHEN ok THEN round(d1, 6) END AS effect_seg1, CASE WHEN ok THEN round(d2, 6) END AS effect_seg2, CASE WHEN ok AND vv1 + vv2 > 0.0 THEN round((d1 - d2) / sqrt(vv1 + vv2), 6) END AS z_interaction FROM i"""))

  /** Wilson funnel ([[graft.operators.Drift.funnelWilson]]): the
    * view→click→purchase conversion chain with score-interval error
    * bars — monotone prefix counts in one pass, pinned-order Wilson
    * bounds; the "2% ± we actually know" reading q50's bare rates lack.
    */
  private def q509(s: SparkSession, dir: String): DataFrame = {
    val flags = T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(col("event_type") === "view").as("view"),
        max(col("event_type") === "click").as("click"),
        max(col("event_type") === "purchase").as("purchase"))
    graft.operators.Drift.funnelWilson(
      flags, Seq("view", "click", "purchase"))
      .orderBy(col("step"))
  }

  // monotone prefix counts in one pass; Wilson terms computed at
  // runtime in the identical op order (z pinned at 1.96)
  query("q509_wilson_funnel", q509)(Sql(wilsonFunnelOracleSql))

  /** Holm–Bonferroni gate ([[graft.operators.Drift.holmBonferroni]]):
    * the step-DOWN FWER control beside q420's BH step-up over the same
    * per-nation Welch-z family — reject smallest p while
    * p ≤ α/(m−r+1), stop at the first failure; the gate for "one false
    * page costs more than a few missed ones".
    */
  private def q512(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.holmBonferroni(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents")),
      "n_name", "cents")
      .orderBy(col("p_rank"))

  // the q420 Welch-z/A&S-p family with the step-DOWN scan: first
  // failing rank kills everything after (min-window, never per-rank)
  query("q512_holm_bonferroni", q512)(Sql(
    """WITH c AS (SELECT n.n_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM customer JOIN nation n ON c_nationkey = n_nationkey), g AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS na, SUM(CAST(cents AS DECIMAL(38,0))) AS sa, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS saa FROM c GROUP BY 1), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt, SUM(CAST(cents AS DECIMAL(38,0))) AS st, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS stt FROM c), j AS (SELECT n_name, na, CAST(sa AS DOUBLE) AS saD, CAST(saa AS DOUBLE) AS saaD, nt - na AS nb, CAST(st - sa AS DOUBLE) AS sbD, CAST(stt - saa AS DOUBLE) AS sbbD FROM g, t), zc AS (SELECT n_name, na, nb, (saD / CAST(na AS DOUBLE) - sbD / CAST(nb AS DOUBLE)) / sqrt(((CAST(na AS DOUBLE) * saaD - saD * saD) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE) + ((CAST(nb AS DOUBLE) * sbbD - sbD * sbD) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE)) AS z FROM j), pt AS (SELECT n_name, na, nb, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zc), pp AS (SELECT n_name, na, CASE WHEN na > 1 AND nb > 1 THEN round(z, 6) END AS zr, CASE WHEN na > 1 AND nb > 1 THEN round(2.0 * 0.3989422804014327 * exp(-(abs(z) * abs(z)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt, 9) END AS p FROM pt), hb AS (SELECT n_name, na, zr, p, CAST(ROW_NUMBER() OVER (ORDER BY p, n_name) AS BIGINT) AS r, CAST(COUNT(*) OVER () AS BIGINT) AS m FROM pp WHERE p IS NOT NULL), kf AS (SELECT MIN(CASE WHEN p * (CAST(m AS DOUBLE) - CAST(r AS DOUBLE) + 1.0) > 0.05 THEN r END) AS kfail FROM hb) SELECT n_name AS g, na AS n, zr AS z, p, r AS p_rank, round(0.05 / (CAST(m AS DOUBLE) - CAST(r AS DOUBLE) + 1.0), 9) AS holm_crit, (kf.kfail IS NULL OR r < kf.kfail) AS rejected FROM hb, kf UNION ALL SELECT n_name AS g, na AS n, zr AS z, p, CAST(NULL AS BIGINT) AS p_rank, CAST(NULL AS DOUBLE) AS holm_crit, CAST(NULL AS BOOLEAN) AS rejected FROM pp WHERE p IS NULL ORDER BY p_rank"""))

  /** Mann–Whitney effect sizes ([[graft.operators.Drift.mwEffectSizes]]):
    * q319's rank test shipped WITH its effect report — CLES (probability
    * a random urgent total exceeds a random low one) and rank-biserial
    * r; at 10⁹ rows everything is "significant", only these say whether
    * anyone should care.
    */
  private def q518(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.mwEffectSizes(
      T(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"), col("o_orderpriority")),
      "cents", col("o_orderpriority") === "1-URGENT")

  // the q319 census machinery over order cents + two pinned ratios
  query("q518_mw_effect_sizes", q518)(Sql(
    """WITH e AS (SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE) AS v, o_orderpriority = '1-URGENT' AS isa FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')), bv AS (SELECT v, SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ta, SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS tb FROM e GROUP BY v), rk AS (SELECT ta, tb, ta + tb AS t, SUM(ta + tb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM bv), ag AS (SELECT CAST(SUM(ta) AS BIGINT) AS na, CAST(SUM(tb) AS BIGINT) AS nb, SUM(CAST(ta AS DECIMAL(38,0)) * CAST(2 * c - t + 1 AS DECIMAL(38,0))) AS ra2, SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS ties FROM rk), f AS (SELECT na, nb, CAST(ra2 - CAST(na AS DECIMAL(38,0)) * CAST(na + 1 AS DECIMAL(38,0)) AS DOUBLE) AS u2d, ties FROM ag) SELECT na AS n_a, nb AS n_b, u2d / 2.0 AS u_a, round((u2d - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 * ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0))))), 6) AS z, round(u2d / 2.0 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cles, round(2.0 * (u2d / 2.0) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) - 1.0, 6) AS rank_biserial FROM f"""))

  /** Simpson-reversal detector ([[graft.operators.Drift
    * .simpsonReversal]]): per event type, does the md5-split arm's
    * high-value rate point OPPOSITE to the pooled effect — the
    * aggregation-paradox screen run before "the feature wins overall"
    * ships.
    */
  private def q521(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.simpsonReversal(
      T(s, dir, "events").select(col("event_type"), col("value"),
        pmod(conv(substring(md5(concat(lit("sp1:"),
          col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)).as("arm")),
      "event_type", col("arm") === 0, col("value") > 100.0)
      .orderBy(col("segment"))

  // (segment, arm) censuses; pooled rates broadcast; grid verdicts
  query("q521_simpson_reversal", q521)(Sql(
    """WITH e AS (SELECT event_type AS segment, CAST(concat('0x', substr(md5(concat('sp1:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa, value > 100.0 AS succ FROM events), c AS (SELECT segment, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n_b, CAST(SUM(CASE WHEN isa AND succ THEN 1 ELSE 0 END) AS BIGINT) AS s_a, CAST(SUM(CASE WHEN NOT isa AND succ THEN 1 ELSE 0 END) AS BIGINT) AS s_b FROM e GROUP BY 1), w AS (SELECT segment, n_a, n_b, round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a, round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b, round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS diff, round(CAST(SUM(s_a) OVER () AS DOUBLE) / CAST(SUM(n_a) OVER () AS DOUBLE) - CAST(SUM(s_b) OVER () AS DOUBLE) / CAST(SUM(n_b) OVER () AS DOUBLE), 6) AS pooled_diff FROM c) SELECT segment, n_a, n_b, rate_a, rate_b, diff, pooled_diff, CASE WHEN n_a > 0 AND n_b > 0 THEN (diff > 0.0 AND pooled_diff < 0.0) OR (diff < 0.0 AND pooled_diff > 0.0) END AS reversed FROM w ORDER BY segment"""))

  /** Jackknife ratio SE ([[graft.operators.Drift.jackknifeRatio]]):
    * revenue-per-event with a delete-one-DAY jackknife — the
    * cluster-respecting standard error beside q297's bootstrap and
    * q496's delta method.
    */
  private def q522(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.jackknifeRatio(
      T(s, dir, "events").select(evDateId.as("d"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("x"),
        lit(1L).as("one")),
      "d", "x", "one")

  // day-bucket census, leave-one-out grid thetas, (B-1)/B variance
  query("q522_jackknife_ratio", q522)(Sql(
    """WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS b, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x, 1 AS y FROM events), cen AS (SELECT b, SUM(CAST(x AS DECIMAL(38,0))) AS x, SUM(CAST(y AS DECIMAL(38,0))) AS y FROM d GROUP BY 1), st AS (SELECT x, y, SUM(x) OVER () AS tx, SUM(y) OVER () AS ty, COUNT(*) OVER () AS nb FROM cen), th AS (SELECT tx, ty, nb, CAST(round(CAST(tx - x AS DOUBLE) / CAST(ty - y AS DOUBLE), 9) AS DECIMAL(28,9)) AS theta FROM st), tb AS (SELECT tx, ty, nb, theta, CAST(SUM(theta) OVER () AS DOUBLE) / CAST(nb AS DOUBLE) AS tbar FROM th), dv AS (SELECT tx, ty, nb, theta, CAST(round((CAST(theta AS DOUBLE) - tbar) * (CAST(theta AS DOUBLE) - tbar), 12) AS DECIMAL(28,12)) AS dev2 FROM tb) SELECT CAST(MAX(nb) AS BIGINT) AS n_buckets, MAX(round(CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE), 6)) AS ratio, CASE WHEN MAX(nb) >= 2 AND SUM(CASE WHEN theta IS NULL THEN 1 ELSE 0 END) = 0 THEN round(sqrt((CAST(MAX(nb) AS DOUBLE) - 1.0) / CAST(MAX(nb) AS DOUBLE) * CAST(SUM(dev2) AS DOUBLE)), 6) END AS jack_se FROM dv"""))

  /** Quantile treatment effects ([[graft.operators.Drift
    * .quantileTreatmentEffects]]): per-arm exact p25/p50/p75/p90 of
    * event value cents and their gaps — the distributional experiment
    * readout a mean test can't give.
    */
  private def q523(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.quantileTreatmentEffects(
      T(s, dir, "events").select(
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"),
        pmod(conv(substring(md5(concat(lit("qte1:"),
          col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)).as("arm")),
      "cents", col("arm") === 0)

  // per-arm ceiling-rank order stats from the value census; exact QTE
  query("q523_qte", q523)(Sql(qteOracleSql))

  /** BH q-values ([[graft.operators.Drift.bhQValues]]): per-nation
    * adjusted p-values — the smallest FDR level at which each test
    * rejects, the reporting artifact beside q420's binary verdicts and
    * q512's FWER gate.
    */
  private def q524(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.bhQValues(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents")),
      "n_name", "cents")
      .orderBy(col("p_rank"))

  // the q420 family with the monotone suffix-min q adjustment
  query("q524_bh_qvalues", q524)(Sql(
    """WITH c AS (SELECT n.n_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM customer JOIN nation n ON c_nationkey = n_nationkey), g AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS na, SUM(CAST(cents AS DECIMAL(38,0))) AS sa, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS saa FROM c GROUP BY 1), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt, SUM(CAST(cents AS DECIMAL(38,0))) AS st, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS stt FROM c), j AS (SELECT n_name, na, CAST(sa AS DOUBLE) AS saD, CAST(saa AS DOUBLE) AS saaD, nt - na AS nb, CAST(st - sa AS DOUBLE) AS sbD, CAST(stt - saa AS DOUBLE) AS sbbD FROM g, t), zc AS (SELECT n_name, na, nb, (saD / CAST(na AS DOUBLE) - sbD / CAST(nb AS DOUBLE)) / sqrt(((CAST(na AS DOUBLE) * saaD - saD * saD) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE) + ((CAST(nb AS DOUBLE) * sbbD - sbD * sbD) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE)) AS z FROM j), pt AS (SELECT n_name, na, nb, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zc), pp AS (SELECT n_name, na, CASE WHEN na > 1 AND nb > 1 THEN round(z, 6) END AS zr, CASE WHEN na > 1 AND nb > 1 THEN round(2.0 * 0.3989422804014327 * exp(-(abs(z) * abs(z)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt, 9) END AS p FROM pt), bq AS (SELECT n_name, na, zr, p, CAST(ROW_NUMBER() OVER (ORDER BY p, n_name) AS BIGINT) AS r, CAST(COUNT(*) OVER () AS BIGINT) AS m FROM pp WHERE p IS NOT NULL), qq AS (SELECT n_name, na, zr, p, r, round(p * CAST(m AS DOUBLE) / CAST(r AS DOUBLE), 9) AS qraw FROM bq), tq AS (SELECT n_name AS g, na AS n, zr AS z, p, r AS p_rank, MIN(qraw) OVER (ORDER BY r ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS q_value FROM qq) SELECT g, n, z, p, p_rank, q_value FROM tq UNION ALL SELECT n_name AS g, na AS n, zr AS z, p, CAST(NULL AS BIGINT) AS p_rank, CAST(NULL AS DOUBLE) AS q_value FROM pp WHERE p IS NULL ORDER BY p_rank"""))

  /** Cohen's d / Hedges' g ([[graft.operators.Drift.cohensD]]): the
    * standardized urgent-vs-low mean difference in pooled-SD units —
    * the effect report q362's z can't give; Hedges small-sample
    * correction included.
    */
  private def q525(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.cohensD(
      T(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"), col("o_orderpriority")),
      "cents", col("o_orderpriority") === "1-URGENT")

  // one conditional moment pass, pooled-SD standardization, Hedges fix
  query("q525_cohens_d", q525)(Sql(
    """WITH e AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, o_orderpriority = '1-URGENT' AS isa FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')), g AS (SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n_b, SUM(CASE WHEN isa THEN CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sa, SUM(CASE WHEN NOT isa THEN CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sb, SUM(CASE WHEN isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS saa, SUM(CASE WHEN NOT isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sbb FROM e), h AS (SELECT n_a, n_b, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb, CAST(sa AS DOUBLE) AS saD, CAST(sb AS DOUBLE) AS sbD, CAST(saa AS DOUBLE) AS saaD, CAST(sbb AS DOUBLE) AS sbbD FROM g), i AS (SELECT n_a, n_b, (saD / na - sbD / nb) / sqrt(((saaD - saD * saD / na) + (sbbD - sbD * sbD / nb)) / (na + nb - 2.0)) AS d, 1.0 - 3.0 / (4.0 * (na + nb) - 9.0) AS gc, n_a > 1 AND n_b > 1 AS ok FROM h) SELECT n_a, n_b, CASE WHEN ok THEN round(d, 6) END AS cohens_d, CASE WHEN ok THEN round(d * gc, 6) END AS hedges_g FROM i"""))

  /** Hodges–Lehmann shift ([[graft.operators.Drift.hodgesLehmann]]):
    * the robust cents-denominated size of the urgent-vs-low shift —
    * the "how much" beside q319's verdict and q518's unitless sizes.
    */
  private def q548(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.hodgesLehmann(
      T(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
          (col("o_orderpriority") === "1-URGENT").as("isa")),
      "cents", col("isa"))

  // value-domain-squared difference census, ceiling-rank median
  query("q548_hodges_lehmann", q548)(Sql(
    """WITH e AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, o_orderpriority = '1-URGENT' AS isa FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')), ca AS (SELECT v AS va, CAST(COUNT(*) AS BIGINT) AS ta FROM e WHERE isa GROUP BY 1), cb AS (SELECT v AS vb, CAST(COUNT(*) AS BIGINT) AS tb FROM e WHERE NOT isa GROUP BY 1), dd AS (SELECT va - vb AS d, CAST(SUM(ta * tb) AS BIGINT) AS w FROM ca, cb GROUP BY 1), st AS (SELECT d, CAST(SUM(w) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw, CAST(SUM(w) OVER () AS BIGINT) AS tw FROM dd) SELECT CAST(MAX(tw) AS BIGINT) AS n_pairs, round((CAST(MIN(CASE WHEN cw >= (tw + 1) // 2 THEN d END) AS DOUBLE) + CAST(MIN(CASE WHEN cw >= tw // 2 + 1 THEN d END) AS DOUBLE)) / 2.0, 6) AS hl_shift FROM st"""))

  /** Proportion effect sizes ([[graft.operators.Drift.propEffects]]):
    * the 2×2 "how big, in what units" readout beside q283's z verdict —
    * risk diff/ratio with Katz CI, odds ratio with Woolf CI, Cohen's h.
    * Same hash-arm split discipline as q283, different salt.
    */
  private def q563(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.propEffects(
      T(s, dir, "events").select(col("event_type"),
        pmod(conv(substring(md5(concat(lit("pe:"),
          col("event_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)).as("arm")),
      col("arm") === 0, (col("event_type") === "error").cast("long"))

  // q283's hash-arm census replayed, every CI log term pinned at 1e-9
  // before the exp re-expansion
  query("q563_prop_effects", q563)(Sql(
    """WITH a AS (SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS conv, CAST(concat('0x', substr(md5(concat('pe:', CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 AS arm FROM events), g AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a, CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b FROM a), c AS (SELECT n_a, n_b, conv_a, conv_b, CAST(conv_a AS DOUBLE) AS av, CAST(n_a - conv_a AS DOUBLE) AS bv, CAST(conv_b AS DOUBLE) AS cv, CAST(n_b - conv_b AS DOUBLE) AS dv, CAST(n_a AS DOUBLE) AS nav, CAST(n_b AS DOUBLE) AS nbv FROM g WHERE n_a > 0 AND n_b > 0) SELECT n_a, n_b, conv_a, conv_b, round(av / nav, 6) AS rate_a, round(cv / nbv, 6) AS rate_b, round(av / nav - cv / nbv, 6) AS risk_diff, CASE WHEN conv_a > 0 AND conv_b > 0 THEN round((av / nav) / (cv / nbv), 6) END AS risk_ratio, CASE WHEN conv_a > 0 AND conv_b > 0 THEN round(exp(round(ln((av / nav) / (cv / nbv)), 9) - 1.96 * round(sqrt(1.0 / av - 1.0 / nav + 1.0 / cv - 1.0 / nbv), 9)), 6) END AS rr_lo, CASE WHEN conv_a > 0 AND conv_b > 0 THEN round(exp(round(ln((av / nav) / (cv / nbv)), 9) + 1.96 * round(sqrt(1.0 / av - 1.0 / nav + 1.0 / cv - 1.0 / nbv), 9)), 6) END AS rr_hi, CASE WHEN conv_a > 0 AND conv_b > 0 AND n_a > conv_a AND n_b > conv_b THEN round(av * dv / (bv * cv), 6) END AS odds_ratio, CASE WHEN conv_a > 0 AND conv_b > 0 AND n_a > conv_a AND n_b > conv_b THEN round(exp(round(ln(av * dv / (bv * cv)), 9) - 1.96 * round(sqrt(1.0 / av + 1.0 / bv + 1.0 / cv + 1.0 / dv), 9)), 6) END AS or_lo, CASE WHEN conv_a > 0 AND conv_b > 0 AND n_a > conv_a AND n_b > conv_b THEN round(exp(round(ln(av * dv / (bv * cv)), 9) + 1.96 * round(sqrt(1.0 / av + 1.0 / bv + 1.0 / cv + 1.0 / dv), 9)), 6) END AS or_hi, round(2.0 * (asin(sqrt(av / nav)) - asin(sqrt(cv / nbv))), 6) AS cohens_h FROM c"""))

  /** Categorical distribution distances
    * ([[graft.operators.Drift.categoricalDistances]]): TVD, Hellinger
    * and Bhattacharyya between every source pair's language mix — the
    * unordered-domain member of the KS/CvM/W1 distance family.
    */
  private def q565(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.categoricalDistances(
      T(s, dir, "documents"), "source", "lang")

  // (group, category) census → full grid shares → pair sweep on the
  // category domain, term-pinned like the Spark side
  query("q565_categorical_distance", q565)(Sql(
    """WITH cen AS (SELECT CAST(source AS VARCHAR) AS g, CAST(lang AS VARCHAR) AS cat, COUNT(*) AS n FROM documents GROUP BY 1, 2), tots AS (SELECT g, CAST(SUM(n) AS BIGINT) AS tot FROM cen GROUP BY 1), grid AS (SELECT gs.g, cs.cat, CAST(COALESCE(cen.n, 0) AS BIGINT) AS n, CAST(round(CAST(COALESCE(cen.n, 0) AS DOUBLE) / CAST(tots.tot AS DOUBLE), 9) AS DECIMAL(18,9)) AS p FROM (SELECT DISTINCT g FROM cen) gs CROSS JOIN (SELECT DISTINCT cat FROM cen) cs LEFT JOIN cen ON cen.g = gs.g AND cen.cat = cs.cat JOIN tots ON tots.g = gs.g), pr AS (SELECT a.g AS g_a, b.g AS g_b, a.n AS na, b.n AS nb, a.p AS pa, b.p AS pb FROM grid a JOIN grid b ON a.cat = b.cat WHERE a.g < b.g), s AS (SELECT g_a, g_b, CAST(SUM(CASE WHEN na > 0 OR nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cats, SUM(abs(pa - pb)) AS l1, SUM(CAST(round((sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE))) * (sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE))), 9) AS DECIMAL(28,9))) AS h2, SUM(CAST(round(sqrt(CAST(pa AS DOUBLE) * CAST(pb AS DOUBLE)), 9) AS DECIMAL(28,9))) AS bc FROM pr GROUP BY 1, 2) SELECT g_a, g_b, n_cats, round(CAST(l1 AS DOUBLE) / 2.0, 6) AS tvd, round(sqrt(CAST(h2 AS DOUBLE) / 2.0), 6) AS hellinger, round(CAST(bc AS DOUBLE), 6) AS bc, CASE WHEN CAST(bc AS DOUBLE) > 0.0 THEN round(-ln(least(CAST(bc AS DOUBLE), 1.0)), 6) END AS b_dist FROM s ORDER BY g_a, g_b"""))

  /** Murphy decomposition of the Brier score
    * ([[graft.operators.Drift.brierDecomposition]]) on q288's
    * buyer-propensity calibration frame — splits the ECE story into
    * reliability (recalibratable) vs resolution (model quality) vs
    * outcome uncertainty (irreducible).
    */
  private def q570(s: SparkSession, dir: String): DataFrame = {
    val buyers = T(s, dir, "orders").select(col("o_custkey")).distinct()
    val c = T(s, dir, "customer")
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_acctbal"),
        col("o_custkey").isNotNull.cast("long").as("pos"))
    val mm = c.agg(min(col("c_acctbal")).as("blo"),
      max(col("c_acctbal")).as("bhi"))
    val scored = c.crossJoin(broadcast(mm))
      .select(round((col("c_acctbal") - col("blo")) /
        (col("bhi") - col("blo")), 6).cast(DecimalType(12, 6)).as("score"),
        col("pos"))
    graft.operators.Drift.brierDecomposition(scored, col("score"),
      col("pos"))
  }

  // q288's scored frame; per-bin squared terms pinned at 1e-9 before
  // the decimal sums
  query("q570_brier_decomp", q570)(Sql(
    """WITH b0 AS (SELECT c_acctbal, CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END AS pos FROM customer), mm AS (SELECT MIN(c_acctbal) AS blo, MAX(c_acctbal) AS bhi FROM b0), s AS (SELECT pos, CAST(round((c_acctbal - blo) / (bhi - blo), 6) AS DECIMAL(12,6)) AS score FROM b0, mm), r AS (SELECT pos, score, LEAST(CAST(floor(score * 10) AS BIGINT), 9) AS bin FROM s), bins AS (SELECT bin, COUNT(*) AS nk, CAST(SUM(pos) AS BIGINT) AS posk, SUM(score) AS psum, SUM(CAST(round((CAST(score AS DOUBLE) - CAST(pos AS DOUBLE)) * (CAST(score AS DOUBLE) - CAST(pos AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sq FROM r GROUP BY 1), t AS (SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(posk) AS BIGINT) AS pos, SUM(sq) AS sqsum FROM bins), terms AS (SELECT t.n, t.pos, t.sqsum, CAST(round(CAST(nk AS DOUBLE) * (CAST(psum AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(posk AS DOUBLE) / CAST(nk AS DOUBLE)) * (CAST(psum AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(posk AS DOUBLE) / CAST(nk AS DOUBLE)), 9) AS DECIMAL(28,9)) AS rel_t, CAST(round(CAST(nk AS DOUBLE) * (CAST(posk AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE)) * (CAST(posk AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE)), 9) AS DECIMAL(28,9)) AS res_t FROM bins, t), f AS (SELECT n, pos, sqsum, CAST(COUNT(*) AS BIGINT) AS n_bins, SUM(rel_t) AS rel, SUM(res_t) AS res FROM terms GROUP BY 1, 2, 3) SELECT n, n_bins, round(CAST(sqsum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS brier, round(CAST(rel AS DOUBLE) / CAST(n AS DOUBLE), 6) AS reliability, round(CAST(res AS DOUBLE) / CAST(n AS DOUBLE), 6) AS resolution, round((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty, round(CAST(rel AS DOUBLE) / CAST(n AS DOUBLE) - CAST(res AS DOUBLE) / CAST(n AS DOUBLE) + (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS brier_decomp FROM f"""))

  /** Fisher's exact test ([[graft.operators.Drift.fisherExact]]) on
    * the 200 hash-smallest events — the small-sample exact verdict
    * beside q283's z; the sample bound fixes the hypergeometric
    * support at any corpus scale.
    */
  private def q574(s: SparkSession, dir: String): DataFrame = {
    val samp = T(s, dir, "events")
      .select(col("event_id"), col("event_type"))
      .orderBy(md5(concat(lit("fx:"), col("event_id").cast("string"))))
      .limit(200)
    graft.operators.Drift.fisherExact(
      samp.select(
        pmod(conv(substring(md5(concat(lit("fa:"),
          col("event_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)).as("arm"),
        (col("event_type") === "error").cast("long").as("cv")),
      col("arm") === 0, col("cv"))
  }

  // the hash-sampled 2×2 replayed: pinned per-integer ln-factorial
  // sums (never lgamma), log-pmf on the 1e-9 grid, pmf on 1e-12,
  // decimal tail sums — both engines walk identical tables
  query("q574_fisher_exact", q574)(Sql(
    """WITH samp AS (SELECT event_type, event_id FROM events ORDER BY md5(concat('fx:', CAST(event_id AS VARCHAR))) LIMIT 200), rws AS (SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS cv, CAST(concat('0x', substr(md5(concat('fa:', CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 AS arm FROM samp), cl AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN cv ELSE 0 END) AS BIGINT) AS a, CAST(SUM(CASE WHEN arm = 0 THEN 1 - cv ELSE 0 END) AS BIGINT) AS b, CAST(SUM(CASE WHEN arm = 1 THEN cv ELSE 0 END) AS BIGINT) AS c, CAST(SUM(CASE WHEN arm = 1 THEN 1 - cv ELSE 0 END) AS BIGINT) AS d FROM rws), dims AS (SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1, a + b + c + d AS nn FROM cl), ix AS (SELECT CAST(unnest(range(0, (SELECT nn FROM dims) + 1)) AS BIGINT) AS i), lft AS MATERIALIZED (SELECT i, CAST(SUM(CASE WHEN i >= 2 THEN CAST(round(ln(CAST(i AS DOUBLE)), 12) AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12)) END) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,12)) AS lf FROM ix), supp AS (SELECT CAST(unnest(range(greatest(0, (SELECT c1 - r2 FROM dims)), least((SELECT r1 FROM dims), (SELECT c1 FROM dims)) + 1)) AS BIGINT) AS k), pk AS (SELECT s.k, d.a, d.b, d.c, d.d, CAST(l1.lf + l2.lf + l3.lf + l4.lf - l5.lf - l6.lf - l7.lf - l8.lf - l9.lf AS DOUBLE) AS lnp FROM supp s, dims d JOIN lft l1 ON l1.i = d.r1 JOIN lft l2 ON l2.i = d.r2 JOIN lft l3 ON l3.i = d.c1 JOIN lft l4 ON l4.i = d.nn - d.c1 JOIN lft l5 ON l5.i = d.nn JOIN lft l6 ON l6.i = s.k JOIN lft l7 ON l7.i = d.r1 - s.k JOIN lft l8 ON l8.i = d.c1 - s.k JOIN lft l9 ON l9.i = d.r2 - d.c1 + s.k), pm AS (SELECT k, a, b, c, d, CAST(round(exp(round(lnp, 9)), 12) AS DECIMAL(16,12)) AS pmf FROM pk), obs AS (SELECT CAST(pmf AS DOUBLE) AS pobs FROM pm WHERE k = a), f AS (SELECT a, b, c, d, SUM(CASE WHEN CAST(pmf AS DOUBLE) <= (SELECT pobs FROM obs) * (1.0 + 1e-7) THEN pmf END) AS s_two, SUM(CASE WHEN k <= a THEN pmf END) AS s_less, SUM(CASE WHEN k >= a THEN pmf END) AS s_greater FROM pm GROUP BY 1, 2, 3, 4) SELECT a, b, c, d, CASE WHEN b * c > 0 THEN round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) END AS odds_ratio, round(least(1.0, CAST(s_less AS DOUBLE)), 9) AS p_less, round(least(1.0, CAST(s_greater AS DOUBLE)), 9) AS p_greater, round(least(1.0, CAST(s_two AS DOUBLE)), 9) AS p_two FROM f"""))

  /** Incidence-rate ratios ([[graft.operators.Drift.incidenceRates]]):
    * each event type's events-per-active-hour vs the `view` baseline,
    * with Poisson log-CI and Wald z — the exposure-normalized
    * comparison the raw counts can't make.
    */
  private def q575(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.incidenceRates(
      T(s, dir, "events").select(col("event_type"),
        expr("ts div 1000000000 div 3600").as("hour_id")),
      "event_type", "hour_id", "view")
      .orderBy(col("event_type"))

  // one (group, exposure) census; IRR point estimate carries exposure,
  // the Poisson CI carries counts alone
  query("q575_incidence_rates", q575)(Sql(
    """WITH h AS (SELECT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_id FROM events), cen AS (SELECT event_type AS g, COUNT(*) AS n, CAST(COUNT(DISTINCT hour_id) AS BIGINT) AS h FROM h GROUP BY 1), base AS (SELECT n AS n0, h AS h0 FROM cen WHERE g = 'view'), x AS (SELECT g, n, h, CAST(n AS DOUBLE) / CAST(h AS DOUBLE) AS rate, CAST(n0 AS DOUBLE) / CAST(h0 AS DOUBLE) AS rate0, n0 FROM cen, base WHERE g <> 'view'), y AS (SELECT g, n, h, rate, rate0, round(ln(rate / rate0), 9) AS lirr, round(sqrt(1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)), 9) AS se, (n > 0 AND n0 > 0) AS ok FROM x) SELECT g AS event_type, n, h AS exposure, round(rate, 6) AS rate, CASE WHEN ok THEN round(rate / rate0, 6) END AS irr, CASE WHEN ok THEN round(exp(lirr - 1.96 * se), 6) END AS irr_lo, CASE WHEN ok THEN round(exp(lirr + 1.96 * se), 6) END AS irr_hi, CASE WHEN ok THEN round(lirr / se, 6) END AS z FROM y ORDER BY event_type"""))

  /** Stuart–Maxwell marginal homogeneity
    * ([[graft.operators.Drift.stuartMaxwell]]): did users' event-mix
    * shift between their first and last event — each user its own
    * control, the k=3 generalization of q409's McNemar.
    */
  private def q578(s: SparkSession, dir: String): DataFrame = {
    def bucket(c: Column): Column =
      when(c.isin("click", "view"), "engage")
        .when(c.isin("purchase", "signup"), "convert")
        .otherwise("error")
    val fl = firstLastTypes(s, dir)
      .select(bucket(col("ft")).as("ft"), bucket(col("lt")).as("lt"))
    graft.operators.Drift.stuartMaxwell(fl, col("ft"), col("lt"))
  }

  // paired first/last census; the k=3 closed-form 2×2 inverse on
  // exact integers
  query("q578_stuart_maxwell", q578)(Sql(
    """WITH r AS (SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd FROM events), fl AS (SELECT user_id, MAX(CASE WHEN ra = 1 THEN event_type END) AS ft, MAX(CASE WHEN rd = 1 THEN event_type END) AS lt FROM r GROUP BY 1), bk AS (SELECT CASE WHEN ft IN ('click', 'view') THEN 'engage' WHEN ft IN ('purchase', 'signup') THEN 'convert' ELSE 'error' END AS b, CASE WHEN lt IN ('click', 'view') THEN 'engage' WHEN lt IN ('purchase', 'signup') THEN 'convert' ELSE 'error' END AS a FROM fl), cen AS (SELECT b, a, COUNT(*) AS n FROM bk GROUP BY 1, 2), cats AS (SELECT cat, ROW_NUMBER() OVER (ORDER BY cat) AS r FROM (SELECT b AS cat FROM cen UNION SELECT a FROM cen)), rk AS (SELECT cen.n, cb.r AS rb, ca.r AS rc FROM cen JOIN cats cb ON cen.b = cb.cat JOIN cats ca ON cen.a = ca.cat), ag AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, SUM(CASE WHEN rb = 1 THEN n ELSE 0 END) AS row1, SUM(CASE WHEN rb = 2 THEN n ELSE 0 END) AS row2, SUM(CASE WHEN rc = 1 THEN n ELSE 0 END) AS col1, SUM(CASE WHEN rc = 2 THEN n ELSE 0 END) AS col2, SUM(CASE WHEN rb = 1 AND rc = 1 THEN n ELSE 0 END) AS n11, SUM(CASE WHEN rb = 2 AND rc = 2 THEN n ELSE 0 END) AS n22, SUM(CASE WHEN rb = 1 AND rc = 2 THEN n ELSE 0 END) AS n12, SUM(CASE WHEN rb = 2 AND rc = 1 THEN n ELSE 0 END) AS n21 FROM rk), nm AS (SELECT MAX(CASE WHEN r = 1 THEN cat END) AS cat1, MAX(CASE WHEN r = 2 THEN cat END) AS cat2, CAST(COUNT(*) AS BIGINT) AS n_cats FROM cats), x AS (SELECT nn, n_cats, cat1, cat2, row1, row2, col1, col2, CAST(row1 + col1 - 2 * n11 AS DOUBLE) AS v11, CAST(row2 + col2 - 2 * n22 AS DOUBLE) AS v22, -CAST(n12 + n21 AS DOUBLE) AS v12, CAST(row1 - col1 AS DOUBLE) AS d1d, CAST(row2 - col2 AS DOUBLE) AS d2d FROM ag, nm) SELECT nn AS n, n_cats, cat1, cat2, CAST(row1 - col1 AS BIGINT) AS d1, CAST(row2 - col2 AS BIGINT) AS d2, CASE WHEN n_cats = 3 AND v11 * v22 - v12 * v12 > 0.0 THEN round((d1d * d1d * v22 - 2.0 * d1d * d2d * v12 + d2d * d2d * v11) / (v11 * v22 - v12 * v12), 6) END AS chi2 FROM x"""))

  /** Per-user (first, last) event-type pairs — the paired-measurement
    * frame q578/q580 test for shift and asymmetry. */
  private def firstLastTypes(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
        .as("f"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .as("l"))
      .select(col("f.event_type").as("ft"), col("l.event_type").as("lt"))

  /** Bowker symmetry test ([[graft.operators.Drift.bowker]]) on the
    * raw 5-type first/last pairs — which specific type-to-type flows
    * churn asymmetrically, the any-k companion to q578's marginal
    * test.
    */
  private def q580(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.bowker(firstLastTypes(s, dir),
      col("ft"), col("lt"))

  // the unordered pair fold of the paired census, terms pinned at 1e-9
  query("q580_bowker", q580)(Sql(
    """WITH r AS (SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd FROM events), fl AS (SELECT user_id, MAX(CASE WHEN ra = 1 THEN event_type END) AS b, MAX(CASE WHEN rd = 1 THEN event_type END) AS a FROM r GROUP BY 1), cen AS (SELECT b, a, COUNT(*) AS n FROM fl GROUP BY 1, 2), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cen), cats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cats FROM (SELECT b AS cat FROM cen UNION SELECT a FROM cen)), pr AS (SELECT least(b, a) AS lo, greatest(b, a) AS hi, SUM(CASE WHEN b < a THEN n ELSE 0 END) AS nij, SUM(CASE WHEN b > a THEN n ELSE 0 END) AS nji FROM cen WHERE b <> a GROUP BY 1, 2), ag AS (SELECT CAST(COALESCE(SUM(CASE WHEN nij + nji > 0 THEN CAST(round((CAST(nij AS DOUBLE) - CAST(nji AS DOUBLE)) * (CAST(nij AS DOUBLE) - CAST(nji AS DOUBLE)) / (CAST(nij AS DOUBLE) + CAST(nji AS DOUBLE)), 9) AS DECIMAL(28,9)) END), 0) AS DECIMAL(28,9)) AS chi2s, CAST(COALESCE(SUM(CASE WHEN nij + nji > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS df FROM pr) SELECT nn AS n, n_cats, df, round(CAST(chi2s AS DOUBLE), 6) AS chi2 FROM ag, tot, cats"""))

  /** Weighted Cohen's kappa ([[graft.operators.Drift.weightedKappa]]):
    * two size-class raters of the same documents (char-bucket vs
    * word-bucket, both 5-point) — near-misses count, the ordinal
    * upgrade of q447's binary κ.
    */
  private def q581(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.weightedKappa(
      T(s, dir, "documents")
        .select(expr("length(text) div 120").as("c1"),
          TF.wordCount(col("text")).as("w"))
        .select(least(lit(4L), col("c1")).as("r1"),
          least(lit(4L), expr("w div 20")).as("r2")),
      col("r1"), col("r2"), k = 5)

  // observed disagreement over the census, expected over the FULL
  // margin grid, weights pinned at 1e-9
  query("q581_weighted_kappa", q581)(Sql(
    s"""$HASH_MACROS; WITH d0 AS (SELECT length(text) // 120 AS c1, len(docwords(text)) AS w FROM documents), r AS (SELECT least(4, c1) AS i, least(4, w // 20) AS j FROM d0), cen AS (SELECT i, j, COUNT(*) AS n FROM r GROUP BY 1, 2), obs AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(CASE WHEN i = j THEN n ELSE 0 END) AS BIGINT) AS agree, SUM(CAST(round(abs(i - j) / 4.0, 9) * CAST(n AS DOUBLE) AS DECIMAL(38,9))) AS ol, SUM(CAST(round(abs(i - j) / 4.0 * (abs(i - j) / 4.0), 9) * CAST(n AS DOUBLE) AS DECIMAL(38,9))) AS oq FROM cen), ri AS (SELECT i, SUM(n) AS r FROM cen GROUP BY 1), cj AS (SELECT j, SUM(n) AS c FROM cen GROUP BY 1), ex AS (SELECT SUM(CAST(round(abs(i - j) / 4.0, 9) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE) AS DECIMAL(38,9))) AS el, SUM(CAST(round(abs(i - j) / 4.0 * (abs(i - j) / 4.0), 9) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE) AS DECIMAL(38,9))) AS eq FROM ri, cj) SELECT nn AS n, CAST(5 AS INTEGER) AS k, round(CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS po, CASE WHEN CAST(el AS DOUBLE) > 0.0 THEN round(1.0 - CAST(nn AS DOUBLE) * CAST(ol AS DOUBLE) / CAST(el AS DOUBLE), 6) END AS kappa_linear, CASE WHEN CAST(eq AS DOUBLE) > 0.0 THEN round(1.0 - CAST(nn AS DOUBLE) * CAST(oq AS DOUBLE) / CAST(eq AS DOUBLE), 6) END AS kappa_quadratic FROM obs, ex"""))

  /** Direct + indirect rate standardization
    * ([[graft.operators.Drift.directStandardization]]): two hash
    * cohorts' error rates adjusted for their hour-of-day mix — crude
    * vs standardized rate vs SMR.
    */
  private def q583(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.directStandardization(
      T(s, dir, "events").select(
        pmod(conv(substring(md5(concat(lit("ds:"),
          col("event_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)).as("arm"),
        expr("ts div 1000000000 div 3600 % 24").as("hod"),
        (col("event_type") === "error").cast("long").as("e")),
      col("arm"), col("hod"), col("e"))
      .orderBy(col("cohort"))

  // one (group, stratum) census; weight terms pinned at 1e-9 before
  // the decimal sums
  query("q583_direct_standardization", q583)(Sql(
    """WITH r AS (SELECT CAST(concat('0x', substr(md5(concat('ds:', CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 AS arm, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS hod, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e FROM events), cen AS (SELECT CAST(arm AS VARCHAR) AS g, CAST(hod AS BIGINT) AS s, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS ev FROM r GROUP BY 1, 2), std AS (SELECT s, CAST(SUM(n) AS BIGINT) AS ns, CAST(SUM(ev) AS BIGINT) AS es FROM cen GROUP BY 1), j AS (SELECT cen.g, cen.n, cen.ev, std.ns, std.es FROM cen JOIN std ON cen.s = std.s), t AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(ev) AS BIGINT) AS events, CAST(SUM(ns) AS BIGINT) AS wsum, SUM(CAST(round(CAST(ns AS DOUBLE) * (CAST(ev AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9))) AS dirs, SUM(CAST(round(CAST(n AS DOUBLE) * (CAST(es AS DOUBLE) / CAST(ns AS DOUBLE)), 9) AS DECIMAL(28,9))) AS expected FROM j GROUP BY 1) SELECT g AS cohort, n, events, round(CAST(events AS DOUBLE) / CAST(n AS DOUBLE), 6) AS crude_rate, round(CAST(dirs AS DOUBLE) / CAST(wsum AS DOUBLE), 6) AS std_rate, CASE WHEN CAST(expected AS DOUBLE) > 0.0 THEN round(CAST(events AS DOUBLE) / CAST(expected AS DOUBLE), 6) END AS smr FROM t ORDER BY cohort"""))

  /** p-chart ([[graft.operators.Drift.pChart]]): daily error share
    * against ±3σ binomial limits — the SPC rate chart whose limits
    * widen as each day's own n shrinks, beside q446's XmR.
    */
  private def q592(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.pChart(
      T(s, dir, "events"),
      expr("ts div 1000000000 div 86400"),
      (col("event_type") === "error").cast("long"))

  // daily flag census, pooled center, per-subgroup binomial limits
  query("q592_p_chart", q592)(Sql(
    """WITH r AS (SELECT CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS b, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS x FROM events), cen AS (SELECT b, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS x FROM r GROUP BY 1), t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx FROM cen), f AS (SELECT cen.b, cen.n, cen.x, CAST(t.xx AS DOUBLE) / CAST(t.nn AS DOUBLE) AS pbar, sqrt((CAST(t.xx AS DOUBLE) / CAST(t.nn AS DOUBLE)) * (1.0 - CAST(t.xx AS DOUBLE) / CAST(t.nn AS DOUBLE)) / CAST(cen.n AS DOUBLE)) AS sig, CAST(cen.x AS DOUBLE) / CAST(cen.n AS DOUBLE) AS share FROM cen, t) SELECT b AS bucket, n, x, round(share, 6) AS share, round(pbar, 6) AS center, round(greatest(0.0, pbar - 3.0 * sig), 6) AS lcl, round(least(1.0, pbar + 3.0 * sig), 6) AS ucl, (share > pbar + 3.0 * sig OR share < pbar - 3.0 * sig) AS ooc FROM f ORDER BY bucket"""))

  /** One-way effect sizes ([[graft.operators.Drift.anovaEffects]]):
    * η²/ω²/ε²/Cohen's f for price by priority — the "does the grouping
    * MATTER" beside q408's F verdict.
    */
  private def q593(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.anovaEffects(
      T(s, dir, "orders"), "o_orderpriority",
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))

  // q408's cents census; the four ratios over exact group moments
  query("q593_anova_effects", q593)(Sql(
    """WITH v AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders), gg AS (SELECT g, COUNT(*) AS n, SUM(CAST(c AS HUGEINT)) AS s, SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss FROM v GROUP BY 1), a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn, SUM(s) AS st, SUM(ss) AS sst_raw, SUM(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DECIMAL(38,6))) AS sbn FROM gg), f AS (SELECT k, nn, CAST(sst_raw AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nn AS DOUBLE) AS sst, CAST(sbn AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nn AS DOUBLE) AS ssb, CAST(sst_raw AS DOUBLE) - CAST(sbn AS DOUBLE) AS ssw FROM a WHERE nn > k), f2 AS (SELECT k, nn, sst, ssb, ssw / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)) AS msw FROM f) SELECT k, nn AS n, CASE WHEN sst > 0.0 THEN round(ssb / sst, 6) END AS eta2, CASE WHEN sst > 0.0 THEN round((ssb - (CAST(k AS DOUBLE) - 1.0) * msw) / (sst + msw), 6) END AS omega2, CASE WHEN sst > 0.0 THEN round((ssb - (CAST(k AS DOUBLE) - 1.0) * msw) / sst, 6) END AS epsilon2, CASE WHEN sst > 0.0 AND ssb / sst < 1.0 THEN round(sqrt((ssb / sst) / (1.0 - ssb / sst)), 6) END AS cohens_f FROM f2"""))

  /** Hosmer–Lemeshow test ([[graft.operators.Drift.hosmerLemeshow]])
    * on q288's scored frame — the χ² calibration verdict beside the
    * ECE magnitude and q570's decomposition.
    */
  private def q596(s: SparkSession, dir: String): DataFrame = {
    val buyers = T(s, dir, "orders").select(col("o_custkey")).distinct()
    val c = T(s, dir, "customer")
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_acctbal"),
        col("o_custkey").isNotNull.cast("long").as("pos"))
    val mm = c.agg(min(col("c_acctbal")).as("blo"),
      max(col("c_acctbal")).as("bhi"))
    val scored = c.crossJoin(broadcast(mm))
      .select(round((col("c_acctbal") - col("blo")) /
        (col("bhi") - col("blo")), 6).cast(DecimalType(12, 6)).as("score"),
        col("pos"))
    graft.operators.Drift.hosmerLemeshow(scored, col("score"), col("pos"))
  }

  // q288's bins; the HL term pinned at 1e-9, saturated bins counted
  // out, never absorbed
  query("q596_hosmer_lemeshow", q596)(Sql(
    """WITH b0 AS (SELECT c_acctbal, CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END AS pos FROM customer), mm AS (SELECT MIN(c_acctbal) AS blo, MAX(c_acctbal) AS bhi FROM b0), s AS (SELECT pos, CAST(round((c_acctbal - blo) / (bhi - blo), 6) AS DECIMAL(12,6)) AS score FROM b0, mm), r AS (SELECT pos, score, LEAST(CAST(floor(score * 10) AS BIGINT), 9) AS bin FROM s), bins AS (SELECT bin, COUNT(*) AS nk, CAST(SUM(pos) AS BIGINT) AS ok, SUM(score) AS psum FROM r GROUP BY 1), t AS (SELECT bin, nk, ok, CAST(psum AS DOUBLE) / CAST(nk AS DOUBLE) AS pb FROM bins), f AS (SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(CASE WHEN pb > 0.0 AND pb < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bins, CAST(SUM(CASE WHEN pb > 0.0 AND pb < 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped, SUM(CASE WHEN pb > 0.0 AND pb < 1.0 THEN CAST(round((CAST(ok AS DOUBLE) - CAST(nk AS DOUBLE) * pb) * (CAST(ok AS DOUBLE) - CAST(nk AS DOUBLE) * pb) / (CAST(nk AS DOUBLE) * pb * (1.0 - pb)), 9) AS DECIMAL(28,9)) END) AS hl FROM t) SELECT n, n_bins, n_dropped, CASE WHEN n_bins > 2 THEN n_bins - 2 END AS df, CASE WHEN n_bins > 2 THEN round(CAST(hl AS DOUBLE), 6) END AS hl_chi2 FROM f"""))

  /** Poisson goodness-of-fit ([[graft.operators.Drift.poissonGof]]):
    * the users×days activity matrix (zeros included) against a fitted
    * Poisson — burst/heavy-user structure q456's single VMR number
    * can't localize.
    */
  private def q597(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.poissonGof(
      T(s, dir, "events").select(col("user_id"),
        expr("ts div 1000000000 div 86400").as("day")),
      col("user_id"), col("day"))

  // the pinned pmf ladder replayed as a recursive CTE; zeros filled
  // from the grid complement, decimal tail mass
  query("q597_poisson_gof", q597)(Sql(
    """WITH RECURSIVE dd AS (SELECT user_id AS u, CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS d FROM events), pc AS (SELECT u, d, COUNT(*) AS k FROM dd GROUP BY 1, 2), gs AS (SELECT (SELECT COUNT(DISTINCT u) FROM dd) * (SELECT COUNT(DISTINCT d) FROM dd) AS grid, (SELECT COUNT(*) FROM pc) AS nonzero, (SELECT CAST(SUM(k) AS BIGINT) FROM pc) AS events_n), lam AS (SELECT CAST(events_n AS DOUBLE) / CAST(grid AS DOUBLE) AS lambda FROM gs), pmf(k, p) AS (SELECT 0, round(exp(-(SELECT lambda FROM lam)), 12) UNION ALL SELECT k + 1, round(p * (SELECT lambda FROM lam) / (k + 1), 12) FROM pmf WHERE k < 30), mass AS (SELECT SUM(CAST(p AS DECIMAL(18,12))) AS m FROM pmf), expd AS (SELECT CAST(k AS BIGINT) AS cell, round((SELECT CAST(grid AS DOUBLE) FROM gs) * p, 12) AS e FROM pmf UNION ALL SELECT 31, round((SELECT CAST(grid AS DOUBLE) FROM gs) * greatest(0.0, CAST(1 - (SELECT m FROM mass) AS DOUBLE)), 12)), obs0 AS (SELECT LEAST(k, 31) AS cell, CAST(COUNT(*) AS BIGINT) AS obs FROM pc GROUP BY 1 UNION ALL SELECT 0, (SELECT grid - nonzero FROM gs)), obs AS (SELECT cell, CAST(SUM(obs) AS BIGINT) AS obs FROM obs0 GROUP BY 1), j AS (SELECT e.cell, e.e, COALESCE(o.obs, 0) AS obs FROM expd e LEFT JOIN obs o USING (cell) WHERE e.e > 0.0), f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells, SUM(CAST(round((CAST(obs AS DOUBLE) - e) * (CAST(obs AS DOUBLE) - e) / e, 9) AS DECIMAL(28,9))) AS chi2s FROM j) SELECT (SELECT CAST(grid AS BIGINT) FROM gs) AS n_grid, (SELECT events_n FROM gs) AS n_events, round((SELECT lambda FROM lam), 6) AS lambda, n_cells, n_cells - 2 AS df, round(CAST(chi2s AS DOUBLE), 6) AS chi2 FROM f"""))

  /** TOST equivalence ([[graft.operators.Drift.tostEquivalence]]): is
    * the hash-split arms' error-rate difference provably inside
    * ±0.5pp — the no-regression release gate q283 gets backward.
    */
  private def q600(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.tostEquivalence(
      T(s, dir, "events").select(
        pmod(conv(substring(md5(concat(lit("eq:"),
          col("event_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)).as("arm"),
        (col("event_type") === "error").cast("long").as("cv")),
      col("arm") === 0, col("cv"), delta = 0.005)

  // two one-sided z's against the margin, the shared critical literal
  query("q600_tost_equivalence", q600)(Sql(
    """WITH a AS (SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS cv, CAST(concat('0x', substr(md5(concat('eq:', CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 AS arm FROM events), g AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, CAST(SUM(CASE WHEN arm = 0 THEN cv ELSE 0 END) AS BIGINT) AS conv_a, CAST(SUM(CASE WHEN arm = 1 THEN cv ELSE 0 END) AS BIGINT) AS conv_b FROM a), f AS (SELECT *, CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa, CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb FROM g), f2 AS (SELECT *, sqrt(pa * (1.0 - pa) / CAST(n_a AS DOUBLE) + pb * (1.0 - pb) / CAST(n_b AS DOUBLE)) AS se, pa - pb AS diff FROM f) SELECT n_a, n_b, conv_a, conv_b, round(diff, 6) AS risk_diff, CAST(0.005 AS DOUBLE) AS margin, CASE WHEN n_a > 0 AND n_b > 0 AND se > 0.0 THEN round((diff + 0.005) / se, 6) END AS z_lower, CASE WHEN n_a > 0 AND n_b > 0 AND se > 0.0 THEN round((0.005 - diff) / se, 6) END AS z_upper, CASE WHEN n_a > 0 AND n_b > 0 AND se > 0.0 THEN ((diff + 0.005) / se > 1.6448536269514722 AND (0.005 - diff) / se > 1.6448536269514722) END AS equivalent FROM f2"""))

  /** Overlap coefficient ([[graft.operators.Drift.overlapCoefficient]]):
    * common-support mass between the BUILDING segment's and the rest's
    * balance-score bins — the audit q453's covariate balance assumes.
    */
  private def q608(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
      .select(col("c_acctbal"),
        (col("c_mktsegment") === "BUILDING").as("seg"))
    val mm = c.agg(min(col("c_acctbal")).as("blo"),
      max(col("c_acctbal")).as("bhi"))
    val scored = c.crossJoin(broadcast(mm))
      .select(round((col("c_acctbal") - col("blo")) /
        (col("bhi") - col("blo")), 6).cast(DecimalType(12, 6)).as("score"),
        col("seg"))
    graft.operators.Drift.overlapCoefficient(scored, col("score"),
      col("seg"))
  }

  // q288's bins, two arm shares pinned at 1e-9, the min-mass sum
  query("q608_overlap_coefficient", q608)(Sql(
    """WITH b0 AS (SELECT c_acctbal, (c_mktsegment = 'BUILDING') AS pos FROM customer), mm AS (SELECT MIN(c_acctbal) AS blo, MAX(c_acctbal) AS bhi FROM b0), s AS (SELECT pos, CAST(round((c_acctbal - blo) / (bhi - blo), 6) AS DECIMAL(12,6)) AS score FROM b0, mm), r AS (SELECT pos, LEAST(CAST(floor(score * 10) AS BIGINT), 9) AS bin FROM s), bins AS (SELECT bin, CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS ca, CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cb FROM r GROUP BY 1), t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM bins), w AS (SELECT bin, na, nb, CASE WHEN na > 0 THEN CAST(round(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END AS sa, CASE WHEN nb > 0 THEN CAST(round(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END AS sb FROM bins, t) SELECT na AS n_a, nb AS n_b, CAST(COUNT(*) AS BIGINT) AS n_bins, CASE WHEN na > 0 AND nb > 0 THEN round(CAST(SUM(LEAST(sa, sb)) AS DOUBLE), 6) END AS overlap FROM w GROUP BY na, nb"""))

  /** KPI bridge ([[graft.operators.Drift.kpiBridge]]): the
    * first-half→second-half error-rate move split into per-type rate
    * vs mix vs interaction effects — "the type got worse" vs "traffic
    * shifted toward it".
    */
  private def q614(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(expr("ts div 1000000000 div 86400").as("day"),
        col("event_type"),
        (col("event_type") === "error").cast("long").as("e"))
    val b = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2L
    graft.operators.Drift.kpiBridge(ev, col("event_type"),
      col("day") <= mid, col("e"))
  }

  // one (segment, period) census; the three effect columns sum to
  // the KPI move by construction
  query("q614_kpi_bridge", q614)(Sql(
    """WITH e0 AS (SELECT CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS day, event_type AS seg, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e FROM events), b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e0), r AS (SELECT seg, (day <= (SELECT lo + (hi - lo) // 2 FROM b)) AS isbase, e FROM e0), cen AS (SELECT seg, CAST(SUM(CASE WHEN isbase THEN 1 ELSE 0 END) AS BIGINT) AS n0, CAST(SUM(CASE WHEN isbase THEN 0 ELSE 1 END) AS BIGINT) AS n1, CAST(SUM(CASE WHEN isbase THEN e ELSE 0 END) AS BIGINT) AS e0, CAST(SUM(CASE WHEN isbase THEN 0 ELSE e END) AS BIGINT) AS e1 FROM r GROUP BY 1), tot AS (SELECT CAST(SUM(n0) AS BIGINT) AS t0, CAST(SUM(n1) AS BIGINT) AS t1 FROM cen), f AS (SELECT seg, n0, n1, CASE WHEN n0 > 0 THEN CAST(n0 AS DOUBLE) / CAST(t0 AS DOUBLE) ELSE 0.0 END AS w0, CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE) ELSE 0.0 END AS w1, CASE WHEN n0 > 0 THEN CAST(e0 AS DOUBLE) / CAST(n0 AS DOUBLE) ELSE 0.0 END AS r0, CASE WHEN n1 > 0 THEN CAST(e1 AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END AS r1 FROM cen, tot) SELECT seg, n0, n1, round(r0, 6) AS rate_base, round(r1, 6) AS rate_cur, round(w0, 6) AS mix_base, round(w1, 6) AS mix_cur, round(w0 * (r1 - r0), 6) + 0.0 AS rate_effect, round((w1 - w0) * r0, 6) + 0.0 AS mix_effect, round((w1 - w0) * (r1 - r0), 6) + 0.0 AS interaction FROM f ORDER BY seg"""))

  /** Markov entropy rate
    * ([[graft.operators.Drift.markovEntropyRate]]): how much of the
    * NEXT event is new information given the current one — the
    * sequence-level complement to q460's marginal entropy.
    */
  private def q616(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.markovEntropyRate(
      T(s, dir, "events"), col("user_id"),
      struct(col("ts"), col("event_id")), col("event_type"))

  // one per-user lag pass, transition census, pinned ln terms
  query("q616_entropy_rate", q616)(Sql(
    """WITH t0 AS (SELECT user_id, event_type AS st, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), tr AS (SELECT prev, st, COUNT(*) AS n FROM t0 WHERE prev IS NOT NULL GROUP BY 1, 2), rt AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS nr FROM tr GROUP BY 1), tt AS (SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM tr) AS nn, (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT prev AS s0 FROM tr UNION SELECT st FROM tr)) AS k), f AS (SELECT SUM(CAST(round(CAST(tr.n AS DOUBLE) * ln(CAST(tr.n AS DOUBLE) / CAST(rt.nr AS DOUBLE)), 9) AS DECIMAL(28,9))) AS tsum FROM tr JOIN rt ON tr.prev = rt.prev) SELECT nn AS n_transitions, k AS n_states, round(-CAST(tsum AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS entropy_rate, CASE WHEN k > 1 THEN round(-CAST(tsum AS DOUBLE) / CAST(nn AS DOUBLE) / ln(CAST(k AS DOUBLE)), 6) END AS entropy_norm FROM f, tt"""))

  /** Kendall's W ([[graft.operators.Drift.kendallW]]): do the daily
    * event-type volume leaderboards agree across days — ranking
    * concordance with the Friedman χ² verdict.
    */
  private def q618(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.kendallW(
      T(s, dir, "events").select(
        expr("ts div 1000000000 div 86400").as("day"),
        col("event_type"), lit(1L).as("one")),
      col("day"), col("event_type"), col("one"))

  // doubled tie-averaged ranks, the exact-integer S₄ and tie masses
  query("q618_kendall_w", q618)(Sql(
    """WITH cen AS (SELECT CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS r, event_type AS it, COUNT(*) AS s FROM events GROUP BY 1, 2), sp AS (SELECT a.r, b.it FROM (SELECT DISTINCT r FROM cen) a CROSS JOIN (SELECT DISTINCT it FROM cen) b), fu AS (SELECT sp.r, sp.it, COALESCE(cen.s, 0) AS s FROM sp LEFT JOIN cen ON cen.r = sp.r AND cen.it = sp.it), rk AS (SELECT r, it, s, CAST(RANK() OVER (PARTITION BY r ORDER BY s) AS BIGINT) AS minrank, CAST(COUNT(*) OVER (PARTITION BY r, s) AS BIGINT) AS t FROM fu), r2t AS (SELECT r, it, 2 * minrank + t - 1 AS r2 FROM rk), dims AS (SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS m, CAST(COUNT(DISTINCT it) AS BIGINT) AS n FROM fu), tie AS (SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tsum FROM (SELECT DISTINCT r, s, t FROM rk)), rs AS (SELECT it, CAST(SUM(r2) AS BIGINT) AS rr2 FROM r2t GROUP BY 1), s4 AS (SELECT SUM(CAST((rr2 - m * (n + 1)) * (rr2 - m * (n + 1)) AS HUGEINT)) AS s4 FROM rs, dims), f AS (SELECT m, n, s4, CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) - CAST(m AS DOUBLE) * CAST(tsum AS DOUBLE) AS den FROM s4, dims, tie) SELECT m, n, CASE WHEN den > 0.0 THEN round(3.0 * CAST(s4 AS DOUBLE) / den, 6) END AS kendall_w, CASE WHEN den > 0.0 THEN round(CAST(m AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (3.0 * CAST(s4 AS DOUBLE) / den), 6) END AS friedman_chi2 FROM f"""))

  /** Disproportionality screen
    * ([[graft.operators.Drift.disproportionality]]): PRR/ROR per
    * (source, language) cell vs the pooled rest — "3.4× the
    * background rate", the ratio-scaled sibling of q599's residuals.
    */
  private def q621(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.disproportionality(
      T(s, dir, "documents"), col("source"), col("lang"))

  // every cell's 2×2 by margin subtraction, pinned CI log terms
  query("q621_disproportionality", q621)(Sql(
    """WITH cen AS (SELECT source AS seg, lang AS "out", COUNT(*) AS a FROM documents GROUP BY 1, 2), t AS (SELECT seg, "out", a, SUM(a) OVER (PARTITION BY seg) AS rt, SUM(a) OVER (PARTITION BY "out") AS ct, SUM(a) OVER () AS nn FROM cen), b AS (SELECT seg, "out", CAST(a AS BIGINT) AS a, CAST(rt AS BIGINT) AS rt, CAST(ct AS BIGINT) AS ct, CAST(rt - a AS BIGINT) AS bb, CAST(ct - a AS BIGINT) AS cc, CAST(nn - rt - ct + a AS BIGINT) AS dd FROM t), f AS (SELECT *, (CAST(a AS DOUBLE) / CAST(rt AS DOUBLE)) / (CAST(cc AS DOUBLE) / (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE))) AS prr, round(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) / (CAST(bb AS DOUBLE) * CAST(cc AS DOUBLE))), 9) AS lor, round(sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(bb AS DOUBLE) + 1.0 / CAST(cc AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE)), 9) AS se FROM b) SELECT seg, "out", a AS n_cell, rt AS n_segment, ct AS n_outcome, CASE WHEN a > 0 AND cc > 0 THEN round(prr, 6) END AS prr, CASE WHEN a > 0 AND cc > 0 AND bb > 0 AND dd > 0 THEN round(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) / (CAST(bb AS DOUBLE) * CAST(cc AS DOUBLE)), 6) END AS ror, CASE WHEN a > 0 AND cc > 0 AND bb > 0 AND dd > 0 THEN round(exp(lor - 1.96 * se), 6) END AS ror_lo, CASE WHEN a > 0 AND cc > 0 AND bb > 0 AND dd > 0 THEN round(exp(lor + 1.96 * se), 6) END AS ror_hi, CASE WHEN a > 0 AND cc > 0 AND bb > 0 AND dd > 0 THEN (a >= 3 AND prr >= 2.0 AND exp(lor - 1.96 * se) > 1.0) END AS signal FROM f ORDER BY seg, "out""""))

  /** Breslow–Day homogeneity
    * ([[graft.operators.Drift.breslowDay]]): is q443's pooled odds
    * ratio even valid — do the per-year ORs agree, or is MH averaging
    * genuinely different effects.
    */
  private def q622(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.breslowDay(
      T(s, dir, "orders").select(
        year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority"), col("o_orderstatus")),
      "yr",
      expr("substring(o_orderpriority, 1, 1) IN ('1','2')"),
      col("o_orderstatus") === "F")

  // q443's pinned MH terms, the closed-form quadratic root per
  // stratum, pinned BD terms
  query("q622_breslow_day", q622)(Sql(
    """WITH cen AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS st, CAST(SUM(CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2') AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a, CAST(SUM(CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2') AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b, CAST(SUM(CASE WHEN substr(o_orderpriority, 1, 1) NOT IN ('1', '2') AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c, CAST(SUM(CASE WHEN substr(o_orderpriority, 1, 1) NOT IN ('1', '2') AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS d FROM orders GROUP BY 1), c2 AS (SELECT *, a + b + c + d AS nn FROM cen), mh AS (SELECT SUM(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(nn AS DOUBLE), 9) AS DECIMAL(18,9))) AS rr, SUM(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(nn AS DOUBLE), 9) AS DECIMAL(18,9))) AS ss FROM c2), g AS (SELECT c2.*, CAST(rr AS DOUBLE) / CAST(ss AS DOUBLE) AS or0 FROM c2, mh), q AS (SELECT *, CAST(a + b AS DOUBLE) AS n1, CAST(c + d AS DOUBLE) AS n2, CAST(a + c AS DOUBLE) AS m1, or0 - 1.0 AS qa FROM g), q2 AS (SELECT *, -(or0 * (n1 + m1) + (n2 - m1)) AS qb, or0 * n1 * m1 AS qc, greatest(0.0, m1 - n2) AS lo, least(n1, m1) AS hi FROM q), q3 AS (SELECT *, sqrt(qb * qb - 4.0 * qa * qc) AS disc FROM q2), q4 AS (SELECT *, CASE WHEN abs(qa) < 1e-9 THEN -qc / qb ELSE (CASE WHEN (-qb - disc) / (2.0 * qa) > lo AND (-qb - disc) / (2.0 * qa) < hi THEN (-qb - disc) / (2.0 * qa) ELSE (-qb + disc) / (2.0 * qa) END) END AS e FROM q3), q5 AS (SELECT *, (a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0) AS informative FROM q4), sw AS (SELECT or0, CASE WHEN informative AND e > lo AND e < hi THEN CAST(round((CAST(a AS DOUBLE) - e) * (CAST(a AS DOUBLE) - e) * (1.0 / e + 1.0 / (n1 - e) + 1.0 / (m1 - e) + 1.0 / (n2 - m1 + e)), 9) AS DECIMAL(28,9)) END AS t, CASE WHEN informative AND e > lo AND e < hi THEN 1 ELSE 0 END AS inf FROM q5), f AS (SELECT or0, CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(inf) AS BIGINT) AS k_inf, SUM(t) AS bd FROM sw GROUP BY 1) SELECT k AS n_strata, k_inf AS n_informative, round(or0, 6) AS or_mh, CASE WHEN k_inf > 1 THEN k_inf - 1 END AS df, CASE WHEN k_inf > 1 THEN round(CAST(bd AS DOUBLE), 6) END AS bd_chi2 FROM f"""))

  /** Process capability
    * ([[graft.operators.Drift.processCapability]]): Pp/Ppk of order
    * value per priority against declared $50k–$350k limits plus the
    * exact out-of-spec share — the contract score beside q446/q592's
    * time charts.
    */
  private def q625(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.processCapability(
      T(s, dir, "orders"), col("o_orderpriority"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"),
      lsl = 5000000L, usl = 35000000L)

  // exact cents moments + the exact out-of-spec count
  query("q625_process_capability", q625)(Sql(
    """WITH v AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders), cen AS (SELECT g, COUNT(*) AS n, SUM(CAST(c AS HUGEINT)) AS s, SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss, CAST(SUM(CASE WHEN c < 5000000 OR c > 35000000 THEN 1 ELSE 0 END) AS BIGINT) AS oos FROM v GROUP BY 1 HAVING COUNT(*) >= 2), f AS (SELECT g, CAST(n AS BIGINT) AS n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, sqrt((CAST(ss AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / (CAST(n AS DOUBLE) - 1.0)) AS sd, oos FROM cen) SELECT g, n, round(mean, 6) AS mean, CASE WHEN sd > 0.0 THEN round(sd, 6) END AS sd, CASE WHEN sd > 0.0 THEN round((35000000.0 - 5000000.0) / (6.0 * sd), 6) END AS pp, CASE WHEN sd > 0.0 THEN round(least(35000000.0 - mean, mean - 5000000.0) / (3.0 * sd), 6) END AS ppk, round(CAST(oos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS oos_share FROM f ORDER BY g"""))

  /** IV / Wald estimate ([[graft.operators.Drift.ivWald]]): the causal
    * effect under a randomized encouragement with self-selected
    * exposure — ITT over first stage, naive diff beside it so the
    * confounding gap is visible.
    */
  private def q650(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.ivWald(ivFrame(s, dir).drop("user_id"),
      col("z"), col("x"), col("y"))

  // per-user encouragement census, pinned ITT / first-stage / Wald
  // divisions, the naive diff beside them
  query("q650_iv_wald", q650)(Sql(
    """WITH u AS (SELECT user_id, CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS hc, CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS y FROM events GROUP BY 1), r AS (SELECT CAST(concat('0x', substr(md5(concat('iv:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 1 AS z, hc, y FROM u), r2 AS (SELECT z, CASE WHEN z AND hc = 1 THEN 1 ELSE 0 END AS x, y FROM r), cen AS (SELECT z, CAST(x AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS e FROM r2 GROUP BY 1, 2), f AS (SELECT CAST(SUM(CASE WHEN z THEN n ELSE 0 END) AS BIGINT) AS n1, CAST(SUM(CASE WHEN NOT z THEN n ELSE 0 END) AS BIGINT) AS n0, CAST(SUM(CASE WHEN z THEN x * n ELSE 0 END) AS BIGINT) AS x1, CAST(SUM(CASE WHEN NOT z THEN x * n ELSE 0 END) AS BIGINT) AS x0, CAST(SUM(CASE WHEN z THEN e ELSE 0 END) AS BIGINT) AS y1, CAST(SUM(CASE WHEN NOT z THEN e ELSE 0 END) AS BIGINT) AS y0, CAST(SUM(CASE WHEN x = 1 THEN n ELSE 0 END) AS BIGINT) AS nt, CAST(SUM(CASE WHEN x = 0 THEN n ELSE 0 END) AS BIGINT) AS nc, CAST(SUM(CASE WHEN x = 1 THEN e ELSE 0 END) AS BIGINT) AS yt, CAST(SUM(CASE WHEN x = 0 THEN e ELSE 0 END) AS BIGINT) AS yc FROM cen), g AS (SELECT *, CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(y0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS itt, CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS fs FROM f) SELECT n1, n0, CASE WHEN n1 > 0 AND n0 > 0 THEN round(fs, 6) END AS first_stage, CASE WHEN n1 > 0 AND n0 > 0 THEN round(itt, 6) END AS itt, CASE WHEN n1 > 0 AND n0 > 0 AND abs(fs) > 0.01 THEN round(itt / fs, 6) END AS wald, CASE WHEN nt > 0 AND nc > 0 THEN round(CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE), 6) END AS naive_diff FROM g"""))

  /** Regression discontinuity
    * ([[graft.operators.Drift.regressionDiscontinuity]]): does
    * crossing the zero-balance threshold itself change buying — local
    * linear fits on both sides of the cutoff, the jump at zero.
    */
  private def q651(s: SparkSession, dir: String): DataFrame = {
    val buyers = T(s, dir, "orders").select(col("o_custkey")).distinct()
    graft.operators.Drift.regressionDiscontinuity(
      T(s, dir, "customer")
        .join(buyers, col("c_custkey") === col("o_custkey"), "left")
        .select((col("c_acctbal").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("run"),
          col("o_custkey").isNotNull.cast("long").as("y")),
      col("run"), col("y"), cutoff = 0L, bandwidth = 300000L)
  }

  // bandwidth window, per-side exact moments, intercepts AT the
  // cutoff, pinned intercept variances and gap z
  query("q651_rdd", q651)(Sql(
    """WITH c AS (SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END AS y FROM customer), b AS (SELECT x, y, x >= 0 AS above FROM c WHERE x >= -300000 AND x < 300000), mom AS (SELECT above, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy FROM b GROUP BY 1 HAVING COUNT(*) >= 3), g AS (SELECT above, n, CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx, CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy, CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd FROM mom), g2 AS (SELECT above, n, CASE WHEN cxx > 0.0 THEN round((syd - cxy / cxx * sxd) / CAST(n AS DOUBLE), 9) END AS a, CASE WHEN cxx > 0.0 THEN round(cxy / cxx, 9) END AS b, CASE WHEN cxx > 0.0 AND (cyy - cxy * cxy / cxx) / CAST(n AS DOUBLE) > 0.0 THEN round((cyy - cxy * cxy / cxx) / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0) * (1.0 / CAST(n AS DOUBLE) + (sxd / CAST(n AS DOUBLE)) * (sxd / CAST(n AS DOUBLE)) / (cxx / CAST(n AS DOUBLE))), 9) END AS va FROM g), lo AS (SELECT n AS n_below, a AS a0, b AS slope_below, va AS v0 FROM g2 WHERE NOT above), hi AS (SELECT n AS n_above, a AS a1, b AS slope_above, va AS v1 FROM g2 WHERE above) SELECT n_below, n_above, round(a0, 6) AS est_below, round(a1, 6) AS est_above, round(slope_below, 6) AS slope_below, round(slope_above, 6) AS slope_above, round(a1 - a0, 6) AS gap, CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL THEN round(sqrt(v0 + v1), 6) END AS se, CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND sqrt(v0 + v1) > 0.0 THEN round((a1 - a0) / sqrt(v0 + v1), 6) END AS z FROM lo, hi"""))

  /** Mediation with Sobel ([[graft.operators.Drift.mediation]]): how
    * much of urgency's effect on order value travels THROUGH line
    * count — indirect a·b vs direct c′.
    */
  private def q652(s: SparkSession, dir: String): DataFrame = {
    val lc = T(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("m"))
    graft.operators.Drift.mediation(
      T(s, dir, "orders")
        .join(lc, col("o_orderkey") === col("l_orderkey"), "left")
        .select(
          expr("CAST(substring(o_orderpriority, 1, 1) IN ('1','2') AS LONG)")
            .as("x"),
          coalesce(col("m"), lit(0L)).as("m"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("y")),
      col("x"), col("m"), col("y"))
  }

  // one exact moment pass, three closed-form fits (the 2x2 normal
  // equations for y ~ x + m), pinned Sobel finish
  query("q652_mediation", q652)(Sql(
    """WITH o AS (SELECT o_orderkey, CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2') THEN 1 ELSE 0 END AS x, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y FROM orders), lc AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS m FROM lineitem GROUP BY 1), fr AS (SELECT x, COALESCE(m, 0) AS m, y FROM o LEFT JOIN lc ON o_orderkey = l_orderkey), f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(m AS DECIMAL(38,0))) AS sm, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))) AS sxm, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy, SUM(CAST(m AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS smy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))) AS smm, SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy FROM fr), g AS (SELECT n, CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx, CAST(n AS DOUBLE) * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) AS cmm, CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy, CAST(n AS DOUBLE) * CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE) AS cxm, CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy, CAST(n AS DOUBLE) * CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sy AS DOUBLE) AS cmy FROM f), h AS (SELECT n, cxx, cmm, cyy, cxm, cxy, cmy, cxm / cxx AS apath, (cmm - cxm * cxm / cxx) / CAST(n AS DOUBLE) AS ssea, cxy / cxx AS ctot, cxx * cmm - cxm * cxm AS det FROM g), h2 AS (SELECT *, ssea / (CAST(n AS DOUBLE) - 2.0) * CAST(n AS DOUBLE) / cxx AS vara, (cxy * cmm - cmy * cxm) / det AS cdir, (cmy * cxx - cxy * cxm) / det AS bpath FROM h), h3 AS (SELECT *, (cyy - cdir * cxy - bpath * cmy) / CAST(n AS DOUBLE) AS sseu FROM h2), h4 AS (SELECT *, sseu / (CAST(n AS DOUBLE) - 3.0) * CAST(n AS DOUBLE) * cxx / det AS varb, apath * bpath AS ind FROM h3), h5 AS (SELECT *, sqrt(apath * apath * varb + bpath * bpath * vara) AS sobelse, (n >= 5 AND cxx > 0.0 AND det > 0.0 AND sseu > 0.0 AND ssea > 0.0) AS ok FROM h4) SELECT n, CASE WHEN ok THEN round(apath, 6) END AS a_x_to_m, CASE WHEN ok THEN round(bpath, 6) END AS b_m_to_y, CASE WHEN ok THEN round(ctot, 6) END AS total_effect, CASE WHEN ok THEN round(cdir, 6) END AS direct_effect, CASE WHEN ok THEN round(ind, 6) END AS indirect_effect, CASE WHEN ok AND abs(ctot) > 0.0 THEN round(ind / ctot, 6) END AS prop_mediated, CASE WHEN ok AND sobelse > 0.0 THEN round(ind / sobelse, 6) END AS sobel_z FROM h5"""))

  /** Meta-analytic pooling ([[graft.operators.Drift.combinePvalues]]):
    * q420's per-nation Welch family pooled per REGION — Stouffer's
    * direction-aware Z and Fisher's −2Σln p with its exact even-df
    * chi-square survival; "is there any balance effect in this region
    * at all", the one verdict the multiplicity shelf never gives.
    */
  private def q677(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val c = T(s, dir, "customer")
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("cents"))
    val cts = col("cents").cast(d38)
    val g = c.groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("na"), sum(cts).as("sa"), sum(cts * cts).as("saa"))
    val t = c.agg(count(lit(1)).as("nt"), sum(cts).as("st"),
      sum(cts * cts).as("stt"))
    def dbl(x: Column): Column = x.cast("double")
    val j = g.crossJoin(broadcast(t)).select(col("r_name"), col("n_name"),
      col("na"), dbl(col("sa")).as("saD"), dbl(col("saa")).as("saaD"),
      (col("nt") - col("na")).as("nb"),
      dbl(col("st") - col("sa")).as("sbD"),
      dbl(col("stt") - col("saa")).as("sbbD"))
    val na = dbl(col("na"))
    val nb = dbl(col("nb"))
    val va = (na * col("saaD") - col("saD") * col("saD")) /
      (na * (na - 1.0))
    val vb = (nb * col("sbbD") - col("sbD") * col("sbD")) /
      (nb * (nb - 1.0))
    val z = (col("saD") / na - col("sbD") / nb) / sqrt(va / na + vb / nb)
    val withP = j.select(col("r_name"), col("n_name"),
      round(z, 6).as("zr"),
      round(graft.operators.Drift.normalTailP2(z), 9).as("p"))
    graft.operators.Drift.combinePvalues(withP, "r_name", "p", "zr")
  }

  // q420 Welch family per region, decimal -2 ln p sums, q574-style
  // pinned ln-factorials, exp-pinned survival terms
  query("q677_combined_tests", q677)(Sql(
    """WITH c AS (SELECT r.r_name, n.n_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM customer JOIN nation n ON c_nationkey = n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey), g AS (SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS na, SUM(CAST(cents AS DECIMAL(38,0))) AS sa, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS saa FROM c GROUP BY 1, 2), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt, SUM(CAST(cents AS DECIMAL(38,0))) AS st, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS stt FROM c), j AS (SELECT r_name, n_name, na, CAST(sa AS DOUBLE) AS saD, CAST(saa AS DOUBLE) AS saaD, nt - na AS nb, CAST(st - sa AS DOUBLE) AS sbD, CAST(stt - saa AS DOUBLE) AS sbbD FROM g, t), zc AS (SELECT r_name, n_name, (saD / CAST(na AS DOUBLE) - sbD / CAST(nb AS DOUBLE)) / sqrt(((CAST(na AS DOUBLE) * saaD - saD * saD) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE) + ((CAST(nb AS DOUBLE) * sbbD - sbD * sbD) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE)) AS z FROM j), pt AS (SELECT r_name, n_name, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zc), pp AS (SELECT r_name, n_name, round(z, 6) AS zr, round(2.0 * 0.3989422804014327 * exp(-(abs(z) * abs(z)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt, 9) AS p FROM pt), ag AS (SELECT r_name, CAST(COUNT(*) AS BIGINT) AS m, SUM(CAST(zr AS DECIMAL(18,6))) AS sz, SUM(CAST(round(-2.0 * ln(GREATEST(p, 0.000000001)), 9) AS DECIMAL(18,9))) AS x2 FROM pp GROUP BY 1), st AS (SELECT r_name, m, round(CAST(sz AS DOUBLE) / sqrt(CAST(m AS DOUBLE)), 6) + 0.0 AS stouffer_z, CAST(x2 AS DOUBLE) AS x FROM ag), tm AS (SELECT r_name, m, stouffer_z, x, CAST(unnest(range(0, m)) AS BIGINT) AS k FROM st), lk AS (SELECT r_name, m, stouffer_z, x, k, CASE WHEN k = 0 THEN 0.0 ELSE round(ln(CAST(k AS DOUBLE)), 12) END AS lnk FROM tm), lf AS (SELECT r_name, m, stouffer_z, x, k, CAST(SUM(CAST(lnk AS DECIMAL(28,12))) OVER (PARTITION BY r_name ORDER BY k) AS DOUBLE) AS lf FROM lk), tt2 AS (SELECT r_name, m, stouffer_z, x, CAST(round(CASE WHEN k = 0 THEN exp(-x / 2.0) WHEN x <= 0.0 THEN 0.0 ELSE exp(-x / 2.0 + CAST(k AS DOUBLE) * ln(x / 2.0) - lf) END, 12) AS DECIMAL(28,12)) AS t FROM lf) SELECT r_name, m, stouffer_z, round(x, 6) AS fisher_stat, round(LEAST(CAST(SUM(t) AS DOUBLE), 1.0), 6) AS fisher_p FROM tt2 GROUP BY r_name, m, stouffer_z, x ORDER BY r_name"""))

  /** Empirical-Bayes rate shrinkage
    * ([[graft.operators.Drift.ebBetaBinomial]]): per-part return rates
    * shrunk toward the MoM beta-binomial prior — the rankable rate
    * table beside q540's James–Stein means.
    */
  private def q680(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.ebBetaBinomial(
      T(s, dir, "lineitem").select(col("l_partkey"),
        (col("l_returnflag") === "R").as("ret")),
      "l_partkey", col("ret"))

  // key census, pinned rate moments, one-row MoM prior broadcast,
  // pinned posterior means
  query("q680_eb_rates", q680)(Sql(
    """WITH cen AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS s FROM lineitem GROUP BY 1), rr AS (SELECT k, n, s, round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9) AS r FROM cen), pr AS (SELECT CAST(COUNT(*) AS BIGINT) AS p, SUM(CAST(r AS DECIMAL(18,9))) AS sr, SUM(CAST(round(r * r, 9) AS DECIMAL(18,9))) AS srr FROM rr), pm AS (SELECT p, CAST(sr AS DOUBLE) / CAST(p AS DOUBLE) AS mr, (CAST(p AS DOUBLE) * CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) / (CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) - 1.0)) AS vr FROM pr), pp AS (SELECT p, round(mr, 9) AS m, round(vr, 9) AS v, CASE WHEN p >= 3 AND vr > 0.0 AND mr > 0.0 AND mr < 1.0 AND mr * (1.0 - mr) / vr - 1.0 > 0.0 THEN round(mr * (1.0 - mr) / vr - 1.0, 9) END AS kc FROM pm) SELECT k AS l_partkey, n, s, round(r, 6) AS raw_rate, CASE WHEN kc IS NOT NULL THEN round(m * kc, 6) END AS prior_alpha, CASE WHEN kc IS NOT NULL THEN round((1.0 - m) * kc, 6) END AS prior_beta, CASE WHEN kc IS NOT NULL THEN round((CAST(s AS DOUBLE) + m * kc) / (CAST(n AS DOUBLE) + kc), 6) END AS shrunk_rate FROM rr, pp ORDER BY l_partkey"""))

  /** Anderson–Darling normality ([[graft.operators.Drift.andersonDarling]]):
    * the tail-weighted "can the z-machinery be used on this metric"
    * gate, per nation on balance cents — beside q295's body-sensitive
    * binned KS. The cents RANGE bounds the census per key at any
    * corpus scale (the operator's stated caller contract).
    */
  private def q681(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.andersonDarling(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents")),
      "n_name", "cents")

  // value census, exact rank-coefficient collapse, shared A&S
  // polynomial, clamped pinned lns, decimal term sums
  query("q681_anderson_darling", q681)(Sql(
    """WITH c AS (SELECT n_name AS k, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v FROM customer JOIN nation ON c_nationkey = n_nationkey), cen AS (SELECT k, v, CAST(COUNT(*) AS BIGINT) AS c FROM c GROUP BY 1, 2), mom AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n, SUM(CAST(c AS DECIMAL(38,0)) * v) AS sv, SUM(CAST(c AS DECIMAL(38,0)) * v * v) AS svv FROM cen GROUP BY 1 HAVING SUM(c) >= 8), ky AS (SELECT k, n, CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mu, sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd FROM mom WHERE (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0.0), rk AS (SELECT cen.k AS k, cen.v AS v, cen.c AS c, ky.n AS n, ky.mu AS mu, ky.sd AS sd, CAST(SUM(cen.c) OVER (PARTITION BY cen.k ORDER BY cen.v) AS BIGINT) AS cum FROM cen JOIN ky ON cen.k = ky.k), zz AS (SELECT k, n, c, cum - c AS a, round((CAST(v AS DOUBLE) - mu) / sd, 9) AS z FROM rk), pt AS (SELECT k, n, c, a, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zz), pv AS (SELECT k, n, c, a, z, 2.0 * 0.3989422804014327 * exp(-(abs(z) * abs(z)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt AS p FROM pt), ph AS (SELECT k, n, c, a, LEAST(GREATEST(CASE WHEN z >= 0.0 THEN 1.0 - p / 2.0 ELSE p / 2.0 END, 0.000000000001), 1.0 - 0.000000000001) AS phi, LEAST(GREATEST(CASE WHEN z >= 0.0 THEN p / 2.0 ELSE 1.0 - p / 2.0 END, 0.000000000001), 1.0 - 0.000000000001) AS sf FROM pv), tm AS (SELECT k, n, CAST(round(CAST(2 * c * a + c * c AS DOUBLE) * round(ln(phi), 9), 9) AS DECIMAL(28,9)) AS ta, CAST(round(CAST(2 * c * (n - a) - c * c AS DOUBLE) * round(ln(sf), 9), 9) AS DECIMAL(28,9)) AS tb FROM ph), ag AS (SELECT k, n, CAST(SUM(ta) AS DOUBLE) AS sa, CAST(SUM(tb) AS DOUBLE) AS sb FROM tm GROUP BY 1, 2) SELECT k AS n_name, n, round(-CAST(n AS DOUBLE) - (sa + sb) / CAST(n AS DOUBLE), 6) AS a2, round((-CAST(n AS DOUBLE) - (sa + sb) / CAST(n AS DOUBLE)) * (1.0 + 0.75 / CAST(n AS DOUBLE) + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS a2_star, (round((-CAST(n AS DOUBLE) - (sa + sb) / CAST(n AS DOUBLE)) * (1.0 + 0.75 / CAST(n AS DOUBLE) + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) > 0.787) AS reject_normal_05 FROM ag ORDER BY n_name"""))

  /** Difference-in-differences ([[graft.operators.Drift.diffInDiff]]):
    * error-rate effect of a hash-assigned "treatment" net of both the
    * group level gap and the common time shock — the quasi-experimental
    * readout q283's randomized z-test can't give on observational
    * splits.
    */
  private def q630(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events").select(col("user_id"),
      expr("ts div 1000000000").as("sec"),
      (col("event_type") === "error").cast("long").as("y"))
    val mid = e.agg(expr("(min(sec) + max(sec)) div 2").as("mid"))
    graft.operators.Drift.diffInDiff(
      e.crossJoin(broadcast(mid)),
      pmod(conv(substring(md5(concat(lit("dd:"),
        col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
        lit(2)) === 1L,
      col("sec") > col("mid"),
      col("y"))
  }

  // md5 treatment split, midpoint period split, four-cell census,
  // pooled binomial SE
  query("q630_did", q630)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y FROM events), m AS (SELECT (MIN(sec) + MAX(sec)) // 2 AS mid FROM e), r AS (SELECT CAST(concat('0x', substr(md5(concat('dd:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 1 AS tr, sec > (SELECT mid FROM m) AS po, y FROM e), cen AS (SELECT CAST(SUM(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n11, CAST(SUM(CASE WHEN tr AND po THEN y ELSE 0 END) AS BIGINT) AS e11, CAST(SUM(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n10, CAST(SUM(CASE WHEN tr AND NOT po THEN y ELSE 0 END) AS BIGINT) AS e10, CAST(SUM(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n01, CAST(SUM(CASE WHEN NOT tr AND po THEN y ELSE 0 END) AS BIGINT) AS e01, CAST(SUM(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n00, CAST(SUM(CASE WHEN NOT tr AND NOT po THEN y ELSE 0 END) AS BIGINT) AS e00 FROM r), p AS (SELECT *, CAST(e11 AS DOUBLE) / CAST(n11 AS DOUBLE) AS p11, CAST(e10 AS DOUBLE) / CAST(n10 AS DOUBLE) AS p10, CAST(e01 AS DOUBLE) / CAST(n01 AS DOUBLE) AS p01, CAST(e00 AS DOUBLE) / CAST(n00 AS DOUBLE) AS p00 FROM cen), q AS (SELECT *, (p11 - p10) - (p01 - p00) AS did, sqrt(p11 * (1.0 - p11) / CAST(n11 AS DOUBLE) + p10 * (1.0 - p10) / CAST(n10 AS DOUBLE) + p01 * (1.0 - p01) / CAST(n01 AS DOUBLE) + p00 * (1.0 - p00) / CAST(n00 AS DOUBLE)) AS se, n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0 AS ok FROM p) SELECT n11, n10, n01, n00, CASE WHEN ok THEN round(p10, 6) END AS rate_treat_pre, CASE WHEN ok THEN round(p11, 6) END AS rate_treat_post, CASE WHEN ok THEN round(p00, 6) END AS rate_ctrl_pre, CASE WHEN ok THEN round(p01, 6) END AS rate_ctrl_post, CASE WHEN ok THEN round(did, 6) END AS did, CASE WHEN ok AND se > 0.0 THEN round(se, 6) END AS se, CASE WHEN ok AND se > 0.0 THEN round(did / se, 6) END AS z FROM q"""))

  /** Upper tail dependence ([[graft.operators.Drift.tailDependence]]):
    * do price and quantity extremes CO-OCCUR on line items —
    * λ_U = P(price > p_q | qty > q_q) at 90/95/99, the co-extremes
    * question q83's body-dominated correlation answers wrong.
    */
  private def q556(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.tailDependence(
      T(s, dir, "lineitem").select(
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty")),
      "price_cents", "qty", Seq(90, 95, 99))

  // exact ceiling-rank thresholds on both marginal censuses, one
  // conditional exceedance pass with the percentile spine broadcast
  query("q556_tail_dependence", q556)(Sql(
    """WITH b AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x, CAST(l_quantity AS BIGINT) AS y FROM lineitem), qs AS (SELECT CAST(unnest([90, 95, 99]) AS BIGINT) AS pct), px AS (SELECT v, SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, SUM(t) OVER () AS n FROM (SELECT x AS v, COUNT(*) AS t FROM b GROUP BY 1)), tx AS (SELECT pct, MIN(CASE WHEN cw >= (pct * n + 99) // 100 THEN v END) AS tx FROM px, qs GROUP BY pct), py AS (SELECT v, SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, SUM(t) OVER () AS n FROM (SELECT y AS v, COUNT(*) AS t FROM b GROUP BY 1)), ty AS (SELECT pct, MIN(CASE WHEN cw >= (pct * n + 99) // 100 THEN v END) AS ty FROM py, qs GROUP BY pct), th AS (SELECT tx.pct, tx.tx, ty.ty FROM tx JOIN ty ON tx.pct = ty.pct) SELECT th.pct, th.tx AS x_thresh, th.ty AS y_thresh, CAST(SUM(CASE WHEN b.y > th.ty THEN 1 ELSE 0 END) AS BIGINT) AS n_y_exceed, CAST(SUM(CASE WHEN b.x > th.tx AND b.y > th.ty THEN 1 ELSE 0 END) AS BIGINT) AS n_joint, CASE WHEN SUM(CASE WHEN b.y > th.ty THEN 1 ELSE 0 END) > 0 THEN round(CAST(SUM(CASE WHEN b.x > th.tx AND b.y > th.ty THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(CASE WHEN b.y > th.ty THEN 1 ELSE 0 END) AS DOUBLE), 6) END AS lambda_u FROM b, th GROUP BY 1, 2, 3 ORDER BY 1"""))

  /** Meta-analysis across strata ([[graft.operators.Drift
    * .metaAnalysis]]): is the q551 effect ONE effect measured five times
    * or five different effects — Cochran's Q, I², DL τ², and the
    * random-effects re-pool over the per-priority arm effects.
    */
  private def q552(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.metaAnalysis(
      T(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
        (pmod(conv(substring(md5(concat(lit("att:"),
          col("o_orderkey").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2L)) === 0L).as("isa")),
      "o_orderpriority", col("isa"), "cents")

  // per-stratum (d, var) pairs packed stratum-sorted; every sum folds
  // sequentially (inverse-variance weights live below any usable grid)
  query("q552_meta_analysis", q552)(Sql(
    """WITH e AS (SELECT o_orderpriority AS s, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, CAST(concat('0x', substr(md5(concat('att:', CAST(o_orderkey AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa FROM orders), cen AS (SELECT s, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n0, SUM(CASE WHEN isa THEN CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1, SUM(CASE WHEN NOT isa THEN CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s0, SUM(CASE WHEN isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss1, SUM(CASE WHEN NOT isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss0 FROM e GROUP BY 1), fl AS (SELECT s, round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE), 3) AS d, round((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE) + (CAST(n0 AS DOUBLE) * CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE), 3) AS vv FROM cen WHERE n1 > 1 AND n0 > 1), ar AS (SELECT list(struct_pack(d := d, vv := vv) ORDER BY s) AS rows FROM fl WHERE vv > 0.0), sm AS (SELECT CAST(len(rows) AS BIGINT) AS k, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(rows, x -> 1.0 / x.vv)), (a, b) -> a + b) AS sw, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(rows, x -> x.d / x.vv)), (a, b) -> a + b) AS swd, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(rows, x -> x.d * x.d / x.vv)), (a, b) -> a + b) AS swd2, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(rows, x -> 1.0 / x.vv / x.vv)), (a, b) -> a + b) AS sw2, rows FROM ar), f2 AS (SELECT k, sw, swd, swd2, sw2, rows, greatest(((swd2 - swd * swd / sw) - (CAST(k AS DOUBLE) - 1.0)) / (sw - sw2 / sw), 0.0) AS t FROM sm) SELECT k, round(swd / sw, 6) AS d_fixed, round(swd2 - swd * swd / sw, 6) AS q_stat, round(greatest(((swd2 - swd * swd / sw) - (CAST(k AS DOUBLE) - 1.0)) / (swd2 - swd * swd / sw), 0.0), 6) AS i2, round(t, 6) AS tau2, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(rows, x -> x.d / (x.vv + t))), (a, b) -> a + b) / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(rows, x -> 1.0 / (x.vv + t))), (a, b) -> a + b), 6) AS d_random, round(sqrt(1.0 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(rows, x -> 1.0 / (x.vv + t))), (a, b) -> a + b)), 6) AS se_random FROM f2"""))

  /** Stratified ATT ([[graft.operators.Drift.strataAtt]]): the effect ON
    * THE TREATED under priority-stratum adjustment, with treated-share
    * weights (the estimand q462's population weights don't give) and the
    * stratified SE — unmatchable strata drop with their mass reported.
    */
  private def q551(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.strataAtt(
      T(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
        (pmod(conv(substring(md5(concat(lit("att:"),
          col("o_orderkey").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2L)) === 0L).as("isa")),
      "o_orderpriority", col("isa"), "cents")

  // per-stratum conditional moments, treated-share weights, grid terms
  query("q551_strata_att", q551)(Sql(
    """WITH e AS (SELECT o_orderpriority AS s, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, CAST(concat('0x', substr(md5(concat('att:', CAST(o_orderkey AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa FROM orders), cen AS (SELECT s, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n0, SUM(CASE WHEN isa THEN CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1, SUM(CASE WHEN NOT isa THEN CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s0, SUM(CASE WHEN isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss1, SUM(CASE WHEN NOT isa THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss0 FROM e GROUP BY 1), us AS (SELECT * FROM cen WHERE n1 > 0 AND n0 > 0), dr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_dropped, CAST(COALESCE(SUM(n1), 0) AS BIGINT) AS treated_dropped FROM cen WHERE NOT (n1 > 0 AND n0 > 0)), st AS (SELECT n1, CAST(round(CAST(n1 AS DOUBLE) / CAST(SUM(n1) OVER () AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS at, CAST(CASE WHEN n1 > 1 AND n0 > 1 THEN round(CAST(n1 AS DOUBLE) / CAST(SUM(n1) OVER () AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(SUM(n1) OVER () AS DOUBLE)) * ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE) + (CAST(n0 AS DOUBLE) * CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE)), 6) END AS DECIMAL(28,6)) AS sterm FROM us), ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_used, CAST(SUM(n1) AS BIGINT) AS n_treated, CAST(SUM(at) AS DOUBLE) AS a, CAST(SUM(sterm) AS DOUBLE) AS ssum, SUM(CASE WHEN sterm IS NULL THEN 1 ELSE 0 END) AS bad FROM st) SELECT ag.n_strata_used, dr.n_strata_dropped, ag.n_treated, dr.treated_dropped, round(ag.a, 6) AS att, CASE WHEN ag.bad = 0 THEN round(sqrt(ag.ssum), 6) END AS se, CASE WHEN ag.bad = 0 AND round(sqrt(ag.ssum), 6) > 0.0 THEN round(round(ag.a, 6) / round(sqrt(ag.ssum), 6), 6) END AS z FROM ag, dr"""))

  /** Theil's U ([[graft.operators.Drift.theilsU]]): the DIRECTIONAL
    * priority↔status association — U(X|Y) vs U(Y|X), the asymmetry
    * q425's Cramér's V and q256's MI can't express.
    */
  private def q544(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.theilsU(
      T(s, dir, "orders").select(col("o_orderpriority"),
        col("o_orderstatus")),
      "o_orderpriority", "o_orderstatus")

  // directional uncertainty coefficients from the q256 ln-term censuses
  query("q544_theils_u", q544)(Sql(
    """WITH j AS (SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS n_xy FROM orders GROUP BY 1, 2), jj AS (SELECT x, y, n_xy, SUM(n_xy) OVER (PARTITION BY x) AS n_x, SUM(n_xy) OVER (PARTITION BY y) AS n_y, SUM(n_xy) OVER () AS n FROM j), mi AS (SELECT CAST(SUM(CAST(round(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 9) AS DECIMAL(18,9))) AS DOUBLE) AS mi FROM jj), hx AS (SELECT CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 9) AS DECIMAL(18,9))) AS DOUBLE) AS h_x FROM (SELECT COUNT(*) AS c, SUM(COUNT(*)) OVER () AS n FROM orders GROUP BY o_orderpriority)), hy AS (SELECT CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 9) AS DECIMAL(18,9))) AS DOUBLE) AS h_y FROM (SELECT COUNT(*) AS c, SUM(COUNT(*)) OVER () AS n FROM orders GROUP BY o_orderstatus)) SELECT round(mi.mi, 9) AS mi, round(hx.h_x, 9) AS h_x, round(hy.h_y, 9) AS h_y, CASE WHEN hx.h_x > 0.0 THEN round(mi.mi / hx.h_x, 6) END AS u_x_given_y, CASE WHEN hy.h_y > 0.0 THEN round(mi.mi / hy.h_y, 6) END AS u_y_given_x FROM mi, hx, hy"""))

  /** Exact Wasserstein-1 ([[graft.operators.Drift.wasserstein1]]):
    * transport distance between urgent and low order totals — how much
    * mass must move how far, beside q385's KS supremum and q470's CvM.
    */
  private def q541(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.wasserstein1(
      T(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
          (col("o_orderpriority") === "1-URGENT").as("isa")),
      "cents", col("isa"))

  // value census, CDF gap terms normalized by the domain range
  query("q541_wasserstein", q541)(Sql(
    """WITH e AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, o_orderpriority = '1-URGENT' AS isa FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')), cen AS (SELECT v, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ta, CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS tb FROM e GROUP BY v), st AS (SELECT v, SUM(ta) OVER cw AS ca, SUM(tb) OVER cw AS cb, SUM(ta) OVER () AS na, SUM(tb) OVER () AS nb, MAX(v) OVER () - MIN(v) OVER () AS rng, LEAD(v) OVER (ORDER BY v) - v AS gap FROM cen WINDOW cw AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), tm AS (SELECT na, nb, rng, CAST(round(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) * CAST(gap AS DOUBLE) / CAST(rng AS DOUBLE), 9) AS DECIMAL(28,9)) AS term FROM st WHERE gap IS NOT NULL) SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b, CAST(MAX(rng) AS BIGINT) AS v_range, round(CAST(SUM(term) AS DOUBLE), 9) AS w1_norm, round(CAST(SUM(term) AS DOUBLE) * CAST(MAX(rng) AS DOUBLE), 6) AS w1 FROM tm"""))

  /** James–Stein shrinkage ([[graft.operators.Drift.jamesStein]]): each
    * nation's mean balance partially pooled toward the grand mean with
    * the empirical-Bayes factor read off the q458 one-way decomposition
    * — the fix for "the smallest nation tops the leaderboard".
    */
  private def q538(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.jamesStein(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents")),
      "n_name", "cents")

  // the q458 decomposition ratios drive the shrink factor; means are
  // exact integer/count divisions
  query("q538_james_stein", q538)(Sql(
    """WITH e AS (SELECT n.n_name AS g, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v FROM customer JOIN nation n ON c_nationkey = n_nationkey), pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g, SUM(CAST(v AS DECIMAL(38,0))) AS s_g, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS ss_g FROM e GROUP BY g), pt AS (SELECT *, CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6)) AS term FROM pg), m AS (SELECT CAST(SUM(n_g) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS k, SUM(s_g) AS s, SUM(ss_g) AS ss, SUM(term) AS tsum, SUM(CAST(n_g AS DECIMAL(38,0)) * n_g) AS sn2 FROM pt), f AS (SELECT nn, s, CAST(nn AS DOUBLE) AS n, CAST(k AS DOUBLE) AS kd, CAST(tsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) AS ssb, CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) AS sst, CAST(sn2 AS DOUBLE) AS sn2d FROM m), f2 AS (SELECT nn, s, CASE WHEN (sst - ssb) / (n - kd) <> 0.0 THEN (ssb / (kd - 1.0)) / ((sst - ssb) / (n - kd)) END AS ff, round((n - sn2d / n) / (kd - 1.0), 9) AS n0 FROM f), jg AS (SELECT pg.g, pg.n_g, CAST(pg.s_g AS DOUBLE) / CAST(pg.n_g AS DOUBLE) AS xg, CAST(f2.s AS DOUBLE) / CAST(f2.nn AS DOUBLE) AS xbar, CASE WHEN f2.ff IS NOT NULL THEN CAST(pg.n_g AS DOUBLE) * greatest(f2.ff - 1.0, 0.0) / (f2.n0 + CAST(pg.n_g AS DOUBLE) * greatest(f2.ff - 1.0, 0.0)) END AS lam FROM pg, f2) SELECT g, n_g AS n, round(xg, 6) AS raw_mean, round(lam, 6) AS lambda, round(xbar + lam * (xg - xbar), 6) AS shrunk_mean FROM jg ORDER BY g"""))

  /** Benjamini–Yekutieli gate ([[graft.operators.Drift.byFdr]]) over
    * q420's per-nation Welch-z p family: FDR control valid under
    * ARBITRARY dependence (the harmonic-shrunk critical line) — the
    * conservative sibling completing the BH (q420) / Holm (q512) /
    * q-value (q524) multiplicity shelf.
    */
  private def q537(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val c = T(s, dir, "customer")
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("cents"))
    val cts = col("cents").cast(d38)
    val g = c.groupBy(col("n_name")).agg(count(lit(1)).as("na"),
      sum(cts).as("sa"), sum(cts * cts).as("saa"))
    val t = c.agg(count(lit(1)).as("nt"), sum(cts).as("st"),
      sum(cts * cts).as("stt"))
    def dbl(x: Column): Column = x.cast("double")
    val j = g.crossJoin(broadcast(t)).select(col("n_name"), col("na"),
      dbl(col("sa")).as("saD"), dbl(col("saa")).as("saaD"),
      (col("nt") - col("na")).as("nb"),
      dbl(col("st") - col("sa")).as("sbD"),
      dbl(col("stt") - col("saa")).as("sbbD"))
    val na = dbl(col("na"))
    val nb = dbl(col("nb"))
    val va = (na * col("saaD") - col("saD") * col("saD")) /
      (na * (na - 1.0))
    val vb = (nb * col("sbbD") - col("sbD") * col("sbD")) /
      (nb * (nb - 1.0))
    val z = (col("saD") / na - col("sbD") / nb) / sqrt(va / na + vb / nb)
    val withP = j.select(col("n_name"), round(z, 6).as("zr"),
      round(graft.operators.Drift.normalTailP2(z), 9).as("p"))
    graft.operators.Drift
      .byFdr(withP.select(col("n_name"), col("p")), "n_name", "p", 0.05)
      .join(withP.select(col("n_name").as("k"), col("zr")), Seq("k"))
      .select(col("k").as("nation"), col("zr").as("z"), col("p"),
        col("p_rank"), col("h_m"), col("by_crit"), col("rejected"))
      .orderBy(col("p_rank"))
  }

  // the q420 family under the harmonic-shrunk BY critical line
  query("q537_by_fdr", q537)(Sql(
    """WITH c AS (SELECT n.n_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM customer JOIN nation n ON c_nationkey = n_nationkey), g AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS na, SUM(CAST(cents AS DECIMAL(38,0))) AS sa, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS saa FROM c GROUP BY 1), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt, SUM(CAST(cents AS DECIMAL(38,0))) AS st, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS stt FROM c), j AS (SELECT n_name, na, CAST(sa AS DOUBLE) AS saD, CAST(saa AS DOUBLE) AS saaD, nt - na AS nb, CAST(st - sa AS DOUBLE) AS sbD, CAST(stt - saa AS DOUBLE) AS sbbD FROM g, t), zc AS (SELECT n_name, (saD / CAST(na AS DOUBLE) - sbD / CAST(nb AS DOUBLE)) / sqrt(((CAST(na AS DOUBLE) * saaD - saD * saD) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE) + ((CAST(nb AS DOUBLE) * sbbD - sbD * sbD) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE)) AS z FROM j), pt AS (SELECT n_name, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zc), pp AS (SELECT n_name, round(z, 6) AS zr, round(2.0 * 0.3989422804014327 * exp(-(abs(z) * abs(z)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt, 9) AS p FROM pt), bh AS (SELECT n_name, zr, p, CAST(ROW_NUMBER() OVER (ORDER BY p, n_name) AS BIGINT) AS r, CAST(COUNT(*) OVER () AS BIGINT) AS m FROM pp), hh AS (SELECT n_name, zr, p, r, m, CAST(SUM(CAST(round(1.0 / CAST(r AS DOUBLE), 9) AS DECIMAL(18,9))) OVER () AS DOUBLE) AS hm FROM bh), km AS (SELECT MAX(CASE WHEN p * CAST(m AS DOUBLE) * hm <= CAST(r AS DOUBLE) * 0.05 THEN r END) AS kmax FROM hh) SELECT n_name AS nation, zr AS z, p, r AS p_rank, round(hm, 9) AS h_m, round(CAST(r AS DOUBLE) * 0.05 / (CAST(m AS DOUBLE) * hm), 9) AS by_crit, (km.kmax IS NOT NULL AND r <= km.kmax) AS rejected FROM hh, km ORDER BY p_rank"""))

  /** Fleiss' kappa ([[graft.operators.Drift.fleissKappa]]): each user's
    * first three events (by time, then id) are three "ratings" of the
    * category event_type — multi-rater agreement on what a user does,
    * beside q447's two-rater Cohen κ. Users with fewer than three events
    * are excluded so the fixed-panel contract holds.
    */
  private def q532(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val cw = Window.partitionBy(col("user_id"))
    val first3 = T(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000000000").cast("long").as("sec"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(cw))
      .filter(col("__rn") <= 3 && col("__cnt") >= 3)
    graft.operators.Drift.fleissKappa(first3, "user_id", "event_type", n = 3)
  }

  // first-3-events panel, (item, category) census, pooled-share chance
  query("q532_fleiss_kappa", q532)(Sql(
    """WITH e AS (SELECT user_id, event_type, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), r AS (SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn, COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM e), f AS (SELECT user_id, event_type FROM r WHERE rn <= 3 AND cnt >= 3), cells AS (SELECT user_id AS i, event_type AS j, COUNT(*) AS nij FROM f GROUP BY 1, 2), per AS (SELECT i, SUM(nij) AS ni, SUM(nij * nij) AS sq FROM cells GROUP BY 1), st AS (SELECT COUNT(*) AS N, SUM(sq) AS sumsq FROM per), pj AS (SELECT j, SUM(nij) AS cj FROM cells GROUP BY 1), pe AS (SELECT SUM(CAST(round((CAST(cj AS DOUBLE) / (CAST(N AS DOUBLE) * 3.0)) * (CAST(cj AS DOUBLE) / (CAST(N AS DOUBLE) * 3.0)), 9) AS DECIMAL(28,9))) AS pev FROM pj, st) SELECT CAST(st.N AS BIGINT) AS n_items, CAST(3 AS BIGINT) AS n_raters, round((CAST(st.sumsq AS DOUBLE) - CAST(st.N AS DOUBLE) * 3.0) / (CAST(st.N AS DOUBLE) * 3.0 * 2.0), 9) AS p_bar, round(CAST(pe.pev AS DOUBLE), 9) AS p_e, round(((CAST(st.sumsq AS DOUBLE) - CAST(st.N AS DOUBLE) * 3.0) / (CAST(st.N AS DOUBLE) * 3.0 * 2.0) - CAST(pe.pev AS DOUBLE)) / (1.0 - CAST(pe.pev AS DOUBLE)), 6) AS kappa FROM st, pe"""))

  /** Intraclass correlation ICC(1) ([[graft.operators.Drift.icc]]): how
    * much of the order-price spread is BETWEEN priorities — the design
    * effect / clustering number read off the same one-way decomposition
    * as q408's ANOVA; unbalanced-design n₀, pinned finishes.
    */
  private def q458(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.icc(
      T(s, dir, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        col("o_orderpriority")),
      "cents", "o_orderpriority")

  // the q408 decomposition read as a variance share; unbalanced n0
  query("q458_icc", q458)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g, SUM(CAST(v AS DECIMAL(38,0))) AS s_g, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS ss_g FROM e GROUP BY g), pt AS (SELECT *, CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6)) AS term FROM pg), m AS (SELECT CAST(SUM(n_g) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS k, SUM(s_g) AS s, SUM(ss_g) AS ss, SUM(term) AS tsum, SUM(CAST(n_g AS DECIMAL(38,0)) * n_g) AS sn2 FROM pt), f AS (SELECT k, nn, CAST(nn AS DOUBLE) AS n, CAST(k AS DOUBLE) AS kd, CAST(tsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) AS ssb, CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) AS sst, CAST(sn2 AS DOUBLE) AS sn2d FROM m), f2 AS (SELECT k, nn, ssb / (kd - 1.0) AS msb, (sst - ssb) / (n - kd) AS msw, (n - sn2d / n) / (kd - 1.0) AS n0 FROM f) SELECT k, nn AS n, round(CASE WHEN msw <> 0.0 THEN msb / msw END, 6) AS ms_ratio, round(n0, 6) AS n0, round(CASE WHEN msb + (n0 - 1.0) * msw <> 0.0 THEN (msb - msw) / (msb + (n0 - 1.0) * msw) END, 6) AS icc FROM f2"""))

  /** Pairwise Jensen–Shannon divergence matrix
    * ([[graft.operators.Drift.jsdMatrix]]): how different every pair of
    * event types' hour-of-day profiles is on the symmetric bounded
    * [0, ln 2] scale — the all-pairs distribution-similarity table for
    * mixing/shift decisions (q23's PSI compares exactly two slices);
    * ln over exact integer cross-ratios on the 1e-9 grid.
    */
  private def q455(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.jsdMatrix(
      T(s, dir, "events").select(col("event_type"),
        pmod(expr("(ts div 1000000000) div 3600"), lit(24L)).as("hod")),
      "event_type", "hod")
      .orderBy(col("ka"), col("kb"))

  // ln over exact integer cross-ratios (the q256 MI discipline);
  // per-cell terms on the 1e-9 grid, decimal-summed per pair
  query("q455_jsd_matrix", q455)(Sql(jsdSql))

  /** Covariate balance ([[graft.operators.Drift.covariateBalance]]):
    * standardized mean differences of per-user activity covariates
    * across a deterministic 50/50 split — the covariate-MIX health check
    * beside q390's count-level SRM; exact moments, |SMD| < 0.1 flags.
    */
  private def q453(s: SparkSession, dir: String): DataFrame = {
    val users = T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
          .as("cents"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
    graft.operators.Drift.covariateBalance(users,
        pmod(col("user_id"), lit(2L)) === 0L,
        Seq("n_events", "cents", "n_purchases"))
      .orderBy(col("cov"))
  }

  // melted covariates, exact side moments, pinned SMD per covariate
  query("q453_covariate_balance", q453)(Sql(
    """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents, CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases FROM events GROUP BY 1), mel AS (SELECT 'n_events' AS cov, user_id % 2 = 0 AS t, n_events AS v FROM u UNION ALL SELECT 'cents', user_id % 2 = 0, cents FROM u UNION ALL SELECT 'n_purchases', user_id % 2 = 0, n_purchases FROM u), m AS (SELECT cov, CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt, CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS nc, SUM(CASE WHEN t THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS st, SUM(CASE WHEN NOT t THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS sc, SUM(CASE WHEN t THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS sst, SUM(CASE WHEN NOT t THEN CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS ssc FROM mel GROUP BY cov), f AS (SELECT cov, nt, nc, CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS mt, CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS mc, (CAST(nt AS DOUBLE) * CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0)) AS vt, (CAST(nc AS DOUBLE) * CAST(ssc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / (CAST(nc AS DOUBLE) * (CAST(nc AS DOUBLE) - 1.0)) AS vc FROM m), f2 AS (SELECT *, sqrt((vt + vc) / 2.0) AS pooled FROM f) SELECT cov, nt, nc, round(mt, 6) AS mean_t, round(mc, 6) AS mean_c, round(CASE WHEN pooled > 0.0 THEN (mt - mc) / pooled END, 6) AS smd, CASE WHEN pooled > 0.0 THEN abs((mt - mc) / pooled) < 0.1 END AS balanced FROM f2 ORDER BY cov"""))

  /** Cohen's kappa ([[graft.operators.Drift.cohenKappa]]):
    * chance-corrected agreement between the "urgent/high priority" and
    * "fulfilled status" flags — how much the two binary signals agree
    * beyond what their base rates force; pure-integer cross-multiplied
    * κ, one pinned division.
    */
  private def q447(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.cohenKappa(
      T(s, dir, "orders"),
      expr("substring(o_orderpriority, 1, 1) IN ('1','2')"),
      col("o_orderstatus") === "F")

  // cross-multiplied kappa over the 2×2 census — pure integers
  query("q447_cohen_kappa", q447)(Sql(
    """WITH e AS (SELECT substr(o_orderpriority, 1, 1) IN ('1', '2') AS r1, o_orderstatus = 'F' AS r2 FROM orders), c AS (SELECT CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS a, CAST(SUM(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS b, CAST(SUM(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS c, CAST(SUM(CASE WHEN NOT r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS d FROM e), t AS (SELECT *, a + b + c + d AS n FROM c), k AS (SELECT *, CAST(a + b AS DECIMAL(38,0)) * (a + c) + CAST(c + d AS DECIMAL(38,0)) * (b + d) AS pe2 FROM t) SELECT a, b, c, d, n, round(CAST(a + d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed, round(CASE WHEN CAST(n AS DECIMAL(38,0)) * n - pe2 <> 0 THEN CAST(CAST(n AS DECIMAL(38,0)) * (a + d) - pe2 AS DOUBLE) / CAST(CAST(n AS DECIMAL(38,0)) * n - pe2 AS DOUBLE) END, 6) AS kappa FROM k"""))

  /** Wald–Wolfowitz runs test ([[graft.operators.Drift.runsTest]]): is
    * each event type's hourly above-mean/below-mean sequence RANDOM or
    * does it cluster into regimes — the order-sensitive complement of
    * the distribution tests; the flag is the exact integer compare
    * v·n > S, runs counted in one lag pass, pinned Z.
    */
  private def q448(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000000000) div 3600").as("hid"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    val wk = Window.partitionBy(col("event_type"))
    val flagged = hourly
      .withColumn("nk", count(lit(1)).over(wk))
      .withColumn("sk", sum(col("cents")).over(wk))
      .select(col("event_type"), col("hid"),
        (col("cents") * col("nk") > col("sk")).as("above"))
    graft.operators.Drift.runsTest(flagged, "event_type", "hid",
        col("above"))
      .orderBy(col("k"))
  }

  // exact above-mean flags (v·n > S), one lag pass, pinned moments
  query("q448_runs_test", q448)(Sql(
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), f AS (SELECT event_type AS k, hid AS t, CASE WHEN v * (COUNT(*) OVER (PARTITION BY event_type)) > (SUM(v) OVER (PARTITION BY event_type)) THEN 1 ELSE 0 END AS xi FROM h), r AS (SELECT k, t, xi, CASE WHEN LAG(xi) OVER (PARTITION BY k ORDER BY t) IS NULL OR LAG(xi) OVER (PARTITION BY k ORDER BY t) <> xi THEN 1 ELSE 0 END AS nw FROM f), a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xi) AS BIGINT) AS n1, CAST(SUM(nw) AS BIGINT) AS runs FROM r GROUP BY k), a2 AS (SELECT *, n - n1 AS n0, CAST(2 AS DECIMAL(38,0)) * n1 * (n - n1) AS p FROM a) SELECT k, n, n1, n0, runs, round(CAST(p AS DOUBLE) / CAST(n AS DOUBLE) + 1.0, 6) AS expected_runs, round(CASE WHEN n1 > 0 AND n0 > 0 AND n > 1 THEN (CAST(runs AS DOUBLE) - (CAST(p AS DOUBLE) / CAST(n AS DOUBLE) + 1.0)) / sqrt(CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) - CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END, 6) AS z FROM a2 ORDER BY k"""))

  /** Cronbach's alpha ([[graft.operators.Drift.cronbachAlpha]]): do the
    * five event types' daily volumes measure ONE underlying activity
    * level — the internal-consistency gate before averaging them into a
    * composite health score; items = types, observations = days
    * (zero-filled spine), variance numerators pure integers to one
    * pinned α.
    */
  private def q444(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "events")
      .select(expr("(ts div 1000000000) div 86400").as("day"),
        col("event_type"))
    val counts = e.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val spine = e.select(col("day")).distinct()
      .crossJoin(broadcast(e.select(col("event_type")).distinct()))
    val full = spine.join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("x"))
    graft.operators.Drift.cronbachAlpha(full, "day", "event_type", "x")
      .orderBy(col("i"))
  }

  // shared n(n−1) denominators cancel: integer variance numerators
  // to ONE pinned alpha; zero-filled (day × type) spine
  query("q444_cronbach_alpha", q444)(Sql(
    """WITH e AS (SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, event_type FROM events), cnt AS (SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), sp AS (SELECT d.day, t.event_type FROM (SELECT DISTINCT day FROM e) d, (SELECT DISTINCT event_type FROM e) t), fl AS (SELECT sp.day AS o, sp.event_type AS i, COALESCE(cnt.n, 0) AS x FROM sp LEFT JOIN cnt ON sp.day = cnt.day AND sp.event_type = cnt.event_type), pi AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS s, SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx FROM fl GROUP BY i), pv AS (SELECT *, CAST(n AS DECIMAL(38,0)) * sxx - s * s AS vnum FROM pi), to1 AS (SELECT o, SUM(CAST(x AS DECIMAL(38,0))) AS t FROM fl GROUP BY o), tm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_obs, SUM(t) AS st, SUM(t * t) AS stt FROM to1), t2 AS (SELECT CAST(n_obs AS DECIMAL(38,0)) * stt - st * st AS tnum FROM tm), kk AS (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS k, SUM(vnum) AS svnum FROM pv) SELECT pv.i, pv.n, round(CAST(vnum AS DOUBLE) / (CAST(pv.n AS DOUBLE) * (CAST(pv.n AS DOUBLE) - 1.0)), 6) AS var_i, round(CASE WHEN t2.tnum > 0 THEN CAST(kk.k AS DOUBLE) / (CAST(kk.k AS DOUBLE) - 1.0) * (1.0 - CAST(kk.svnum AS DOUBLE) / CAST(t2.tnum AS DOUBLE)) END, 6) AS alpha FROM pv, t2, kk ORDER BY pv.i"""))

  /** MDE report ([[graft.operators.Drift.mdeReport]]): the minimum
    * detectable effect of a 50/50 two-sample test per event type at
    * current traffic — the pre-experiment power table every A/B
    * platform publishes; pinned z literals (5% two-sided / 80% power),
    * exact-moment variance, one pinned finish.
    */
  private def q445(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.mdeReport(
      T(s, dir, "events").select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents")),
      "event_type", "cents")
      .orderBy(col("g"))

  // pinned z literals summed as the SAME two literals on both engines
  query("q445_mde_report", q445)(Sql(
    """WITH e AS (SELECT event_type AS g, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events), m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(v AS DECIMAL(38,0))) AS s, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS sxx FROM e GROUP BY g), f AS (SELECT g, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS variance FROM m WHERE n >= 2), f2 AS (SELECT *, (1.959964 + 0.841621) * sqrt(variance) * sqrt(2.0 / (CAST(n AS DOUBLE) / 2.0)) AS mde FROM f) SELECT g, n, round(mean, 6) AS mean, round(variance, 6) AS variance, round(mde, 6) AS mde_abs, round(CASE WHEN mean <> 0.0 THEN mde / mean END, 6) AS mde_rel FROM f2 ORDER BY g"""))

  /** Post-hoc pairwise Welch contrasts gated by BH-FDR (composition:
    * [[graft.operators.Drift.pairwiseWelch]] × q420's
    * [[graft.operators.Drift.bhFdr]]): after q408's ANOVA says the
    * priority groups differ, WHICH pairs differ — all 10 contrasts from
    * one moment pass, pinned-polynomial p-values, step-up gate at
    * α = 0.05.
    */
  private def q442(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"),
      col("o_orderpriority"))
    val pw = graft.operators.Drift.pairwiseWelch(o, "cents",
        "o_orderpriority")
      .withColumn("pair", concat_ws("|", col("ga"), col("gb")))
    val bh = graft.operators.Drift.bhFdr(
      pw.select(col("pair"), col("p")), "pair", "p", 0.05)
    pw.join(bh.select(col("k").as("pair"), col("p_rank"), col("bh_crit"),
        col("rejected")), "pair")
      .select(col("ga"), col("gb"), col("t_stat"), col("p"),
        col("p_rank"), col("bh_crit"), col("rejected"))
      .orderBy(col("p_rank"))
  }

  // one moment pass, k²/2 pair frame, the q420 polynomial + step-up
  query("q442_pairwise_welch", q442)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(v AS DECIMAL(38,0))) AS s, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS ss FROM e GROUP BY g), pr AS (SELECT a.g AS ga, b.g AS gb, CAST(a.n AS DOUBLE) AS na, CAST(b.n AS DOUBLE) AS nb, CAST(a.s AS DOUBLE) AS sa, CAST(b.s AS DOUBLE) AS sb, CAST(a.ss AS DOUBLE) AS saa, CAST(b.ss AS DOUBLE) AS sbb FROM m a JOIN m b ON a.g < b.g), tz AS (SELECT ga, gb, (sa / na - sb / nb) / sqrt(((na * saa - sa * sa) / (na * (na - 1.0))) / na + ((nb * sbb - sb * sb) / (nb * (nb - 1.0))) / nb) AS t FROM pr), pt AS (SELECT ga, gb, t, 1.0 / (1.0 + 0.2316419 * abs(t)) AS tt FROM tz), pp AS (SELECT ga, gb, round(t, 6) AS t_stat, round(2.0 * 0.3989422804014327 * exp(-(abs(t) * abs(t)) / 2.0) * ((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt - 0.356563782) * tt + 0.319381530) * tt, 9) AS p FROM pt), bh AS (SELECT *, ga || '|' || gb AS pair FROM pp), r1 AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p, pair) AS BIGINT) AS p_rank, CAST(COUNT(*) OVER () AS BIGINT) AS m FROM bh), km AS (SELECT MAX(CASE WHEN p * CAST(m AS DOUBLE) <= CAST(p_rank AS DOUBLE) * 0.05 THEN p_rank END) AS kmax FROM r1) SELECT ga, gb, t_stat, p, p_rank, round(CAST(p_rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE), 9) AS bh_crit, (km.kmax IS NOT NULL AND p_rank <= km.kmax) AS rejected FROM r1, km ORDER BY p_rank"""))

  /** Mantel–Haenszel pooled odds ratio + CMH χ²
    * ([[graft.operators.Drift.mantelHaenszel]]): is URGENT/HIGH priority
    * associated with fulfilled status once the order YEAR is held fixed
    * — the stratified 2×2 effect readout a flat table confounds when
    * year mix and baseline both drift; per-stratum terms on the 1e-9
    * grid, two pinned ratios.
    */
  private def q443(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.mantelHaenszel(
      T(s, dir, "orders").select(
        year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority"), col("o_orderstatus")),
      "yr",
      expr("substring(o_orderpriority, 1, 1) IN ('1','2')"),
      col("o_orderstatus") === "F")
      .orderBy(col("stratum"))

  // per-stratum 2×2 terms on the 1e-9 grid, decimal-summed; two
  // pinned ratios (no continuity correction, as documented)
  query("q443_mantel_haenszel", q443)(Sql(
    """WITH e AS (SELECT CAST(year(o_orderdate) AS VARCHAR) AS stratum, substr(o_orderpriority, 1, 1) IN ('1', '2') AS ex, o_orderstatus = 'F' AS oc FROM orders), cl AS (SELECT stratum, CAST(SUM(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS BIGINT) AS a, CAST(SUM(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END) AS BIGINT) AS b, CAST(SUM(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END) AS BIGINT) AS c, CAST(SUM(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END) AS BIGINT) AS d FROM e GROUP BY 1), t2 AS (SELECT *, a + b + c + d AS n FROM cl), t3 AS (SELECT *, CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 9) AS DECIMAL(18,9)) AS ad, CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 9) AS DECIMAL(18,9)) AS bc, CAST(round(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE) / CAST(n AS DOUBLE), 9) AS DECIMAL(18,9)) AS e1, CASE WHEN n > 1 THEN CAST(round(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END AS v1 FROM t2), ag AS (SELECT SUM(ad) AS sad, SUM(bc) AS sbc, SUM(e1) AS se1, SUM(v1) AS sv1, CAST(SUM(a) AS BIGINT) AS sa FROM t3) SELECT t3.stratum, t3.a, t3.b, t3.c, t3.d, round(CASE WHEN CAST(sbc AS DOUBLE) > 0.0 THEN CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE) END, 6) AS or_mh, round(CASE WHEN CAST(sv1 AS DOUBLE) > 0.0 THEN (CAST(sa AS DOUBLE) - CAST(se1 AS DOUBLE)) * (CAST(sa AS DOUBLE) - CAST(se1 AS DOUBLE)) / CAST(sv1 AS DOUBLE) END, 6) AS cmh_chi2 FROM t3, ag ORDER BY t3.stratum"""))

  /** Mood's median test ([[graft.operators.Drift.moodMedian]]): do the
    * order-status groups share a price MEDIAN — the outlier-immune
    * coarse location gate beside q373's rank-based Kruskal–Wallis;
    * pooled lower median by exact census order statistic, 2×k χ² in
    * cross-multiplied integers on the 1e-9 grid.
    */
  private def q441(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.moodMedian(
      T(s, dir, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        col("o_orderstatus")),
      "cents", "o_orderstatus")
      .orderBy(col("g"))

  // pooled census lower median; 2×k chi2 in cross-multiplied integers
  // on the 1e-9 grid (the srm form); degenerate splits NULL
  query("q441_mood_median", q441)(Sql(
    """WITH e AS (SELECT o_orderstatus AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), cen AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), pl AS (SELECT v, CAST(SUM(t) AS BIGINT) AS t FROM cen GROUP BY v), rk AS (SELECT v, t, CAST(SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER () AS BIGINT) AS n FROM pl), md AS (SELECT MIN(v) AS med FROM rk WHERE c >= (n + 1) // 2), pg AS (SELECT g, CAST(SUM(t) AS BIGINT) AS n_g, CAST(SUM(CASE WHEN v > md.med THEN t ELSE 0 END) AS BIGINT) AS n_above FROM cen, md GROUP BY g), st AS (SELECT *, CAST(SUM(n_g) OVER () AS BIGINT) AS nn, CAST(SUM(n_above) OVER () AS BIGINT) AS aa FROM pg), t2 AS (SELECT *, CAST(n_above AS DECIMAL(38,0)) * nn - CAST(n_g AS DECIMAL(38,0)) * aa AS d FROM st), t3 AS (SELECT *, CASE WHEN aa > 0 AND aa < nn THEN CAST(round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(n_g AS DOUBLE) * CAST(aa AS DOUBLE)), 9) AS DECIMAL(18,9)) + CAST(round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(n_g AS DOUBLE) * CAST(nn - aa AS DOUBLE)), 9) AS DECIMAL(18,9)) END AS term FROM t2) SELECT g, n_g, n_above, round(CAST(n_g AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS expected_above, round(CAST(SUM(term) OVER () AS DOUBLE), 6) AS chi2 FROM t3 ORDER BY g"""))

  /** ONE-WAY ANOVA F ([[graft.operators.Drift.anovaF]]): the k-group
    * parametric mean test over order priorities — completes the family
    * beside q362's two-group Welch and q373's k-group rank test; exact
    * moments, grid terms, pinned finish.
    */
  private def q408(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderpriority"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    graft.operators.Drift.anovaF(o, "cents", "o_orderpriority")
      .orderBy(col("g"))
  }

  // per-group S^2/n terms on the grid; SSB/SSW/F in pinned doubles
  query("q408_anova_f", q408)(Sql(
    """WITH e AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g, SUM(CAST(v AS DECIMAL(38,0))) AS s_g, SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS ss_g FROM e GROUP BY g), pt AS (SELECT *, CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6)) AS term FROM pg), t AS (SELECT CAST(SUM(n_g) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS k, CAST(SUM(s_g) AS DOUBLE) AS s, CAST(SUM(ss_g) AS DOUBLE) AS ss, CAST(SUM(term) AS DOUBLE) AS tsum FROM pt) SELECT g, n_g, round(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS mean_g, round(((t.tsum - t.s * t.s / t.n) / (t.k - 1.0)) / (((t.ss - t.s * t.s / t.n) - (t.tsum - t.s * t.s / t.n)) / (t.n - t.k)), 6) AS f_stat FROM pt, t ORDER BY g"""))

  /** McNEMAR paired test ([[graft.operators.Drift.mcnemar]]): did the
    * SAME users flip purchase behavior between the pre and post halves
    * — the within-subject change test; only discordant cells matter.
    */
  private def q409(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"),
      col("ts").cast("long").as("t"), col("event_type"))
    val mm = ev.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
    // unit = (user, event type); outcome = "active" (≥ 10 events) in
    // the half — heavy users make any existence predicate degenerate
    val per = ev.crossJoin(broadcast(mm))
      .withColumn("mid", expr("(tmin + tmax) div 2"))
      .groupBy(col("user_id"), col("event_type"))
      .agg((sum(when(col("t") <= col("mid"), 1L).otherwise(0L)) >= 10L)
        .as("pre"),
        (sum(when(col("t") > col("mid"), 1L).otherwise(0L)) >= 10L)
          .as("post"))
    graft.operators.Drift.mcnemar(per, col("pre"), col("post"))
  }

  // discordant cells only; continuity-corrected variant beside
  query("q409_mcnemar", q409)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_type FROM events), mm AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM e), per AS (SELECT user_id, event_type, SUM(CASE WHEN t <= mm.mid THEN 1 ELSE 0 END) >= 10 AS pre, SUM(CASE WHEN t > mm.mid THEN 1 ELSE 0 END) >= 10 AS post FROM e, mm GROUP BY 1, 2), ag AS (SELECT CAST(SUM(CASE WHEN pre AND post THEN 1 ELSE 0 END) AS BIGINT) AS n11, CAST(SUM(CASE WHEN pre AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS b, CAST(SUM(CASE WHEN NOT pre AND post THEN 1 ELSE 0 END) AS BIGINT) AS c, CAST(SUM(CASE WHEN NOT pre AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n00 FROM per) SELECT n11, b, c, n00, round(CAST(b - c AS DOUBLE) * CAST(b - c AS DOUBLE) / CAST(b + c AS DOUBLE), 6) AS chi2, round((abs(CAST(b - c AS DOUBLE)) - 1.0) * (abs(CAST(b - c AS DOUBLE)) - 1.0) / CAST(b + c AS DOUBLE), 6) AS chi2_corrected FROM ag"""))

  /** YUEN'S TRIMMED t-TEST ([[graft.operators.Drift.yuenTTest]]):
    * purchase vs view values, 10% trim — the robust mean test beside
    * q362's raw-mean Welch; trimmed means + winsorized variances
    * computed exactly on the value domain.
    */
  private def q403(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"), col("event_type"))
    graft.operators.Drift.yuenTTest(ev, "cents",
      col("event_type") === "purchase", trimBp = 1000)
  }

  // trimmed means + winsorized variances from the value domain
  query("q403_yuen_ttest", q403)(Sql(yuenSql))

  /** EXACT ENERGY DISTANCE ([[graft.operators.Drift.energyDistance]]):
    * purchase vs view value distributions — the integral-type
    * two-sample statistic beside q385's KS supremum, every pairwise
    * term exact via value-domain prefix sums.
    */
  private def q393(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"), col("event_type"))
    graft.operators.Drift.energyDistance(ev, "cents",
      col("event_type") === "purchase")
  }

  // pairwise mean-abs-differences from prefix sums, zero pairs built
  query("q393_energy_distance", q393)(Sql(
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, event_type = 'purchase' AS isa FROM events WHERE event_type IN ('purchase', 'view')), bv AS (SELECT v, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ta, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS tb FROM e GROUP BY v), ck AS (SELECT v, ta, tb, CAST(SUM(ta) OVER w AS BIGINT) AS ca, CAST(SUM(tb) OVER w AS BIGINT) AS cb, SUM(CAST(v AS DECIMAL(38,0)) * CAST(ta AS DECIMAL(38,0))) OVER w AS sa, SUM(CAST(v AS DECIMAL(38,0)) * CAST(tb AS DECIMAL(38,0))) OVER w AS sb, CAST(SUM(ta) OVER () AS BIGINT) AS na, CAST(SUM(tb) OVER () AS BIGINT) AS nb, SUM(CAST(v AS DECIMAL(38,0)) * CAST(ta AS DECIMAL(38,0))) OVER () AS sat, SUM(CAST(v AS DECIMAL(38,0)) * CAST(tb AS DECIMAL(38,0))) OVER () AS sbt FROM bv WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)), ag AS (SELECT MAX(na) AS n_a, MAX(nb) AS n_b, SUM(CAST(ta AS DECIMAL(38,0)) * (CAST(v AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)) - sb + (sbt - sb) - CAST(v AS DECIMAL(38,0)) * (CAST(nb AS DECIMAL(38,0)) - CAST(cb AS DECIMAL(38,0))))) AS axy, SUM(CAST(ta AS DECIMAL(38,0)) * (CAST(v AS DECIMAL(38,0)) * CAST(ca AS DECIMAL(38,0)) - sa + (sat - sa) - CAST(v AS DECIMAL(38,0)) * (CAST(na AS DECIMAL(38,0)) - CAST(ca AS DECIMAL(38,0))))) AS axx, SUM(CAST(tb AS DECIMAL(38,0)) * (CAST(v AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)) - sb + (sbt - sb) - CAST(v AS DECIMAL(38,0)) * (CAST(nb AS DECIMAL(38,0)) - CAST(cb AS DECIMAL(38,0))))) AS byy FROM ck) SELECT n_a, n_b, round(2.0 * CAST(axy AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - CAST(axx AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)) - CAST(byy AS DOUBLE) / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS energy FROM ag"""))

  /** SAMPLE-RATIO-MISMATCH check ([[graft.operators.Drift.srmCheck]]):
    * distinct users assigned 2:1:1 by the salted portable hash, arm
    * counts χ²-tested against the declared split (crit 9.21 = χ²₀.₀₁,
    * df 2) — the gate every A/B readout runs first.
    */
  private def q390(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.srmCheck(T(s, dir, "events"), "user_id",
      Seq(("control", 2), ("t1", 1), ("t2", 1)), "exp42", 9.21034)
      .orderBy(col("arm"))

  // weighted-bucket assignment over DISTINCT units; exact-rational chi2
  query("q390_srm_check", q390)(Sql(
    """WITH u AS (SELECT DISTINCT user_id FROM events), a AS (SELECT CASE WHEN b < 2 THEN 'control' WHEN b < 3 THEN 't1' ELSE 't2' END AS arm FROM (SELECT CAST(concat('0x', substr(md5(concat('exp42:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 4 AS b FROM u)), c0 AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_observed FROM a GROUP BY arm), wt AS (SELECT unnest(['control', 't1', 't2']) AS arm, unnest([2, 1, 1]) AS wgt), c AS (SELECT wt.arm, CAST(COALESCE(c0.n_observed, 0) AS BIGINT) AS n_observed, CAST(wt.wgt AS BIGINT) AS wgt FROM wt LEFT JOIN c0 ON wt.arm = c0.arm), t AS (SELECT CAST(SUM(n_observed) AS BIGINT) AS n FROM c), g AS (SELECT arm, n_observed, wgt, t.n, CAST(round(CAST(CAST(n_observed AS DECIMAL(38,0)) * 4 - CAST(t.n AS DECIMAL(38,0)) * CAST(wgt AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(n_observed AS DECIMAL(38,0)) * 4 - CAST(t.n AS DECIMAL(38,0)) * CAST(wgt AS DECIMAL(38,0)) AS DOUBLE) / (CAST(t.n AS DOUBLE) * CAST(wgt AS DOUBLE) * 4.0), 9) AS DECIMAL(18,9)) AS term FROM c, t), s AS (SELECT SUM(term) AS ts FROM g) SELECT arm, n_observed, round(CAST(n AS DOUBLE) * CAST(wgt AS DOUBLE) / 4.0, 6) AS expected, round(CAST(s.ts AS DOUBLE), 6) AS chi2, CAST(s.ts AS DOUBLE) > 9.21034 AS srm FROM g, s ORDER BY arm"""))

  /** EXACT two-sample Kolmogorov–Smirnov
    * ([[graft.operators.Drift.ksExact]]): purchase vs view value
    * distributions, D and its location computed in INTEGERS over the
    * value domain (cross-multiplied cumulative counts) — the unbinned
    * upgrade of q295's binned KS.
    */
  private def q385(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select((col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"), col("event_type"))
    graft.operators.Drift.ksExact(ev, "cents",
      col("event_type") === "purchase")
  }

  // integer cross-multiplied cumulative counts; min attaining value
  query("q385_ks_exact", q385)(Sql(
    """WITH e AS (SELECT CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE) AS v, event_type = 'purchase' AS isa FROM events WHERE event_type IN ('purchase', 'view')), bv AS (SELECT v, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ta, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS tb FROM e GROUP BY v), ck AS (SELECT v, CAST(SUM(ta) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca, CAST(SUM(tb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb, CAST(SUM(ta) OVER () AS BIGINT) AS na, CAST(SUM(tb) OVER () AS BIGINT) AS nb FROM bv), nm AS (SELECT v, abs(CAST(ca AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)) - CAST(cb AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0))) AS num, na, nb FROM ck), mx AS (SELECT MAX(num) AS mnum FROM nm) SELECT MAX(na) AS n_a, MAX(nb) AS n_b, round(CAST(mx.mnum AS DOUBLE) / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)), 6) AS d_stat, MIN(CASE WHEN num = mx.mnum THEN v END) AS at_v FROM nm, mx GROUP BY mx.mnum"""))

  /** Two-sample KS distance ([[graft.operators.Drift.ksBinned]]) between
    * urgent and low-priority order totals on a 40-bin grid — the
    * threshold-free distribution-shift test that never needs a global
    * sort: one map-side-combined bin pass, ECDFs maximized over the
    * bins-sized aggregate.
    */
  private def q295(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    graft.operators.Drift.ksBinned(o, "o_totalprice",
        col("o_orderpriority") === "1-URGENT", bins = 40)
      .orderBy(col("bin"))
  }

  // identical fixed-order bin arithmetic (the q109 pattern); ECDF diff
  // rounded to 1e-9 then maximized over the bins-sized aggregate
  query("q295_ks_binned", q295)(Sql(
    """WITH o AS (SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS isa FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')), mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM o), bb AS (SELECT LEAST(CAST(floor((v - mn) * 40.0 / (mx - mn)) AS BIGINT), 39) AS bin, isa FROM o, mm), c AS (SELECT bin, CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS n_b FROM bb GROUP BY 1), w AS (SELECT bin, n_a, n_b, SUM(n_a) OVER cum AS cum_a, SUM(n_b) OVER cum AS cum_b, SUM(n_a) OVER () AS t_a, SUM(n_b) OVER () AS t_b FROM c WINDOW cum AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), f AS (SELECT bin, n_a, n_b, CAST(cum_a AS DOUBLE) / CAST(t_a AS DOUBLE) AS f_a, CAST(cum_b AS DOUBLE) / CAST(t_b AS DOUBLE) AS f_b FROM w), d AS (SELECT bin, n_a, n_b, f_a, f_b, round(abs(f_a - f_b), 9) AS d_term FROM f) SELECT bin, n_a, n_b, round(f_a, 9) AS f_a, round(f_b, 9) AS f_b, d_term, MAX(d_term) OVER () AS d_stat FROM d ORDER BY bin"""))

  /** DuckDB replay of [[graft.operators.Drift.yuenTTest]]: every trimmed/
    * winsorized sum from the value domain, t/df expressions pinned to
    * the engine's operation order (assembled here so the repeated
    * subexpressions stay literally identical).
    */
  private def yuenSql: String = {
    def h(n: String, l: String) =
      s"(CAST($n AS DOUBLE) - 2.0 * CAST($l AS DOUBLE))"
    def d(sww: String, sw: String, n: String, l: String) =
      s"((CAST($sww AS DOUBLE) - CAST($sw AS DOUBLE) * CAST($sw AS DOUBLE) / CAST($n AS DOUBLE)) / (${h(n, l)} * (${h(n, l)} - 1.0)))"
    def tmu(ts: String, n: String, l: String) =
      s"(CAST($ts AS DOUBLE) / ${h(n, l)})"
    val da = d("swwa", "swa", "na", "la")
    val db = d("swwb", "swb", "nb", "lb")
    val w = "least(greatest(v, vlo), vhi)"
    s"""WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g FROM events WHERE event_type IN ('purchase', 'view')), bv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), rk AS (SELECT g, v, t, CAST(SUM(t) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n FROM bv), r2 AS (SELECT *, (n * 1000) // 10000 AS l FROM rk), bd AS (SELECT g, MIN(CASE WHEN c >= l + 1 THEN v END) AS vlo, MIN(CASE WHEN c >= n - l THEN v END) AS vhi FROM r2 GROUP BY g), st AS (SELECT r2.g, MAX(n) AS n, MAX(l) AS l, SUM(CAST(v AS DECIMAL(38,0)) * CAST(greatest(0, least(c, n - l) - greatest(c - t, l)) AS DECIMAL(38,0))) AS ts, SUM(CAST($w AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) AS sw, SUM(CAST($w AS DECIMAL(38,0)) * CAST($w AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))) AS sww FROM r2 JOIN bd ON r2.g = bd.g GROUP BY r2.g), aa AS (SELECT n AS na, l AS la, ts AS tsa, sw AS swa, sww AS swwa FROM st WHERE g = 'a'), bb AS (SELECT n AS nb, l AS lb, ts AS tsb, sw AS swb, sww AS swwb FROM st WHERE g = 'b') SELECT na AS n_a, nb AS n_b, round(${tmu("tsa", "na", "la")}, 6) AS tm_a, round(${tmu("tsb", "nb", "lb")}, 6) AS tm_b, round((${tmu("tsa", "na", "la")} - ${tmu("tsb", "nb", "lb")}) / sqrt($da + $db), 6) AS t_yuen, round(($da + $db) * ($da + $db) / ($da * $da / (${h("na", "la")} - 1.0) + $db * $db / (${h("nb", "lb")} - 1.0)), 6) AS df_yuen FROM aa, bb"""
  }
}
