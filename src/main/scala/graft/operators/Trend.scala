package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Per-key trend and seasonality analytics over bucketed counts.
  *
  * Both operators follow the engine's exact-arithmetic discipline: every
  * accumulation is an integer (exact in long), the closed-form statistics
  * are evaluated in double over those exact operands with a pinned
  * operation order, so results are bit-reproducible across engines — the
  * property the oracle gate hashes.
  */
object Trend {

  /** Closed-form per-key OLS (least squares) of `yCol` against `xCol` —
    * "is this key's volume trending up or down": one aggregation per key,
    * no iteration. `xCol` is re-based to the key's minimum inside the
    * aggregate, keeping every sum small and integer-exact. Keys need at
    * least two distinct x to have a defined slope; others are dropped.
    */
  def olsPerKey(df: DataFrame, keyCol: String, xCol: String, yCol: String): DataFrame = {
    val based = df
      .withColumn("__xb", col(xCol) -
        min(col(xCol)).over(Window.partitionBy(col(keyCol))))
      .select(col(keyCol), col("__xb").cast("long").as("x"),
        col(yCol).cast("long").as("y"))
    based
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        countDistinct(col("x")).as("nx"))
      .filter(col("nx") >= 2)
      .select(col(keyCol), col("n"),
        round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("slope"))
  }

  /** Seasonal anomaly detection: each (key, bucket) count is compared to
    * the key's seasonal profile — the mean count for that bucket's
    * position in the season (e.g. hour-of-day) — and flagged when the
    * residual exceeds `k` times the key's residual standard deviation.
    * Everything derives from exact integer sums; the only roundings are
    * the final double divisions and sqrt, which are correctly rounded
    * and therefore engine-identical.
    */
  def seasonalAnomalies(
      counts: DataFrame,
      keyCol: String,
      bucketCol: String,
      seasonLen: Int,
      nCol: String,
      k: Double = 2.0): DataFrame = {
    val pos = pmod(col(bucketCol), lit(seasonLen.toLong))
    val withPos = counts.select(col(keyCol), col(bucketCol),
      pos.as("season_pos"), col(nCol).cast("double").as("n"))
    val seasonal = avg(col("n"))
      .over(Window.partitionBy(col(keyCol), col("season_pos")))
    val resid = col("n") - col("seasonal")
    val r = withPos
      .withColumn("seasonal", seasonal)
      .withColumn("resid", resid)
    // resid² is quantized onto an exact decimal grid BEFORE summation
    // (the engine-wide sumx pattern): each term's cast is a correctly
    // rounded op on identical doubles, and the decimal sum is exact and
    // order-independent — a raw double sum would drift with partition
    // order and flip boundary flags between engines
    val sd = sqrt(
      (sum((col("resid") * col("resid"))
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
        .over(Window.partitionBy(col(keyCol))).cast("double")) /
        count(lit(1)).over(Window.partitionBy(col(keyCol))).cast("double"))
    r.withColumn("sd", sd)
      .select(col(keyCol), col(bucketCol),
        col("n").cast("long").as("n"),
        round(col("seasonal"), 6).as("seasonal"),
        (abs(col("resid")) > lit(k) * col("sd")).cast("int").as("anomaly"))
  }

  /** First-order Markov transition matrix over per-key ordered sequences:
    * every consecutive (state → next state) step within a key, counted
    * corpus-wide, with the conditional probability p = n / Σn(from).
    *
    * Shape at scale: ONE shuffle on the key for the lead() window, then an
    * aggregation whose cardinality is |states|² — metadata-sized however
    * large the input. The probability is a single correctly-rounded double
    * division of two exact integers, so it is engine-identical with no
    * rounding grid needed.
    */
  def markovTransitions(
      df: DataFrame,
      keyCol: String,
      orderCol: Column,
      tieCol: Column,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__o"), col("__t"))
    val steps = df
      .select(col(keyCol), orderCol.as("__o"), tieCol.as("__t"),
        col(stateCol).as("from_state"))
      .withColumn("to_state", lead(col("from_state"), 1).over(w))
      .filter(col("to_state").isNotNull)
    val counts = steps.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    // the window below runs over the |states|²-row aggregate, not the input
    val fromTot = sum(col("n")).over(Window.partitionBy(col("from_state")))
    counts
      .withColumn("n_from", fromTot)
      .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
  }

  /** One-sided CUSUM changepoint detection over per-key bucket totals —
    * "when did this key's level shift up": the classic recursive statistic
    * S_i = max(0, S_{i-1} + (v_i - mean - k)) re-expressed CLOSED-FORM as
    * S_i = P_i - min(0, min_{j<=i} P_j) where P is the running sum of the
    * slack-adjusted residuals. That turns a per-row recursion (which would
    * force a sequential scan per key) into one window cumsum plus one
    * window running-min — two passes over an already key-partitioned
    * shuffle, fully parallel across keys at any scale.
    *
    * Exactness: `centsCol` must be an integral (cents-scaled) total. With
    * m buckets for the key, the residual is scaled by m — r_i = m·v_i − T
    * − m·k_cents — so mean subtraction needs no division and EVERY value
    * through both windows is an exact long. The only double op is the
    * final display division, correctly rounded and engine-identical.
    *
    * Emits one row per (key, bucket): the scaled statistic normalized back
    * to cents units (`cusum`, rounded) and `shifted` = statistic > h.
    */
  def cusumShifts(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      centsCol: String,
      kCents: Long,
      hCents: Long): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
    val ordered = byKey.orderBy(col(bucketCol))
    val run = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scaled = df.select(col(keyCol), col(bucketCol),
        col(centsCol).cast("long").as("__v"))
      .withColumn("__m", count(lit(1)).over(byKey))
      .withColumn("__t", sum(col("__v")).over(byKey))
      .withColumn("__d",
        col("__m") * col("__v") - col("__t") - col("__m") * lit(kCents))
    val p = sum(col("__d")).over(run)
    scaled
      .withColumn("__p", p)
      .withColumn("__s", col("__p") - least(lit(0L), min(col("__p")).over(run)))
      .select(col(keyCol), col(bucketCol),
        round(col("__s").cast("double") /
          (col("__m").cast("double") * 100.0), 6).as("cusum"),
        (col("__s") > col("__m") * lit(hCents)).cast("int").as("shifted"))
  }

  /** Per-key autocorrelation (ACF) of a bucketed integer series at the
    * given lags — "is this key's volume self-similar hour over hour":
    * Pearson correlation between (v_t, v_{t+lag}) pairs, one lead-window
    * pass per lag over the already key-partitioned shuffle.
    *
    * The [[olsPerKey]] exactness discipline: per-pair products are exact
    * longs, accumulated in DECIMAL(38,0) (no overflow at any realistic
    * scale, order-independent), and only the final closed form runs in
    * fixed-order double — engine-identical to the oracle's replay.
    * Keys with a degenerate window (zero variance or < 3 pairs) emit
    * NULL rather than a 0/0.
    */
  def autocorrPerKey(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      centsCol: String,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
      col(centsCol).cast("long").as("__v"))
    val dec = DecimalType(38, 0)
    // ALL lags in ONE pass: a union of per-lag branches re-shuffled,
    // re-sorted and re-aggregated the same base |lags| times (q501's
    // 23-lag sweep was 23 plan branches — most of its time was Catalyst
    // planning + 23 window sorts). One WindowExec evaluates every
    // lead(v, lag) over the same frame spec in a single sorted pass;
    // the (lag, w) pairs then stack via explode and aggregate grouped
    // by (key, lag). Per-(key, lag) counts and exact decimal sums are
    // identical, so acf values are bit-equal to the per-lag plan.
    val wide = base.select(col(keyCol) +: col("__v") +:
      lags.map(l => lead(col("__v"), l).over(byKey).as(s"__w$l")): _*)
    val stacked = wide.select(col(keyCol), col("__v"),
      explode(array(lags.map(l => struct(lit(l.toLong).as("lag"),
        col(s"__w$l").as("__w"))): _*)).as("__lw"))
      .select(col(keyCol), col("__v"), col("__lw.lag").as("lag"),
        col("__lw.__w").as("__w"))
      .filter(col("__w").isNotNull)
    stacked.groupBy(col(keyCol), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast(dec)).as("sx"),
        sum(col("__w").cast(dec)).as("sy"),
        sum((col("__v") * col("__v")).cast(dec)).as("sxx"),
        sum((col("__w") * col("__w")).cast(dec)).as("syy"),
        sum((col("__v") * col("__w")).cast(dec)).as("sxy"))
      .select(col(keyCol), col("lag"), col("n"),
        round(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
           sqrt(col("n").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("acf"))
      .filter(col("n") >= 3)
  }

  /** LJUNG–BOX whiteness test per key — "is there ANY serial structure
    * left in this series up to lag m", the portmanteau gate run on model
    * residuals (after [[holtPerKey]]/[[olsPerKey]] detrending) where
    * [[autocorrPerKey]] reads one lag at a time. Uses the standard LB
    * autocorrelation estimator (full-series mean and denominator, not the
    * per-pair Pearson):
    *   r_k = Σₜ(xₜ−x̄)(xₜ₋ₖ−x̄) / Σₜ(xₜ−x̄)²,
    *   Q = n(n+2)·Σₖ r_k²/(n−k)  ~ χ²(m).
    *
    * Exactness: both sides of r_k are cross-multiplied by n² so every
    * accumulated quantity is an exact integer in DECIMAL(38,0)
    * (n²Σxₜxₜ₋ₖ − nS(Σ'xₜ+Σ'xₜ₋ₖ) + (n−k)S² over n²Σx² − nS²); r_k is
    * one pinned-double ratio (the wide-decimal ulp cancels), the per-lag
    * terms r_k²/(n−k) are quantized to DECIMAL(18,9) before the
    * order-independent sum (the q256 MI discipline), and Q is the final
    * pinned product. One lead-window pass per lag over the key-
    * partitioned shuffle — m small by contract; series bucketed first.
    */
  def ljungBoxPerKey(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      centsCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, "need at least one lag")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val dec = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
      col(centsCol).cast("long").as("__v"))
    val moments = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("__v").cast(dec)).as("s"),
        sum((col("__v") * col("__v")).cast(dec)).as("ssq"))
    val perLag = (1 to maxLag).map { k =>
      base
        .withColumn("__w", lag(col("__v"), k).over(byKey))
        .filter(col("__w").isNotNull)
        .groupBy(col(keyCol))
        .agg(sum((col("__v") * col("__w")).cast(dec)).as("sp"),
          sum(col("__v").cast(dec)).as("sx"),
          sum(col("__w").cast(dec)).as("sy"))
        .withColumn("lag", lit(k.toLong))
    }.reduce(_.unionByName(_))
    val nD = col("n").cast(dec)
    val kD = col("lag").cast(dec)
    val num = nD * nD * col("sp") - nD * col("s") * (col("sx") + col("sy")) +
      (nD - kD) * col("s") * col("s")
    val den = nD * nD * col("ssq") - nD * col("s") * col("s")
    val r = dbl(num) / dbl(den)
    val terms = perLag.join(moments, Seq(keyCol.toString))
      .filter(col("n") > col("lag") && col("ssq").cast(dec) * nD =!= col("s") * col("s"))
      .withColumn("r", r)
      .withColumn("term",
        round(col("r") * col("r") / dbl(col("n") - col("lag")), 9)
          .cast(DecimalType(18, 9)))
    terms.groupBy(col(keyCol))
      .agg(max(col("n")).as("n"), count(lit(1)).as("m"),
        round(max(when(col("lag") === 1L, col("r"))), 6).as("r1"),
        round(dbl(max(col("n"))) * (dbl(max(col("n"))) + lit(2.0)) *
          dbl(sum(col("term"))), 6).as("q_stat"))
  }

  /** Per-key exponentially-weighted moving average of an ordered series,
    * folded left-to-right: s_1 = v_1, s_i = α·v_i + (1−α)·s_{i-1}.
    *
    * The fold runs inside ONE codegen'd higher-order `aggregate` over the
    * key's sorted value array — the per-key series is the unit of work, so
    * the operator is embarrassingly parallel across keys and never
    * shuffles more than the groupBy. The left fold is the same operation
    * order the oracle's `list_reduce` uses, and IEEE doubles folded in the
    * same order are bit-identical across engines (α is a power of two when
    * callers pass 0.25/0.5, making even the products exact).
    *
    * Bounded state: a key's history array lives in one task — fine for
    * bucketed series (≤ thousands of buckets per key); for unbounded raw
    * streams, bucket first (as every caller here does).
    */
  /** Per-key Holt double-exponential smoothing (level + trend) folded
    * left-to-right: init s₂ = v₂, b₂ = v₂ − v₁, then for i ≥ 3
    * sᵢ = α·vᵢ + (1−α)(sᵢ₋₁ + bᵢ₋₁), bᵢ = β(sᵢ − sᵢ₋₁) + (1−β)bᵢ₋₁.
    * Emits the one-step-ahead forecast s + b — the trend-aware successor
    * to [[ewmaPerKey]] (which a trending series always lags).
    *
    * Same execution shape as the EWMA: the fold runs inside ONE codegen'd
    * higher-order `aggregate` over the key's sorted series with a struct
    * accumulator, embarrassingly parallel across keys, no shuffle beyond
    * the groupBy, per-key state bounded by the bucketed series length.
    * With α and β powers of two the fold's double ops replay
    * bit-identically in the oracle's recursive CTE (which recomputes sᵢ
    * inside bᵢ — the same IEEE value, determinism unaffected). Keys need
    * ≥ 2 points for a defined trend; singletons are dropped.
    */
  /** Per-key THETA-METHOD forecast (Assimakopoulos & Nikolopoulos 2000 —
    * the M3 benchmark winner, equivalent to SES-with-drift): the series
    * decomposes into the θ=0 line (the OLS trend, pure long-run signal)
    * and the θ=2 line (2x_t − trend_t, curvature doubled); SES smooths
    * the θ=2 line and the one-step forecast is the equal-weight average
    * of the smoothed level and the trend extrapolated to n+1 — the
    * robust middle ground between q147's pure OLS and q261's Holt.
    *
    * Scale shape: OLS sums come from ONE exact-integer aggregate per key
    * (rank t from a key-partitioned window; Σt/Σt² long, Σx/Σtx
    * DECIMAL(38,0) over cents); the SES recursion folds in one codegen'd
    * higher-order aggregate over the key's collected series (per-key
    * series bound is the caller's contract — the q261/q374 posture).
    * α = 0.5 so the complement is IEEE-exact; a/b and every fold step
    * are pinned double expressions the oracle replays in list_reduce
    * order.
    */
  def thetaPerKey(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      vCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    val ranked = df.select(col(keyCol), col(orderCol),
        col(vCol).cast("long").as("__v"))
      .withColumn("__t", row_number().over(w).cast("long"))
      .localCheckpoint(true) // feeds the OLS sums AND the fold join
    val sums = ranked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__t")).as("st"),
        sum(col("__t") * col("__t")).as("stt"),
        sum(col("__v").cast(d38)).as("sx"),
        sum(col("__t").cast(d38) * col("__v").cast(d38)).as("stx"))
      .filter(col("n") >= 3L)
    val nD = dbl(col("n"))
    val b = (nD * dbl(col("stx")) - dbl(col("st")) * dbl(col("sx"))) /
      (nD * dbl(col("stt")) - dbl(col("st")) * dbl(col("st")))
    val fit2 = sums.select(col(keyCol), col("n"), b.as("__b"),
      ((dbl(col("sx")) - b * dbl(col("st"))) / nD).as("__a"))
    val y = lit(2.0) * dbl(col("__v")) -
      (col("__a") + col("__b") * dbl(col("__t")))
    val series = ranked.join(fit2, Seq(keyCol))
      .select(col(keyCol), col("n"), col("__a"), col("__b"),
        col("__t"), y.as("__y"))
      .groupBy(col(keyCol))
      .agg(max(col("n")).as("n"), max(col("__a")).as("__a"),
        max(col("__b")).as("__b"),
        sort_array(collect_list(struct(col("__t"), col("__y")))).as("__s"))
    val level = aggregate(
      expr("slice(__s, 2, greatest(size(__s) - 1, 0))"),
      element_at(col("__s"), 1).getField("__y"),
      (acc, e) => lit(0.5) * e.getField("__y") + lit(0.5) * acc)
    series.select(col(keyCol), col("n"),
      round(col("__a"), 6).as("a"), round(col("__b"), 6).as("b"),
      round(level, 6).as("level"),
      round(lit(0.5) * level + lit(0.5) *
        (col("__a") + col("__b") * (dbl(col("n")) + lit(1.0))), 6)
        .as("forecast"))
  }

  def holtPerKey(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      vCol: String,
      alpha: Double,
      beta: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0 && beta > 0.0 && beta <= 1.0)
    val v1 = element_at(col("__s"), 1).getField("__v")
    val v2 = element_at(col("__s"), 2).getField("__v")
    val folded = aggregate(
      expr("slice(__s, 3, greatest(size(__s) - 2, 0))"),
      struct(v2.as("s"), (v2 - v1).as("b")),
      (acc, e) => {
        val sN = lit(alpha) * e.getField("__v") +
          lit(1.0 - alpha) * (acc.getField("s") + acc.getField("b"))
        struct(sN.as("s"),
          (lit(beta) * (sN - acc.getField("s")) +
            lit(1.0 - beta) * acc.getField("b")).as("b"))
      })
    df.select(col(keyCol), col(orderCol).cast("long").as("__o"),
        col(vCol).cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("__o"), col("__v")))).as("__s"))
      .filter(col("n") >= 2)
      .select(col(keyCol), col("n"),
        round(folded.getField("s"), 6).as("level"),
        round(folded.getField("b"), 6).as("trend"),
        round(folded.getField("s") + folded.getField("b"), 6).as("forecast"))
  }

  /** Per-key HOLT–WINTERS triple exponential smoothing (additive
    * seasonality, period `m`) — [[holtPerKey]] plus the seasonal
    * component a daily-cycle metric actually needs. The whole recursion
    * folds in ONE codegen'd higher-order aggregate whose accumulator is a
    * struct carrying (level, trend, the m seasonal slots as an array, a
    * position counter); each step reads its slot with `element_at` and
    * rewrites exactly that slot with an indexed `transform` — O(m) per
    * step, no per-step shuffle, one key shuffle total. Deterministic
    * init: level = x₁, trend = 0, all seasonals 0 (the oracle replays the
    * identical recursion as a recursive CTE carrying the slots as a
    * LIST, in the same IEEE op order — level recomputed inside trend and
    * seasonal on both engines). α/β/γ should be powers of two so the
    * (1-·) complements are exact. Forecast = level + trend + the next
    * slot's seasonal.
    */
  def holtWintersPerKey(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      vCol: String,
      alpha: Double,
      beta: Double,
      gamma: Double,
      m: Int): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0 && beta > 0.0 && beta <= 1.0 &&
      gamma > 0.0 && gamma <= 1.0, "smoothing constants must be in (0, 1]")
    require(m >= 2, "seasonal period must be at least 2")
    val v1 = element_at(col("__s"), 1).getField("__v")
    val init = struct(v1.as("l"), lit(0.0).as("b"),
      array_repeat(lit(0.0), m).as("s"), lit(1).as("t"))
    val folded = aggregate(
      expr("slice(__s, 2, greatest(size(__s) - 1, 0))"),
      init,
      (acc, e) => {
        val x = e.getField("__v")
        val idx0 = acc.getField("t") % m // 0-based seasonal slot
        val sPrev = element_at(acc.getField("s"), idx0 + 1)
        val l = acc.getField("l"); val b = acc.getField("b")
        val lNew = lit(alpha) * (x - sPrev) + lit(1.0 - alpha) * (l + b)
        val bNew = lit(beta) * (lNew - l) + lit(1.0 - beta) * b
        val sNew = lit(gamma) * (x - lNew) + lit(1.0 - gamma) * sPrev
        struct(lNew.as("l"), bNew.as("b"),
          transform(acc.getField("s"),
            (el, i) => when(i === idx0, sNew).otherwise(el)).as("s"),
          (acc.getField("t") + 1).as("t"))
      })
    df.select(col(keyCol), col(orderCol).cast("long").as("__o"),
        col(vCol).cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("__o"), col("__v")))).as("__s"))
      .filter(col("n") >= 2)
      .select(col(keyCol), col("n"),
        round(folded.getField("l"), 6).as("level"),
        round(folded.getField("b"), 6).as("trend"),
        round(folded.getField("l") + folded.getField("b") +
          element_at(folded.getField("s"),
            (col("n") % m).cast("int") + 1), 6).as("forecast"))
  }

  /** Per-key ROLLING OLS slope over a trailing `win`-row window — the
    * local-trend detector (q147 fits ONE global line; this emits the
    * trend at every point, the shape a monitoring dashboard plots). All
    * five window sums (n, Σx, Σy, Σxy, Σx²) are exact integers over the
    * trailing frame (long-bounded for day-grained x), and the closed-form
    * slope/intercept are evaluated in pinned double order over those
    * exact operands — engine-identical. One key shuffle; the frame is
    * `win` rows however long the series. Rows before a full window emit
    * NULL slope (a 1-point "trend" is noise, not signal).
    *
    * Determinism contract: the frame orders by (x, y) — the y tiebreak
    * makes duplicate-x frames partition-order-independent (rows tied on
    * BOTH x and y are interchangeable in every window sum). Callers with
    * distinct x per key (the normal time-series case) are unaffected.
    */
  def rollingOlsPerKey(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      win: Int): DataFrame = {
    require(win >= 2)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__x"), col("__y"))
      .rowsBetween(-(win - 1).toLong, Window.currentRow)
    val base = df.select(col(keyCol), col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y"))
    val nD = col("__n").cast("double")
    val den = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val slope = (nD * col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double")) / den
    base
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(col("__x")).over(w))
      .withColumn("__sy", sum(col("__y")).over(w))
      .withColumn("__sxy", sum(col("__x") * col("__y")).over(w))
      .withColumn("__sxx", sum(col("__x") * col("__x")).over(w))
      .select(col(keyCol), col("__x").as("x"), col("__y").as("y"),
        when(col("__n") === win && den =!= 0.0, round(slope, 6)).as("slope"),
        when(col("__n") === win && den =!= 0.0,
          round((col("__sy").cast("double") - slope * col("__sx").cast("double")) /
            nD, 6)).as("intercept"))
  }

  /** Per-key CHANGEPOINT by single binary segmentation: the split that
    * maximizes the SSE reduction when the series is modeled as two
    * constant segments instead of one — the "when did the level shift"
    * answer that [[seasonalAnomalies]] (pointwise) and the CUSUM (drift
    * alarm) don't give. Every candidate split is scored from exact
    * integer prefix sums (one ordered window pass per key; no per-split
    * rescan), the gain is evaluated in pinned double order and rounded
    * to 1e-6 BEFORE the argmax, and ties break on the earliest split —
    * engine-identical selection. Keys need ≥ 2 points.
    */
  def changePointPerKey(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
    val run = byKey.orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.select(col(keyCol), col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y"))
    def d(c: Column): Column = c.cast("double")
    val cn = d(col("__cn")); val cs = d(col("__cs")); val cq = d(col("__cq"))
    val nn = d(col("__n")); val ss = d(col("__s")); val qq = d(col("__q"))
    val gain = (qq - ss * ss / nn) -
      (cq - cs * cs / cn) -
      ((qq - cq) - (ss - cs) * (ss - cs) / (nn - cn))
    val scored = base
      .withColumn("__cn", count(lit(1)).over(run))
      .withColumn("__cs", sum(col("__y")).over(run))
      .withColumn("__cq", sum(col("__y") * col("__y")).over(run))
      .withColumn("__n", count(lit(1)).over(byKey))
      .withColumn("__s", sum(col("__y")).over(byKey))
      .withColumn("__q", sum(col("__y") * col("__y")).over(byKey))
      .filter(col("__cn") < col("__n"))
      .withColumn("gain", round(gain, 6))
    val pick = Window.partitionBy(col(keyCol))
      .orderBy(col("gain").desc, col("__x").asc)
    scored.withColumn("__rk", row_number().over(pick))
      .filter(col("__rk") === 1)
      .select(col(keyCol), col("__x").as("split_x"),
        col("__cn").as("n_left"), (col("__n") - col("__cn")).as("n_right"),
        round(cs / cn, 6).as("mean_left"),
        round((ss - cs) / (nn - cn), 6).as("mean_right"),
        col("gain"))
  }

  def ewmaPerKey(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      vCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0)
    df.select(col(keyCol), col(orderCol).cast("long").as("__o"),
        col(vCol).cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("__o"), col("__v")))).as("__s"))
      .select(col(keyCol), col("n"),
        round(aggregate(
          expr("slice(__s, 2, size(__s) - 1)"),
          element_at(col("__s"), 1).getField("__v"),
          (acc, e) => lit(alpha) * e.getField("__v") + lit(1.0 - alpha) * acc),
          6).as("ewma"))
  }

  /** Per-key LTTB (Largest-Triangle-Three-Buckets) downsampling — the
    * plotting reducer (Steinarsson 2013): keep first and last points,
    * split the interior into `threshold − 2` buckets, and from each
    * bucket keep the point forming the LARGEST triangle with the
    * previously-selected point and the NEXT bucket's centroid — the
    * shape-preserving reduction a dashboard uses where naive striding
    * drops peaks. The whole sequential selection folds in ONE codegen'd
    * HOF aggregate (the q315 pattern): the accumulator carries the
    * current anchor + chosen indices, the inner argmax folds each
    * bucket's candidates with a strict `>` (earliest index wins ties).
    * Exactness: integer bucket bounds via floor over doubles (exact —
    * operands ≪ 2⁵², denominators ≤ threshold); centroids are exact
    * integer sums over ≤ bucket-size points; triangle areas are pinned
    * doubles both engines compute identically (the /2 is dropped —
    * argmax-invariant). Keys need n > threshold (shorter series are the
    * identity and are excluded by contract).
    */
  def lttbPerKey(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      threshold: Int): DataFrame = {
    require(threshold >= 3, "threshold must be at least 3")
    val b = threshold - 2
    val pts = df.select(col(keyCol), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__x"), col("__y")))).as("p"),
        count(lit(1)).as("n"))
      .filter(col("n") > threshold)
    def px(j: Column): Column =
      element_at(col("p"), j).getField("__x").cast("double")
    def py(j: Column): Column =
      element_at(col("p"), j).getField("__y").cast("double")
    val folded = aggregate(
      sequence(lit(0), lit(b - 1)),
      struct(px(lit(1)).as("ax"), py(lit(1)).as("ay"),
        array().cast("array<int>").as("sel")),
      (acc, i0) => {
        val i = i0.cast("double")
        val nD = (col("n") - 2L).cast("double")
        val bD = lit(b.toDouble)
        val lo = (lit(2.0) + floor(i * nD / bD)).cast("int")
        val hi = (lit(1.0) + floor((i + 1.0) * nD / bD)).cast("int")
        val nlo = (lit(2.0) + floor((i + 1.0) * nD / bD)).cast("int")
        val nhi = (lit(1.0) + floor((i + 2.0) * nD / bD)).cast("int")
        val isLast = i0 === lit(b - 1)
        val nextXs = transform(
          slice(col("p"), nlo, greatest(nhi - nlo + 1, lit(0))),
          e => e.getField("__x").cast("double"))
        val nextYs = transform(
          slice(col("p"), nlo, greatest(nhi - nlo + 1, lit(0))),
          e => e.getField("__y").cast("double"))
        val cnt = (nhi - nlo + 1).cast("double")
        val cx = when(isLast, px(col("n").cast("int")))
          .otherwise(aggregate(nextXs, lit(0.0), (a, e) => a + e) / cnt)
        val cy = when(isLast, py(col("n").cast("int")))
          .otherwise(aggregate(nextYs, lit(0.0), (a, e) => a + e) / cnt)
        val best = aggregate(
          sequence(lo, hi),
          struct(lit(-1.0).as("area"), lit(0).as("idx")),
          (bst, j) => {
            val area = abs(
              (acc.getField("ax") - cx) * (py(j) - acc.getField("ay")) -
                (acc.getField("ax") - px(j)) * (cy - acc.getField("ay")))
            when(area > bst.getField("area"),
              struct(area.as("area"), j.as("idx"))).otherwise(bst)
          })
        struct(px(best.getField("idx")).as("ax"),
          py(best.getField("idx")).as("ay"),
          concat(acc.getField("sel"), array(best.getField("idx"))).as("sel"))
      })
    pts
      .select(col(keyCol), col("p"),
        explode(concat(array(lit(1)), folded.getField("sel"),
          array(col("n").cast("int")))).as("idx"))
      .select(col(keyCol), col("idx").cast("long").as("idx"),
        element_at(col("p"), col("idx")).getField("__x").as("x"),
        element_at(col("p"), col("idx")).getField("__y").as("y"))
  }

  /** Per-key THEIL–SEN slope: the MEDIAN of all pairwise slopes — the
    * robust trend line next to the least-squares fits (q147 global, q293
    * rolling): a single corrupted bucket that would drag an OLS slope
    * arbitrarily far moves this estimator not at all until half the data
    * is bad (29% breakdown point). Pair generation is KEY-LOCAL
    * (self-join on the key, j-after-i), so the quadratic term is bounded
    * by the per-key BUCKET domain (hours), never corpus rows — the same
    * adjudication as q294's basket pairs. The median is the lower-median
    * order statistic picked by rank over each key's slope set (slope
    * values tie-interchangeably, so ordering by slope alone is
    * deterministic in the OUTPUT).
    */
  def theilSenPerKey(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    // DRIVER-SIDE SELECTION: the input is bucket-domain-sized but the
    // pair frame is key-local QUADRATIC — the expensive part of the
    // distributed plan is generating ~Σ C(k,2) slope rows and sorting
    // them inside a per-key window (few keys ⇒ few huge single-task
    // sorts). On the driver the slopes of one
    // key fill one primitive array and the lower median is a quickselect;
    // the arithmetic replicates the distributed plan bit-for-bit:
    // slope = (longΔy).toDouble / (longΔx).toDouble (IEEE division is
    // sign-symmetric, so orientation by larger x needs no branch), lower
    // median = ascending rank (np+1) div 2, round = Spark's double round
    // (BigDecimal.valueOf setScale(6, HALF_UP)). Keys with no
    // positive-Δx pair emit nothing — exactly the rank filter finding no
    // row. Two budgets: the input rows (the guard that collects), then
    // the total slope pairs.
    val spark = df.sparkSession
    val collected = DriverFinisher.collectWithin("theilSenPerKey",
      DriverFinisher.TheilSenRows)(base)
    if (collected.isDefined) {
      val capped = collected.get.head
      import scala.collection.mutable
      val xs = mutable.LinkedHashMap.empty[Any,
        (mutable.ArrayBuilder[Long], mutable.ArrayBuilder[Long])]
      // null keys never join (__k === __k2 is null-rejecting), and a
      // null x or y makes the slope null — row_number still counts the
      // null-slope row but the rank lands on a sort-first null... the
      // distributed plan's arithmetic with nulls is subtle, so rows with
      // ANY null field take the distributed path instead of a guess
      val anyNull = capped.exists(r =>
        r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
      if (!anyNull) capped.foreach { r =>
        val g = xs.getOrElseUpdate(r.get(0),
          (mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Long]))
        g._1 += r.getLong(1); g._2 += r.getLong(2)
      }
      // exact pair count per key WITHOUT the quadratic loop:
      // C(n,2) − Σ_x C(cnt_x,2) (equal-x pairs never join)
      val keyed = xs.iterator.map { case (k, (bx, by)) =>
        val x = bx.result(); val y = by.result()
        val cnt = mutable.LongMap.empty[Long]
        x.foreach(v => cnt.update(v, cnt.getOrElse(v, 0L) + 1L))
        val n = x.length.toLong
        val np = n * (n - 1) / 2 -
          cnt.valuesIterator.map(c => c * (c - 1) / 2).sum
        (k, x, y, np)
      }.toVector
      if (DriverFinisher.fits("theilSenPerKey.pairs",
          DriverFinisher.TheilSenPairs, !anyNull)(keyed.map(_._4).sum)) {
        val rm = java.math.RoundingMode.HALF_UP
        // iterative median-of-3 quickselect for the k-th smallest slope
        // (0-based); slopes are finite doubles (Δx ≥ 1), plain < is a
        // total order here
        def select(a: Array[Double], kth: Int): Double = {
          var lo = 0; var hi = a.length - 1
          def swap(i: Int, j: Int): Unit = {
            val t = a(i); a(i) = a(j); a(j) = t
          }
          while (lo < hi) {
            val mid = lo + (hi - lo) / 2
            if (a(mid) < a(lo)) swap(mid, lo)
            if (a(hi) < a(lo)) swap(hi, lo)
            if (a(hi) < a(mid)) swap(hi, mid)
            val pivot = a(mid)
            var i = lo; var j = hi
            while (i <= j) {
              while (a(i) < pivot) i += 1
              while (a(j) > pivot) j -= 1
              if (i <= j) { swap(i, j); i += 1; j -= 1 }
            }
            if (kth <= j) hi = j
            else if (kth >= i) lo = i
            else return a(kth)
          }
          a(kth)
        }
        val outRows = keyed.flatMap { case (k, x, y, np) =>
          if (np == 0L) None
          else {
            val slopes = new Array[Double](np.toInt)
            val n = x.length
            var p = 0; var i = 0
            while (i < n) {
              var j = i + 1
              while (j < n) {
                val dx = x(j) - x(i)
                if (dx != 0L) {
                  slopes(p) = (y(j) - y(i)).toDouble / dx.toDouble
                  p += 1
                }
                j += 1
              }
              i += 1
            }
            val med = select(slopes, ((np + 1) / 2).toInt - 1)
            Some(org.apache.spark.sql.Row(k, np,
              java.math.BigDecimal.valueOf(med).setScale(6, rm).doubleValue()))
          }
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            keyCol, base.schema("__k").dataType),
          org.apache.spark.sql.types.StructField(
            "n_pairs", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(
            "slope", org.apache.spark.sql.types.DoubleType, nullable = false)))
        return spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(outRows).asJava),
          schema)
      }
    }
    val a = base.select(col("__k"), col("__x").as("xa"), col("__y").as("ya"))
    val b = base.select(col("__k").as("__k2"), col("__x").as("xb"),
      col("__y").as("yb"))
    val slopes = a.join(b, col("__k") === col("__k2") && col("xb") > col("xa"))
      .select(col("__k"),
        ((col("yb") - col("ya")).cast("double") /
          (col("xb") - col("xa")).cast("double")).as("slope"))
    val w = Window.partitionBy(col("__k")).orderBy(col("slope"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("__k"))))
      // integer division — Column./ is DOUBLE division and would never
      // match the int rank for even pair counts
      .filter(col("rn") === expr("(np + 1) div 2"))
      .select(col("__k").as(keyCol), col("np").as("n_pairs"),
        round(col("slope"), 6).as("slope"))
  }

  /** KAPLAN–MEIER survival estimator with right censoring — the "how
    * long do users stay active" curve a retention team actually plots
    * (q265's retention drop reads single offsets; this is the full
    * survival function, censoring-correct). Per-user lifetimes reduce to
    * the DURATION DOMAIN in one aggregate; the at-risk counts, death
    * counts and survival product all run over that domain-sized frame
    * (the one unpartitioned window is aggregate-scale by construction).
    * Users still active near the observation end (last event past
    * `censorCutoffSec`) are CENSORED: they leave the risk set without a
    * death event. The survival product folds sequentially over the
    * sorted per-duration factors — exact doubles from integer ratios in
    * pinned order, replayable via list_reduce.
    */
  def kaplanMeier(
      df: DataFrame,
      userCol: String,
      secCol: String,
      censorCutoffSec: Long,
      bucketSec: Long = 3600L): DataFrame = {
    val lives = df
      .groupBy(col(userCol).as("u"))
      .agg(min(col(secCol)).as("first"), max(col(secCol)).as("last"))
      .select(((col("last") - col("first")) / bucketSec).cast("long").as("t"),
        when(col("last") > censorCutoffSec, 0L).otherwise(1L).as("death"))
    val byT = lives
      .groupBy(col("t"))
      .agg(sum(col("death")).as("d"),
        sum(lit(1L) - col("death")).as("c"),
        count(lit(1)).as("n_t"))
    val all = Window.partitionBy()
    val later = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // at risk at t = everyone whose lifetime is >= t (censored included)
    val risked = byT
      .withColumn("n_risk", sum(col("n_t")).over(later))
      .withColumn("factor",
        lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
    // running product over the duration-domain frame: factors collected
    // once (sorted by t), S(t_k) = fold of the first k factors — the
    // sequential double multiply replays as list_reduce
    val packed = risked.agg(
      sort_array(collect_list(struct(col("t"), col("d"), col("c"),
        col("n_risk"), col("factor")))).as("rows"))
    packed
      .select(col("rows"), posexplode(col("rows")).as(Seq("i", "r")))
      .select(col("r.t").as("t"), col("r.d").as("n_death"),
        col("r.c").as("n_censored"), col("r.n_risk").as("n_risk"),
        round(aggregate(
          expr("slice(transform(rows, x -> x.factor), 1, i + 1)"),
          lit(1.0), (acc, f) => acc * f), 6).as("survival"))
  }

  /** RESTRICTED MEAN SURVIVAL TIME — the area under the [[kaplanMeier]]
    * curve up to horizon τ: "average lifetime within the first τ
    * buckets", the single-number summary that stays defined under heavy
    * censoring where the median or mean lifetime may not exist. Step
    * integral over the duration-domain KM table: each inter-event
    * segment contributes S(t_{k−1})·(min(t_k, τ) − t_{k−1}) with S(0)=1,
    * plus the tail from the last event time to τ. Terms are
    * grid-survival × integer gaps rounded once to 1e-6 and summed as
    * decimals (order-independent). Input contract: the [[kaplanMeier]]
    * output frame (duration-domain-sized, so the unpartitioned lag
    * window is bounded).
    */
  def rmstFromKm(km: DataFrame, tau: Long): DataFrame = {
    require(tau >= 1, "need a positive horizon")
    val w = Window.orderBy(col("t"))
    val staged = km.select(col("t"), col("survival"))
      .withColumn("prev_t", coalesce(lag(col("t"), 1).over(w), lit(0L)))
      .withColumn("prev_s", coalesce(lag(col("survival"), 1).over(w), lit(1.0)))
      .filter(col("prev_t") < tau)
      .withColumn("term",
        round(col("prev_s") *
          (least(col("t"), lit(tau)) - col("prev_t")).cast("double"), 6)
          .cast(DecimalType(18, 6)))
    val tail = km.agg(max(col("t")).as("last_t"),
      max_by(col("survival"), col("t")).as("last_s"))
    val body = staged.agg(sum(col("term")).as("body"),
      count(lit(1)).as("n_steps"))
    body.crossJoin(broadcast(tail))
      .withColumn("rmst",
        round(col("body").cast("double") +
          when(col("last_t") < tau,
            round(col("last_s") * (lit(tau) - col("last_t")).cast("double"), 6))
            .otherwise(lit(0.0)), 6))
      .select(lit(tau).as("tau"), col("n_steps"), col("rmst"),
        round(col("rmst") / lit(tau.toDouble), 6).as("mean_survival"))
  }

  /** LOG-RANK TEST — do two arms' survival curves differ, judged the
    * way survival analysis requires (censoring-aware, whole-curve):
    * at every event time, observed arm-A deaths vs the hypergeometric
    * expectation E = n_riskA·d/n_risk, with variance
    * V = d·(n_riskA/n_risk)(1 − n_riskA/n_risk)(n_risk − d)/(n_risk − 1);
    * χ² = (Σ(O − E))² / ΣV. The comparison gate beside [[kaplanMeier]]'s
    * curve and [[rmstFromKm]]'s summary. Per-duration terms are pinned
    * doubles on the 1e-9 grid summed as decimals; at-risk counts come
    * from duration-domain suffix windows (never a per-row sort).
    */
  def logRank(
      df: DataFrame,
      userCol: String,
      secCol: String,
      censorCutoffSec: Long,
      armACol: Column,
      bucketSec: Long = 3600L): DataFrame = {
    val lives = df
      .groupBy(col(userCol).as("u"))
      .agg(min(col(secCol)).as("first"), max(col(secCol)).as("last"),
        max(armACol).as("isa"))
      .select(((col("last") - col("first")) / bucketSec).cast("long").as("t"),
        when(col("last") > censorCutoffSec, 0L).otherwise(1L).as("death"),
        col("isa"))
    val byT = lives.groupBy(col("t"))
      .agg(sum(when(col("isa"), col("death")).otherwise(0L)).as("da"),
        sum(col("death")).as("d"),
        sum(when(col("isa"), 1L).otherwise(0L)).as("nta"),
        count(lit(1)).as("nt"))
    val later = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def dbl(c: Column): Column = c.cast("double")
    val risked = byT
      .withColumn("ra", sum(col("nta")).over(later))
      .withColumn("r", sum(col("nt")).over(later))
    val share = dbl(col("ra")) / dbl(col("r"))
    val eTerm = round(share * dbl(col("d")), 9)
    val vTerm = when(col("r") > 1L,
      round(dbl(col("d")) * share * (lit(1.0) - share) *
        (dbl(col("r")) - dbl(col("d"))) / (dbl(col("r")) - lit(1.0)), 9))
      .otherwise(lit(0.0))
    val agg = risked.agg(
      sum(col("da")).as("o_a"),
      sum(eTerm.cast(DecimalType(28, 9))).as("e_a"),
      sum(vTerm.cast(DecimalType(28, 9))).as("v"))
    val users = lives.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("isa"), 0L).otherwise(1L)).as("n_b"))
    val ome = dbl(col("o_a")) - dbl(col("e_a"))
    agg.crossJoin(broadcast(users))
      .select(col("n_a"), col("n_b"), col("o_a"),
        round(dbl(col("e_a")), 6).as("e_a"),
        round(when(dbl(col("v")) > 0.0, ome * ome / dbl(col("v"))), 6)
          .as("chi2"))
  }

  /** COX PROPORTIONAL HAZARDS for one BINARY covariate — the hazard
    * RATIO with its CI machinery, the number [[logRank]]'s χ² verdict
    * doesn't give ("arm A churns 1.4× as fast", not just "the curves
    * differ"). Breslow-ties partial likelihood; with a binary
    * covariate the score collapses to duration-census sums, U(θ) =
    * Σ_t [d₁ − d·n₁θ/(n₀+n₁θ)] with θ = e^β, STRICTLY decreasing in
    * θ — so the MLE is a 1-D root found by GEOMETRIC BISECTION on θ
    * (midpoint √(lo·hi): sqrt is correctly rounded IEEE, so both
    * engines walk bit-identical midpoints — the reason θ is bisected
    * instead of β, whose exp() is not cross-engine exact). Every score
    * term lands once on the 1e-9 grid and sums exactly, so every sign
    * decision is deterministic; 60 halvings of a [1e-4, 1e4] bracket
    * land far inside the 1e-6 output grid. SE from the observed
    * information Σ d·n₀n₁θ/(n₀+n₁θ)². The duration census collapses
    * before a documented BOUNDED collect (duration-domain rows — the
    * k-means-centroid posture); everything before it is distributed.
    * A bracket with no sign change (one arm never dies) reads NULL.
    */
  def coxBinary(
      df: DataFrame,
      userCol: String,
      secCol: String,
      censorCutoffSec: Long,
      armACol: Column,
      bucketSec: Long = 3600L,
      iters: Int = 60): DataFrame =
    coxBinaryFromLives(df
      .groupBy(col(userCol).as("u"))
      .agg(min(col(secCol)).as("first"), max(col(secCol)).as("last"),
        max(armACol).as("isa"))
      .select(((col("last") - col("first")) / bucketSec).cast("long")
        .as("t"),
        when(col("last") > censorCutoffSec, 0L).otherwise(1L).as("death"),
        col("isa")), iters)

  /** [[coxBinary]] from a prepared (t, death, isa) lives frame — the
    * entry point when the event is something other than
    * activity-cutoff churn (time-to-first-purchase, time-to-error…).
    */
  def coxBinaryFromLives(livesDf: DataFrame, iters: Int = 60): DataFrame = {
    val spark = livesDf.sparkSession
    val lives = livesDf.select(col("t").cast("long").as("t"),
        col("death").cast("long").as("death"), col("isa"))
      .localCheckpoint(true) // census + user totals share the reduce
    val byT = lives.groupBy(col("t"))
      .agg(sum(when(col("isa"), col("death")).otherwise(0L)).as("d1"),
        sum(col("death")).as("d"),
        sum(when(col("isa"), 1L).otherwise(0L)).as("nt1"),
        count(lit(1)).as("nt"))
    val later = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cenDf = byT
      .withColumn("n1", sum(col("nt1")).over(later))
      .withColumn("nr", sum(col("nt")).over(later))
      .filter(col("d") > 0L)
      .select(col("d1"), col("d"), (col("nr") - col("n1")).as("n0"),
        col("n1"))
    // duration-domain rows only — the documented bounded collect
    val cen = cenDf.collect().map(r =>
      (r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble))
    // Spark's double round semantics exactly (BigDecimal.valueOf +
    // HALF_UP) so the driver-side sums share the engine's grid
    def rnd9(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP)
    def score(th: Double): java.math.BigDecimal =
      cen.foldLeft(java.math.BigDecimal.ZERO) { case (acc, (d1, d, n0, n1)) =>
        acc.add(rnd9(d1 - d * n1 * th / (n0 + n1 * th)))
      }
    def info(th: Double): java.math.BigDecimal =
      cen.foldLeft(java.math.BigDecimal.ZERO) { case (acc, (_, d, n0, n1)) =>
        acc.add(rnd9(d * n0 * n1 * th /
          ((n0 + n1 * th) * (n0 + n1 * th))))
      }
    val (lo0, hi0) = (1e-4, 1e4)
    val ok = cen.nonEmpty && score(lo0).signum > 0 && score(hi0).signum <= 0
    var lo = lo0; var hi = hi0
    if (ok) (1 to iters).foreach { _ =>
      val m = math.sqrt(lo * hi)
      if (score(m).signum > 0) lo = m else hi = m
    }
    val th = math.sqrt(lo * hi)
    val ii = if (ok) info(th).doubleValue else 0.0
    val users = lives.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("isa"), 0L).otherwise(1L)).as("n_b"),
      sum(when(col("isa"), col("death")).otherwise(0L)).as("d_a"),
      sum(col("death")).as("d_total")).head()
    def r6(x: Double): java.lang.Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val (hr, beta, se, z) =
      if (ok && ii > 0.0)
        (r6(th), r6(math.log(th)), r6(1.0 / math.sqrt(ii)),
          r6(math.log(th) * math.sqrt(ii)))
      else (null: java.lang.Double, null: java.lang.Double,
        null: java.lang.Double, null: java.lang.Double)
    import spark.implicits._
    Seq((users.getLong(0), users.getLong(1), users.getLong(2),
      users.getLong(3)))
      .toDF("n_a", "n_b", "d_a", "d_total")
      .select(col("*"), lit(hr).cast("double").as("hr"),
        lit(beta).cast("double").as("beta"),
        lit(se).cast("double").as("se"), lit(z).cast("double").as("z"))
  }

  /** NELSON–AALEN cumulative hazard — the estimator that ADDS where
    * [[kaplanMeier]] multiplies: H(t) = Σ_{u ≤ t} d_u/n_risk(u), the
    * instantaneous-risk view (its slope is the hazard rate — "is churn
    * accelerating", which the survival curve's shape obscures) plus the
    * Fleming–Harrington survival exp(−H), the small-risk-set-preferred
    * alternative to the KM product. Input contract: the [[kaplanMeier]]
    * output frame (duration-domain-sized, so the unpartitioned running
    * window is bounded). Increments are pinned 1e-9-grid decimals; the
    * running sum is exact decimal addition, cast to double for output
    * (grid values stay far under 2^53 — no conversion ulp).
    */
  def nelsonAalen(km: DataFrame): DataFrame = {
    val cum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    km.select(col("t"), col("n_death"), col("n_risk"))
      .withColumn("__h",
        round(col("n_death").cast("double") / col("n_risk").cast("double"), 9)
          .cast(DecimalType(28, 9)))
      .withColumn("cum_hazard", sum(col("__h")).over(cum).cast("double"))
      .select(col("t"), col("n_death"), col("n_risk"),
        col("__h").cast("double").as("h_inc"), col("cum_hazard"),
        round(exp(-col("cum_hazard")), 6).as("fh_survival"))
  }

  /** SEASONAL STRENGTH per key — the share of a series' variance the
    * seasonal profile explains: 1 − SS_within-slot / SS_total over the
    * slot means (Hyndman's strength measure on the slot-mean model).
    * The FEATURE-SELECTION scalar the seasonal shelf lacked: q148 flags
    * anomalies against the profile and q504 bands it, but neither says
    * whether the profile explains 5% or 95% of the movement — i.e.
    * whether seasonal machinery should run on this key at all. One
    * (key, slot) moment census; integer sums, two pinned ratios,
    * clamped to [0, 1]; keys with zero total variance emit NULL.
    */
  def seasonalStrength(
      counts: DataFrame,
      keyCol: String,
      bucketCol: String,
      seasonLen: Int,
      valueCol: String): DataFrame = {
    require(seasonLen >= 2, "a season needs at least two slots")
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val perSlot = counts.groupBy(col(keyCol).as("k"),
        pmod(col(bucketCol).cast("long"), lit(seasonLen.toLong)).as("slot"))
      .agg(count(lit(1)).as("n_h"), sum(v).as("s_h"), sum(v * v).as("ss_h"))
      .withColumn("w_term",
        round(dbl(col("ss_h")) - dbl(col("s_h")) * dbl(col("s_h")) /
          dbl(col("n_h")), 6).cast(DecimalType(38, 6)))
    val perKey = perSlot.groupBy(col("k"))
      .agg(sum(col("n_h")).as("n"), count(lit(1)).as("n_slots"),
        sum(col("s_h")).as("s"), sum(col("ss_h")).as("ss"),
        sum(col("w_term")).as("ssw"))
    val ssTot = dbl(col("ss")) - dbl(col("s")) * dbl(col("s")) / dbl(col("n"))
    perKey.select(col("k").as(keyCol), col("n").as("n_buckets"),
      col("n_slots"),
      when(ssTot > 0.0,
        greatest(round(lit(1.0) - dbl(col("ssw")) / ssTot, 6), lit(0.0)))
        .as("strength"))
  }

  /** PER-KEY Kaplan–Meier from a pre-reduced LIVES frame
    * (key, t, death) — censoring-correct retention curves per cohort
    * where [[kaplanMeier]] gives one global curve and q72's raw cohort
    * retention silently treats still-active users as churned. Same
    * duration-domain census shape, keyed: at-risk counts from
    * key-partitioned suffix windows, the survival product folded over
    * each key's sorted factor array (replayable list_reduce) — the
    * per-key frame is duration-domain-sized, so the collected arrays
    * are bounded however large the cohorts are.
    */
  def kaplanMeierFromLives(lives: DataFrame, keyCol: String): DataFrame = {
    val byT = lives
      .groupBy(col(keyCol), col("t"))
      .agg(sum(col("death")).as("d"),
        sum(lit(1L) - col("death")).as("c"),
        count(lit(1)).as("n_t"))
    val later = Window.partitionBy(col(keyCol)).orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risked = byT
      .withColumn("n_risk", sum(col("n_t")).over(later))
      .withColumn("factor",
        lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
    val packed = risked.groupBy(col(keyCol)).agg(
      sort_array(collect_list(struct(col("t"), col("d"), col("c"),
        col("n_risk"), col("factor")))).as("rows"))
    packed
      .select(col(keyCol), col("rows"), posexplode(col("rows")).as(Seq("i", "r")))
      .select(col(keyCol), col("r.t").as("t"), col("r.d").as("n_death"),
        col("r.c").as("n_censored"), col("r.n_risk").as("n_risk"),
        round(aggregate(
          expr("slice(transform(rows, x -> x.factor), 1, i + 1)"),
          lit(1.0), (acc, f) => acc * f), 6).as("survival"))
  }

  /** GREENWOOD confidence bands for the [[kaplanMeier]] curve — the
    * error bars the bare survival estimate needs before anyone reads a
    * retention difference off it: Var[S(t)] = S(t)²·Σ_{u≤t} d/(n(n−d))
    * (Greenwood 1926), bands S ± z·SE clamped to [0, 1]. Input contract:
    * the kaplanMeier output frame (duration-domain-sized, so the
    * unpartitioned running sum is bounded). The running sum accumulates
    * pinned 1e-9-grid increments; a saturated risk set (n = d) yields a
    * NULL band, not an infinity.
    */
  def kmGreenwood(km: DataFrame, z: Double = 1.96): DataFrame = {
    val cum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def dbl(c: Column): Column = c.cast("double")
    val inc = when(col("n_risk") > col("n_death"),
      round(dbl(col("n_death")) / (dbl(col("n_risk")) *
        (dbl(col("n_risk")) - dbl(col("n_death")))), 9))
    val staged = km.select(col("t"), col("n_death"), col("n_risk"),
        col("survival"))
      .withColumn("__g", sum(inc.cast(DecimalType(28, 9))).over(cum))
      .withColumn("__bad",
        sum(when(inc.isNull, 1L).otherwise(0L)).over(cum))
    val se = round(col("survival") * sqrt(col("__g").cast("double")), 6)
    staged.select(col("t"), col("n_death"), col("n_risk"), col("survival"),
      when(col("__bad") === 0L, se).as("se"),
      when(col("__bad") === 0L,
        round(greatest(col("survival") - lit(z) * se, lit(0.0)), 6)).as("lo"),
      when(col("__bad") === 0L,
        round(least(col("survival") + lit(z) * se, lit(1.0)), 6)).as("hi"))
  }

  /** GEHAN–BRESLOW–WILCOXON test — the EARLY-difference-weighted member
    * of the weighted-log-rank family: each event time's O−E term is
    * weighted by the at-risk share w = n_risk/N (χ² and z are invariant
    * under uniform weight scaling, so the share form equals the classic
    * n_risk weighting while keeping every term O(1) — the q83/q408
    * magnitude discipline), which up-weights early deaths where
    * [[logRank]] weighs all times equally: the right gate when early
    * churn matters more than tail behavior. Same duration-domain census
    * as logRank; per-time terms pinned on the 1e-9 grid in a fixed
    * operation order; degenerate variance gates z/chi2 to NULL.
    */
  def gehanWilcoxon(
      df: DataFrame,
      userCol: String,
      secCol: String,
      censorCutoffSec: Long,
      armACol: Column,
      bucketSec: Long = 3600L): DataFrame = {
    val lives = df
      .groupBy(col(userCol).as("u"))
      .agg(min(col(secCol)).as("first"), max(col(secCol)).as("last"),
        max(armACol).as("isa"))
      .select(((col("last") - col("first")) / bucketSec).cast("long").as("t"),
        when(col("last") > censorCutoffSec, 0L).otherwise(1L).as("death"),
        col("isa"))
      .localCheckpoint(true) // two readers: census and the user tally
    val byT = lives.groupBy(col("t"))
      .agg(sum(when(col("isa"), col("death")).otherwise(0L)).as("da"),
        sum(col("death")).as("d"),
        sum(when(col("isa"), 1L).otherwise(0L)).as("nta"),
        count(lit(1)).as("nt"))
    val later = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def dbl(c: Column): Column = c.cast("double")
    val users = lives.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("isa"), 0L).otherwise(1L)).as("n_b"))
    val risked = byT
      .withColumn("ra", sum(col("nta")).over(later))
      .withColumn("r", sum(col("nt")).over(later))
      .crossJoin(broadcast(users))
    val w = dbl(col("r")) / (dbl(col("n_a")) + dbl(col("n_b")))
    val share = dbl(col("ra")) / dbl(col("r"))
    val uTerm = round(w * (dbl(col("da")) - share * dbl(col("d"))), 9)
    val vTerm = when(col("r") > 1L,
      round(w * w * dbl(col("d")) * share * (lit(1.0) - share) *
        (dbl(col("r")) - dbl(col("d"))) / (dbl(col("r")) - lit(1.0)), 9))
      .otherwise(lit(0.0))
    val agg = risked.agg(
      max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
      sum(uTerm.cast(DecimalType(28, 9))).as("u"),
      sum(vTerm.cast(DecimalType(28, 9))).as("v"))
    agg.select(col("n_a"), col("n_b"),
      round(when(dbl(col("v")) > 0.0,
        dbl(col("u")) / sqrt(dbl(col("v")))), 6).as("z"),
      round(when(dbl(col("v")) > 0.0,
        dbl(col("u")) * dbl(col("u")) / dbl(col("v"))), 6).as("chi2"))
  }

  /** LAGGED CROSS-CORRELATION between two integer series on a shared
    * time axis: for each lag L, Pearson r over the pairs (x_t, y_{t+L})
    * — the lead/lag detector ("views move purchases three hours later")
    * that [[autocorrPerKey]] can't see because it correlates a series
    * only with itself. Input frame is TIME-BUCKET-domain-sized by
    * contract (hours/days — aggregate first); the lag spine broadcasts,
    * pairs form by an equi-join on the shifted bucket id, and every sum
    * is exact in DECIMAL(38,0) with one pinned-order double finish per
    * lag (the q83/q335 discipline).
    */
  def crossCorr(
      df: DataFrame,
      tCol: String,
      xCol: String,
      yCol: String,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.distinct.size == lags.size)
    val base = df.select(col(tCol).cast("long").as("t"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val spine = df.sparkSession.createDataFrame(lags.map(Tuple1(_)))
      .toDF("lag")
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val pairs = base.as("a").crossJoin(broadcast(spine))
      .join(base.as("b"), col("b.t") === col("a.t") + col("lag"))
      .select(col("lag"), col("a.x").as("x"), col("b.y").as("y"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
      .select(col("lag"), col("n_pairs"),
        round((dbl(col("n_pairs")) * dbl(col("sxy")) -
            dbl(col("sx")) * dbl(col("sy"))) /
          (sqrt(dbl(col("n_pairs")) * dbl(col("sxx")) -
            dbl(col("sx")) * dbl(col("sx"))) *
            sqrt(dbl(col("n_pairs")) * dbl(col("syy")) -
              dbl(col("sy")) * dbl(col("sy")))), 6).as("r"))
      .orderBy(col("lag"))
  }

  /** ROLLING-ORIGIN one-step-ahead HOLT BACKTEST — the evaluation
    * [[holtPerKey]] itself never gives you: at every step t ≥ 3 the
    * pre-update state forecasts x_t, and |error| plus sMAPE terms
    * accumulate INSIDE the same sequential fold (so double-sum order is
    * pinned to series order and the oracle's recursive CTE replays it
    * term for term). α/β powers of two keep the complements exact.
    * Output per key: n, n_forecasts, mae, smape — the "should I trust
    * this forecaster on this series" report.
    */
  def holtBacktestPerKey(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      vCol: String,
      alpha: Double,
      beta: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0 && beta > 0.0 && beta <= 1.0)
    val v1 = element_at(col("__s"), 1).getField("__v")
    val v2 = element_at(col("__s"), 2).getField("__v")
    val folded = aggregate(
      expr("slice(__s, 3, greatest(size(__s) - 2, 0))"),
      struct(v2.as("s"), (v2 - v1).as("b"),
        lit(0.0).as("es"), lit(0.0).as("sm"), lit(0L).as("c")),
      (acc, e) => {
        val yHat = acc.getField("s") + acc.getField("b")
        val y = e.getField("__v")
        val err = abs(y - yHat)
        val denom = abs(y) + abs(yHat)
        val smT = when(denom === 0.0, lit(0.0))
          .otherwise(lit(2.0) * err / denom)
        val sN = lit(alpha) * y + lit(1.0 - alpha) * yHat
        struct(sN.as("s"),
          (lit(beta) * (sN - acc.getField("s")) +
            lit(1.0 - beta) * acc.getField("b")).as("b"),
          (acc.getField("es") + err).as("es"),
          (acc.getField("sm") + smT).as("sm"),
          (acc.getField("c") + 1L).as("c"))
      })
    df.select(col(keyCol), col(orderCol).cast("long").as("__o"),
        col(vCol).cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("__o"), col("__v")))).as("__s"))
      .filter(col("n") >= 3)
      .select(col(keyCol), col("n"),
        folded.getField("c").as("n_forecasts"),
        round(folded.getField("es") / folded.getField("c").cast("double"), 6)
          .as("mae"),
        round(folded.getField("sm") / folded.getField("c").cast("double"), 6)
          .as("smape"))
  }

  /** 1-D KALMAN FILTER (local-level model) per key — the
    * uncertainty-aware smoother beside [[holtPerKey]]: a random-walk
    * state x with process variance q, observed with noise variance r;
    * each step predicts (P+q), gains K = P'/(P'+r), and corrects
    * x += K·(z − x). Unlike the EWMA's fixed α, the gain ADAPTS — high
    * while uncertainty is large, settling toward the steady state — and
    * the posterior variance P is part of the answer ("how sure is the
    * level"). The recursion is inherently sequential per key, so it
    * folds inside ONE codegen'd HOF aggregate over the collected series
    * (the [[holtBacktestPerKey]] bound: one key's series in one row,
    * documented per-key contract); q and r should be powers of two so
    * the oracle's recursive CTE replays the same IEEE ops.
    */
  def kalmanLevelPerKey(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      vCol: String,
      qVar: Double,
      rVar: Double): DataFrame = {
    require(qVar > 0.0 && rVar > 0.0)
    val v1 = element_at(col("__s"), 1).getField("__v")
    val folded = aggregate(
      expr("slice(__s, 2, greatest(size(__s) - 1, 0))"),
      struct(v1.as("x"), lit(rVar).as("p")),
      (acc, e) => {
        val pp = acc.getField("p") + lit(qVar)
        val k = pp / (pp + lit(rVar))
        struct(
          (acc.getField("x") + k * (e.getField("__v") - acc.getField("x")))
            .as("x"),
          ((lit(1.0) - k) * pp).as("p"))
      })
    df.select(col(keyCol), col(orderCol).cast("long").as("__o"),
        col(vCol).cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("__o"), col("__v")))).as("__s"))
      .select(col(keyCol), col("n"),
        round(folded.getField("x"), 6).as("level"),
        round(folded.getField("p"), 6).as("p_var"))
  }

  /** CLASSICAL ADDITIVE DECOMPOSITION of a bucket-domain series into
    * trend + seasonal + remainder — the "what is actually growing vs
    * just cycling" splitter that [[holtWintersPerKey]] fits predictively
    * and q148 only measures residuals against. Trend is the standard
    * centered 2×m moving average for even period m (two offset m-windows
    * summed, divided once — exact integers until the single 1e-6-grid
    * division); the seasonal index per slot is the mean of detrended
    * values (decimal-grid), centered so the m indices sum to ~0 (each
    * slot weighted equally, not each row). Input is TIME-BUCKET-domain
    * sized by contract (aggregate first), so the unpartitioned ordered
    * windows are over an aggregate-scale frame; slots come from the
    * bucket id mod m, which stays honest under missing buckets even
    * though the MA window is row-based.
    */
  def maDecompose(
      df: DataFrame,
      tCol: String,
      vCol: String,
      period: Int): DataFrame = {
    require(period >= 2 && period % 2 == 0, "even period required")
    val h = period / 2
    val d186 = DecimalType(18, 6)
    val w1 = Window.orderBy(col("t")).rowsBetween(-h, h - 1)
    val w2 = Window.orderBy(col("t")).rowsBetween(-(h - 1), h)
    val base = df.select(col(tCol).cast("long").as("t"),
      col(vCol).cast("long").as("x"))
    val detr = base
      .withColumn("__s", sum(col("x")).over(w1) + sum(col("x")).over(w2))
      .withColumn("__c", count(lit(1)).over(w1) + count(lit(1)).over(w2))
      .withColumn("trend", when(col("__c") === 2 * period,
        round(col("__s").cast("double") / lit(2.0 * period), 6).cast(d186)))
      .withColumn("slot", pmod(col("t"), lit(period.toLong)))
      .withColumn("__d", col("x").cast(d186) - col("trend"))
    val slotMeans = detr.filter(col("trend").isNotNull)
      .groupBy(col("slot"))
      .agg(round(sum(col("__d")).cast("double") /
        count(lit(1)).cast("double"), 6).cast(d186).as("__seas0"))
    val center = slotMeans.agg(round(sum(col("__seas0")).cast("double") /
      count(lit(1)).cast("double"), 6).cast(d186).as("__ctr"))
    detr.join(broadcast(slotMeans), Seq("slot"), "left")
      .crossJoin(broadcast(center))
      .withColumn("seasonal", col("__seas0") - col("__ctr"))
      .select(col("t"), col("x"),
        col("trend").cast("double").as("trend"),
        col("seasonal").cast("double").as("seasonal"),
        (col("x").cast(d186) - col("trend") - col("seasonal"))
          .cast("double").as("remainder"))
  }

  /** ISOTONIC REGRESSION (weighted, nondecreasing) over a bucket domain
    * — the calibration fit every score-to-probability mapping ships
    * through (Zadrozny–Elkan): find the monotone curve minimizing
    * weighted SSE to the empirical rates. Computed by the EXACT minimax
    * characterization fitted(i) = max_{j≤i} min_{k≥i} avg(y[j..k]) — no
    * iteration, no merge schedule to replay (PAVA's answer is unique;
    * this closed form reaches it directly), so the oracle is the same
    * three-step SQL: prefix sums → suffix-min over k per start j →
    * max over starts. Input is BUCKET-domain sized by contract
    * (aggregate first); the pair frame is domain², fine for the ≤ a few
    * hundred buckets a calibration curve has. Interval averages land
    * once on the 1e-12 grid; ties there are value-identical so min/max
    * selection is stable.
    */
  def isotonicFit(
      df: DataFrame,
      xCol: String,
      ySumCol: String,
      nCol: String): DataFrame = {
    val d2412 = DecimalType(24, 12)
    def dbl(c: Column): Column = c.cast("double")
    val cum = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df.select(col(xCol).cast("long").as("x"),
        col(ySumCol).cast("long").as("ys"), col(nCol).cast("long").as("n"))
      .withColumn("rn", row_number().over(Window.orderBy(col("x"))))
      .withColumn("cp", sum(col("ys")).over(cum))
      .withColumn("cc", sum(col("n")).over(cum))
    val js = ranked.select(col("rn").as("j"),
      (col("cp") - col("ys")).as("pj"), (col("cc") - col("n")).as("cj"))
    val ks = ranked.select(col("rn").as("k"), col("cp").as("pk"),
      col("cc").as("ck"))
    val pairs = js.join(ks, col("j") <= col("k"))
      .withColumn("avg", round(dbl(col("pk") - col("pj")) /
        dbl(col("ck") - col("cj")), 12).cast(d2412))
    val wSuffix = Window.partitionBy(col("j")).orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = pairs.withColumn("m", min(col("avg")).over(wSuffix))
      .select(col("j"), col("k").as("i"), col("m"))
    val fitted = m.groupBy(col("i")).agg(max(col("m")).as("f"))
    ranked.join(fitted, ranked("rn") === fitted("i"))
      .select(col("x"), col("n"),
        round(dbl(col("ys")) / dbl(col("n")), 6).as("raw_rate"),
        round(dbl(col("f")), 6).as("fitted_rate"))
  }

  /** MASE-scored backtest (Hyndman–Koehler 2006): the Holt rolling-origin
    * backtest's MAE scaled by the SEASONAL-NAIVE MAE on the same series —
    * the unit-free "is this forecaster better than repeating yesterday"
    * ratio (MASE < 1 = beats the naive; sMAPE alone can't say that).
    * The naive denominator is one lag window over integer values (exact
    * sums, one division); the numerator comes from
    * [[holtBacktestPerKey]]'s sequential fold; the ratio divides the two
    * rounded reports, so the oracle composes its existing recursive
    * replay with a lag window.
    */
  def maseBacktest(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      vCentsCol: String,
      alpha: Double,
      beta: Double,
      season: Int): DataFrame = {
    require(season >= 1)
    val bt = holtBacktestPerKey(df, keyCol, orderCol,
      vCentsCol, alpha, beta)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).cast("long"))
    val sn = df.select(col(keyCol), col(orderCol),
        col(vCentsCol).cast("long").as("__v"))
      .withColumn("__lag", lag(col("__v"), season).over(w))
      .filter(col("__lag").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("__ns"),
        sum(abs(col("__v") - col("__lag"))).as("__sae"))
      .select(col(keyCol),
        round(col("__sae").cast("double") / col("__ns").cast("double"), 6)
          .as("mae_snaive"))
    bt.join(sn, Seq(keyCol))
      .select(col(keyCol), col("n"), col("n_forecasts"), col("mae"),
        col("mae_snaive"),
        round(col("mae") / col("mae_snaive"), 6).as("mase"))
  }

  /** SAX SYMBOLIZATION (Lin et al. 2003) per key: the series compresses
    * to PAA segment means (integer sums, one grid division per segment),
    * segments map to an `alphabet`-ary symbol by EXACT-RANK global
    * breakpoints (value at rank ⌈n·i/α⌉ over the segment-mean domain —
    * no Gaussian assumption, no approx percentile), and each key's
    * symbols concatenate in time order into the motif string that
    * downstream matching/indexing consumes. Everything after the PAA
    * census is segment-domain sized; breakpoints are ≤ α−1 values and
    * broadcast. Symbols: 'a' lowest band upward.
    */
  def saxSymbols(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      vCol: String,
      paaWindow: Int,
      alphabet: Int): DataFrame = {
    require(paaWindow >= 1 && alphabet >= 2 && alphabet <= 26)
    val d186 = DecimalType(18, 6)
    val paa = df.select(col(keyCol).as("k"),
        (col(tCol).cast("long") / paaWindow).cast("long").as("seg"),
        col(vCol).cast("long").as("v"))
      .groupBy(col("k"), col("seg"))
      .agg(round(sum(col("v")).cast("double") /
        count(lit(1)).cast("double"), 6).cast(d186).as("m"))
    val byV = paa.groupBy(col("m")).agg(count(lit(1)).as("t"))
    val cum = Window.orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    val ranked = byV
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("n", sum(col("t")).over(tot))
    // breakpoint i = value at rank ceil(n*i/alpha), integer arithmetic
    val bps = (1 until alphabet).map { i =>
      ranked.filter(col("c") >= expr(s"(n * $i + ${alphabet - 1}) div $alphabet"))
        .agg(min(col("m")).as(s"b$i"))
    }.reduce(_ crossJoin _)
    val symIdx = (1 until alphabet).map(i =>
      when(col("m") > col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    paa.crossJoin(broadcast(bps))
      .withColumn("sym",
        element_at(array(('a' until ('a' + alphabet).toChar)
          .map(ch => lit(ch.toString)): _*), symIdx + 1))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_segments"),
        array_join(transform(
          sort_array(collect_list(struct(col("seg"), col("sym")))),
          x => x.getField("sym")), "").as("sax"))
  }

  /** HILL TAIL-INDEX estimator — "how heavy is this distribution's
    * tail": α̂ = k / Σᵢ₌₁..ₖ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k+1 largest values
    * (Hill 1975). α near 1–2 means a power-law tail where means/maxima
    * are dominated by a few giants (plan for skew!); large α means the
    * tail decays fast. The distributional companion to q277's Zipf fit
    * (ranks of a frequency spectrum) — this works on any positive
    * measure directly. Cost: a global top-(k+1) (TakeOrdered — k is
    * answer-sized), then k log terms on the 1e-9 decimal grid summed
    * exactly; ties at the threshold are harmless because only the VALUE
    * multiset enters the sum.
    */
  def hillTailIndex(df: DataFrame, vCol: String, k: Int): DataFrame = {
    require(k >= 2)
    val top = df.select(col(vCol).cast("long").as("v"))
      .filter(col("v") > 0L)
      .orderBy(col("v").desc).limit(k + 1)
    val thr = top.agg(min(col("v")).as("xmin"), count(lit(1)).as("n_top"))
    top
      .withColumn("rn", row_number().over(Window.orderBy(col("v").desc)))
      .filter(col("rn") <= k)
      .crossJoin(broadcast(thr))
      .withColumn("term", round(log(col("v").cast("double") /
        col("xmin").cast("double")), 9).cast(DecimalType(18, 9)))
      .groupBy(col("xmin"), col("n_top"))
      .agg(count(lit(1)).as("k"), sum(col("term")).as("__s"))
      .select(col("k"), col("xmin"),
        round(col("k").cast("double") / col("__s").cast("double"), 6)
          .as("alpha"))
  }

  /** MAXIMUM DRAWDOWN per key — the risk statistic of a value series:
    * the deepest peak-to-trough fall `max_t (max_{s≤t} v_s − v_t)`, plus
    * the running peak and global trough for context. A pure window
    * composition (running max inside the key partition, then one
    * aggregate), so the whole thing is two key-partitioned shuffles with
    * ZERO sequential state — unlike [[holtBacktestPerKey]]'s fold this
    * needs no collect_list bound because running max is
    * window-streamable. Values are integer cents by contract, so every
    * intermediate is exact; `orderCols` must pin a deterministic total
    * order within the key (running max depends on it when timestamps
    * tie).
    */
  def maxDrawdown(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String],
      vCentsCol: String): DataFrame = {
    require(orderCols.nonEmpty)
    val v = col(vCentsCol).cast("long")
    // the value column may itself be an order tie-break: reference it
    // through __v so the projection never carries a duplicate name
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(c =>
        if (c == vCentsCol) col("__v") else col(c)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol) +:
        orderCols.filterNot(_ == vCentsCol).map(col) :+ v.as("__v"): _*)
      .withColumn("__dd", max(col("__v")).over(w) - col("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        max(col("__dd")).as("max_drawdown"),
        max(col("__v")).as("peak"),
        min(col("__v")).as("trough"))
  }

  /** MANN–KENDALL trend test per key — the NONPARAMETRIC "is this series
    * trending" beside [[olsPerKey]]'s parametric slope: S = Σ_{i<j}
    * sgn(x_j − x_i) over the time-ordered series, exact INTEGER
    * throughout, with the tie-corrected variance
    * Var(S) = (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18 and the
    * continuity-corrected Z = (S ∓ 1)/√Var — monotone trends register
    * regardless of shape, outliers count ±1 like everyone else.
    *
    * The pair enumeration is a per-key self-join (Σ n_k² pairs): the
    * contract is BUCKETED series (daily/hourly per key, n_k in the
    * hundreds), where n² beats the O(n log n) merge-count's constant and
    * stays one equi-join shuffle. Ties need no special pair handling
    * (sgn 0) but enter Var through the per-value census.
    */
  def mannKendall(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(keyCol).as("k"),
      col(orderCol).cast("long").as("t"), col(valueCol).cast("long").as("v"))
    val pairs = base.select(col("k"), col("t").as("t1"), col("v").as("v1"))
      .join(base.select(col("k"), col("t").as("t2"), col("v").as("v2")),
        Seq("k"))
      .filter(col("t1") < col("t2"))
      .groupBy(col("k"))
      .agg(sum(when(col("v2") > col("v1"), 1L)
        .when(col("v2") < col("v1"), -1L).otherwise(0L)).as("s"))
    val sizes = base.groupBy(col("k"))
      .agg(count(lit(1)).as("n"))
    val ties = base.groupBy(col("k"), col("v"))
      .agg(count(lit(1)).as("tj"))
      .groupBy(col("k"))
      .agg(sum(col("tj") * (col("tj") - 1L) * (lit(2L) * col("tj") + 5L))
        .as("tsum"))
    val varS = (dbl(col("n")) * (dbl(col("n")) - 1.0) *
      (lit(2.0) * dbl(col("n")) + 5.0) - dbl(col("tsum"))) / 18.0
    val z = when(col("s") > 0L, (dbl(col("s")) - 1.0) / sqrt(varS))
      .when(col("s") < 0L, (dbl(col("s")) + 1.0) / sqrt(varS))
      .otherwise(lit(0.0))
    pairs.join(sizes, Seq("k")).join(ties, Seq("k"))
      .filter(col("n") >= 3L) // Var degenerates below 3 points
      .select(col("k"), col("n"), col("s"),
        round(varS, 6).as("var_s"),
        round(z, 6).as("z"))
  }

  /** PAGE–HINKLEY drift detector per key — the sequential mean-shift
    * monitor beside [[cusumShifts]]'s known-level form: PH tracks
    * m_t = Σ(x_s − x̄_s − δ) against its running MINIMUM (x̄_s = mean of
    * the series UP TO s, so no reference level is supplied), and alarms
    * when the lift m_t − min m exceeds λ — the standard concept-drift
    * gate over model-quality or volume series.
    *
    * Exactness: each per-step term is one pinned double expression
    * (v − S_t/t − δ) quantized to the 1e-9 grid, the cumulative sum and
    * running min are then EXACT decimal window folds in time order, and
    * the alarm compare/peak argmax run on those exact decimals (peak tie
    * → earliest bucket). Key-partitioned windows only; series bucketed
    * by contract. δ and λ are in cents (the [[cusumShifts]] convention).
    */
  def pageHinkley(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      centsCol: String,
      deltaCents: Double,
      lambdaCents: Double): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val run = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
      col(centsCol).cast("long").as("__v"))
    val walked = base
      .withColumn("__rn", row_number().over(byKey).cast("long"))
      .withColumn("__s", sum(col("__v")).over(run))
      .withColumn("__term",
        round(dbl(col("__v")) - dbl(col("__s")) / dbl(col("__rn")) -
          lit(deltaCents), 9).cast(DecimalType(28, 9)))
      .withColumn("__m", sum(col("__term")).over(run))
      .withColumn("__ph", col("__m") - min(col("__m")).over(run))
    walked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        round(dbl(max(struct(col("__ph"), (-col("__b")).as("nb")))
          .getField("__ph")), 6).as("max_ph"),
        (-max(struct(col("__ph"), (-col("__b")).as("nb")))
          .getField("nb")).as("peak_bucket"),
        min(when(dbl(col("__ph")) > lit(lambdaCents), col("__b")))
          .as("alarm_bucket"))
      .withColumn("alarmed", col("alarm_bucket").isNotNull)
  }

  /** CROSTON'S METHOD per key — the INTERMITTENT-demand forecaster:
    * exponential smoothing of demand SIZES and inter-demand INTERVALS
    * separately, forecast = z/p demand per bucket. Sparse series (most
    * buckets zero — spare parts, long-tail SKUs, rare event types) make
    * [[holtPerKey]] forecast mostly-zero noise; Croston smooths only at
    * demand points.
    *
    * Convention (documented, replayed by the oracle): z initializes to
    * the first demand size, p to the SECOND event's gap; from the third
    * event both smooth with α (z from the second). α a power of two so
    * the fold's IEEE ops replay bit-identically in the oracle's
    * recursive CTE (with explicit anchor casts — the §6 DECIMAL-anchor
    * trap). One codegen'd HOF fold per key over the sorted demand-event
    * array (events only — the zero buckets never materialize); keys
    * with < 2 demand events drop.
    */
  def crostonPerKey(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      qtyCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0)
    val first = element_at(col("__s"), 1)
    val folded = aggregate(
      expr("slice(__s, 2, greatest(size(__s) - 1, 0))"),
      struct(first.getField("__v").as("z"), lit(-1.0).as("p"),
        first.getField("__o").cast("double").as("lb")),
      (acc, e) => {
        val g = e.getField("__o").cast("double") - acc.getField("lb")
        val z2 = lit(alpha) * e.getField("__v") +
          lit(1.0 - alpha) * acc.getField("z")
        val p2 = when(acc.getField("p") < 0.0, g)
          .otherwise(lit(alpha) * g + lit(1.0 - alpha) * acc.getField("p"))
        struct(z2.as("z"), p2.as("p"),
          e.getField("__o").cast("double").as("lb"))
      })
    df.filter(col(qtyCol) > 0)
      .select(col(keyCol), col(bucketCol).cast("long").as("__o"),
        col(qtyCol).cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_demands"),
        sort_array(collect_list(struct(col("__o"), col("__v")))).as("__s"))
      .filter(col("n_demands") >= 2)
      .select(col(keyCol), col("n_demands"),
        round(folded.getField("z"), 6).as("size_hat"),
        round(folded.getField("p"), 6).as("interval_hat"),
        round(folded.getField("z") / folded.getField("p"), 6)
          .as("rate_forecast"))
  }

  /** SBC DEMAND CLASSIFICATION (Syntetos–Boylan–Croston) per key — the
    * routing decision BEFORE forecasting: smooth / intermittent /
    * erratic / lumpy from (ADI, CV²) with the standard pinned cutoffs
    * 1.32 and 0.49; smooth series go to [[holtPerKey]]-family models,
    * intermittent/lumpy to [[crostonPerKey]]. ADI = (last − first)/(n−1)
    * over demand events, CV² = sample-variance/mean² of the sizes —
    * exact integer census moments, two pinned ratios, literal compares.
    */
  def sbcClassify(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      qtyCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val q = col(qtyCol).cast("long").cast(d38)
    val m = df.filter(col(qtyCol) > 0)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col(bucketCol).cast("long")).as("b0"),
        max(col(bucketCol).cast("long")).as("b1"),
        sum(q).as("s"), sum(q * q).as("ss"))
      .filter(col("n") >= 2L && col("s") > lit(0).cast(d38))
    val n = dbl(col("n"))
    val adi = dbl(col("b1") - col("b0")) / (n - 1.0)
    val mean = dbl(col("s")) / n
    val variance = (n * dbl(col("ss")) - dbl(col("s")) * dbl(col("s"))) /
      (n * (n - 1.0))
    val cv2 = variance / (mean * mean)
    m.select(col(keyCol), col("n").as("n_demands"),
      round(adi, 6).as("adi"), round(cv2, 6).as("cv2"),
      when(adi < 1.32 && cv2 < 0.49, "smooth")
        .when(adi >= 1.32 && cv2 < 0.49, "intermittent")
        .when(adi < 1.32, "erratic")
        .otherwise("lumpy").as("class"))
  }

  /** PINBALL (quantile) LOSS evaluation per key — scores a QUANTILE
    * forecast the way MAE scores a point forecast: the exact p90 of the
    * EVEN buckets (train) is held as the forecast and scored against
    * the ODD buckets (test) with L_q(y, F) = max(q(y−F), (q−1)(y−F)).
    * A well-calibrated q-quantile minimizes it; systematic under- or
    * over-forecasting shows up asymmetrically.
    *
    * The forecast is an exact census order statistic (100·cum ≥ q·n in
    * pure integers — the q218 weighted-quantile form), y − F diffs are
    * exact integers, each loss term is one 0.9·int product on the 1e-9
    * grid, decimal-summed; the mean is the single final division.
    */
  def pinballEval(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      centsCol: String,
      qBp: Int = 9000): DataFrame = {
    require(qBp > 0 && qBp < 10000)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
      col(centsCol).cast("long").as("__v"))
    val train = base.filter(pmod(col("__b"), lit(2L)) === 0L)
    val test = base.filter(pmod(col("__b"), lit(2L)) === 1L)
    val census = train.groupBy(col(keyCol), col("__v"))
      .agg(count(lit(1)).as("t"))
    val cum = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val f = census
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("n", sum(col("t")).over(Window.partitionBy(col(keyCol))))
      .filter(col("c") * 10000L >= col("n") * qBp)
      .groupBy(col(keyCol)).agg(min(col("__v")).as("f"))
    val qq = qBp.toDouble / 10000.0
    val terms = test.join(f, Seq(keyCol.toString))
      .withColumn("d", col("__v") - col("f"))
      .withColumn("term",
        round(greatest(lit(qq) * dbl(col("d")),
          lit(qq - 1.0) * dbl(col("d"))), 9).cast(DecimalType(28, 9)))
    terms.groupBy(col(keyCol))
      .agg(max(col("f")).as("forecast"),
        count(lit(1)).as("n_test"),
        round(dbl(sum(col("term"))) / dbl(count(lit(1))), 6)
          .as("pinball"))
  }

  /** OVERDISPERSION CHECK per key — variance-to-mean ratio of a count
    * series plus the Poisson dispersion statistic D = (n−1)·VMR ~
    * χ²(n−1): "are these counts Poisson-noise or is there burstiness"
    * — the modeling gate before anyone fits rate-based alerting
    * thresholds (a VMR ≫ 1 series needs a negative-binomial or
    * empirical band, not ±k√λ). Exact integer moments (counts in
    * DECIMAL(38,0)), VMR and D single pinned expressions; zero-mean
    * keys emit NULL.
    */
  def dispersionCheck(
      df: DataFrame,
      keyCol: String,
      countCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val m = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(countCol).cast("long").cast(d38)).as("s"),
        sum(col(countCol).cast("long").cast(d38) *
          col(countCol).cast("long").cast(d38)).as("ss"))
      .filter(col("n") >= 2L)
    val n = dbl(col("n"))
    val mean = dbl(col("s")) / n
    val variance = (n * dbl(col("ss")) - dbl(col("s")) * dbl(col("s"))) /
      (n * (n - 1.0))
    val vmr = variance / mean
    m.select(col(keyCol), col("n"),
      round(mean, 6).as("mean"),
      round(variance, 6).as("variance"),
      round(when(col("s") > lit(0).cast(d38), vmr), 6).as("vmr"),
      round(when(col("s") > lit(0).cast(d38), (n - 1.0) * vmr), 6)
        .as("dispersion_stat"))
  }

  /** NEGATIVE-BINOMIAL FIT (method of moments) per key — the parameter
    * step after [[dispersionCheck]] says "overdispersed": r̂ = m²/(v−m),
    * p̂ = m/v give the NB(r, p) whose alert bands actually fit bursty
    * counts where Poisson ±k√λ pages constantly. Exact integer moments,
    * two pinned finishes; keys with v ≤ m (not overdispersed — Poisson
    * or degenerate) emit NULL parameters rather than a negative r.
    */
  def negbinFit(
      df: DataFrame,
      keyCol: String,
      countCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val c = col(countCol).cast("long").cast(d38)
    val m = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(c).as("s"), sum(c * c).as("ss"))
      .filter(col("n") >= 2L)
    val n = dbl(col("n"))
    val mean = dbl(col("s")) / n
    val variance = (n * dbl(col("ss")) - dbl(col("s")) * dbl(col("s"))) /
      (n * (n - 1.0))
    val over = variance > mean && mean > lit(0.0)
    m.select(col(keyCol), col("n"),
      round(mean, 6).as("mean"),
      round(variance, 6).as("variance"),
      round(when(over, mean * mean / (variance - mean)), 6).as("r_hat"),
      round(when(over, mean / variance), 6).as("p_hat"))
  }

  /** ZERO-INFLATED POISSON FIT (method of moments) per key — the
    * STRUCTURAL-ZEROS answer beside [[negbinFit]]'s burstiness: weekly
    * part demand is zero most weeks not because a Poisson got unlucky
    * but because nothing was ordered at all; ZIP splits the two with
    * π (the structural-zero mass) and λ (the rate WHEN active):
    * λ̂ = (v + m² − m)/m, π̂ = 1 − m/λ̂. The routing question q464's SBC
    * classes gesture at, answered parametrically. Exact integer
    * moments, pinned finishes, the fitted zero share
    * π + (1−π)·e^{−λ} emitted beside the OBSERVED zero share (the
    * one-glance fit diagnostic; exp pinned at 1e-12, the q640 sigmoid
    * discipline). Keys that are not zero-over-dispersed (λ̂ ≤ m: plain
    * Poisson or thinner) read NULL parameters. Caller supplies a
    * DENSE series — absent zero buckets would silently bias m upward.
    */
  def zipFit(
      df: DataFrame,
      keyCol: String,
      countCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val c = col(countCol).cast("long")
    zipFinish(df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(c.cast(d38)).as("s"),
        sum((c * c).cast(d38)).as("ss"),
        sum(when(c === 0L, 1L).otherwise(0L)).as("z"))
      .filter(col("n") >= 2L), keyCol)
  }

  /** [[zipFit]] from a SPARSE series: absent buckets ARE the zeros, so
    * the key × bucket grid is never materialized — per key the moments
    * come from the observed rows alone (zeros add nothing to Σx/Σx²)
    * and the zero count is `totalBuckets − observed + explicit zeros`.
    * Bit-identical to [[zipFit]] over the densified frame (spec-pinned)
    * at a fraction of the cost — the shape that survives 10⁹ keys ×
    * 10³ buckets.
    */
  def zipFitFromSparse(
      df: DataFrame,
      keyCol: String,
      countCol: String,
      totalBuckets: Long): DataFrame = {
    require(totalBuckets >= 2L, "zipFit needs >= 2 buckets")
    val d38 = DecimalType(38, 0)
    val c = col(countCol).cast("long")
    zipFinish(df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__obs"),
        sum(c.cast(d38)).as("s"),
        sum((c * c).cast(d38)).as("ss"),
        sum(when(c === 0L, 1L).otherwise(0L)).as("__z0"))
      .select(col(keyCol), lit(totalBuckets).as("n"), col("s"), col("ss"),
        (lit(totalBuckets) - col("__obs") + col("__z0")).as("z")), keyCol)
  }

  /** Shared ZIP finisher over a (key, n, s, ss, z) census. */
  private def zipFinish(m0: DataFrame, keyCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val n = dbl(col("n"))
    val m = round(dbl(col("s")) / n, 9)
    val v = round((n * dbl(col("ss")) - dbl(col("s")) * dbl(col("s"))) /
      (n * (n - 1.0)), 9)
    val lam = round((v + m * m - m) / m, 9)
    val pi = round(lit(1.0) - m / lam, 9)
    val ok = col("s") > lit(0).cast(d38) && lam > m && lam > 0.0
    val ez = round(exp(-lam), 12)
    m0.select(col(keyCol), col("n"),
      (m + lit(0.0)).as("mean"),
      (v + lit(0.0)).as("variance"),
      (round(dbl(col("z")) / n, 6) + lit(0.0)).as("zero_share"),
      when(ok, round(pi, 6) + lit(0.0)).as("pi_hat"),
      when(ok, round(lam, 6) + lit(0.0)).as("lambda_hat"),
      when(ok, round(pi + (lit(1.0) - pi) * ez, 6) + lit(0.0))
        .as("fit_zero_share"))
      .orderBy(col(keyCol))
  }

  /** XmR (individuals + moving range) CONTROL CHART per key — the SPC
    * workhorse for "is this series just noise or did something change":
    * natural process limits x̄ ± 2.66·M̄R from the mean moving range
    * (2.66 = 3/d₂ for n=2, the standard constant), points outside are
    * special-cause signals. The ops-facing cousin of [[pageHinkley]]
    * (which accumulates; XmR flags single excursions).
    *
    * Exactness: Σx and Σ|Δx| are exact integers (cents), x̄ / M̄R / the
    * limits are pinned double expressions over them, and each point's
    * violation compare runs on those identical doubles — engine-exact.
    * One lag-window pass, key-partitioned; ≥ 2 points per key.
    */
  def xmrChart(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      centsCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
      col(centsCol).cast("long").as("__v"))
    val withMr = base
      .withColumn("__mr", abs(col("__v") - lag(col("__v"), 1).over(byKey)))
    val stats = withMr.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("s"),
        sum(col("__mr")).as("smr"),
        count(col("__mr")).as("nmr"))
      .filter(col("nmr") >= 1L)
    val xbar = dbl(col("s")) / dbl(col("n"))
    val mrbar = dbl(col("smr")) / dbl(col("nmr"))
    val limits = stats.select(col(keyCol), col("n"),
      xbar.as("__xbar"), mrbar.as("__mrbar"),
      (xbar + lit(2.66) * mrbar).as("__ucl"),
      (xbar - lit(2.66) * mrbar).as("__lcl"))
    base.join(limits, Seq(keyCol.toString))
      .groupBy(col(keyCol))
      .agg(max(col("n")).as("n"),
        round(max(col("__xbar")), 6).as("xbar"),
        round(max(col("__mrbar")), 6).as("mr_bar"),
        round(max(col("__ucl")), 6).as("ucl"),
        round(max(col("__lcl")), 6).as("lcl"),
        sum(when(dbl(col("__v")) > col("__ucl") ||
          dbl(col("__v")) < col("__lcl"), 1L).otherwise(0L))
          .as("n_violations"),
        min(when(dbl(col("__v")) > col("__ucl") ||
          dbl(col("__v")) < col("__lcl"), col("__b")))
          .as("first_violation"))
  }

  /** SEASONAL MANN–KENDALL — [[mannKendall]] computed WITHIN each season
    * (hour-of-day, month, …) and combined: S = Σ_h S_h and
    * Var = Σ_h Var_h (seasons are independent under H₀), so a diurnal
    * cycle no longer reads as "trend" and a real cross-day drift still
    * does — the Hirsch–Slack test every seasonal ops series needs.
    *
    * Per-season integer pair counts (the [[mannKendall]] census²-within-
    * season contract), per-season variance NUMERATORS n(n−1)(2n+5) −
    * Σtⱼ(tⱼ−1)(2tⱼ+5) kept as exact integers and summed BEFORE the
    * single /18 — so the combined variance is one pinned double, and
    * the continuity-corrected Z matches [[mannKendall]]'s form on the
    * seasonal total.
    */
  def seasonalMannKendall(
      df: DataFrame,
      keyCol: String,
      seasonCol: String,
      orderCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(keyCol).as("k"),
      col(seasonCol).cast("long").as("h"),
      col(orderCol).cast("long").as("t"), col(valueCol).cast("long").as("v"))
    val s = base.select(col("k"), col("h"), col("t").as("t1"),
        col("v").as("v1"))
      .join(base.select(col("k"), col("h"), col("t").as("t2"),
        col("v").as("v2")), Seq("k", "h"))
      .filter(col("t1") < col("t2"))
      .groupBy(col("k"))
      .agg(sum(when(col("v2") > col("v1"), 1L)
        .when(col("v2") < col("v1"), -1L).otherwise(0L)).as("s"))
    val ties = base.groupBy(col("k"), col("h"), col("v"))
      .agg(count(lit(1)).as("tj"))
      .groupBy(col("k"), col("h"))
      .agg(sum(col("tj") * (col("tj") - 1L) * (lit(2L) * col("tj") + 5L))
        .as("tsum"), sum(col("tj")).as("n_h"))
    val perSeason = ties
      .withColumn("numvar", col("n_h") * (col("n_h") - 1L) *
        (lit(2L) * col("n_h") + 5L) - col("tsum"))
      .groupBy(col("k"))
      .agg(sum(col("n_h")).as("n"), count(lit(1)).as("n_seasons"),
        sum(col("numvar")).as("numvar"))
    val varS = dbl(col("numvar")) / 18.0
    val z = when(col("s") > 0L, (dbl(col("s")) - 1.0) / sqrt(varS))
      .when(col("s") < 0L, (dbl(col("s")) + 1.0) / sqrt(varS))
      .otherwise(lit(0.0))
    s.join(perSeason, Seq("k"))
      .filter(col("numvar") > 0L)
      .select(col("k"), col("n"), col("n_seasons"), col("s"),
        round(varS, 6).as("var_s"), round(z, 6).as("z"))
  }

  /** DISTRIBUTED PAVA — [[isotonicFit]]'s exact answer at domains where
    * the minimax pair frame (domain²) stops being writable: range-shuffle
    * the bucket census, pool adjacent violators LOCALLY per partition
    * (classic PAVA invariant: adjacent violators share a level set in
    * the unique optimum, so local pooling can never cross a boundary the
    * global solution keeps), then run the same stack merge once over the
    * collected partition block lists — O(blocks) driver work against
    * metadata-sized state (the markovRemoval / FFD posture, bounded
    * loudly by `maxBlocks`). A million-bucket domain that local-pools to
    * thousands of blocks costs one range shuffle + one coalesced pass —
    * versus 10¹² minimax pairs.
    *
    * Violation compare is cross-multiplied BigInt (exact at any count
    * scale); ties merge (fitted values are identical either way, and
    * pinning it keeps block frames deterministic). Fitted values take
    * the same two-step 1e-12 → 1e-6 grid as [[isotonicFit]], so the two
    * operators agree bit for bit — the spec asserts it and the oracle
    * replays the minimax form. Per-x expansion is the q57 bucketized
    * containment join, never blocks × domain.
    *
    * mapPartitions is the honest tool here (case (d) of the operator
    * preference order): the local pool is genuinely per-partition
    * imperative state over a sorted run.
    */
  def isotonicPava(
      df: DataFrame,
      xCol: String,
      ySumCol: String,
      nCol: String,
      maxBlocks: Int = 2000000,
      bucketSize: Long = 64L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def mergeInto(
        stack: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)],
        block: (Long, Long, Long, Long)): Unit = {
      var cur = block
      while (stack.nonEmpty &&
        BigInt(stack.last._3) * cur._4 >= BigInt(cur._3) * stack.last._4) {
        val top = stack.remove(stack.length - 1)
        cur = (top._1, cur._2, top._3 + cur._3, top._4 + cur._4)
      }
      stack += cur
    }
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranked = df.select(col(xCol).cast("long").as("x"),
      col(ySumCol).cast("long").as("ys"), col(nCol).cast("long").as("n"))
    val localBlocks = ranked
      .repartitionByRange(p, col("x"))
      .sortWithinPartitions(col("x"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        val stack =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        it.foreach { case (x, ys, n) => mergeInto(stack, (x, x, ys, n)) }
        stack.iterator
      }
      .collect() // partition order + within-partition order = x order
    require(localBlocks.length <= maxBlocks,
      s"isotonicPava: ${localBlocks.length} locally pooled blocks exceed " +
        s"maxBlocks=$maxBlocks — widen the bound or pre-bucket the domain")
    val stack =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    localBlocks.foreach(mergeInto(stack, _))
    def dbl(c: Column): Column = c.cast("double")
    val blocks = stack.toSeq.toDF("bxs", "bxe", "bys", "bn")
      .withColumn("f", round(dbl(col("bys")) / dbl(col("bn")), 12)
        .cast(DecimalType(24, 12)))
      .select(col("bxs"), (col("bxe") + 1L).as("bxh"), col("f"))
    Relational.rangeJoin(ranked, "x", blocks, "bxs", "bxh",
        bucketSize.toDouble)
      .select(col("x"), col("n"),
        round(dbl(col("ys")) / dbl(col("n")), 6).as("raw_rate"),
        round(dbl(col("f")), 6).as("fitted_rate"))
  }

  /** DOMINANT PERIOD detection — per key, the lag (2..maxLag) whose
    * autocorrelation is strongest: "does this series have a cycle, and
    * how long is it" — the periodicity screen run before anyone fits
    * [[holtWintersPerKey]]'s seasonal model with a guessed season
    * length. Composes [[autocorrPerKey]]'s exact-moment ACF (lag 1 is
    * excluded — trend momentum always wins it); the argmax is one
    * max(struct) per key over the grid-rounded ACF with the smaller lag
    * breaking ties — no window, no sort, lag-domain-sized.
    */
  def dominantPeriodPerKey(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      centsCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 2, "need at least lag 2 to call anything a period")
    val acf = autocorrPerKey(df, keyCol, bucketCol, centsCol, 2 to maxLag)
      .filter(col("acf").isNotNull)
    acf.groupBy(col(keyCol))
      .agg(max(struct(col("acf"), (-col("lag")).as("nl"), col("lag"),
        col("n"))).as("b"), count(lit(1)).as("n_lags"))
      .select(col(keyCol), col("b.lag").as("period"),
        col("b.acf").as("strength"), col("b.n").as("n_pairs"),
        col("n_lags"))
  }

  /** SEASONAL BAND monitor — per (key, slot-of-cycle): the exact
    * p10/p50/p90 envelope of the per-day values at that slot, and
    * whether the NEWEST day breaches it. The "is today's 3pm normal for
    * a 3pm" check — q300's global z-band reads a daily-seasonal series
    * as one distribution and alarms on every peak hour; this compares
    * each slot only to its own history. Order statistics are exact
    * integer ceiling-rank lookups from the (key, slot, value) census
    * (q318 form — never a per-row sort), the latest day is one pinned
    * scan, all windows are (key, slot)-partitioned.
    */
  def seasonalBandPerKey(
      df: DataFrame,
      keyCol: String,
      dayCol: String,
      slotCol: String,
      centsCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("k"), col(dayCol).as("d"),
      col(slotCol).as("slot"), col(centsCol).cast("long").as("v"))
      .localCheckpoint(true) // feeds the census AND the latest-day probe
    val latest = base.agg(max(col("d")).as("__dmax"))
    val census = base.groupBy(col("k"), col("slot"), col("v"))
      .agg(count(lit(1)).as("t"))
    val bySlot = Window.partitionBy(col("k"), col("slot"))
    val cum = bySlot.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cc = census
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("n", sum(col("t")).over(bySlot))
    def stat(tenths: Int, nm: String): Column =
      min(when(col("c") >= expr(s"($tenths * n + 9) div 10"), col("v"))).as(nm)
    val bands = cc.groupBy(col("k"), col("slot"))
      .agg(max(col("n")).as("n_days"), stat(1, "p10"), stat(5, "p50"),
        stat(9, "p90"))
    val latestV = base.crossJoin(broadcast(latest))
      .filter(col("d") === col("__dmax"))
      .select(col("k"), col("slot"), col("v").as("latest_v"))
    bands.join(latestV, Seq("k", "slot"), "left")
      .withColumn("breach",
        when(col("latest_v").isNotNull,
          col("latest_v") < col("p10") || col("latest_v") > col("p90")))
  }

  /** HAMPEL FILTER — per-key rolling-median outlier flags: a point is
    * anomalous when it sits more than 3 robust sigmas (3·1.4826·MAD,
    * pinned as the single literal 4.4478) from the CENTERED 7-point
    * rolling median. The median/MAD pair shrugs off the very outliers
    * that poison q253's EWMA and q300's z-score bands — the standard
    * despiking gate for sensor/metric series.
    *
    * Exactness: values are integer (cents discipline), the window median
    * and MAD are exact order statistics of a 7-element array (array_sort
    * + element_at — all codegen HOFs, nothing leaves the row), and the
    * only double op is the final pinned `|x−med| > 4.4478·mad` compare of
    * exact integers — engine-identical. Incomplete edge windows emit NULL
    * med/mad/flag (the q293 rolling-OLS convention). Shape: one key-
    * partitioned ordered window — per-key series bound contract, no
    * global sort, no shuffle beyond the key hash.
    */
  def hampelPerKey(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(xCol))
      .rowsBetween(-3, 3)
    val full = col("nwin") === 7
    df.select(col(keyCol), col(xCol), col(valueCol).cast("long").as("v"))
      .withColumn("win", collect_list(col("v")).over(w))
      .withColumn("nwin", size(col("win")))
      .withColumn("med",
        when(full, element_at(array_sort(col("win")), 4)))
      .withColumn("mad",
        when(full, element_at(array_sort(
          transform(col("win"), x => abs(x - col("med")))), 4)))
      .withColumn("is_outlier",
        when(full, abs(col("v") - col("med")).cast("double") >
          lit(4.4478) * col("mad").cast("double")))
      .drop("win", "nwin")
  }

  /** DURBIN–WATSON serial-correlation screen on per-key OLS residuals —
    * the "is the trend model missing structure" meter the slope alone
    * can't give: DW ≈ 2 means the residuals are white, DW → 0 means
    * positive lag-1 autocorrelation (the series wanders around the
    * line: the OLS standard errors everything downstream quotes are
    * optimistic), DW → 4 means alternation. Complements q429's
    * Ljung–Box, which tests the RAW series — DW asks the question
    * AFTER detrending, which is the form regression diagnostics need.
    * The [[olsPerKey]] census yields exact-integer slope/intercept
    * operands; each residual pins on the 1e-9 grid, the lag-1
    * differences and squares sum as exact decimals per key (windows
    * partitioned by key over the bucket domain — never an
    * unpartitioned sort), and the final ratio is one correctly-rounded
    * double division. Keys with a degenerate fit (under 3 points, one
    * distinct x, or zero residual mass) read NULL, never an infinity.
    */
  def durbinWatson(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val byKey = Window.partitionBy(col(keyCol))
    val based = df
      .withColumn("__xb", col(xCol) - min(col(xCol)).over(byKey))
      .select(col(keyCol), col("__xb").cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .localCheckpoint(true) // census + the residual pass share the scan
    val cen = based.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        countDistinct(col("x")).as("nx"))
      .filter(col("nx") >= 2 && col("n") >= 3)
      .withColumn("slope",
        (dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
          (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))))
      .withColumn("icept",
        (dbl(col("sy")) - col("slope") * dbl(col("sx"))) / dbl(col("n")))
    val resid = round(dbl(col("y")) -
      (col("icept") + col("slope") * dbl(col("x"))), 9).cast(d289)
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("x"))
    val rows = based.join(broadcast(cen.select(col(keyCol), col("n"),
        col("slope"), col("icept"))), Seq(keyCol))
      .withColumn("e", resid)
      .withColumn("ep", lag(col("e"), 1).over(ord))
    val d2 = round((dbl(col("e")) - dbl(col("ep"))) *
      (dbl(col("e")) - dbl(col("ep"))), 9).cast(d289)
    val e2 = round(dbl(col("e")) * dbl(col("e")), 9).cast(d289)
    rows.groupBy(col(keyCol))
      .agg(max(col("n")).as("n"),
        round(max(col("slope")), 6).as("slope"),
        round(max(col("icept")), 6).as("intercept"),
        sum(when(col("ep").isNotNull, d2)).as("__num"),
        sum(e2).as("__den"))
      .select(col(keyCol), col("n"), col("slope"), col("intercept"),
        when(dbl(col("__den")) > 0.0,
          round(dbl(col("__num")) / dbl(col("__den")), 6)).as("dw"),
        when(dbl(col("__den")) > 0.0,
          round(lit(1.0) - dbl(col("__num")) / dbl(col("__den")) / 2.0, 6))
          .as("rho1"))
  }

  /** GOLDFELD–QUANDT heteroscedasticity screen on per-key OLS — is the
    * noise GROWING along the regressor: fit the low-x third and the
    * high-x third separately (the middle dropped, as GQ prescribes, so
    * the variance contrast isn't diluted) and read F = (SSE_hi/df_hi)
    * / (SSE_lo/df_lo). F ≫ 1 means the trend's later residuals are
    * wider than its earlier ones — q564's DW says the residuals
    * REMEMBER each other, this says they're FANNING OUT, and either
    * one invalidates the homoscedastic SEs downstream quotes. Each
    * segment is an exact-integer census (Σx..Σxy..Σy²); SSE uses the
    * OLS orthogonality form Σy² − aΣy − bΣxy (one O(1) double
    * expression over exact integers, clamped at 0 against FP dust,
    * pinned at 1e-9), so both engines read identical ratios. The
    * rank split runs in a window PARTITIONED BY KEY over the bucket
    * domain — never an unpartitioned sort. Keys whose thirds are
    * under `minSeg` points or degenerate (one distinct x, zero lo-SSE)
    * read NULL F rather than an infinity.
    */
  def goldfeldQuandt(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      minSeg: Int = 3): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val byKey = Window.partitionBy(col(keyCol))
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(xCol))
    val seg = df
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__nk", count(lit(1)).over(byKey))
      .withColumn("__third", expr("__nk div 3"))
      .withColumn("seg",
        when(col("__rn") <= col("__third"), lit("lo"))
          .when(col("__rn") > col("__nk") - col("__third"), lit("hi")))
      .filter(col("seg").isNotNull && col("__third") >= minSeg)
      .select(col(keyCol), col("seg"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
    val cen = seg.groupBy(col(keyCol), col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"),
        countDistinct(col("x")).as("nx"))
      .filter(col("nx") >= 2)
    val b = (dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
      (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
    val a = (dbl(col("sy")) - b * dbl(col("sx"))) / dbl(col("n"))
    val fit = cen.select(col(keyCol), col("seg"), col("n"),
      round(b, 6).as("slope"),
      round(greatest(lit(0.0),
        dbl(col("syy")) - a * dbl(col("sy")) - b * dbl(col("sxy"))), 9)
        .as("sse"))
    val wide = fit.groupBy(col(keyCol)).agg(
      max(when(col("seg") === "lo", col("n"))).as("n_lo"),
      max(when(col("seg") === "hi", col("n"))).as("n_hi"),
      max(when(col("seg") === "lo", col("slope"))).as("slope_lo"),
      max(when(col("seg") === "hi", col("slope"))).as("slope_hi"),
      max(when(col("seg") === "lo", col("sse"))).as("sse_lo"),
      max(when(col("seg") === "hi", col("sse"))).as("sse_hi"))
    wide.select(col(keyCol), col("n_lo"), col("n_hi"),
      col("slope_lo"), col("slope_hi"), col("sse_lo"), col("sse_hi"),
      when(col("n_lo") > 2L && col("n_hi") > 2L && col("sse_lo") > 0.0,
        round((col("sse_hi") / (dbl(col("n_hi")) - 2.0)) /
          (col("sse_lo") / (dbl(col("n_lo")) - 2.0)), 6)).as("f_ratio"))
  }

  /** UNNORMALIZED HAAR ENERGY DECOMPOSITION per key — WHERE the
    * series' variance lives on the time axis: level-1 details are
    * hour-to-hour jitter, level-5 details are 16-to-32-hour swells; a
    * series whose energy concentrates low is noise, one that
    * concentrates high has slow structure worth modeling (the
    * multi-resolution complement to q501's single dominant period and
    * q255's fixed-lag ACF). Unnormalized transform (d = a−b,
    * s = a+b — no √2, so every coefficient is an EXACT INTEGER and
    * both engines hold identical energies; shares are the only
    * doubles). Each key's ordered series truncates to its largest
    * multiple of 2^levels (documented — Haar needs dyadic length),
    * then `levels` rounds of pair-halving; rank windows partition by
    * key over the bucket domain. Keys shorter than one full block
    * drop.
    */
  def haarEnergy(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      levels: Int = 5): DataFrame = {
    require(levels >= 1 && levels <= 16)
    def dbl(c: Column): Column = c.cast("double")
    val block = 1L << levels
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol))
    val byKey = Window.partitionBy(col(keyCol))
    var cur = df
      .withColumn("__i", row_number().over(ord).cast("long") - 1L)
      .withColumn("__n", count(lit(1)).over(byKey))
      .filter(col("__i") < expr(s"__n div $block") * block)
      .select(col(keyCol), col("__i").as("i"),
        col(valueCol).cast("long").as("v"))
      .localCheckpoint(true)
    val energies = (1 to levels).map { lvl =>
      val paired = cur.groupBy(col(keyCol), expr("i div 2").as("i2"))
        .agg(max(when(col("i") % 2 === 0, col("v"))).as("a"),
          max(when(col("i") % 2 === 1, col("v"))).as("b"))
      val e = paired.groupBy(col(keyCol))
        .agg(sum((col("a") - col("b")) * (col("a") - col("b")))
          .as("energy"), count(lit(1)).as("n_coeffs"))
        .select(col(keyCol), lit(lvl.toLong).as("level"),
          col("n_coeffs"), col("energy"))
      cur = paired.select(col(keyCol), col("i2").as("i"),
        (col("a") + col("b")).as("v")).localCheckpoint(true)
      e
    }
    val detail = energies.reduce(_.unionByName(_))
    val approx = cur.groupBy(col(keyCol))
      .agg(sum(col("v") * col("v")).as("energy"),
        count(lit(1)).as("n_coeffs"))
      .select(col(keyCol), lit(0L).as("level"), col("n_coeffs"),
        col("energy"))
    val all = detail.unionByName(approx)
    val tot = all.groupBy(col(keyCol)).agg(sum(col("energy")).as("te"))
    all.join(broadcast(tot), Seq(keyCol))
      .select(col(keyCol), col("level"), col("n_coeffs"), col("energy"),
        when(col("te") > 0L, round(dbl(col("energy")) / dbl(col("te")), 6))
          .as("energy_share"))
      .orderBy(col(keyCol), col("level"))
  }

  /** DYNAMIC TIME WARPING between every pair of keys' slot PROFILES —
    * shape similarity that tolerates PHASE: two event types with the
    * same daily rhythm shifted two hours read as near-identical here
    * and as far apart under q455's slot-by-slot JSD (Euclidean-family
    * distances charge the shift at every slot; DTW's elastic alignment
    * charges it once). Profiles are integer ppm shares ((count·10⁶)
    * div total — integer division, so both engines hold identical
    * vectors), costs are |Δppm|, and the DP is PURE INTEGER — zero
    * floating point anywhere, cross-engine exactness by construction.
    * The (key, slot) census collapses before a documented bounded
    * collect (keys × nSlots rows); the O(keys²·nSlots²) DP runs on
    * the driver over that bounded grid. Output: raw integer DTW cost
    * plus the share-denominated reading.
    */
  def dtwProfiles(
      df: DataFrame,
      keyCol: Column,
      slotCol: Column,
      nSlots: Int = 24): DataFrame = {
    require(nSlots >= 2)
    val spark = df.sparkSession
    val cen = df.select(keyCol.cast("string").as("k"),
        slotCol.cast("long").as("s"))
      .groupBy(col("k"), col("s")).agg(count(lit(1)).as("c"))
    val tot = cen.groupBy(col("k")).agg(sum(col("c")).as("t"))
    val prof = cen.join(tot, Seq("k"))
      .select(col("k"), col("s"), expr("c * 1000000 div t").as("ppm"))
    // bounded collect: keys × nSlots profile rows
    val byKey: Map[String, Array[Long]] = prof.collect()
      .groupBy(_.getString(0)).map { case (k, rs) =>
        val arr = Array.fill(nSlots)(0L)
        rs.foreach { r =>
          val s = r.getLong(1)
          if (s >= 0 && s < nSlots) arr(s.toInt) = r.getLong(2)
        }
        k -> arr
      }
    val keys = byKey.keys.toSeq.sorted
    val out = for {
      i <- keys.indices
      j <- (i + 1) until keys.size
    } yield {
      val a = byKey(keys(i)); val b = byKey(keys(j))
      val dp = Array.ofDim[Long](nSlots, nSlots)
      for (x <- 0 until nSlots; y <- 0 until nSlots) {
        val cost = math.abs(a(x) - b(y))
        dp(x)(y) = cost + ((x, y) match {
          case (0, 0) => 0L
          case (0, _) => dp(0)(y - 1)
          case (_, 0) => dp(x - 1)(0)
          case _ => math.min(dp(x - 1)(y),
            math.min(dp(x)(y - 1), dp(x - 1)(y - 1)))
        })
      }
      (keys(i), keys(j), dp(nSlots - 1)(nSlots - 1))
    }
    import spark.implicits._
    out.toDF("key_a", "key_b", "dtw_ppm")
      .select(col("key_a"), col("key_b"), col("dtw_ppm"),
        round(col("dtw_ppm").cast("double") / 1e6, 6).as("dtw_share"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** CIRCULAR STATISTICS for time-of-day — hour is a CIRCLE, and the
    * linear mean of {23h, 1h} is the nonsense "noon": per key, the
    * mean DIRECTION (the honest peak hour), the resultant length R ∈
    * [0,1] (how concentrated around it — the circular analogue of
    * 1−variance), circular variance 1−R, and the Rayleigh statistic
    * z = nR² (large z = the uniform-phase null is dead; z ≈ 0 = the
    * key has no daily rhythm at all — the EXISTENCE test under
    * q561's strength share and q501's period pick). One (key, slot)
    * census; per-slot cos/sin land once on the 1e-12 grid (24 libm
    * calls per engine, pinned before the exact decimal sums), the
    * atan2 readout at the end. Empty keys can't occur; R ≈ 0 keys
    * keep a defined (if meaningless) direction.
    */
  def circularStats(
      df: DataFrame,
      keyCol: Column,
      slotCol: Column,
      nSlots: Int = 24): DataFrame =
    circularFromCensus(df.select(keyCol.cast("string").as("k"),
        slotCol.cast("long").as("s"))
      .groupBy(col("k"), col("s")).agg(count(lit(1)).as("c")), nSlots)

  /** [[circularStats]] from a (k, s, c) slot census — counts add
    * across batches, so a streaming store's drained readout matches
    * the one-pass path and shares the batch oracle verbatim.
    */
  def circularFromCensus(
      censusDf: DataFrame,
      nSlots: Int = 24): DataFrame = {
    require(nSlots >= 2)
    def dbl(c: Column): Column = c.cast("double")
    val d1512 = DecimalType(15, 12)
    val cen = censusDf.groupBy(col("k"), col("s"))
      .agg(sum(col("c")).as("c"))
    val ang = col("s").cast("double") * (2.0 * math.Pi / nSlots)
    val staged = cen
      .withColumn("cs", round(cos(ang), 12).cast(d1512))
      .withColumn("sn", round(sin(ang), 12).cast(d1512))
    val agg = staged.groupBy(col("k"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(DecimalType(26, 12)) * col("cs")).as("sc"),
        sum(col("c").cast(DecimalType(26, 12)) * col("sn")).as("ss"))
    val r = sqrt(dbl(col("sc")) * dbl(col("sc")) +
      dbl(col("ss")) * dbl(col("ss"))) / dbl(col("n"))
    val dir = atan2(dbl(col("ss")), dbl(col("sc")))
    val dirSlots = (dir + lit(2.0 * math.Pi)) % lit(2.0 * math.Pi) *
      (nSlots / (2.0 * math.Pi))
    agg.select(col("k").as("key"), col("n"),
      round(dirSlots, 6).as("mean_hour"),
      round(r, 6).as("resultant_r"),
      round(lit(1.0) - r, 6).as("circ_variance"),
      round(dbl(col("n")) * r * r, 6).as("rayleigh_z"))
  }

  /** THEIL'S U + ERROR DECOMPOSITION against the SEASONAL-NAIVE
    * forecast — the "is your model worth having" yardstick and the
    * "WHY is it wrong" split in one: U1 compares RMSE to the scale of
    * the series (0 = perfect); the Theil decomposition splits MSE into
    * UM (bias² — systematic level miss, fixable by an intercept), US
    * (variance mismatch — the forecast is too smooth or too wild) and
    * UC (covariance — irreducible phase noise; the only share a good
    * model is ALLOWED to have). Here the forecast is each key's own
    * value `seasonLag` buckets earlier — the baseline every
    * seasonal model must beat (q361/q404 score Holt; this scores the
    * zero-parameter rival and diagnoses it). Exact integer pair
    * moments from one lag self-join (window, key-partitioned);
    * everything after is O(1) doubles per key.
    */
  def theilU(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      seasonLag: Int = 24): DataFrame = {
    require(seasonLag >= 1)
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("b"))
    val pairs = df
      .select(col(keyCol), col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("f", lag(col("v"), seasonLag).over(ord))
      .filter(col("f").isNotNull)
    val cen = pairs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sa"),
        sum(col("f")).as("sf"), sum(col("v") * col("v")).as("saa"),
        sum(col("f") * col("f")).as("sff"),
        sum((col("v") - col("f")) * (col("v") - col("f"))).as("sse"))
      .filter(col("n") >= 3L)
    val n = dbl(col("n"))
    val abar = dbl(col("sa")) / n
    val fbar = dbl(col("sf")) / n
    val va = dbl(col("saa")) / n - abar * abar
    val vf = dbl(col("sff")) / n - fbar * fbar
    val mse = dbl(col("sse")) / n
    val um = (fbar - abar) * (fbar - abar) / mse
    val us = (sqrt(vf) - sqrt(va)) * (sqrt(vf) - sqrt(va)) / mse
    val u1 = sqrt(mse) /
      (sqrt(dbl(col("saa")) / n) + sqrt(dbl(col("sff")) / n))
    cen.select(col(keyCol), col("n"),
      round(sqrt(mse), 6).as("rmse"),
      when(dbl(col("saa")) / n + dbl(col("sff")) / n > 0.0,
        round(u1, 6)).as("theil_u1"),
      when(mse > 0.0, round(um, 6)).as("um_bias"),
      when(mse > 0.0 && va >= 0.0 && vf >= 0.0, round(us, 6))
        .as("us_variance"),
      when(mse > 0.0 && va >= 0.0 && vf >= 0.0,
        round(lit(1.0) - um - us, 6)).as("uc_covariance"))
      .orderBy(col(keyCol))
  }

  /** HOUR-OF-DAY UNIFORMITY χ² per key — the ANY-shape rhythm test
    * beside [[circularStats]]' Rayleigh (Rayleigh is powered for
    * UNIMODAL concentration; a bimodal commute pattern with opposed
    * peaks cancels its resultant to zero, while this χ² against the
    * uniform slot law sees any departure). FULL slot spine (an empty
    * slot still owes its n/k expectation), χ² = Σ(O−n/k)²/(n/k) with
    * each term pinned once at 1e-9, df = k−1. One (key, slot) census.
    */
  def uniformityChi2(
      df: DataFrame,
      keyCol: Column,
      slotCol: Column,
      nSlots: Int = 24): DataFrame = {
    require(nSlots >= 2)
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val cen = df.select(keyCol.cast("string").as("k"),
        slotCol.cast("long").as("s"))
      .groupBy(col("k"), col("s")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // spine + totals read it
    val spine = cen.select(col("k")).distinct()
      .crossJoin(cen.sparkSession.range(nSlots)
        .select(col("id").cast("long").as("s")))
    val full = spine.join(cen, Seq("k", "s"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val tot = full.groupBy(col("k")).agg(sum(col("c")).as("n"))
    val e = dbl(col("n")) / nSlots
    val term = round((dbl(col("c")) - e) * (dbl(col("c")) - e) / e, 9)
      .cast(d289)
    full.join(broadcast(tot), Seq("k"))
      .filter(col("n") > 0L)
      .groupBy(col("k"), col("n"))
      .agg(sum(term).as("chi2s"))
      .select(col("k").as("key"), col("n"),
        lit(nSlots - 1L).as("df"),
        round(dbl(col("chi2s")), 6).as("chi2"))
      .orderBy(col("key"))
  }

  /** SAMPLE ENTROPY per key — regularity the linear tools can't see:
    * SampEn = −ln(A/B), where B counts pairs of length-2 templates
    * matching within tolerance `r` and A counts those still matching
    * at length 3. A perfectly repeating series has A ≈ B (every match
    * extends → SampEn ≈ 0); white noise extends almost never (SampEn
    * large). The nonlinear complement to [[hurstRS]] (long-memory) and
    * [[haarEnergy]] (where variance lives): two series can share both
    * and differ in REGULARITY. Integer tolerance, integer comparisons
    * — the match censuses are exact on both engines, ln is the only
    * libm call. The template pair join runs per key over the bucket
    * domain (calendar-bounded — at any corpus volume the hour domain
    * is the hour domain); i < j dedups pairs, self-matches excluded.
    * Both censuses run over the SAME template positions — only those
    * with a length-3 extension (the canonical Richman–Moorman
    * N−m−1 set), so B never counts a template A cannot reach and a
    * perfectly repeating series reads exactly 0. Keys with no
    * length-2 match read NULL.
    */
  def sampleEntropy(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      tolerance: Long = 20L): DataFrame = {
    require(tolerance >= 0L)
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("b"))
    val base = df
      .select(col(keyCol), col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("v1", lead(col("v"), 1).over(ord))
      .withColumn("v2", lead(col("v"), 2).over(ord))
      .filter(col("v2").isNotNull)
      .localCheckpoint(true) // both sides of the pair join read it
    val other = base.select(col(keyCol), col("i").as("j"),
      col("v").as("w"), col("v1").as("w1"), col("v2").as("w2"))
    val pairs = base.join(other, Seq(keyCol))
      .filter(col("i") < col("j") &&
        abs(col("v") - col("w")) <= tolerance &&
        abs(col("v1") - col("w1")) <= tolerance)
    val agg = pairs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("b_matches"),
        sum(when(abs(col("v2") - col("w2")) <= tolerance, 1L)
          .otherwise(0L)).as("a_matches"))
    // + 0.0 normalizes the A == B case's −0.0 to 0.0 (hash-stable
    // across engines)
    agg.select(col(keyCol), col("b_matches"), col("a_matches"),
      when(col("a_matches") > 0L && col("b_matches") > 0L,
        round(-log(dbl(col("a_matches")) / dbl(col("b_matches"))), 6) +
          lit(0.0))
        .as("sampen"))
      .orderBy(col(keyCol))
  }

  /** HURST EXPONENT by R/S ANALYSIS per key — long-memory in one
    * number: H ≈ 0.5 is a random walk's increments, H > 0.5 means
    * persistence (busy hours clump — yesterday's load predicts
    * today's beyond any fixed lag q255/q588 can see), H < 0.5 means
    * mean reversion. For each dyadic window size the series splits
    * into FULL blocks; per block R = range of cumulative deviations
    * from the block mean and S = the block σ; H is the OLS slope of
    * ln(mean R/S) on ln(window). Every per-block statistic is O(1)
    * doubles over exact integer block sums (cumulative deviations via
    * an in-block running sum — windows partitioned by (key, block)),
    * R/S ratios pin at 1e-9 before the per-size decimal mean, and the
    * 4-point regression is closed-form. Keys missing a size's single
    * full block drop that size; under 3 usable sizes the key reads
    * NULL.
    */
  def hurstRS(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(sizes.size >= 3 && sizes.forall(_ >= 4))
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("b"))
    val base = df
      .select(col(keyCol), col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("i", row_number().over(ord).cast("long") - 1L)
      .localCheckpoint(true) // every window size re-reads it
    val perSize = sizes.map { w =>
      val inBlk = Window.partitionBy(col(keyCol), col("blk"))
        .orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blkAgg = Window.partitionBy(col(keyCol), col("blk"))
      val staged = base
        .withColumn("blk", expr(s"i div $w"))
        .withColumn("cnt", count(lit(1)).over(blkAgg))
        .filter(col("cnt") === w.toLong)
        .withColumn("s1", sum(col("v")).over(blkAgg))
        .withColumn("s2", sum(col("v") * col("v")).over(blkAgg))
        .withColumn("cum", sum(col("v")).over(inBlk))
        .withColumn("j", row_number().over(
          Window.partitionBy(col(keyCol), col("blk")).orderBy(col("i")))
          .cast("long"))
      val mean = dbl(col("s1")) / w
      val dev = dbl(col("cum")) - dbl(col("j")) * mean
      val blocks = staged.groupBy(col(keyCol), col("blk"),
          col("s1"), col("s2"))
        .agg(max(dev).as("dmax"), min(dev).as("dmin"))
      val s = sqrt(dbl(col("s2")) / w -
        (dbl(col("s1")) / w) * (dbl(col("s1")) / w))
      val rs = round((col("dmax") - col("dmin")) / s, 9).cast(d289)
      blocks.filter(s > 0.0)
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("n_blocks"), sum(rs).as("rs_sum"))
        .select(col(keyCol), lit(w.toLong).as("w"),
          (dbl(col("rs_sum")) / dbl(col("n_blocks"))).as("mrs"))
    }.reduce(_.unionByName(_))
    val d189 = DecimalType(18, 9)
    val pts = perSize
      .select(col(keyCol),
        round(log(dbl(col("w"))), 9).cast(d189).as("x"),
        round(log(col("mrs")), 9).cast(d189).as("y"))
    val fit = pts.groupBy(col(keyCol))
      .agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .filter(col("np") >= 3L)
    fit.select(col(keyCol), col("np").as("n_sizes"),
      round((dbl(col("np")) * dbl(col("sxy")) -
        dbl(col("sx")) * dbl(col("sy"))) /
        (dbl(col("np")) * dbl(col("sxx")) -
          dbl(col("sx")) * dbl(col("sx"))), 6).as("hurst"))
      .orderBy(col(keyCol))
  }

  /** SHARPE AND SORTINO of a keyed daily series' LOG RETURNS — risk-
    * adjusted drift: mean return over total volatility (Sharpe) and
    * over DOWNSIDE-only deviation (Sortino — the one that doesn't
    * punish growth for being fast; two series with the same Sharpe
    * can differ wildly in how much of their volatility is drawdown).
    * The rate-of-change companion to q370's max drawdown and q253's
    * EWMA level. Per key: day-over-day ln ratios pinned once at 1e-9,
    * then exact decimal moment sums (Σr, Σr², Σ min(r,0)² with the
    * squares re-pinned) — order-independent, both engines hold
    * identical moments; the three ratios are O(1) doubles. Keys need
    * ≥ 3 returns; zero volatility or zero downside NULL their ratio.
    */
  def sharpeSortino(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val d189 = DecimalType(18, 9)
    val d289 = DecimalType(28, 9)
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("b"))
    val rets = df
      .select(col(keyCol), col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("pv", lag(col("v"), 1).over(ord))
      .filter(col("pv").isNotNull && col("pv") > 0L && col("v") > 0L)
      .withColumn("r", round(log(dbl(col("v")) / dbl(col("pv"))), 9)
        .cast(d189))
    val cen = rets.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
        sum(round(dbl(col("r")) * dbl(col("r")), 9).cast(d289)).as("srr"),
        sum(when(col("r") < 0,
          round(dbl(col("r")) * dbl(col("r")), 9).cast(d289))
          .otherwise(lit(0).cast(d289))).as("sneg"))
      .filter(col("n") >= 3L)
    val n = dbl(col("n"))
    val mean = dbl(col("sr")) / n
    val variance = (dbl(col("srr")) - n * mean * mean) / (n - lit(1.0))
    val dd = sqrt(dbl(col("sneg")) / n)
    cen.select(col(keyCol), col("n").as("n_returns"),
      round(mean, 6).as("mean_return"),
      when(variance > 0.0, round(sqrt(variance), 6)).as("volatility"),
      round(dd, 6).as("downside_dev"),
      when(variance > 0.0, round(mean / sqrt(variance), 6)).as("sharpe"),
      when(dd > 0.0, round(mean / dd, 6)).as("sortino"))
      .orderBy(col(keyCol))
  }

  /** RECORD-BREAKING STATISTICS per key — the trend detector built
    * from NOTHING but maxima: in an exchangeable (trendless) series
    * the k-th observation is a new running maximum with probability
    * 1/k, so expected records = H_n ≈ ln n; a series still setting
    * records far above its harmonic budget is growing, one that
    * stopped early has plateaued — and unlike q421's Mann–Kendall this
    * reads from the EXTREMES only, so level shifts in the bulk can't
    * mask it. One ordered pass (strict running-max flags, window
    * partitioned by key over the bucket domain); H_n from per-integer
    * 1e-12-pinned reciprocals summed exactly — both engines hold the
    * identical budget.
    */
  def recordStats(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = df
      .select(col(keyCol), col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("prevmax", max(col("v")).over(ord))
      .withColumn("rec",
        when(col("prevmax").isNull || col("v") > col("prevmax"), 1L)
          .otherwise(0L))
    val agg = flagged.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("rec")).as("n_records"),
        max(when(col("rec") === 1L, col("b"))).as("last_record_bucket"))
    val hn = expr("aggregate(sequence(CAST(1 AS BIGINT), n), " +
      "CAST(0 AS DECIMAL(28,12)), (acc, i) -> CAST(acc + " +
      "CAST(round(1.0 / CAST(i AS DOUBLE), 12) AS DECIMAL(28,12)) " +
      "AS DECIMAL(28,12)))")
    agg.select(col(keyCol), col("n"), col("n_records"),
      col("last_record_bucket"),
      round(dbl(hn), 6).as("expected_records"),
      round(dbl(col("n_records")) / dbl(hn), 6).as("record_ratio"))
  }

  /** MEAN-EXCESS (peaks-over-threshold) TABLE per key — the other half
    * of the extreme-value toolkit beside [[gumbelMaxima]]'s block
    * maxima: at each exact ceiling-rank percentile threshold u, the
    * exceedance count and the mean excess E[X−u | X>u]. The SLOPE of
    * mean excess in u is the classical tail diagnostic (rising =
    * heavy/Pareto tail — q383's Hill index is then meaningful; flat =
    * exponential tail; falling = short tail), and the level at the
    * chosen u is the expected overshoot a capacity planner budgets
    * above the alert line. One value census; thresholds by exact
    * ceiling rank (never a sort of rows); one conditional excess pass
    * with the threshold spine broadcast. All-integer until the two
    * final ratios.
    */
  def meanExcess(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percents: Seq[Int] = Seq(50, 75, 90, 95)): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 99))
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(keyCol), col(valueCol).cast("long").as("v"))
      .localCheckpoint(true) // census + the excess pass share the scan
    val cen = base.groupBy(col(keyCol), col("v"))
      .agg(count(lit(1)).as("c"))
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byKey = Window.partitionBy(col(keyCol))
    val ranked = cen
      .withColumn("cum", sum(col("c")).over(ord))
      .withColumn("n", sum(col("c")).over(byKey))
    val spine = percents.map(p =>
      base.sparkSession.range(1).select(lit(p.toLong).as("pct")))
      .reduce(_.unionByName(_))
    // threshold = the ceiling-rank value: smallest v with cum ≥ ⌈p·n/100⌉
    val th = ranked.crossJoin(broadcast(spine))
      .filter(col("cum") * 100L >= col("pct") * col("n"))
      .groupBy(col(keyCol), col("pct"))
      .agg(min(col("v")).as("u"), max(col("n")).as("n"))
    val joined = base.join(broadcast(th), Seq(keyCol))
      .filter(col("v") > col("u"))
      .groupBy(col(keyCol), col("pct"), col("u"), col("n"))
      .agg(count(lit(1)).as("n_exceed"),
        sum(col("v") - col("u")).as("excess_sum"))
    th.join(joined, Seq(keyCol, "pct", "u", "n"), "left")
      .select(col(keyCol), col("pct"), col("u").as("threshold"), col("n"),
        coalesce(col("n_exceed"), lit(0L)).as("n_exceed"),
        round(coalesce(col("n_exceed"), lit(0L)).cast("double") /
          dbl(col("n")), 6).as("exceed_share"),
        when(col("n_exceed") > 0L,
          round(dbl(col("excess_sum")) / dbl(col("n_exceed")), 6))
          .as("mean_excess"))
      .orderBy(col(keyCol), col("pct"))
  }

  /** KUPIEC PROPORTION-OF-FAILURES backtest — does an alert line
    * actually fire at its claimed rate OUT OF SAMPLE: the threshold
    * calibrates on each key's FIRST half (exact ceiling-rank
    * percentile) and the violations count on the SECOND half, then
    * LR = −2[ (n−x)ln(1−p) + x·ln p − (n−x)ln(1−x̂) − x·ln x̂ ] ~ χ²(1)
    * says whether observed x/n is consistent with the claimed p. The
    * risk-management verdict the in-sample percentile can't give
    * (in-sample it passes by construction). Exact integer counts; the
    * four log terms pin once at 1e-9; the x = 0 and x = n boundary
    * cases take their exact limits (x·ln x̂ → 0) instead of NaN.
    */
  def kupiecPof(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      pct: Int = 95): DataFrame = {
    require(pct >= 1 && pct <= 99)
    def dbl(c: Column): Column = c.cast("double")
    // (100−pct)/100 — NOT 1−pct/100, whose FP residue would desync the
    // shared ln literals across engines
    val p = (100 - pct) / 100.0
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("b"))
    val byKey = Window.partitionBy(col(keyCol))
    val base = df
      .select(col(keyCol), col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("__r", row_number().over(ord).cast("long"))
      .withColumn("__n", count(lit(1)).over(byKey))
      .withColumn("half", col("__r") * 2L <= col("__n"))
      .localCheckpoint(true) // calibration + backtest share the scan
    val cal = base.filter(col("half"))
      .groupBy(col(keyCol), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.partitionBy(col(keyCol))
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nc", sum(col("c")).over(byKey))
      .filter(col("cum") * 100L >= lit(pct.toLong) * col("nc"))
      .groupBy(col(keyCol)).agg(min(col("v")).as("u"))
    val test = base.filter(!col("half"))
      .join(broadcast(cal), Seq(keyCol))
      .groupBy(col(keyCol), col("u"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") > col("u"), 1L).otherwise(0L)).as("x"))
    val xhat = dbl(col("x")) / dbl(col("n"))
    val lnTermClaim = round(
      (dbl(col("n")) - dbl(col("x"))) * math.log(1.0 - p) +
        dbl(col("x")) * math.log(p), 9)
    val lnObs = round(
      when(col("x") === 0L, dbl(col("n")) * log(lit(1.0) - xhat))
        .when(col("x") === col("n"), dbl(col("n")) * log(xhat))
        .otherwise((dbl(col("n")) - dbl(col("x"))) *
          log(lit(1.0) - xhat) + dbl(col("x")) * log(xhat)), 9)
    test.select(col(keyCol), col("u").as("threshold"), col("n"), col("x"),
      lit(p).as("claimed_rate"), round(xhat, 6).as("observed_rate"),
      round(lit(-2.0) * (lnTermClaim - lnObs), 6).as("kupiec_lr"))
      .orderBy(col(keyCol))
  }

  /** GUMBEL BLOCK-MAXIMA FIT per key — the capacity-planning question
    * the mean-and-variance shelf can't answer: "what hourly peak should
    * we expect once a month / once a year". Block maxima (per
    * `blockSize` buckets) are the classical extreme-value reduction;
    * the Gumbel method-of-moments fit (β = s·√6/π, μ = m − γβ) turns
    * their two exact moments into return levels x_T = μ −
    * β·ln(−ln(1−1/T)) — the extreme-VALUE complement to q383's Hill
    * tail INDEX (heaviness vs expected magnitude). One (key, block)
    * max census + one moment pass, all exact integers until the O(1)
    * fit; keys need ≥ `minBlocks` blocks and nonzero spread, else
    * NULL.
    */
  def gumbelMaxima(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      blockSize: Int = 24,
      minBlocks: Int = 3): DataFrame = {
    require(blockSize >= 1)
    gumbelFromBlockMaxima(df.select(col(keyCol).as("g"),
        (col(bucketCol).cast("long") / blockSize).cast("long").as("blk"),
        col(valueCol).cast("long").as("m"))
      .groupBy(col("g"), col("blk")).agg(max(col("m")).as("m")),
      keyCol, minBlocks)
  }

  /** [[gumbelMaxima]] from (g, blk, m) block-maxima PARTIALS — MAX
    * merges, so a streaming store whose batches each own whole
    * base buckets drains to the one-pass fit and shares the batch
    * oracle verbatim.
    */
  def gumbelFromBlockMaxima(
      blocksDf: DataFrame,
      keyCol: String = "g",
      minBlocks: Int = 3): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val blocks = blocksDf.groupBy(col("g").as(keyCol), col("blk"))
      .agg(max(col("m")).as("m"))
    val cen = blocks.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_blocks"), max(col("m")).as("max_obs"),
        sum(col("m")).as("sm"), sum(col("m") * col("m")).as("smm"))
      .filter(col("n_blocks") >= minBlocks)
    val mean = dbl(col("sm")) / dbl(col("n_blocks"))
    val variance = (dbl(col("smm")) - dbl(col("sm")) * dbl(col("sm")) /
      dbl(col("n_blocks"))) / (dbl(col("n_blocks")) - 1.0)
    val beta = sqrt(variance) * lit(math.sqrt(6.0) / math.Pi)
    val mu = mean - lit(0.5772156649) * beta
    def rl(t: Double): Column =
      mu - beta * math.log(-math.log(1.0 - 1.0 / t))
    cen.filter(variance > 0.0)
      .select(col(keyCol), col("n_blocks"), col("max_obs"),
        round(mu, 6).as("mu"), round(beta, 6).as("beta"),
        round(rl(10.0), 6).as("rl10"), round(rl(100.0), 6).as("rl100"))
  }

  /** ACTUARIAL LIFE TABLE — grouped-interval survival, the estimator
    * demography and insurance actually publish: lifetimes bucket into
    * fixed-width intervals, withdrawals (censored) count HALF an
    * exposure in their interval (the actuarial n' = n − c/2
    * convention), q = d/n' is the conditional death probability and
    * the survival column chains the (1−q) factors. The
    * grouped-interval sibling of q321's exact-time KM: where KM steps
    * at every distinct duration (right at corpus granularity), the
    * life table reads at reporting granularity — the retention table a
    * finance team actually consumes. Duration-domain census →
    * interval census → the [[kaplanMeier]] fold discipline (factors
    * collected once, sorted, list-fold replayed). An all-withdrawn
    * interval (n' = 0) carries q = 0 rather than 0/0.
    */
  def lifeTable(
      df: DataFrame,
      userCol: String,
      secCol: String,
      censorCutoffSec: Long,
      bucketSec: Long = 3600L,
      intervalBuckets: Long = 24L): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val lives = df
      .groupBy(col(userCol).as("u"))
      .agg(min(col(secCol)).as("first"), max(col(secCol)).as("last"))
      .select(((col("last") - col("first")) / bucketSec).cast("long")
        .as("t"),
        when(col("last") > censorCutoffSec, 0L).otherwise(1L).as("death"))
    val byI = lives
      .select((col("t") / intervalBuckets).cast("long").as("iv"),
        col("death"))
      .groupBy(col("iv"))
      .agg(sum(col("death")).as("d"),
        sum(lit(1L) - col("death")).as("c"), count(lit(1)).as("n_t"))
    val later = Window.orderBy(col("iv"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risked = byI
      .withColumn("n_enter", sum(col("n_t")).over(later))
      .withColumn("n_eff",
        dbl(col("n_enter")) - dbl(col("c")) / 2.0)
      .withColumn("q",
        when(col("n_eff") > 0.0, dbl(col("d")) / col("n_eff"))
          .otherwise(lit(0.0)))
      .withColumn("factor", lit(1.0) - col("q"))
    val packed = risked.agg(
      sort_array(collect_list(struct(col("iv"), col("d"), col("c"),
        col("n_enter"), col("n_eff"), col("q"), col("factor"))))
        .as("rows"))
    packed
      .select(col("rows"), posexplode(col("rows")).as(Seq("i", "r")))
      .select(col("r.iv").as("interval"), col("r.n_enter").as("n_enter"),
        col("r.d").as("n_death"), col("r.c").as("n_censored"),
        round(col("r.n_eff"), 6).as("n_eff"),
        round(col("r.q"), 6).as("q_prob"),
        round(aggregate(
          expr("slice(transform(rows, x -> x.factor), 1, i + 1)"),
          lit(1.0), (acc, f) => acc * f), 6).as("survival"))
  }

  /** PARTIAL AUTOCORRELATION to lag 3 per key, via the Durbin–Levinson
    * recursion unrolled — the AR-ORDER meter raw ACF can't give: an
    * AR(1) series shows geometric ACF at every lag (q255 reads "memory
    * everywhere"), but its PACF cuts off dead after lag 1; where the
    * PACF dies is the order the trend model needs. Classic
    * common-mean ACF first (r_k over the observed bucket sequence,
    * exact-integer lag sums with the mean correction Σxy − x̄(Σ_head +
    * Σ_tail) + (n−k)x̄²), each r_k pinned at 1e-9, then the DL ladder
    * φ11 = r1, φ22 = (r2−r1²)/(1−r1²), φ33 via the order-2
    * coefficients — O(1) doubles per key, both engines walk the same
    * ladder. Zero-variance keys and saturated denominators read NULL;
    * keys need ≥ 4 observed buckets.
    */
  def pacf3PerKey(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("w1", lead(col("v"), 1).over(ord))
      .withColumn("w2", lead(col("v"), 2).over(ord))
      .withColumn("w3", lead(col("v"), 3).over(ord))
    def lagSums(k: Int) = Seq(
      sum(when(col(s"w$k").isNotNull, col("v") * col(s"w$k"))
        .otherwise(0L)).as(s"svw$k"),
      sum(when(col(s"w$k").isNotNull, col("v")).otherwise(0L))
        .as(s"sh$k"),
      sum(coalesce(col(s"w$k"), lit(0L))).as(s"st$k"),
      sum(when(col(s"w$k").isNotNull, 1L).otherwise(0L)).as(s"nk$k"))
    val aggs = Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
      sum(col("v") * col("v")).as("svv")) ++
      lagSums(1) ++ lagSums(2) ++ lagSums(3)
    val cen = base.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n") >= 4)
    val xbar = dbl(col("sv")) / dbl(col("n"))
    val den = dbl(col("svv")) - dbl(col("sv")) * dbl(col("sv")) /
      dbl(col("n"))
    def r(k: Int): Column = round(
      (dbl(col(s"svw$k")) - xbar * (dbl(col(s"sh$k")) + dbl(col(s"st$k"))) +
        dbl(col(s"nk$k")) * xbar * xbar) / den, 9)
    val staged = cen.filter(den > 0.0)
      .select(col(keyCol), col("n"),
        r(1).as("r1"), r(2).as("r2"), r(3).as("r3"))
    val p22den = lit(1.0) - col("r1") * col("r1")
    val p22 = (col("r2") - col("r1") * col("r1")) / p22den
    val p21 = col("r1") - p22 * col("r1")
    val p33den = lit(1.0) - p21 * col("r1") - p22 * col("r2")
    staged.select(col(keyCol), col("n"),
      col("r1"), col("r2"), col("r3"),
      round(col("r1"), 6).as("pacf1"),
      when(p22den =!= 0.0, round(p22, 6)).as("pacf2"),
      when(p22den =!= 0.0 && p33den =!= 0.0,
        round((col("r3") - p21 * col("r2") - p22 * col("r1")) / p33den, 6))
        .as("pacf3"))
  }

  /** CHOW STRUCTURAL-BREAK TEST at the median of each key's regressor
    * — is ONE line enough, or do the halves genuinely need different
    * lines: F = ((SSE_pooled − SSE₁ − SSE₂)/2) / ((SSE₁+SSE₂)/(n−4)).
    * The significance companion to q301's changepoint DETECTOR (q301
    * finds where the series most wants to break; Chow says whether
    * granting the break explains more than 2 parameters' worth of
    * noise) and the mean-shift complement to q569's variance split.
    * Three exact-integer censuses (pooled + both halves), SSE via the
    * orthogonality form clamped + pinned (q569's discipline), the
    * rank split in a key-partitioned window over the bucket domain.
    * Keys with halves under `minSeg` points or a degenerate fit read
    * NULL F rather than an infinity.
    */
  def chowTest(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      minSeg: Int = 3): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val byKey = Window.partitionBy(col(keyCol))
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(xCol))
    val seg = df
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__nk", count(lit(1)).over(byKey))
      .withColumn("seg",
        when(col("__rn") <= expr("__nk div 2"), lit(1)).otherwise(lit(2)))
      .filter(expr("__nk div 2") >= minSeg)
      .select(col(keyCol), col("seg"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .localCheckpoint(true) // pooled + split censuses share the scan
    def census(d: DataFrame, keys: Seq[String]): DataFrame =
      d.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"),
          countDistinct(col("x")).as("nx"))
        .filter(col("nx") >= 2)
    def sse: Column = {
      val b = (dbl(col("n")) * dbl(col("sxy")) -
        dbl(col("sx")) * dbl(col("sy"))) /
        (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      val a = (dbl(col("sy")) - b * dbl(col("sx"))) / dbl(col("n"))
      round(greatest(lit(0.0),
        dbl(col("syy")) - a * dbl(col("sy")) - b * dbl(col("sxy"))), 9)
    }
    def slope: Column =
      round((dbl(col("n")) * dbl(col("sxy")) -
        dbl(col("sx")) * dbl(col("sy"))) /
        (dbl(col("n")) * dbl(col("sxx")) -
          dbl(col("sx")) * dbl(col("sx"))), 6)
    val pooled = census(seg, Seq(keyCol))
      .select(col(keyCol), col("n"), sse.as("sse_pooled"))
    val halves = census(seg, Seq(keyCol, "seg"))
      .select(col(keyCol), col("seg"), col("n").as("nh"),
        slope.as("sl"), sse.as("sseh"))
    val wide = halves.groupBy(col(keyCol)).agg(
      max(when(col("seg") === 1, col("nh"))).as("n1"),
      max(when(col("seg") === 2, col("nh"))).as("n2"),
      max(when(col("seg") === 1, col("sl"))).as("slope1"),
      max(when(col("seg") === 2, col("sl"))).as("slope2"),
      max(when(col("seg") === 1, col("sseh"))).as("sse1"),
      max(when(col("seg") === 2, col("sseh"))).as("sse2"))
    val sseSplit = col("sse1") + col("sse2")
    pooled.join(wide, Seq(keyCol))
      .select(col(keyCol), col("n"), col("n1"), col("n2"),
        col("slope1"), col("slope2"), col("sse_pooled"),
        round(sseSplit, 9).as("sse_split"),
        when(col("n1").isNotNull && col("n2").isNotNull &&
            col("n") > 4L && sseSplit > 0.0,
          round((greatest(lit(0.0), col("sse_pooled") - sseSplit) /
            lit(2.0)) /
            (sseSplit / (dbl(col("n")) - 4.0)), 6)).as("f_stat"))
  }

  /** COOK'S DISTANCE per observation on the per-key OLS — WHICH points
    * own the trend: leverage h_ii = 1/n + (x−x̄)²/Sxx says how far out
    * on the regressor a point sits, the studentized residual says how
    * surprising its y is, and D folds both into the one
    * "refit-without-it and the line moves this much" number, flagged
    * at the classic 4/n. The per-point complement to q564's global DW
    * and q569's variance split — an anomalous HOUR (a spike that
    * dragged the whole slope) is found here, not in the aggregates.
    * Exact-integer census → slope/intercept/SSE (orthogonality form,
    * clamped, pinned); every per-point statistic is O(1) double
    * arithmetic over those integers, rows stay bucket-domain-sized per
    * key. Degenerate fits (n ≤ 3, one distinct x, zero residual mass
    * or h → 1) NULL their readouts instead of emitting infinities.
    */
  def cooksDistance(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val based = df.select(col(keyCol), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .localCheckpoint(true) // census + the per-point pass share the scan
    val cen = based.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"),
        countDistinct(col("x")).as("nx"))
      .filter(col("nx") >= 2 && col("n") >= 4)
    val b = (dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
      (dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
    val a = (dbl(col("sy")) - b * dbl(col("sx"))) / dbl(col("n"))
    val fit = cen.select(col(keyCol), col("n"), round(b, 9).as("slope"),
      round(a, 9).as("icept"),
      round(greatest(lit(0.0),
        dbl(col("syy")) - a * dbl(col("sy")) - b * dbl(col("sxy"))), 9)
        .as("sse"),
      (dbl(col("sx")) / dbl(col("n"))).as("xbar"),
      (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / dbl(col("n")))
        .as("sxx_c"))
    val rows = based.join(broadcast(fit), Seq(keyCol))
    val e = round(dbl(col("y")) -
      (col("icept") + col("slope") * dbl(col("x"))), 9)
    val h = lit(1.0) / dbl(col("n")) +
      (dbl(col("x")) - col("xbar")) * (dbl(col("x")) - col("xbar")) /
        col("sxx_c")
    val s2 = col("sse") / (dbl(col("n")) - 2.0)
    val ok = col("sse") > 0.0 && h < 1.0
    val d = e * e * h / (lit(2.0) * s2 * (lit(1.0) - h) * (lit(1.0) - h))
    rows.select(col(keyCol), col("x"), col("y"), col("n"),
      e.as("resid"), round(h, 6).as("leverage"),
      when(ok, round(e / sqrt(s2 * (lit(1.0) - h)), 6)).as("r_student"),
      when(ok, round(d, 6)).as("cooks_d"),
      when(ok, d > lit(4.0) / dbl(col("n"))).as("influential"))
  }

  /** TAYLOR'S POWER LAW across keys — the variance-mean scaling
    * exponent: ln(var) = ln(a) + b·ln(mean) fitted over one (mean,
    * variance) point per key. b ≈ 1 is Poisson-like noise, b → 2 is
    * mean-proportional (clumped) fluctuation — the ONE number that says
    * how alert bands must widen with volume (±k·√λ assumes b = 1; at
    * b = 2 they must scale with λ itself), the cross-key complement to
    * q456's per-key dispersion verdict. Per-key moments are exact
    * integer sums; each point's ln(mean)/ln(var) pins once on the 1e-9
    * grid; the 4-sum OLS accumulates rounded-grid term products as
    * exact decimals (order-independent), one pinned-double finish for
    * slope/intercept/r². Keys need n ≥ 2 buckets, positive mean and
    * variance; the fit needs ≥ 3 points and x-spread, else NULL.
    */
  def taylorLaw(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val cen = df.select(col(keyCol).cast("string").as("k"),
        col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("k"), col("b")).agg(sum(col("v")).as("v"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(d38)).as("s"),
        sum((col("v") * col("v")).cast(d38)).as("ss"))
      .filter(col("n") >= 2L)
    val n = dbl(col("n"))
    val mean = dbl(col("s")) / n
    val vr = (dbl(col("ss")) - n * mean * mean) / (n - lit(1.0))
    val pts = cen
      .select(col("k"), mean.as("m"), vr.as("vv"))
      .filter(col("m") > 0.0 && col("vv") > 0.0)
      .select(round(log(col("m")), 9).cast(d289).as("lx"),
        round(log(col("vv")), 9).cast(d289).as("ly"))
      .select(col("lx"), col("ly"),
        round(dbl(col("lx")) * dbl(col("lx")), 9).cast(d289).as("xx"),
        round(dbl(col("lx")) * dbl(col("ly")), 9).cast(d289).as("xy"),
        round(dbl(col("ly")) * dbl(col("ly")), 9).cast(d289).as("yy"))
    val f = pts.agg(count(lit(1)).as("np"), sum(col("lx")).as("sx"),
      sum(col("ly")).as("sy"), sum(col("xx")).as("sxx"),
      sum(col("xy")).as("sxy"), sum(col("yy")).as("syy"))
    val np = dbl(col("np"))
    val cxx = np * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val cxy = np * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val cyy = np * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val ok = col("np") >= 3L && cxx > 0.0
    f.select(col("np").cast("long").as("n_points"),
      when(ok, round(cxy / cxx, 6)).as("slope"),
      when(ok, round((dbl(col("sy")) - cxy / cxx * dbl(col("sx"))) / np,
        6)).as("intercept"),
      when(ok && cyy > 0.0,
        round(cxy * cxy / (cxx * cyy), 6)).as("r2"))
  }

  /** DICKEY–FULLER unit-root screen per key — random walk or
    * mean-reverting: Δx_t = α + ρ·x_{t−1} + ε, and the DF statistic
    * ρ̂/SE(ρ̂) compared to the 5% critical value −2.86 (constant-only
    * tables, shared literal). ρ ≈ 0 (DF high) means shocks PERSIST —
    * levels drift like a random walk and every "trend" q147 fits on it
    * is suspect (spurious-regression territory); DF below the critical
    * value means the level genuinely pulls back. The stationarity gate
    * before any levels-on-levels modeling; [[grangerCausality]] and
    * q564's DW assume it. One lag pass per key, exact integer moment
    * sums in DECIMAL(38,0) (values and diffs are integers), centered
    * cross-forms n·Σ − Σ·Σ exactly, one pinned-double finish; perfect
    * fits and degenerate spreads NULL.
    */
  def dickeyFuller(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col("k")).orderBy(col("b"))
    val base = df.select(col(keyCol).cast("string").as("k"),
        col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("nx", lead(col("v"), 1).over(ord))
      .filter(col("nx").isNotNull)
      .select(col("k"), col("v").as("x"), (col("nx") - col("v")).as("d"))
    val f = base.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast(d38)).as("sx"),
        sum(col("d").cast(d38)).as("sd"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("x") * col("d")).cast(d38)).as("sxd"),
        sum((col("d") * col("d")).cast(d38)).as("sdd"))
      .filter(col("n") >= 4L)
    val n = dbl(col("n"))
    val cxx = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val cxy = n * dbl(col("sxd")) - dbl(col("sx")) * dbl(col("sd"))
    val cyy = n * dbl(col("sdd")) - dbl(col("sd")) * dbl(col("sd"))
    val rho = cxy / cxx
    val sse = (cyy - cxy * cxy / cxx) / n
    val se = sqrt(sse / (n - lit(2.0)) * n / cxx)
    val ok = cxx > 0.0 && sse > 0.0
    f.select(col("k").as(keyCol), col("n").cast("long").as("n_diffs"),
      when(ok, round(rho, 6)).as("rho"),
      when(ok, round(rho / se, 6)).as("df_stat"),
      when(ok, rho / se < lit(-2.86)).as("stationary"))
      .orderBy(col(keyCol))
  }

  /** GRANGER CAUSALITY (one lag, both directions) — does yesterday's x
    * help predict today's y BEYOND y's own history: F-test of y_t ~
    * y_{t−1} vs y_t ~ y_{t−1} + x_{t−1}. The directional upgrade of
    * q360's symmetric lagged correlation — cross-correlation can't say
    * which series leads INCREMENTALLY; Granger charges x's lag only for
    * variance y's own lag couldn't explain. Both directions emitted:
    * the interesting readouts are asymmetric (views "Granger-cause"
    * purchases, rarely the reverse). Input is one aligned bucket frame
    * (caller zero-fills the spine — missing hours as NULL rows would
    * silently shrink n). Exact integer moment sums in DECIMAL(38,0),
    * centered n·Σ−Σ·Σ cross-forms, the 2×2 normal equations solved
    * closed-form, pinned-double F finish; degenerate determinants or
    * saturated fits NULL.
    */
  def grangerCausality(
      df: DataFrame,
      bucketCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.orderBy(col("b"))
    val base = df.select(col(bucketCol).cast("long").as("b"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .repartition(1)
      .withColumn("xl", lag(col("x"), 1).over(ord))
      .withColumn("yl", lag(col("y"), 1).over(ord))
      .filter(col("xl").isNotNull)
      .localCheckpoint(true) // both directions read it
    def direction(tag: String, yc: String, ylc: String,
        xlc: String): DataFrame = {
      val f = base.select(col(yc).as("yy"), col(ylc).as("l1"),
          col(xlc).as("l2"))
        .agg(count(lit(1)).as("n"),
          sum(col("yy").cast(d38)).as("sy"),
          sum(col("l1").cast(d38)).as("s1"),
          sum(col("l2").cast(d38)).as("s2"),
          sum((col("yy") * col("yy")).cast(d38)).as("syy"),
          sum((col("yy") * col("l1")).cast(d38)).as("sy1"),
          sum((col("yy") * col("l2")).cast(d38)).as("sy2"),
          sum((col("l1") * col("l1")).cast(d38)).as("s11"),
          sum((col("l2") * col("l2")).cast(d38)).as("s22"),
          sum((col("l1") * col("l2")).cast(d38)).as("s12"))
      val n = dbl(col("n"))
      val cyy = n * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
      val c11 = n * dbl(col("s11")) - dbl(col("s1")) * dbl(col("s1"))
      val c22 = n * dbl(col("s22")) - dbl(col("s2")) * dbl(col("s2"))
      val c12 = n * dbl(col("s12")) - dbl(col("s1")) * dbl(col("s2"))
      val c1y = n * dbl(col("sy1")) - dbl(col("s1")) * dbl(col("sy"))
      val c2y = n * dbl(col("sy2")) - dbl(col("s2")) * dbl(col("sy"))
      val sseR = (cyy - c1y * c1y / c11) / n
      val det = c11 * c22 - c12 * c12
      val b1 = (c1y * c22 - c2y * c12) / det
      val b2 = (c2y * c11 - c1y * c12) / det
      val sseU = (cyy - b1 * c1y - b2 * c2y) / n
      val ok = col("n") >= 5L && c11 > 0.0 && det > 0.0 && sseU > 0.0
      f.select(lit(tag).as("direction"), col("n").cast("long").as("n"),
        when(ok, round(b2, 6)).as("lag_coef"),
        when(ok, round(sseR, 6)).as("sse_restricted"),
        when(ok, round(sseU, 6)).as("sse_unrestricted"),
        when(ok, round((sseR - sseU) / (sseU / (n - lit(3.0))), 6))
          .as("f_stat"))
    }
    direction("x->y", "y", "yl", "xl")
      .unionByName(direction("y->x", "x", "xl", "yl"))
      .orderBy(col("direction"))
  }

  /** NEWEY–WEST (HAC) STANDARD ERROR for the per-key trend slope — the
    * honest error bar when residuals are serially correlated: q564's DW
    * DETECTS the autocorrelation that makes OLS SEs optimistic; this is
    * the CORRECTION (Bartlett kernel over `lags` lags of the score
    * u_t = (x_t − x̄)·e_t). se_nw/se_ols ≫ 1 is the "your trend's
    * t-statistic was inflated" verdict that changes decisions q147's
    * point slope can't. Row-index regressor (the lag structure assumes
    * consecutive observations — the caller supplies a dense series),
    * exact integer moments for the fit, residuals and scores pinned on
    * the 1e-9 grid, lagged score products re-pinned before the
    * order-independent decimal sums, Bartlett weights as exact literals,
    * one pinned-double finish. Degenerate fits NULL.
    */
  def neweyWestSlope(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      lags: Int = 3): DataFrame = {
    require(lags >= 1 && lags <= 8)
    val d38 = DecimalType(38, 0)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col("k")).orderBy(col("b"))
    val base = df.select(col(keyCol).cast("string").as("k"),
        col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("i", row_number().over(ord).cast("long"))
      .localCheckpoint(true) // the moment pass + the score pass read it
    val mom = base.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("i").cast(d38)).as("si"),
        sum(col("v").cast(d38)).as("sv"),
        sum((col("i") * col("v")).cast(d38)).as("siv"),
        sum((col("i") * col("i")).cast(d38)).as("sii"),
        sum((col("v") * col("v")).cast(d38)).as("svv"))
      .filter(col("n") >= (lags + 5).toLong)
    val n = dbl(col("n"))
    val cxx = n * dbl(col("sii")) - dbl(col("si")) * dbl(col("si"))
    val cxy = n * dbl(col("siv")) - dbl(col("si")) * dbl(col("sv"))
    val cyy = n * dbl(col("svv")) - dbl(col("sv")) * dbl(col("sv"))
    val slope = cxy / cxx
    val icept = (dbl(col("sv")) - cxy / cxx * dbl(col("si"))) / n
    val xbar = dbl(col("si")) / n
    val fit = mom.select(col("k"), col("n"), round(slope, 9).as("bb"),
      round(icept, 9).as("aa"), round(xbar, 9).as("xb"),
      cxx.as("cxx"), cyy.as("cyy"), cxy.as("cxy"))
    val scored = base.join(broadcast(fit), Seq("k"))
      .withColumn("e", round(dbl(col("v")) - col("aa") -
        col("bb") * dbl(col("i")), 9))
      .withColumn("u", round((dbl(col("i")) - col("xb")) * col("e"), 9))
    val lagged = (1 to lags).foldLeft(scored) { (acc, l) =>
      acc.withColumn(s"u$l", lag(col("u"), l).over(ord))
    }
    val hacCols = sum(round(col("u") * col("u"), 9).cast(d289)).as("g0") +:
      (1 to lags).map(l =>
        sum(round(col("u") * col(s"u$l"), 9).cast(d289)).as(s"g$l"))
    val hac = lagged.groupBy(col("k")).agg(hacCols.head, hacCols.tail: _*)
    val s0 = dbl(col("g0"))
    val sHac = (1 to lags).foldLeft(s0) { (acc, l) =>
      acc + lit(2.0) * lit(1.0 - l.toDouble / (lags + 1).toDouble) *
        dbl(coalesce(col(s"g$l"), lit(0).cast(d289)))
    }
    val out = fit.join(hac, Seq("k"))
    val sse = (col("cyy") - col("cxy") * col("cxy") / col("cxx")) / dbl(col("n"))
    val sxxc = col("cxx") / dbl(col("n"))
    val seOls = sqrt(sse / (dbl(col("n")) - lit(2.0)) / sxxc)
    val seNw = sqrt(sHac) / sxxc
    val ok = col("cxx") > 0.0 && sse > 0.0 && sHac > 0.0
    out.select(col("k").as(keyCol), col("n").cast("long").as("n"),
      when(ok, round(dbl(col("bb")), 6)).as("slope"),
      when(ok, round(seOls, 6)).as("se_ols"),
      when(ok, round(seNw, 6)).as("se_nw"),
      when(ok, round(seNw / seOls, 6)).as("se_ratio"))
      .orderBy(col(keyCol))
  }

  /** CLASSICAL ADDITIVE SEASONAL DECOMPOSITION per key — trend by the
    * standard 2×m centered moving average, seasonal indices as centered
    * slot means of the detrended series, and the STRENGTH of seasonality
    * 1 − Var(remainder)/Var(detrended) (Hyndman's gauge): the "HOW MUCH
    * of this series is just the daily cycle" table behind q181/q439's
    * cycle-aware corrections and the additive complement to q315's
    * recursive Holt–Winters state. Caller supplies a DENSE bucket spine
    * (gaps would silently bend the centered window). The 2×m numerator
    * v_{t−m/2} + 2Σ + v_{t+m/2} stays an exact integer; detrended values
    * pin once at 1e-9 and every later mean/variance is decimal sums of
    * re-pinned grid terms with one pinned division each. Edge buckets
    * without a full window drop from the census (stated; they carry no
    * trend estimate). Key minimum: the strength variance needs ≥
    * 2·period DETRENDED rows, and the centered 2×m window eats `period`
    * edge rows — so a key needs ≥ 3 full periods of raw buckets, and a
    * key below that drops from the output ENTIRELY (seasonal rows join
    * the strength table inner; emitting them with a NULL strength would
    * misread as "seasonality measured, strength unknown").
    */
  def classicalDecomposition(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      period: Int = 24): DataFrame = {
    require(period >= 2 && period % 2 == 0)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val half = period / 2
    val ord = Window.partitionBy(col("k")).orderBy(col("b"))
    val win = ord.rowsBetween(-(half - 1), half - 1)
    val base = df.select(col(keyCol).cast("string").as("k"),
        col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("inner2", lit(2L) * sum(col("v")).over(win))
      .withColumn("lo", lag(col("v"), half).over(ord))
      .withColumn("hi", lead(col("v"), half).over(ord))
      .withColumn("cnt", count(lit(1)).over(win))
      .filter(col("lo").isNotNull && col("hi").isNotNull &&
        col("cnt") === (period - 1).toLong)
      .withColumn("detr", round(dbl(col("v")) -
        dbl(col("lo") + col("inner2") + col("hi")) /
          lit(2.0 * period), 9).cast(d289))
      .withColumn("slot", pmod(col("b"), lit(period.toLong)))
      .localCheckpoint(true) // slot means + variance sweep read it
    val slotMeans = base.groupBy(col("k"), col("slot"))
      .agg(count(lit(1)).as("n_obs"), sum(col("detr")).as("sd"))
      .withColumn("raw", round(dbl(col("sd")) / dbl(col("n_obs")), 9)
        .cast(d289))
    val centers = slotMeans.groupBy(col("k"))
      .agg(count(lit(1)).as("ns"), sum(col("raw")).as("sraw"))
      .select(col("k"), round(dbl(col("sraw")) / dbl(col("ns")), 9)
        .cast(d289).as("ctr"), col("ns"))
      .filter(col("ns") === period.toLong)
    val seas = slotMeans.join(broadcast(centers), Seq("k"))
      .withColumn("sj", (col("raw") - col("ctr")).cast(d289))
    val rem = base.join(broadcast(seas.select(col("k"), col("slot"),
        col("sj"))), Seq("k", "slot"))
      .select(col("k"), col("detr"), (col("detr") - col("sj")).as("r"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("nt"),
        sum(col("detr")).as("sdt"),
        sum(round(dbl(col("detr")) * dbl(col("detr")), 9).cast(d289))
          .as("sdd"),
        sum(col("r")).as("sr"),
        sum(round(dbl(col("r")) * dbl(col("r")), 9).cast(d289)).as("srr"))
    val nt = dbl(col("nt"))
    val vd = (dbl(col("sdd")) - nt * (dbl(col("sdt")) / nt) *
      (dbl(col("sdt")) / nt)) / (nt - lit(1.0))
    val vr = (dbl(col("srr")) - nt * (dbl(col("sr")) / nt) *
      (dbl(col("sr")) / nt)) / (nt - lit(1.0))
    val strength = rem.filter(col("nt") >= (2 * period).toLong)
      .select(col("k"),
        when(vd > 0.0, round(greatest(lit(0.0), lit(1.0) - vr / vd), 6))
          .as("strength"))
    seas.join(broadcast(strength), Seq("k"))
      .select(col("k").as(keyCol), col("slot"),
        col("n_obs").cast("long").as("n_obs"),
        round(dbl(col("sj")), 6).as("seasonal"), col("strength"))
      .orderBy(col(keyCol), col("slot"))
  }

  /** ENGLE–GRANGER COINTEGRATION (two-step) — do two drifting series
    * share ONE stochastic trend: OLS y ~ x on the shared spine, then
    * [[dickeyFuller]]'s unit-root screen ON THE RESIDUAL (5% two-series
    * critical value −3.34, shared literal). Two series can each fail
    * q628's stationarity screen and still be tied by an equilibrium —
    * that tie is tradeable/actionable where the individual trends are
    * spurious-regression bait; the levels-modeling license q629's
    * differenced Granger deliberately gives up. Step-1 fit over exact
    * integer moments, residuals pinned once at 1e-9, step-2 moment sums
    * decimal-exact over re-pinned grid products, pinned-double DF
    * finish. Degenerate fits NULL.
    */
  def engleGranger(
      df: DataFrame,
      bucketCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.orderBy(col("b"))
    val base = df.select(col(bucketCol).cast("long").as("b"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .repartition(1)
      .localCheckpoint(true) // the fit pass + the residual pass read it
    val mom = base.agg(count(lit(1)).as("n"), sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"))
    val n0 = dbl(col("n"))
    val cxx0 = n0 * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val cxy0 = n0 * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val fit = mom.select(col("n").as("nn"),
      when(cxx0 > 0.0, round(cxy0 / cxx0, 9)).as("beta"),
      when(cxx0 > 0.0,
        round((dbl(col("sy")) - cxy0 / cxx0 * dbl(col("sx"))) / n0, 9))
        .as("alpha"), cxx0.as("cxx0"))
    val resid = base.crossJoin(broadcast(fit))
      .withColumn("r", round(dbl(col("y")) - col("alpha") -
        col("beta") * dbl(col("x")), 9).cast(d289))
      .withColumn("rn", lead(col("r"), 1).over(ord))
      .filter(col("rn").isNotNull)
      .select(col("nn"), col("beta"), col("alpha"), col("cxx0"),
        col("r"), (col("rn") - col("r")).cast(d289).as("d"))
    val f = resid.groupBy(col("nn"), col("beta"), col("alpha"), col("cxx0"))
      .agg(count(lit(1)).as("m"), sum(col("r")).as("sr"),
        sum(col("d")).as("sd"),
        sum(round(dbl(col("r")) * dbl(col("r")), 9).cast(d289)).as("srr"),
        sum(round(dbl(col("r")) * dbl(col("d")), 9).cast(d289)).as("srd"),
        sum(round(dbl(col("d")) * dbl(col("d")), 9).cast(d289)).as("sdd"))
    val m = dbl(col("m"))
    val cxx = m * dbl(col("srr")) - dbl(col("sr")) * dbl(col("sr"))
    val cxy = m * dbl(col("srd")) - dbl(col("sr")) * dbl(col("sd"))
    val cyy = m * dbl(col("sdd")) - dbl(col("sd")) * dbl(col("sd"))
    val rho = cxy / cxx
    val sse = (cyy - cxy * cxy / cxx) / m
    val se = sqrt(sse / (m - lit(2.0)) * m / cxx)
    val ok = col("cxx0") > 0.0 && col("m") >= 4L && cxx > 0.0 && sse > 0.0
    f.select(col("nn").cast("long").as("n"),
      when(col("cxx0") > 0.0, round(dbl(col("beta")), 6)).as("beta"),
      when(col("cxx0") > 0.0, round(dbl(col("alpha")), 6)).as("alpha"),
      when(ok, round(rho, 6)).as("rho"),
      when(ok, round(rho / se, 6)).as("df_stat"),
      when(ok, rho / se < lit(-3.34)).as("cointegrated"))
  }

  /** TWO-STATE HMM REGIME EVIDENCE per key — is this series one Poisson
    * rate or a quiet/burst MIXTURE: the scaled forward algorithm's
    * log-likelihood under a 2-state chain (rates λ/2 and 2λ, sticky 0.9
    * transitions) against the single-rate null, reported as the
    * likelihood ratio 2·(ll₂ − ll₁). The MODEL-BASED burst detector
    * beside q341's burstiness moment and q456's dispersion ratio: those
    * say "overdispersed", this says HOW MUCH better a regime-switching
    * story explains the data (χ²-scaled, flag at the 5.99 two-df 5%
    * literal). Determinism discipline: the common −ln v! emission term
    * cancels in the ratio and is dropped; every libm call (exp/ln) has
    * a 1e-9-pinned input and a 1e-12-pinned output; the forward pass is
    * RENORMALIZED each step — the fold carries only the two bounded
    * relative scores while the large total accumulates in an EXACT
    * decimal (a raw double that big could not even represent the 1e-9
    * grid) — so both engines walk identical folds at any series length.
    * One codegen'd HOF fold per key over the ordered value array
    * (bucket-domain bounded); zero-mean keys drop.
    */
  def hmmRegimeEvidence(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(keyCol).cast("string").as("k"),
        col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("v"))
    val cen = base.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(d38)).as("s"),
        array_sort(collect_list(struct(col("b"), col("v")))).as("rows"))
      .filter(col("n") >= 8L && col("s") > lit(0).cast(d38))
      .withColumn("vs", transform(col("rows"), r => r.getField("v")))
      .drop("rows")
      .withColumn("lam", round(dbl(col("s")) / dbl(col("n")), 9))
      .withColumn("lam0", round(lit(0.5) * col("lam"), 9))
      .withColumn("lam1", round(lit(2.0) * col("lam"), 9))
      .withColumn("l0", round(log(col("lam0")), 12))
      .withColumn("l1", round(log(col("lam1")), 12))
      .withColumn("lm", round(log(col("lam")), 12))
    val ls = round(log(lit(0.9)), 12)   // stay
    val lw = round(log(lit(0.1)), 12)   // switch
    val lp = round(log(lit(0.5)), 12)   // uniform prior
    def e0(v: Column): Column = round(dbl(v) * col("l0") - col("lam0"), 9)
    def e1(v: Column): Column = round(dbl(v) * col("l1") - col("lam1"), 9)
    // pinned log-sum-exp of two bounded terms
    def lse(a: Column, b: Column): Column = {
      val hi = greatest(a, b); val lo = least(a, b)
      round(hi + round(log(lit(1.0) +
        round(exp(round(lo - hi, 9)), 12)), 12), 9)
    }
    // fold accumulator: (d0, d1) bounded relative scores + exact total
    val init = struct(
      (round(lp + e0(element_at(col("vs"), 1)), 9) -
        greatest(round(lp + e0(element_at(col("vs"), 1)), 9),
          round(lp + e1(element_at(col("vs"), 1)), 9))).as("d0"),
      (round(lp + e1(element_at(col("vs"), 1)), 9) -
        greatest(round(lp + e0(element_at(col("vs"), 1)), 9),
          round(lp + e1(element_at(col("vs"), 1)), 9))).as("d1"),
      greatest(round(lp + e0(element_at(col("vs"), 1)), 9),
        round(lp + e1(element_at(col("vs"), 1)), 9)).cast(d289).as("ll"))
    val folded = cen.withColumn("fin",
      aggregate(slice(col("vs"), 2, 1000000), init, (acc, v) => {
        val f0 = round(lse(acc.getField("d0") + ls,
          acc.getField("d1") + lw) + e0(v), 9)
        val f1 = round(lse(acc.getField("d0") + lw,
          acc.getField("d1") + ls) + e1(v), 9)
        val m = greatest(f0, f1)
        struct((f0 - m).as("d0"), (f1 - m).as("d1"),
          (acc.getField("ll") + m.cast(d289)).cast(d289).as("ll"))
      }))
    val ll2 = (col("fin").getField("ll") +
      lse(col("fin").getField("d0"), col("fin").getField("d1"))
        .cast(d289)).as("ll2")
    val ll1 = cen.select(col("k"), col("lm"), col("lam"),
        explode(col("vs")).as("v"))
      .groupBy(col("k"), col("lm"), col("lam"))
      .agg(sum(round(dbl(col("v")) * col("lm") - col("lam"), 9)
        .cast(d289)).as("ll1"))
      .select(col("k"), col("ll1"))
    val out = folded.select(col("k"), col("n"), ll2)
      .join(ll1, Seq("k"))
    def d2(c: Column): Column = dbl(c)
    val lr = round(lit(2.0) * (d2(col("ll2")) - d2(col("ll1"))), 6)
    out.select(col("k").as(keyCol), col("n").cast("long").as("n"),
      round(d2(col("ll1")), 4).as("ll_single"),
      round(d2(col("ll2")), 4).as("ll_regime"),
      lr.as("lr"), (lr > lit(5.99)).as("regime_evidence"))
      .orderBy(col(keyCol))
  }

  /** COMPETING-RISKS CUMULATIVE INCIDENCE (Aalen–Johansen, two causes)
    * — WHAT ends each lifetime, not just when: 1 − KM overstates every
    * cause-specific risk when another cause can strike first (the
    * classic bias); the CIF charges cause k only with its own share of
    * each step's hazard, weighted by the probability of still being
    * around: CIF_k(t) = Σ_{u≤t} S(u−)·d_k(u)/n(u) with S the ALL-cause
    * KM. Extends q321/q519's single-cause shelf. Duration-domain
    * census (d_a, d_b, censored per t), suffix-window risk sets, the
    * q321 factor-fold for S(u−), per-step increments pinned at 1e-9
    * and decimal-summed — the oracle replays the identical chain.
    * Inputs: one row per unit with duration `t` and its end: causeA /
    * causeB / neither (censored).
    */
  def competingRisks(
      lives: DataFrame,
      durationCol: String,
      causeACol: Column,
      causeBCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val byT = lives.select(col(durationCol).cast("long").as("t"),
        causeACol.as("ia"), causeBCol.as("ib"))
      .groupBy(col("t"))
      .agg(sum(when(col("ia"), 1L).otherwise(0L)).as("da"),
        sum(when(col("ib") && !col("ia"), 1L).otherwise(0L)).as("db"),
        sum(when(!col("ia") && !col("ib"), 1L).otherwise(0L)).as("c"),
        count(lit(1)).as("n_t"))
    val later = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risked = byT
      .withColumn("n_risk", sum(col("n_t")).over(later))
      .withColumn("factor", lit(1.0) -
        dbl(col("da") + col("db")) / dbl(col("n_risk")))
    val packed = risked.agg(
      sort_array(collect_list(struct(col("t"), col("da"), col("db"),
        col("c"), col("n_risk"), col("factor")))).as("rows"))
    val stepped = packed
      .select(col("rows"), posexplode(col("rows")).as(Seq("i", "r")))
      .select(col("r.t").as("t"), col("r.da").as("da"),
        col("r.db").as("db"), col("r.c").as("n_censored"),
        col("r.n_risk").as("n_risk"),
        aggregate(
          expr("slice(transform(rows, x -> x.factor), 1, i)"),
          lit(1.0), (acc, f) => acc * f).as("sprev"),
        aggregate(
          expr("slice(transform(rows, x -> x.factor), 1, i + 1)"),
          lit(1.0), (acc, f) => acc * f).as("snow"))
      .withColumn("inca", round(col("sprev") *
        (dbl(col("da")) / dbl(col("n_risk"))), 9).cast(d289))
      .withColumn("incb", round(col("sprev") *
        (dbl(col("db")) / dbl(col("n_risk"))), 9).cast(d289))
    val cum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped
      .withColumn("cifa", sum(col("inca")).over(cum))
      .withColumn("cifb", sum(col("incb")).over(cum))
      .select(col("t"), col("n_risk"), col("da").as("n_cause_a"),
        col("db").as("n_cause_b"), col("n_censored"),
        round(col("snow"), 6).as("surv_all"),
        round(dbl(col("cifa")), 6).as("cif_a"),
        round(dbl(col("cifb")), 6).as("cif_b"))
      .orderBy(col("t"))
  }

  /** MEAN CUMULATIVE FUNCTION for RECURRENT events — expected
    * cumulative event count per unit by its own age: the survival
    * shelf ends a unit once (q321/q645); real units keep erroring,
    * re-ordering, re-engaging, and the MCF is the population-honest
    * running total (a per-age event count divided by the units still
    * OLD enough to be observed at that age — naive cumulative averages
    * silently divide late ages by the whole cohort). One event-age
    * census + one lifespan census; risk sets by a suffix window over
    * the age domain; per-age rates pinned at 1e-9, MCF an exact
    * decimal running sum. The censuses ADD under entity-partitioned
    * batching — shared with the streaming store.
    */
  def meanCumulativeFunction(
      df: DataFrame,
      unitCol: String,
      secCol: String,
      bucketSec: Long = 3600L): DataFrame = {
    val base = df.select(col(unitCol).as("u"), col(secCol).as("sec"))
      .withColumn("first", min(col("sec")).over(
        Window.partitionBy(col("u"))))
      .withColumn("last", max(col("sec")).over(
        Window.partitionBy(col("u"))))
    val dCen = base.select(
        ((col("sec") - col("first")) / bucketSec).cast("long").as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("d"))
    val lCen = base.select(col("u"),
        ((col("last") - col("first")) / bucketSec).cast("long").as("l"))
      .distinct()
      .groupBy(col("l")).agg(count(lit(1)).as("w"))
    mcfFromCensus(dCen, lCen)
  }

  /** [[meanCumulativeFunction]] on pre-aggregated event-age and
    * lifespan censuses — the mergeable form the streaming store drains
    * through. */
  def mcfFromCensus(dCen: DataFrame, lCen: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val d = dCen.groupBy(col("a")).agg(sum(col("d")).as("d"))
    val l = lCen.groupBy(col("l")).agg(sum(col("w")).as("w"))
    val merged = d.select(col("a"), col("d"), lit(0L).as("w"))
      .unionByName(l.select(col("l").as("a"), lit(0L).as("d"), col("w")))
      .groupBy(col("a")).agg(sum(col("d")).as("d"), sum(col("w")).as("w"))
    val fromAbove = Window.orderBy(col("a"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cum = Window.orderBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged.repartition(1)
      .withColumn("n_risk", sum(col("w")).over(fromAbove))
      .withColumn("rate", when(col("n_risk") > 0L,
        round(dbl(col("d")) / dbl(col("n_risk")), 9)))
      .withColumn("mcf",
        sum(coalesce(col("rate"), lit(0.0)).cast(d289)).over(cum))
      .filter(col("d") > 0L)
      .select(col("a").as("age"), col("d").as("n_events"),
        col("n_risk"), col("rate"),
        round(dbl(col("mcf")), 6).as("mcf"))
      .orderBy(col("age"))
  }

  /** PER-GROUP LOG-LOG FIT — the power-law regression ln y = a + b·ln x
    * over each group's member points: b is the ELASTICITY when x is
    * price and y is quantity ("1% up in price moves demand b%"), the
    * within-group sibling of [[taylorLaw]]'s cross-key scaling fit.
    * Positive-quadrant points only (stated); ln points pinned once at
    * 1e-9, term products re-pinned into exact decimal sums, one
    * pinned-double closed-form finish per group; < 3 points or no
    * x-spread NULL.
    */
  def logLogFit(
      df: DataFrame,
      groupCol: String,
      xCol: Column,
      yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val pts = df.select(col(groupCol).cast("string").as("g"),
        xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x") > 0L && col("y") > 0L)
      .select(col("g"), round(log(dbl(col("x"))), 9).cast(d289).as("lx"),
        round(log(dbl(col("y"))), 9).cast(d289).as("ly"))
      .select(col("g"), col("lx"), col("ly"),
        round(dbl(col("lx")) * dbl(col("lx")), 9).cast(d289).as("xx"),
        round(dbl(col("lx")) * dbl(col("ly")), 9).cast(d289).as("xy"),
        round(dbl(col("ly")) * dbl(col("ly")), 9).cast(d289).as("yy"))
    val f = pts.groupBy(col("g"))
      .agg(count(lit(1)).as("np"), sum(col("lx")).as("sx"),
        sum(col("ly")).as("sy"), sum(col("xx")).as("sxx"),
        sum(col("xy")).as("sxy"), sum(col("yy")).as("syy"))
    val np = dbl(col("np"))
    val cxx = np * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val cxy = np * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val cyy = np * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val ok = col("np") >= 3L && cxx > 0.0
    f.select(col("g"), col("np").cast("long").as("n_points"),
      when(ok, round(cxy / cxx, 6)).as("slope"),
      when(ok, round((dbl(col("sy")) - cxy / cxx * dbl(col("sx"))) / np,
        6)).as("intercept"),
      when(ok && cyy > 0.0, round(cxy * cxy / (cxx * cyy), 6)).as("r2"))
      .orderBy(col("g"))
  }

  /** YULE–WALKER AR(2) FIT per key — the MODEL the diagnostic shelf
    * keeps gesturing at: q255's autocorrelations and q588's PACF say "an
    * AR signature is present"; this fits the actual recurrence
    * v_t = m + φ₁(v_{t−1}−m) + φ₂(v_{t−2}−m) + ε and emits φ₁, φ₂, the
    * innovation variance σ², and the ONE-STEP FORECAST from the key's
    * last two observations — the number a capacity planner actually
    * wants. Method of moments on the biased (divide-by-n)
    * autocovariances, the estimator that keeps the fitted AR stationary.
    *
    * Caller supplies a DENSE bucket spine (gaps would silently splice
    * non-adjacent buckets into lag pairs). Census is one pass: exact
    * integer lag-product sums (the q588 discipline), autocorrelations
    * pinned at 1e-9, φ's closed-form from the pinned ρ's, σ²/forecast
    * pinned at 1e-6. Keys need ≥ 5 buckets; a flat series (c₀ = 0) or a
    * degenerate ρ₁ = ±1 reads NULL coefficients rather than infinities.
    * Census shape: O(keys) rows out, bucket-domain state — mergeable
    * under count-addition (the stream twin re-runs this on the drained
    * hourly census).
    */
  def yuleWalkerAr2(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("w1", lead(col("v"), 1).over(ord))
      .withColumn("w2", lead(col("v"), 2).over(ord))
      .localCheckpoint(true) // moment census + last-two lookup share it
    def lagSums(k: Int) = Seq(
      sum(when(col(s"w$k").isNotNull, col("v") * col(s"w$k"))
        .otherwise(0L)).as(s"svw$k"),
      sum(when(col(s"w$k").isNotNull, col("v")).otherwise(0L)).as(s"sh$k"),
      sum(coalesce(col(s"w$k"), lit(0L))).as(s"st$k"),
      sum(when(col(s"w$k").isNotNull, 1L).otherwise(0L)).as(s"nk$k"))
    val aggs = Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
      sum(col("v") * col("v")).as("svv")) ++ lagSums(1) ++ lagSums(2)
    val cen = base.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n") >= 5L)
    val ordDesc = Window.partitionBy(col(keyCol)).orderBy(col("__b").desc)
    val lastTwo = base.withColumn("__rn", row_number().over(ordDesc))
      .filter(col("__rn") <= 2)
      .groupBy(col(keyCol))
      .agg(max(when(col("__rn") === 1, col("v"))).as("v_last"),
        max(when(col("__rn") === 2, col("v"))).as("v_prev"))
    val n = dbl(col("n"))
    val m = dbl(col("sv")) / n
    val c0 = dbl(col("svv")) / n - m * m
    def cLag(k: Int): Column =
      (dbl(col(s"svw$k")) - m * (dbl(col(s"sh$k")) + dbl(col(s"st$k"))) +
        dbl(col(s"nk$k")) * m * m) / n
    val staged = cen.join(lastTwo, Seq(keyCol))
      .select(col(keyCol), col("n"), col("v_last"), col("v_prev"),
        round(m, 9).as("m"), round(c0, 9).as("c0"),
        when(c0 > 0.0, round(cLag(1) / c0, 9)).as("r1"),
        when(c0 > 0.0, round(cLag(2) / c0, 9)).as("r2"))
    val den = lit(1.0) - col("r1") * col("r1")
    val phi1 = col("r1") * (lit(1.0) - col("r2")) / den
    val phi2 = (col("r2") - col("r1") * col("r1")) / den
    val ok = col("r1").isNotNull && den =!= 0.0
    // + 0.0 normalizes a tiny-negative round to 0.0 (hash-stable
    // across engines; the q619 pattern)
    staged.select(col(keyCol), col("n"),
        round(col("m"), 6).as("mean"),
        when(ok, round(phi1, 6) + lit(0.0)).as("phi1"),
        when(ok, round(phi2, 6) + lit(0.0)).as("phi2"),
        when(ok, round(col("c0") *
          (lit(1.0) - phi1 * col("r1") - phi2 * col("r2")), 6) + lit(0.0))
          .as("sigma2"),
        when(ok, round(col("m") +
          phi1 * (dbl(col("v_last")) - col("m")) +
          phi2 * (dbl(col("v_prev")) - col("m")), 6) + lit(0.0))
          .as("forecast_next"))
      .orderBy(col(keyCol))
  }

  /** MA(1) FIT per key — the moving-average counterpart to
    * [[yuleWalkerAr2]]: v_t = μ + ε_t + θ ε_{t−1}, the model for a
    * series whose shocks echo for exactly ONE bucket (an AR signature
    * decays geometrically; an MA(1) autocorrelation CUTS OFF after lag
    * 1 — q588's PACF/ACF shapes point at which family applies, this
    * fits the MA side). Method of moments: ρ₁ = θ/(1+θ²), inverted to
    * the INVERTIBLE root θ = (1 − √(1−4ρ₁²))/(2ρ₁); an MA(1) cannot
    * produce |ρ₁| ≥ ½, so such keys read NULL θ — itself the verdict
    * "this is not an MA(1)". Innovation variance σ² = c₀/(1+θ²).
    *
    * Caller supplies a DENSE bucket spine (the [[yuleWalkerAr2]]
    * contract). One exact integer lag-1 census pass; ρ₁ pinned at 1e-9
    * so the √ argument is identical in both engines (√ is
    * correctly-rounded IEEE — no iterative solve anywhere); outputs
    * pinned at 1e-6 with the `+ 0.0` signed-zero normalization. Keys
    * need ≥ 5 buckets; a flat series reads NULL; ρ₁ = 0 exactly reads
    * θ = 0 (white noise IS an MA(1)). O(keys) rows out.
    */
  def ma1Fit(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("w1", lead(col("v"), 1).over(ord))
    val cen = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"),
        sum(when(col("w1").isNotNull, col("v") * col("w1"))
          .otherwise(0L)).as("svw1"),
        sum(when(col("w1").isNotNull, col("v")).otherwise(0L)).as("sh1"),
        sum(coalesce(col("w1"), lit(0L))).as("st1"),
        sum(when(col("w1").isNotNull, 1L).otherwise(0L)).as("nk1"))
      .filter(col("n") >= 5L)
    val n = dbl(col("n"))
    val m = dbl(col("sv")) / n
    val c0 = dbl(col("svv")) / n - m * m
    val c1 = (dbl(col("svw1")) - m * (dbl(col("sh1")) + dbl(col("st1"))) +
      dbl(col("nk1")) * m * m) / n
    val staged = cen.select(col(keyCol), col("n"),
      round(m, 9).as("m"), round(c0, 9).as("c0"),
      when(c0 > 0.0, round(c1 / c0, 9)).as("r1"))
    val invertible = col("r1").isNotNull && abs(col("r1")) < 0.5
    val theta = when(col("r1") === 0.0, lit(0.0))
      .otherwise((lit(1.0) -
        sqrt(lit(1.0) - lit(4.0) * col("r1") * col("r1"))) /
        (lit(2.0) * col("r1")))
    staged.select(col(keyCol), col("n"),
        round(col("m"), 6).as("mean"),
        when(col("r1").isNotNull, round(col("r1"), 6) + lit(0.0))
          .as("r1"),
        when(invertible, round(theta, 6) + lit(0.0)).as("theta"),
        when(invertible,
          round(col("c0") / (lit(1.0) + theta * theta), 6) + lit(0.0))
          .as("sigma2"))
      .orderBy(col(keyCol))
  }

  /** ARMA(1,1) FIT per key — the bridge between [[yuleWalkerAr2]] and
    * [[ma1Fit]]: v_t = μ + φ(v_{t−1}−μ) + ε_t + θ ε_{t−1}, the
    * smallest model whose ACF both DECAYS (the AR part) and starts from
    * a free lag-1 value (the MA part). Method of moments: φ = ρ₂/ρ₁
    * (the decay rate from lag 1 to 2 — pure AR(1) curvature), then θ
    * from ρ₁ via the quadratic Aθ² + Bθ + A = 0 with A = ρ₁ − φ,
    * B = 2ρ₁φ − 1 − φ² (the two roots are reciprocal; the invertible
    * |θ| ≤ 1 one is kept). σ² = c₀(1−φ²)/(1+2φθ+θ²).
    *
    * Caller supplies a DENSE bucket spine. One exact integer lag-1/
    * lag-2 census (the [[yuleWalkerAr2]] sums verbatim); ρ's pinned at
    * 1e-9, φ and the quadratic's coefficients are then deterministic
    * doubles, √ correctly-rounded IEEE; outputs pinned at 1e-6 with
    * `+ 0.0`. Refusals read NULL rather than fitting garbage: flat
    * series, ρ₁ = 0 (no lag structure to split), |φ| ≥ 1
    * (non-stationary), negative discriminant (no real MA root —
    * the (ρ₁, ρ₂) pair is not an ARMA(1,1) signature); A = 0 with
    * B ≠ 0 reads θ = 0 exactly (a pure AR(1) IS an ARMA(1,1)).
    * Keys need ≥ 6 buckets. O(keys) rows out.
    */
  def arma11Fit(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
        col(valueCol).cast("long").as("v"))
      .withColumn("w1", lead(col("v"), 1).over(ord))
      .withColumn("w2", lead(col("v"), 2).over(ord))
    def lagSums(k: Int) = Seq(
      sum(when(col(s"w$k").isNotNull, col("v") * col(s"w$k"))
        .otherwise(0L)).as(s"svw$k"),
      sum(when(col(s"w$k").isNotNull, col("v")).otherwise(0L)).as(s"sh$k"),
      sum(coalesce(col(s"w$k"), lit(0L))).as(s"st$k"),
      sum(when(col(s"w$k").isNotNull, 1L).otherwise(0L)).as(s"nk$k"))
    val aggs = Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
      sum(col("v") * col("v")).as("svv")) ++ lagSums(1) ++ lagSums(2)
    val cen = base.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n") >= 6L)
    val n = dbl(col("n"))
    val m = dbl(col("sv")) / n
    val c0 = dbl(col("svv")) / n - m * m
    def cLag(k: Int): Column =
      (dbl(col(s"svw$k")) - m * (dbl(col(s"sh$k")) + dbl(col(s"st$k"))) +
        dbl(col(s"nk$k")) * m * m) / n
    val staged = cen.select(col(keyCol), col("n"),
      round(m, 9).as("m"), round(c0, 9).as("c0"),
      when(c0 > 0.0, round(cLag(1) / c0, 9)).as("r1"),
      when(c0 > 0.0, round(cLag(2) / c0, 9)).as("r2"))
    val phi = col("r2") / col("r1")
    val qa = col("r1") - phi
    val qb = lit(2.0) * col("r1") * phi - lit(1.0) - phi * phi
    val disc = qb * qb - lit(4.0) * qa * qa
    val t1 = (-qb - sqrt(disc)) / (lit(2.0) * qa)
    val t2 = (-qb + sqrt(disc)) / (lit(2.0) * qa)
    val theta = when(qa === 0.0, lit(0.0))
      .otherwise(when(abs(t1) <= 1.0, t1).otherwise(t2))
    val ok = col("r1").isNotNull && col("r1") =!= 0.0 &&
      abs(phi) < 1.0 &&
      (qa === 0.0 && qb =!= 0.0 || qa =!= 0.0 && disc >= 0.0)
    val sden = lit(1.0) + lit(2.0) * phi * theta + theta * theta
    staged.select(col(keyCol), col("n"),
        round(col("m"), 6).as("mean"),
        when(ok, round(phi, 6) + lit(0.0)).as("phi"),
        when(ok, round(theta, 6) + lit(0.0)).as("theta"),
        when(ok && sden > 0.0,
          round(col("c0") * (lit(1.0) - phi * phi) / sden, 6) + lit(0.0))
          .as("sigma2"))
      .orderBy(col(keyCol))
  }

  /** WEIBULL FIT by median-rank regression per key — the LIFETIME
    * distribution the extremes shelf lacks: q589's Gumbel models block
    * MAXIMA, q383's Hill the tail INDEX; Weibull models the duration
    * itself, and its shape parameter is a one-number verdict on the
    * hazard's direction (k < 1 infant mortality, k = 1 memoryless,
    * k > 1 wear-out). The classic probability-plot estimator: sort
    * durations, assign Bernard's median rank F_i = (i−0.3)/(n+0.4),
    * and OLS ln(−ln(1−F_i)) on ln(t_i) — slope IS the shape k,
    * scale λ = exp(−a/k) from the intercept, r² the plot-linearity
    * goodness a reliability engineer reads before trusting either.
    *
    * Scale shape: ranks come from the (key, duration) CENSUS — windows
    * and the rank explode run over the day-domain census rows, never a
    * per-key sort of raw rows (a 7-key window over raw data would be 7
    * tasks at any scale; the census keeps every stage key×day-bounded
    * until the final explode feeds a map-side-combined aggregate).
    * Ties are exact by construction: tied durations share x, so the
    * OLS sums are independent of rank order within a tie group. x and
    * y pinned at 1e-9 at birth, decimal-summed; λ's exponent pinned
    * before the exp (the q670 discipline). Durations < 1 drop (ln);
    * keys need ≥ 5 durations; zero x-variance reads NULL; k ≤ 0 reads
    * NULL scale. O(keys) rows out.
    */
  def weibullFit(
      df: DataFrame,
      keyCol: String,
      valueCol: String): DataFrame = {
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val cen = df.select(col(keyCol).as("k"),
        col(valueCol).cast("long").as("t"))
      .filter(col("t") >= 1L)
      .groupBy(col("k"), col("t"))
      .agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy(col("k")).orderBy(col("t"))
    val wAll = Window.partitionBy(col("k"))
    // census-domain frame feeds two aggregates below — pin it once
    val cen2 = cen
      .withColumn("cum", sum(col("c")).over(wOrd))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("x", round(log(dbl(col("t"))), 9))
      .withColumn("xx", round(col("x") * col("x"), 9))
      .localCheckpoint(true)
    // x is CONSTANT across a tie group's ranks, so its sums never need
    // the rank explode: a decimal sum of c copies of x is exactly x·c
    // (both are the same 1e-9-grid rational, decimal arithmetic is
    // exact), and the distinct-duration count is the census row count.
    // Only the rank-VARYING y terms walk the exploded ranks — this also
    // drops the countDistinct Expand that doubled the exploded
    // aggregate's input.
    // nd: EXACT degeneracy guard — a constant-duration key's cxx is
    // not zero but rounding dust (xx is the ROUNDED square of the
    // pinned x, so n*sxx - sx*sx ~ n^2*1e-10), and dust scales with
    // n^2 — no epsilon survives every n. Distinct-duration count does.
    // x, xx are |ln t|-scale (≤ 44, ≤ 1936): decimal(18,9) holds them
    // exactly, and (18,9)×(19,0) → decimal(38,9) stays inside Spark's
    // 38-digit cap with NO scale reduction (a d289 × long product would
    // be adjusted to scale 6 and silently round the 1e-9 grid)
    val d189 = DecimalType(18, 9)
    val d190 = DecimalType(19, 0)
    val cSide = cen2.groupBy(col("k"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("nd"),
        sum(col("x").cast(d189) * col("c").cast(d190)).as("sx"),
        sum(col("xx").cast(d189) * col("c").cast(d190)).as("sxx"))
    val ranks = cen2
      .select(col("k"), col("n"), col("x"),
        explode(sequence(col("cum") - col("c") + lit(1L), col("cum")))
          .as("i"))
    val fCol = (dbl(col("i")) - lit(0.3)) / (dbl(col("n")) + lit(0.4))
    val pts = ranks.select(col("k"), col("x"),
        round(log(-log(lit(1.0) - fCol)), 9).as("y"))
    val ySide = pts.groupBy(col("k"))
      .agg(sum(col("y").cast(d289)).as("sy"),
        sum(round(col("x") * col("y"), 9).cast(d289)).as("sxy"),
        sum(round(col("y") * col("y"), 9).cast(d289)).as("syy"))
    val f = cSide.join(ySide, Seq("k"))
      .filter(col("n") >= 5L)
    val n = dbl(col("n"))
    val cxx = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val cxy = n * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val cyy = n * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val ok = col("nd") >= 2L && cxx > 0.0
    val shape = cxy / cxx
    val icept = (dbl(col("sy")) - shape * dbl(col("sx"))) / n
    f.select(col("k").as(keyCol), col("n"),
        when(ok, round(shape, 6) + lit(0.0)).as("shape"),
        when(ok && shape > 0.0,
          round(exp(-round(icept / shape, 9)), 6)).as("scale"),
        when(ok && cyy > 0.0,
          round(cxy * cxy / (cxx * cyy), 6) + lit(0.0)).as("r2"))
      .orderBy(col(keyCol))
  }

  /** DIEBOLD–MARIANO TEST — are two forecasters DIFFERENT, or is the
    * backtest gap luck: the mean of the per-bucket squared-error loss
    * differential d_t = e₁² − e₂², studentized by a Newey–West
    * long-run variance (forecast errors overlap, so d_t is serially
    * correlated and the naive t-test overstates certainty — the same
    * honesty [[neweyWestSlope]] brings to trend errors). The missing
    * VERDICT beside q404's MASE magnitudes and q465's pinball scores:
    * those rank forecasters, this says whether the ranking is evidence.
    * DM < 0 favors forecast 1.
    *
    * One ordered pass per key: d_t pinned to the 1e-9 grid at birth,
    * decimal-summed moments, lag-ℓ autocovariance products of the
    * pinned d's via lead windows, Bartlett weights as exact literals,
    * one pinned studentization. Keys need ≥ 8 loss points; a zero
    * long-run variance (identical forecasts) reads NULL. O(keys) out.
    */
  def dieboldMariano(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      actualCol: String,
      f1Col: String,
      f2Col: String,
      lags: Int = 3): DataFrame = {
    require(lags >= 1 && lags <= 8)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
    val e1 = dbl(col(actualCol)) - dbl(col(f1Col))
    val e2 = dbl(col(actualCol)) - dbl(col(f2Col))
    val laggedCols = Seq(col(keyCol), col("__b"), col("d")) ++
      (1 to lags).map(l => lead(col("d"), l).over(ord).as(s"d$l"))
    val base = df.select(col(keyCol), col(bucketCol).cast("long").as("__b"),
        round(e1 * e1 - e2 * e2, 9).as("d"))
      .select(laggedCols: _*)
    val aggs = Seq(count(lit(1)).as("n"),
      sum(col("d").cast(d289)).as("sd"),
      sum(round(col("d") * col("d"), 9).cast(d289)).as("sdd")) ++
      (1 to lags).flatMap(l => Seq(
        sum(when(col(s"d$l").isNotNull,
          round(col("d") * col(s"d$l"), 9)).otherwise(0.0).cast(d289))
          .as(s"sx$l"),
        sum(when(col(s"d$l").isNotNull, col("d")).otherwise(0.0)
          .cast(d289)).as(s"sa$l"),
        sum(coalesce(col(s"d$l"), lit(0.0)).cast(d289)).as(s"sb$l"),
        sum(when(col(s"d$l").isNotNull, 1L).otherwise(0L)).as(s"nl$l")))
    val cen = base.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
      .filter(col("n") >= 8L)
    val n = dbl(col("n"))
    val dbar = dbl(col("sd")) / n
    val g0 = dbl(col("sdd")) / n - dbar * dbar
    def gl(l: Int): Column =
      (dbl(col(s"sx$l")) - dbar * (dbl(col(s"sa$l")) + dbl(col(s"sb$l"))) +
        dbl(col(s"nl$l")) * dbar * dbar) / n
    val lrv = (1 to lags).foldLeft(g0) { (acc, l) =>
      acc + lit(2.0 * (1.0 - l.toDouble / (lags + 1.0))) * gl(l)
    }
    // + 0.0 normalizes a tiny-negative round to 0.0 (hash-stable
    // across engines; the q619 pattern)
    cen.select(col(keyCol), col("n"),
        (round(dbar, 6) + lit(0.0)).as("mean_loss_diff"),
        (round(lrv, 6) + lit(0.0)).as("lrv"),
        when(lrv > 0.0, round(dbar / sqrt(lrv / n), 6) + lit(0.0))
          .as("dm_stat"),
        when(lrv > 0.0, abs(dbar / sqrt(lrv / n)) > 1.96)
          .as("significant_95"))
      .orderBy(col(keyCol))
  }
}
