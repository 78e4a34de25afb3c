package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring: Population Stability Index between a
  * reference slice and an actual slice of the same column — the standard
  * "did today's feed shift under my model" gate in a training pipeline.
  *
  * One scan computes the global value range and both slices' bin counts
  * (conditional aggregation, no second read); Laplace +1 smoothing keeps
  * empty bins finite. All densities derive from integer counts with
  * fixed-order double arithmetic, so the per-bin PSI terms replay exactly
  * cross-engine (rounded to the 1e-6 output grid).
  */
object Drift {

  /** Per-bin PSI decomposition of `valueCol`, split by the boolean
    * `actualCol` (true = actual slice, false = reference). Returns one row
    * per bin: both smoothed densities and the bin's PSI contribution;
    * `SUM(psi_term)` is the index.
    */
  def psiBins(
      df: DataFrame,
      valueCol: String,
      actualCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val v = col(valueCol).cast("double")
    val bounds = df.agg(min(v).as("mn"), max(v).as("mx")).head()
    val mn = bounds.getDouble(0)
    val mx = bounds.getDouble(1)
    require(mx > mn, s"degenerate value range [$mn, $mx]")
    // top edge lands in the last bin; fixed-order (v-mn)*k/(mx-mn)
    val bin = least(
      floor((v - lit(mn)) * lit(bins.toDouble) / lit(mx - mn)),
      lit(bins - 1L)).cast("long")
    val counts = df
      .groupBy(bin.as("bin"))
      .agg(
        sum(when(actualCol, 1L).otherwise(0L)).as("n_act"),
        sum(when(actualCol, 0L).otherwise(1L)).as("n_ref"))
    psiFromCensus(counts, bins)
  }

  /** [[psiBins]]' readout computed from a (bin, n_act, n_ref) CENSUS —
    * counts ADD across partials, so a store that commits per-batch bin
    * censuses (the streaming PSI surface) merges by re-aggregation and
    * this finish replays the one-pass [[psiBins]] bit for bit; that is
    * the property that lets the streaming store share the batch oracle.
    */
  def psiFromCensus(census: DataFrame, bins: Int): DataFrame = {
    // bins-sized; materialized so the totals lookup and the final
    // select don't each re-scan the input
    val counts = census.localCheckpoint(true)
    val totals = counts.agg(
      sum(col("n_act")).as("t_act"), sum(col("n_ref")).as("t_ref")).head()
    val tAct = totals.getLong(0)
    val tRef = totals.getLong(1)
    val pAct = (col("n_act").cast("double") + 1.0) / lit(tAct + bins).cast("double")
    val pRef = (col("n_ref").cast("double") + 1.0) / lit(tRef + bins).cast("double")
    counts
      .withColumn("p_actual", pAct)
      .withColumn("p_reference", pRef)
      .withColumn("psi_term",
        round((col("p_actual") - col("p_reference")) *
          log(col("p_actual") / col("p_reference")), 6))
      .select(col("bin"), col("n_ref"), col("n_act"),
        round(col("p_reference"), 6).as("p_reference"),
        round(col("p_actual"), 6).as("p_actual"), col("psi_term"))
  }

  /** Two-sample Kolmogorov–Smirnov distance evaluated on a fixed
    * equal-width grid — the distribution-shift test that, unlike q109's
    * PSI, is threshold-free and, unlike the textbook KS, never needs a
    * GLOBAL sort: rows land in `bins` buckets in one map-side-combined
    * pass, and the ECDF difference is maximized over the bins-sized
    * aggregate (grid evaluation bounds D from below by at most one bin's
    * mass — the standard large-data formulation). Same fixed-order bin
    * arithmetic as [[psiBins]]; the D statistic is a max of rounded
    * per-bin terms, so it replays exactly cross-engine.
    */
  def ksBinned(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column,
      bins: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2, "need at least 2 bins")
    val v = col(valueCol).cast("double")
    // one metadata-sized pass: bounds + both sample sizes together, so the
    // empty/all-null and one-sided cases fail with a message instead of a
    // bounds NPE or silent NaN ECDFs
    val bounds = df.agg(min(v).as("mn"), max(v).as("mx"),
      sum(when(sampleACol, 1L).otherwise(0L)).as("na"),
      sum(when(sampleACol, 0L).otherwise(1L)).as("nb")).head()
    require(!bounds.isNullAt(0) && !bounds.isNullAt(1),
      s"ksBinned: empty input or all-null $valueCol")
    require(bounds.getLong(2) > 0 && bounds.getLong(3) > 0,
      s"ksBinned: both samples must be non-empty " +
        s"(n_a=${bounds.getLong(2)}, n_b=${bounds.getLong(3)})")
    val mn = bounds.getDouble(0)
    val mx = bounds.getDouble(1)
    require(mx > mn, s"degenerate value range [$mn, $mx]")
    val bin = least(
      floor((v - lit(mn)) * lit(bins.toDouble) / lit(mx - mn)),
      lit(bins - 1L)).cast("long")
    val counts = df
      .groupBy(bin.as("bin"))
      .agg(
        sum(when(sampleACol, 1L).otherwise(0L)).as("n_a"),
        sum(when(sampleACol, 0L).otherwise(1L)).as("n_b"))
    val cum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    counts
      .withColumn("cum_a", sum(col("n_a")).over(cum))
      .withColumn("cum_b", sum(col("n_b")).over(cum))
      .withColumn("t_a", sum(col("n_a")).over(all))
      .withColumn("t_b", sum(col("n_b")).over(all))
      .withColumn("f_a", col("cum_a").cast("double") / col("t_a").cast("double"))
      .withColumn("f_b", col("cum_b").cast("double") / col("t_b").cast("double"))
      .withColumn("d_term", round(abs(col("f_a") - col("f_b")), 9))
      .withColumn("d_stat", max(col("d_term")).over(all))
      .select(col("bin"), col("n_a"), col("n_b"),
        round(col("f_a"), 9).as("f_a"), round(col("f_b"), 9).as("f_b"),
        col("d_term"), col("d_stat"))
  }

  /** Mutual information between two categorical columns — the
    * feature-relevance score that, unlike q128's χ², is directly
    * comparable across feature pairs (nats): MI = Σ_xy p_xy·ln(p_xy·N² /
    * (n_x·n_y·N)) computed from one contingency aggregation.
    *
    * Exactness discipline: every count is an exact long from ONE groupBy
    * (marginals come from windows over the |X|·|Y|-row contingency table,
    * not rescans); each pair's term is fixed-order double arithmetic
    * rounded to the 1e-9 grid and accumulated in DECIMAL, so `mi_total`
    * is partition-order-independent and engine-identical (the q194/q236
    * pattern). Scale shape: one shuffle on (x, y); everything after is
    * category-cardinality-sized.
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val joint = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val nx = sum(col("n_xy")).over(Window.partitionBy(col("x")))
    val ny = sum(col("n_xy")).over(Window.partitionBy(col("y")))
    val n = sum(col("n_xy")).over(Window.partitionBy())
    val term = col("n_xy").cast("double") / col("n").cast("double") *
      log(col("n_xy").cast("double") * col("n").cast("double") /
        (col("n_x").cast("double") * col("n_y").cast("double")))
    joint
      .withColumn("n_x", nx).withColumn("n_y", ny).withColumn("n", n)
      .withColumn("mi_term", round(term, 9).cast(DecimalType(18, 9)))
      .withColumn("mi_total",
        sum(col("mi_term")).over(Window.partitionBy()).cast("double"))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        col("mi_term").cast("double").as("mi_term"), col("mi_total"))
  }

  /** STRATIFIED ATT — the average treatment effect ON THE TREATED under
    * stratified adjustment: ATT = Σ_s w_s·(ȳ₁s − ȳ₀s) with
    * TREATED-share weights w_s = n₁s/N₁ (the estimand q462's
    * post-stratification — population weights — does not give), plus the
    * stratified SE and z. The causal companion to q453's balance table:
    * balance says the strata are comparable, this reads the effect off
    * them. Strata missing either arm DROP with their treated mass
    * reported (unmatchable units — silently reweighting them would
    * change the estimand); a used stratum with n < 2 in either arm
    * NULLs the SE (no variance is measurable) rather than biasing it.
    * One conditional DECIMAL(38,0) moment pass; per-stratum terms are
    * grid decimals, the finish pinned doubles.
    */
  def strataAtt(
      df: DataFrame,
      strataCol: String,
      armACol: Column,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val v = col(valueCol).cast("long").cast(d38)
    strataAttFromCensus(df.groupBy(col(strataCol).as("s"))
      .agg(sum(when(armACol, 1L).otherwise(0L)).as("n1"),
        sum(when(!armACol, 1L).otherwise(0L)).as("n0"),
        sum(when(armACol, v).otherwise(lit(0).cast(d38))).as("s1"),
        sum(when(!armACol, v).otherwise(lit(0).cast(d38))).as("s0"),
        sum(when(armACol, v * v).otherwise(lit(0).cast(d38))).as("ss1"),
        sum(when(!armACol, v * v).otherwise(lit(0).cast(d38))).as("ss0")))
  }

  /** [[strataAtt]] from an already-aggregated per-stratum conditional
    * moment census (s, n1, n0, s1, s0, ss1, ss0) — moments ADD across
    * batches, so a streaming store's drained census finishes identically
    * to the one-pass path and shares the batch oracle verbatim.
    */
  def strataAttFromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val cen = censusDf.groupBy(col("s"))
      .agg(sum(col("n1")).as("n1"), sum(col("n0")).as("n0"),
        sum(col("s1").cast(d38)).as("s1"),
        sum(col("s0").cast(d38)).as("s0"),
        sum(col("ss1").cast(d38)).as("ss1"),
        sum(col("ss0").cast(d38)).as("ss0"))
      .localCheckpoint(true) // strata census, used + dropped readers
    val used = cen.filter(col("n1") > 0L && col("n0") > 0L)
    val dropped = cen.filter(!(col("n1") > 0L && col("n0") > 0L))
      .agg(count(lit(1)).as("n_strata_dropped"),
        sum(col("n1")).as("__dt"))
      .select(col("n_strata_dropped"),
        coalesce(col("__dt"), lit(0L)).as("treated_dropped"))
    val fam = Window.partitionBy()
    val n1 = dbl(col("n1")); val n0 = dbl(col("n0"))
    val w = n1 / dbl(sum(col("n1")).over(fam))
    val diff = dbl(col("s1")) / n1 - dbl(col("s0")) / n0
    val v1 = (n1 * dbl(col("ss1")) - dbl(col("s1")) * dbl(col("s1"))) /
      (n1 * (n1 - 1.0))
    val v0 = (n0 * dbl(col("ss0")) - dbl(col("s0")) * dbl(col("s0"))) /
      (n0 * (n0 - 1.0))
    val staged = used
      .withColumn("at", round(w * diff, 6).cast(DecimalType(18, 6)))
      .withColumn("st", when(col("n1") > 1L && col("n0") > 1L,
        round(w * w * (v1 / n1 + v0 / n0), 6)).cast(DecimalType(28, 6)))
    val agg = staged.agg(count(lit(1)).as("n_strata_used"),
      sum(col("n1")).as("n_treated"),
      sum(col("at")).as("__a"), sum(col("st")).as("__s"),
      sum(when(col("st").isNull, 1L).otherwise(0L)).as("__bad"))
    val att = round(dbl(col("__a")), 6)
    val se = when(col("__bad") === 0L, round(sqrt(dbl(col("__s"))), 6))
    agg.crossJoin(broadcast(dropped))
      .select(col("n_strata_used"), col("n_strata_dropped"),
        col("n_treated"), col("treated_dropped"),
        att.as("att"), se.as("se"),
        round(when(se > 0.0, att / se), 6).as("z"))
  }

  /** UPPER TAIL DEPENDENCE — λ_U(q) = P(X > x_q | Y > y_q) at each
    * requested percentile: do the two metrics' EXTREMES co-occur, the
    * question correlation answers wrong (q83's Pearson is dominated by
    * the body of the distribution; two metrics can correlate 0.9 with
    * independent tails, or 0.2 with tails that always fire together —
    * the risk/capacity question). Thresholds are exact ceiling-rank
    * order statistics on each marginal's value census (never a row
    * sort); exceedance counts are one conditional pass with the
    * percentile spine broadcast. Integer counts, one pinned ratio.
    */
  def tailDependence(
      df: DataFrame,
      xCol: String,
      yCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 99) &&
      pcts.distinct.size == pcts.size, "percentiles in [1, 99], distinct")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .localCheckpoint(true) // two threshold censuses + the exceedance pass
    def thresh(c: String, out: String): DataFrame = {
      val cum = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fam = Window.partitionBy()
      val st = base.groupBy(col(c).as("v")).agg(count(lit(1)).as("t"))
        .withColumn("cw", sum(col("t")).over(cum))
        .withColumn("n", sum(col("t")).over(fam))
        .localCheckpoint(true) // value-domain frame, one agg per pct
      pcts.map { p =>
        st.agg(min(when(col("cw") >= expr(s"($p * n + 99) div 100"),
          col("v"))).as(out))
          .select(lit(p.toLong).as("pct"), col(out))
      }.reduce(_ unionByName _)
    }
    val ths = broadcast(thresh("x", "tx").join(thresh("y", "ty"), Seq("pct")))
    base.crossJoin(ths)
      .groupBy(col("pct"), col("tx"), col("ty"))
      .agg(sum(when(col("y") > col("ty"), 1L).otherwise(0L))
        .as("n_y_exceed"),
        sum(when(col("x") > col("tx") && col("y") > col("ty"), 1L)
          .otherwise(0L)).as("n_joint"))
      .select(col("pct"), col("tx").as("x_thresh"), col("ty").as("y_thresh"),
        col("n_y_exceed"), col("n_joint"),
        round(when(col("n_y_exceed") > 0L,
          col("n_joint").cast("double") / col("n_y_exceed").cast("double")),
          6).as("lambda_u"))
      .orderBy(col("pct"))
  }

  /** META-ANALYSIS across strata — fixed-effect pooling, Cochran's Q
    * heterogeneity, I², and the DerSimonian–Laird RANDOM-effects
    * re-pool: the readout that asks whether per-stratum effects are ONE
    * effect measured k times or genuinely different effects (I² ≫ 0 —
    * in which case [[strataAtt]]'s single number is an average of
    * unlike things and the random-effects interval is the honest one).
    * Per-stratum effect d_s and variance var_s come off the same
    * conditional moment census as strataAtt (strata with n < 2 in
    * either arm are excluded — no variance, no weight); inverse-variance
    * weights are O(1e-9)-scale doubles, far below any usable decimal
    * grid, so cross-engine exactness comes from PINNED FOLD ORDER
    * instead: the (d, var) pairs pack into ONE stratum-sorted array and
    * every sum folds sequentially (the KM list_reduce pattern) — the
    * bounded-strata-domain contract, stated.
    */
  def metaAnalysis(
      df: DataFrame,
      strataCol: String,
      armACol: Column,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val cen = df.groupBy(col(strataCol).cast("string").as("s"))
      .agg(sum(when(armACol, 1L).otherwise(0L)).as("n1"),
        sum(when(!armACol, 1L).otherwise(0L)).as("n0"),
        sum(when(armACol, v).otherwise(lit(0).cast(d38))).as("s1"),
        sum(when(!armACol, v).otherwise(lit(0).cast(d38))).as("s0"),
        sum(when(armACol, v * v).otherwise(lit(0).cast(d38))).as("ss1"),
        sum(when(!armACol, v * v).otherwise(lit(0).cast(d38))).as("ss0"))
      .filter(col("n1") > 1L && col("n0") > 1L)
    val n1 = dbl(col("n1")); val n0 = dbl(col("n0"))
    // 1e-3 grid: d and var sit at cents / cents-squared magnitudes where
    // a 1e-9 grid pins nothing and the wide-decimal->double cast ulp
    // (q83/q408) leaks into the cancellation-heavy tau2 denominator; the
    // coarser grid absorbs it with no semantic cost at this scale
    val dEff = round(dbl(col("s1")) / n1 - dbl(col("s0")) / n0, 3)
    val v1 = (n1 * dbl(col("ss1")) - dbl(col("s1")) * dbl(col("s1"))) /
      (n1 * (n1 - 1.0))
    val v0 = (n0 * dbl(col("ss0")) - dbl(col("s0")) * dbl(col("s0"))) /
      (n0 * (n0 - 1.0))
    val varEff = round(v1 / n1 + v0 / n0, 3)
    val packed = cen
      .select(col("s"), dEff.as("d"), varEff.as("vv"))
      .filter(col("vv") > 0.0)
      .agg(sort_array(collect_list(struct(col("s"), col("d"), col("vv"))))
        .as("rows"))
    def fold(term: String): Column =
      expr(s"aggregate(rows, CAST(0.0 AS DOUBLE), (a, x) -> a + ($term))")
    val sw = fold("1.0 / x.vv")
    val swd = fold("x.d / x.vv")
    val swd2 = fold("x.d * x.d / x.vv")
    val sw2 = fold("1.0 / x.vv / x.vv")
    val staged = packed.select(size(col("rows")).cast("long").as("k"),
      sw.as("sw"), swd.as("swd"), swd2.as("swd2"), sw2.as("sw2"),
      col("rows"))
    val dFe = col("swd") / col("sw")
    val q = col("swd2") - col("swd") * col("swd") / col("sw")
    val dfree = dbl(col("k")) - lit(1.0)
    val i2 = greatest((q - dfree) / q, lit(0.0))
    val tau2 = greatest((q - dfree) /
      (col("sw") - col("sw2") / col("sw")), lit(0.0))
    // random-effects re-pool: a second fold with tau2 inside the weight
    val withT = staged.withColumn("__t", tau2)
    def foldT(term: String): Column =
      expr(s"aggregate(rows, CAST(0.0 AS DOUBLE), (a, x) -> a + ($term))")
    val swr = foldT("1.0 / (x.vv + __t)")
    val swdr = foldT("x.d / (x.vv + __t)")
    withT.select(col("k"),
        round(dFe, 6).as("d_fixed"),
        round(q, 6).as("q_stat"),
        round(i2, 6).as("i2"),
        round(tau2, 6).as("tau2"),
        round(swdr / swr, 6).as("d_random"),
        round(sqrt(lit(1.0) / swr), 6).as("se_random"))
  }

  /** HODGES–LEHMANN shift estimate — the MEDIAN of all pairwise
    * differences between two arms: the robust "how big is the shift"
    * companion to q319's Mann–Whitney verdict and q518's unitless effect
    * sizes (CLES says 0.61; HL says "$42.50 higher"), insensitive to
    * outliers where the mean difference is not. Value-domain² pair frame
    * (the q435 Jonckheere bounded-census contract — never row pairs):
    * per-difference weights are exact integer products, the median is a
    * cumulative-weight ceiling-rank order statistic, and the even-count
    * case averages the two middle differences exactly.
    */
  def hodgesLehmann(
      df: DataFrame,
      valueCol: String,
      armACol: Column): DataFrame =
    hlFromCensus(df
      .select(col(valueCol).cast("long").as("v"), armACol.as("isa"))
      .groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ta"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("tb")))

  /** [[hodgesLehmann]] from an (v, ta, tb) value census — counts ADD, so
    * a streaming store's drained census reads identically to the
    * one-pass path (the w1FromCensus shape; the two even share a census
    * layout).
    *
    * Scale shape (the r11 lesson — this used to MATERIALIZE the
    * domain-A × domain-B difference census, which is quadratic when the
    * value domain tracks row count, e.g. near-unique order cents: one
    * ~10⁹-pair single task at sf0.1 was the r10 bench's silent killer):
    * the two order statistics among pairwise differences are now found
    * by DRIVER-SIDE BINARY SEARCH on the difference value, where each
    * probe counts pairs with va − vb ≤ d EXACTLY in one pass over the
    * two censuses (query rows at key va − d merge-sorted against the B
    * census; B ties sort after queries so equality lands on the correct
    * side; counts in DECIMAL(38,0)). O(log range) census-sized passes,
    * no pair frame anywhere, bit-identical d1/d2 to the census
    * formulation the oracle still replays (the count function is
    * monotone, so "min d with count ≥ r" is the same d).
    */
  def hlFromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val spark = censusDf.sparkSession
    val cen = censusDf.groupBy(col("v"))
      .agg(sum(col("ta")).as("ta"), sum(col("tb")).as("tb"))
      .localCheckpoint(true) // every probe re-reads it
    val st = cen.agg(
      sum(col("ta").cast(d38)).as("na"), sum(col("tb").cast(d38)).as("nb"),
      min(when(col("ta") > 0L, col("v"))).as("minA"),
      max(when(col("ta") > 0L, col("v"))).as("maxA"),
      min(when(col("tb") > 0L, col("v"))).as("minB"),
      max(when(col("tb") > 0L, col("v"))).as("maxB")).head()
    def big(d: java.math.BigDecimal): BigInt =
      if (d == null) BigInt(0) else BigInt(d.toBigInteger)
    val na = big(st.getDecimal(0))
    val nb = big(st.getDecimal(1))
    import spark.implicits._
    if (na == 0 || nb == 0) {
      // either arm empty: the old census aggregate read nulls
      return Seq(1).toDF("__one")
        .select(lit(null).cast("long").as("n_pairs"),
          lit(null).cast("double").as("hl_shift"))
    }
    val t = na * nb
    // DRIVER-SIDE SELECTION when the census is collectable: the census
    // is value-domain-sized, and once it sits in two sorted arrays the
    // exact pair-count probe costs O(nA log nB) locally — the whole
    // O(log range) search finishes in milliseconds with ZERO extra
    // Spark jobs (each distributed probe round below costs a full
    // crossJoin+window job, ~1 s of fixed overhead × ~9 rounds at
    // sf0.1). Same BigInt counts, same "min d with count >= rank"
    // invariant — bit-identical d1/d2.
    if (DriverFinisher.fits("hlFromCensus", DriverFinisher.HlCensus)(
        cen.count())) {
      val rows = cen.orderBy(col("v")).collect()
      val aIdx = rows.indices.filter(i => rows(i).getLong(1) > 0L)
      val av = aIdx.map(i => rows(i).getLong(0)).toArray
      val aw = aIdx.map(i => rows(i).getLong(1)).toArray
      val bIdx = rows.indices.filter(i => rows(i).getLong(2) > 0L)
      val bv = bIdx.map(i => rows(i).getLong(0)).toArray
      val bw = bIdx.map(i => rows(i).getLong(2)).toArray
      // suffix counts of B, BigInt-exact
      val bSuf = new Array[BigInt](bv.length + 1)
      bSuf(bv.length) = BigInt(0)
      for (i <- bv.length - 1 to 0 by -1)
        bSuf(i) = bSuf(i + 1) + BigInt(bw(i))
      def firstGe(x: Long): Int = {
        var lo = 0; var hi = bv.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (bv(mid) >= x) hi = mid else lo = mid + 1
        }
        lo
      }
      def countLE(d: Long): BigInt = {
        var c = BigInt(0); var i = 0
        while (i < av.length) {
          c += BigInt(aw(i)) * bSuf(firstGe(av(i) - d)); i += 1
        }
        c
      }
      def selectLocal(rank: BigInt, loInit: Long): Long = {
        var lo = loInit
        var hi = st.getLong(3) - st.getLong(4) // maxA − minB
        while (lo < hi) {
          val mid = Math.floorDiv(lo + hi, 2L)
          if (countLE(mid) >= rank) hi = mid else lo = mid + 1
        }
        lo
      }
      val r1 = (t + 1) / 2
      val r2 = t / 2 + 1
      val d1 = selectLocal(r1, st.getLong(2) - st.getLong(5))
      val d2 = if (r2 == r1) d1 else selectLocal(r2, d1)
      return Seq(1).toDF("__one")
        .select(lit(t.toString).cast(d38).cast("long").as("n_pairs"),
          round((lit(d1).cast("double") + lit(d2).cast("double")) /
            lit(2.0), 6).as("hl_shift"))
    }
    // BATCHED probes (r11 verdict item 8): one driver round evaluates m
    // candidate thresholds in a SINGLE job — the per-probe prefix walk
    // becomes a window PARTITIONED BY probe id, so the m merge-sorted
    // passes run as m parallel census-sized tasks instead of m
    // sequential single-task jobs, and the search narrows (m+1)-fold per
    // round instead of 2-fold. Counts are the same exact DECIMAL(38,0)
    // arithmetic per partition — bit-identical to the one-probe walk.
    def countLEBatch(ds: Seq[Long]): Map[Long, BigInt] = {
      import spark.implicits._
      val dDf = ds.toDF("d")
      val q = cen.filter(col("ta") > 0L).crossJoin(dDf)
        .select(col("d"), (col("v") - col("d")).as("key"),
          col("ta").as("w"), lit(1).as("pr"))
      val b = cen.filter(col("tb") > 0L).crossJoin(dDf)
        .select(col("d"), col("v").as("key"), col("tb").as("w"),
          lit(0).as("pr"))
      val ordD = Window.partitionBy(col("d"))
        .orderBy(col("key"), col("pr").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      q.unionByName(b)
        .withColumn("pref",
          sum(when(col("pr") === 0, col("w")).otherwise(0L).cast(d38))
            .over(ordD))
        .filter(col("pr") === 1)
        .groupBy(col("d"))
        .agg(sum(col("w").cast(d38) *
          (lit(nb.toString).cast(d38) - col("pref"))).as("c"))
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) BigInt(0)
           else BigInt(r.getDecimal(1).toBigInteger)))
        .toMap.withDefaultValue(BigInt(0))
    }
    // invariant: countLE(hi) >= rank, countLE(lo − 1) < rank; the m-ary
    // step keeps both sides exact, so the result is the same "min d with
    // count >= rank" the binary search returned
    val mWay = 7
    def select(rank: BigInt, loInit: Long): Long = {
      var lo = loInit
      var hi = st.getLong(3) - st.getLong(4) // maxA − minB
      while (lo < hi) {
        val probes: Seq[Long] =
          if (hi - lo <= mWay) (lo until hi)
          else {
            val step = Math.floorDiv(hi - lo, (mWay + 1).toLong)
            (1 to mWay).map(i => lo + step * i).distinct.filter(_ < hi)
          }
        val counts = countLEBatch(probes)
        val firstGe = probes.find(counts(_) >= rank)
        firstGe match {
          case Some(p) =>
            hi = p
            val below = probes.filter(_ < p)
            if (below.nonEmpty) lo = below.max + 1
          case None => lo = probes.max + 1
        }
      }
      lo
    }
    val d1 = select((t + 1) / 2, st.getLong(2) - st.getLong(5))
    // the higher rank's statistic can never sit below the lower's —
    // seed the second search at d1 and pay only the residual probes
    // (and skip it entirely when t is odd: the two ranks coincide)
    val d2 = if (t / 2 + 1 == (t + 1) / 2) d1 else select(t / 2 + 1, d1)
    Seq(1).toDF("__one")
      .select(lit(t.toString).cast(d38).cast("long").as("n_pairs"),
        round((lit(d1).cast("double") + lit(d2).cast("double")) /
          lit(2.0), 6).as("hl_shift"))
  }

  /** THEIL'S U (uncertainty coefficient) — the DIRECTIONAL categorical
    * association [[mutualInfo]] and Cramér's V can't give: U(X|Y) =
    * I(X;Y)/H(X) is the fraction of X's uncertainty Y removes, and it is
    * asymmetric — priority may predict status far better than status
    * predicts priority, which one symmetric number hides. Same exact
    * integer-census ln-term discipline as [[mutualInfo]] (grid decimals,
    * order-independent sums); entropies from the marginal censuses; one
    * bounded-domain joint pass. Degenerate (zero-entropy) marginals emit
    * NULL for the corresponding U.
    */
  def theilsU(df: DataFrame, xCol: String, yCol: String): DataFrame =
    theilsUFromCensus(df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_xy")))

  /** [[theilsU]] from an (x, y, n_xy) JOINT census — cell counts ADD
    * across batches and both marginals derive from the joint, so a
    * streaming store's drained census reads identically to the one-pass
    * path and shares the batch oracle verbatim.
    */
  def theilsUFromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d189 = DecimalType(18, 9)
    def dbl(c: Column): Column = c.cast("double")
    val fam = Window.partitionBy()
    val cells = censusDf.groupBy(col("x"), col("y"))
      .agg(sum(col("n_xy")).as("n_xy"))
      .localCheckpoint(true) // joint census: MI + both marginals read it
    val joint = cells
      .withColumn("n_x", sum(col("n_xy")).over(Window.partitionBy(col("x"))))
      .withColumn("n_y", sum(col("n_xy")).over(Window.partitionBy(col("y"))))
      .withColumn("n", sum(col("n_xy")).over(fam))
    val miTerm = dbl(col("n_xy")) / dbl(col("n")) *
      log(dbl(col("n_xy")) * dbl(col("n")) /
        (dbl(col("n_x")) * dbl(col("n_y"))))
    def entropy(margin: String): DataFrame = cells
      .groupBy(col(margin)).agg(sum(col("n_xy")).as("c"))
      .withColumn("n", sum(col("c")).over(fam))
      .select(round(-(dbl(col("c")) / dbl(col("n")) *
        log(dbl(col("c")) / dbl(col("n")))), 9).cast(d189).as("t"))
      .agg(sum(col("t")).cast("double").as(s"h_$margin"))
    val mi = joint
      .select(round(miTerm, 9).cast(d189).as("t"))
      .agg(sum(col("t")).cast("double").as("mi"))
    mi.crossJoin(broadcast(entropy("x"))).crossJoin(broadcast(entropy("y")))
      .select(round(col("mi"), 9).as("mi"),
        round(col("h_x"), 9).as("h_x"), round(col("h_y"), 9).as("h_y"),
        round(when(col("h_x") > 0.0, col("mi") / col("h_x")), 6)
          .as("u_x_given_y"),
        round(when(col("h_y") > 0.0, col("mi") / col("h_y")), 6)
          .as("u_y_given_x"))
  }

  /** MANN–WHITNEY U (Wilcoxon rank-sum) with tie correction — the
    * NON-parametric two-sample location test next to the parametric
    * z-test (q283) and the distributional KS (q295): "are sample A's
    * values systematically larger," robust to outliers and any monotone
    * transform. NO global per-row sort: values collapse to the VALUE
    * DOMAIN first (one map-side-combined aggregate), average ranks come
    * from a cumulative window over that domain-sized frame, and the rank
    * sum re-joins by value — the 100 TB formulation of a rank test.
    * Exactness: doubled ranks (2·avg is always integral) and the tie term
    * Σ(t³−t) accumulate in DECIMAL(38,0); only the final μ/σ/z are
    * doubles, evaluated in pinned order and rounded to 1e-6.
    */
  def mannWhitney(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val v = col(valueCol).cast("double")
    val byValue = df
      .groupBy(v.as("v"))
      .agg(sum(when(sampleACol, 1L).otherwise(0L)).as("ta"),
        sum(when(sampleACol, 0L).otherwise(1L)).as("tb"))
      .withColumn("t", col("ta") + col("tb"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // doubled average rank of a tie group ending at cumulative count c:
    // 2·avg = 2c − t + 1 (exactly integral)
    val ranked = byValue
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("r2", lit(2L) * col("c") - col("t") + 1L)
    val d38 = DecimalType(38, 0)
    val agg = ranked.agg(
      sum(col("ta")).as("na"), sum(col("tb")).as("nb"),
      sum(col("ta").cast(d38) * col("r2").cast(d38)).as("ra2"),
      sum(col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38) -
        col("t").cast(d38)).as("ties"))
    def dbl(c: Column): Column = c.cast("double")
    val na = col("na"); val nb = col("nb")
    val n = na + nb
    // U_A from the doubled rank sum: U = (ra2 − na(na+1))/2 stays exact
    // (na is promoted to DECIMAL before the product — a long·long multiply
    // would wrap past ~3e9 rows)
    val u2 = col("ra2") - na.cast(d38) * (na + lit(1L)).cast(d38)
    val mu2 = dbl(na) * dbl(nb) // 2μ = na·nb... (μ = na·nb/2, doubled)
    val sig2 = dbl(na) * dbl(nb) / 12.0 *
      ((dbl(n) + 1.0) - dbl(col("ties")) / (dbl(n) * (dbl(n) - 1.0)))
    agg.select(na.as("n_a"), nb.as("n_b"),
        (dbl(u2) / 2.0).as("u_a"),
        round((dbl(u2) - mu2) / (lit(2.0) * sqrt(sig2)), 6).as("z"))
  }

  /** [[mannWhitney]] with EFFECT SIZES — the report a test should have
    * shipped with: CLES = U/(n_a·n_b), the probability a random A value
    * exceeds a random B value (the directly interpretable number), and
    * the rank-biserial r = 2U/(n_a·n_b) − 1 ∈ [−1, 1] — because at 10⁹
    * rows EVERYTHING is "significant" and only the effect size says
    * whether anyone should care. Same census machinery; two extra pinned
    * ratios over the exact U.
    */
  def mwEffectSizes(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val prod = dbl(col("n_a")) * dbl(col("n_b"))
    mannWhitney(df, valueCol, sampleACol)
      .select(col("n_a"), col("n_b"), col("u_a"), col("z"),
        round(col("u_a") / prod, 6).as("cles"),
        round(lit(2.0) * col("u_a") / prod - lit(1.0), 6).as("rank_biserial"))
  }

  /** WELCH'S t-TEST (unequal variances) between two slices of an
    * integer-valued column — the mean-difference test beside q283's
    * proportion z-test and [[mannWhitney]]'s rank test: t =
    * (m̄_a − m̄_b) / √(s²_a/n_a + s²_b/n_b) with the Welch–Satterthwaite
    * df. Both slices' first two moments come from ONE conditional
    * aggregation pass with every sum exact in DECIMAL(38,0) (the
    * integer-cents discipline — cast money to cents first); the
    * variance, t and df finish in pinned-order doubles rounded once.
    */
  def welchTTest(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val v = col(valueCol).cast("long").cast(d38)
    welchFinish(df.agg(
      sum(when(sampleACol, 1L).otherwise(0L)).as("na"),
      sum(when(sampleACol, 0L).otherwise(1L)).as("nb"),
      sum(when(sampleACol, v).otherwise(lit(0).cast(d38))).as("sa"),
      sum(when(!sampleACol, v).otherwise(lit(0).cast(d38))).as("sb"),
      sum(when(sampleACol, v * v).otherwise(lit(0).cast(d38))).as("saa"),
      sum(when(!sampleACol, v * v).otherwise(lit(0).cast(d38))).as("sbb")))
  }

  /** [[welchTTest]] computed from a MOMENT CENSUS — rows of
    * (isa, n, Σx, Σx²) partials (e.g. the streaming store's per-batch
    * commits). Integer/decimal sums are associative, so however the
    * partials were batched the merged moments — and therefore every
    * output bit — equal the one-pass [[welchTTest]] over the raw rows;
    * that is the property that lets the streaming surface share the
    * batch oracle verbatim.
    */
  def welchFromMoments(census: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def side(flag: Boolean, c: Column): Column =
      sum(when(col("isa") === flag, c).otherwise(lit(0).cast(d38)))
    welchFinish(census.agg(
      sum(when(col("isa"), col("n")).otherwise(0L)).as("na"),
      sum(when(!col("isa"), col("n")).otherwise(0L)).as("nb"),
      side(true, col("s").cast(d38)).as("sa"),
      side(false, col("s").cast(d38)).as("sb"),
      side(true, col("ss").cast(d38)).as("saa"),
      side(false, col("ss").cast(d38)).as("sbb")))
  }

  private def welchFinish(agg: DataFrame): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val (na, nb) = (dbl(col("na")), dbl(col("nb")))
    // s² = (n·Σx² − (Σx)²) / (n·(n−1)), exact numerator
    val va = (na * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))) /
      (na * (na - 1.0))
    val vb = (nb * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))) /
      (nb * (nb - 1.0))
    val sea = va / na
    val seb = vb / nb
    val t = (dbl(col("sa")) / na - dbl(col("sb")) / nb) / sqrt(sea + seb)
    val dfW = (sea + seb) * (sea + seb) /
      (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0))
    agg.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(dbl(col("sa")) / na, 6).as("mean_a"),
      round(dbl(col("sb")) / nb, 6).as("mean_b"),
      round(t, 6).as("t_stat"), round(dfW, 6).as("df_welch"))
  }

  /** BARTLETT'S TEST of variance homogeneity across k groups — the
    * parametric (and more powerful, under normality) sibling of q428's
    * robust Brown–Forsythe: T = [(N−k)·ln S²_p − Σ(n_i−1)·ln S²_i] / C
    * with the standard correction C = 1 + (Σ1/(n_i−1) − 1/(N−k)) /
    * (3(k−1)). The gate that decides whether pooled-variance machinery
    * (classic ANOVA, pooled t) is even admissible.
    *
    * One conditional pass collects per-group (n, Σx, Σx²) with exact
    * DECIMAL(38,0) sums; each group's S²_i is the q362 pinned
    * expression; the cross-group reductions — Σ(n_i−1)S²_i (for S²_p),
    * Σ(n_i−1)ln S²_i, Σ1/(n_i−1) — each land once on the 1e-9 grid and
    * DECIMAL-sum (order-independent; the S²_p accumulator is
    * DECIMAL(38,9) because cents²·rows-scale terms overflow 28 digits).
    * Only ln S²_p (O(30)) and the T statistic leave the operator —
    * never a raw cents²-scale number (the q458 ulp rule). Groups with
    * n < 2 are excluded (stated contract — they carry no variance).
    */
  def bartlett(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val d389 = DecimalType(38, 9)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val per = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"), sum(v).as("s1"), sum(v * v).as("s2"))
      .filter(col("n") >= 2L)
    val ni = dbl(col("n"))
    val s2i = (ni * dbl(col("s2")) - dbl(col("s1")) * dbl(col("s1"))) /
      (ni * (ni - 1.0))
    val agg = per.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("n_total"),
      sum(round((ni - 1.0) * s2i, 9).cast(d389)).as("spNum"),
      sum(round((ni - 1.0) * log(s2i), 9).cast(d289)).as("sumLn"),
      sum(round(lit(1.0) / (ni - 1.0), 9).cast(d289)).as("sumInv"))
    val kD = dbl(col("k"))
    val nmk = dbl(col("n_total")) - kD
    val lnSp = log(dbl(col("spNum")) / nmk)
    val corr = lit(1.0) + (dbl(col("sumInv")) - lit(1.0) / nmk) /
      (lit(3.0) * (kD - 1.0))
    val t = (nmk * lnSp - dbl(col("sumLn"))) / corr
    agg.select(col("k"), col("n_total"),
      round(lnSp, 6).as("ln_sp2"),
      round(when(col("k") >= 2L, t), 6).as("t_bartlett"),
      (col("k") - 1L).as("dof"))
  }

  /** SAMPLE-RATIO-MISMATCH check — the first gate every experimentation
    * platform runs before reading an A/B result: do the ARM COUNTS match
    * the declared split? A mismatch means broken assignment or
    * differential logging loss, and every downstream metric is suspect.
    * Units assign by the engine's portable hash (salted, weighted
    * buckets), counts are DISTINCT units, expected counts are exact
    * rationals N·w/W, and the χ² goodness-of-fit terms
    * (O·W − N·w)²/(N·w·W) land once on the 1e-9 grid — only the
    * verdict compare is a double. Output: one row per arm with the
    * shared χ² and verdict broadcast on (the mi_total shape).
    */
  def srmCheck(
      df: DataFrame,
      unitCol: String,
      arms: Seq[(String, Int)],
      salt: String,
      critChi2: Double): DataFrame = {
    require(arms.nonEmpty && arms.forall(_._2 >= 1) &&
      arms.map(_._1).distinct.size == arms.size)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = arms.map(_._2.toLong).sum
    val bounds = arms.scanLeft(0L)(_ + _._2).tail
    val h = conv(substring(md5(concat(lit(salt + ":"),
      col(unitCol).cast("string")).cast("binary")), 1, 13), 16, 10)
      .cast("long")
    val bucket = pmod(h, lit(w))
    val arm = arms.zip(bounds).foldRight(lit(arms.last._1)) {
      case (((name, _), hi), rest) => when(bucket < hi, lit(name))
        .otherwise(rest)
    }
    val weights = df.sparkSession.createDataFrame(arms).toDF("arm", "wgt")
    val counts = df.select(col(unitCol)).distinct()
      .select(arm.as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n_observed"))
      .join(broadcast(weights), Seq("arm"), "right")
      .select(col("arm"), coalesce(col("n_observed"), lit(0L))
        .as("n_observed"), col("wgt").cast("long").as("wgt"))
    val tot = Window.partitionBy()
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val n = sum(col("n_observed")).over(tot)
    val diff = col("n_observed").cast(d38) * lit(w) -
      n.cast(d38) * col("wgt").cast(d38)
    // (O−E)²/E with E = N·w/W rewrites to diff²/(N·w·W), diff integer
    val term = round(dbl(diff) * dbl(diff) /
      (dbl(n) * dbl(col("wgt")) * lit(w.toDouble)), 9)
      .cast(DecimalType(18, 9))
    val chi2 = dbl(sum(term).over(tot))
    counts.select(col("arm"), col("n_observed"),
      round(dbl(n) * dbl(col("wgt")) / lit(w.toDouble), 6).as("expected"),
      round(chi2, 6).as("chi2"),
      (chi2 > lit(critChi2)).as("srm"))
  }

  /** EXACT two-sample KOLMOGOROV–SMIRNOV — the unbinned upgrade of the
    * q295 binned KS: D = max over the VALUE DOMAIN of |F_a − F_b|,
    * computed entirely in integers by cross-multiplying the cumulative
    * counts (|ca·nb − cb·na| vs na·nb), so the supremum and its location
    * are exact — no bin-placement error, no doubles until the single
    * final division. Same 100 TB shape as [[mannWhitney]]: one
    * map-side-combined census to the value domain, one cumulative window
    * over that domain-sized frame, one aggregate. Ties at the supremum
    * resolve to the SMALLEST attaining value (struct-max with negated
    * v), pinning the answer across engines.
    */
  def ksExact(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val byValue = df
      .groupBy(col(valueCol).cast("double").as("v"))
      .agg(sum(when(sampleACol, 1L).otherwise(0L)).as("ta"),
        sum(when(sampleACol, 0L).otherwise(1L)).as("tb"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    val ranked = byValue
      .withColumn("ca", sum(col("ta")).over(cum))
      .withColumn("cb", sum(col("tb")).over(cum))
      .withColumn("na", sum(col("ta")).over(tot))
      .withColumn("nb", sum(col("tb")).over(tot))
      .withColumn("num", abs(col("ca").cast(d38) * col("nb").cast(d38) -
        col("cb").cast(d38) * col("na").cast(d38)))
    ranked
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(struct(col("num").as("n"), (-col("v")).as("mv"))).as("__arg"))
      .select(col("n_a"), col("n_b"),
        round(dbl(col("__arg").getField("n")) /
          (dbl(col("n_a")) * dbl(col("n_b"))), 6).as("d_stat"),
        (-col("__arg").getField("mv")).as("at_v"))
  }

  /** THEIL T INEQUALITY INDEX with its between/within DECOMPOSITION —
    * the property the Gini (q338) famously lacks: T = T_between +
    * Σ share_g·T_g splits total inequality ADDITIVELY into "groups
    * differ from each other" vs "inequality inside groups", the
    * first question any concentration analysis asks next. Per value-
    * domain row the contribution is t·(v·N/X)·ln(v·N/X) — v·N and the
    * totals stay below 2^53 so every double is exact-input, terms land
    * once on the 1e-9 grid and sum in decimals; all OUTPUT statistics
    * are O(1) (the q83/q408 magnitude discipline). Values must be
    * positive (ln); zero/negative rows are refused loudly.
    */
  def theilIndex(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val d189 = DecimalType(18, 9)
    def dbl(c: Column): Column = c.cast("double")
    // positivity guard rides the main pass (raise_error filter) — the
    // previous eager `require(filter.isEmpty)` paid a full extra scan of
    // the caller's input pipeline before the census
    val base = df.select(col(groupCol).cast("string").as("g"),
      col(valueCol).cast("long").as("v"))
      .filter(when(col("v") > 0L, lit(true)).otherwise(raise_error(
        lit("theilIndex: values must be strictly positive"))))
    val byVG = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("t"))
    val wg = Window.partitionBy(col("g"))
    val tot = Window.partitionBy()
    val withTotals = byVG
      .withColumn("ng", sum(col("t")).over(wg))
      .withColumn("xg", sum(col("v").cast(d38) * col("t").cast(d38))
        .over(wg))
      .withColumn("n", sum(col("t")).over(tot))
      .withColumn("x", sum(col("v").cast(d38) * col("t").cast(d38))
        .over(tot))
    // within-group ratio w = v·n_g/X_g; global ratio u = v·N/X — the
    // products are exact doubles (v·n below 2^53 by contract); the tie
    // count multiplies at SCALE 0 so the term sums stay scale-9 and
    // convert to double exactly (the q407/q408 wide-decimal lesson)
    def term(num: Column, den: Column): Column = {
      val w = dbl(col("v")) * dbl(num) / dbl(den)
      round(w * log(w), 9).cast(d189) * col("t").cast(DecimalType(20, 0))
    }
    val perGroup = withTotals
      .groupBy(col("g"), col("ng"), col("xg"), col("n"), col("x"))
      .agg(sum(term(col("ng"), col("xg"))).as("tg_sum"),
        sum(term(col("n"), col("x"))).as("tu_sum"))
    val share = dbl(col("xg")) / dbl(col("x"))
    val tWithin = dbl(col("tg_sum")) / dbl(col("ng"))
    val between = share *
      log(dbl(col("xg")) * dbl(col("n")) / (dbl(col("x")) * dbl(col("ng"))))
    val agg2 = perGroup
      .withColumn("theil_total",
        round(dbl(sum(col("tu_sum")).over(tot)) / dbl(col("n")), 6))
      .withColumn("within_term",
        round(share * tWithin, 9).cast(d189))
      .withColumn("between_term", round(between, 9).cast(d189))
    agg2.select(col("g"), col("ng").as("n_g"),
      round(share, 6).as("income_share"),
      round(tWithin, 6).as("theil_g"),
      round(dbl(sum(col("within_term")).over(tot)), 6).as("theil_within"),
      round(dbl(sum(col("between_term")).over(tot)), 6).as("theil_between"),
      col("theil_total"))
  }

  /** SPRT — Wald's sequential probability ratio test per key: walk the
    * key's trial stream accumulating the log-likelihood ratio for
    * H1: p = p1 against H0: p = p0, and STOP at the first crossing of
    * ±ln((1−β)/α) — the early-stopping monitor that reads an experiment
    * continuously without the peeking problem (the boundaries hold the
    * error rates by construction). The LLR is n1·ln(p1/p0) +
    * n0·ln((1−p1)/(1−p0)) — cumulative integer counts times constants,
    * so the walk is two key-partitioned windows; the first crossing
    * resolves with one struct-min. Keys that never cross report
    * 'continue' with their final state.
    */
  def sprt(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String],
      convCol: Column,
      p0: Double,
      p1: Double,
      alphaInv: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0 && alphaInv > 1)
    def dbl(c: Column): Column = c.cast("double")
    val a = log(lit(p1) / lit(p0))
    val b = log((lit(1.0) - lit(p1)) / (lit(1.0) - lit(p0)))
    val bound = log(lit(alphaInv))
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walked = df
      .select(col(keyCol) +: orderCols.map(col) :+
        when(convCol, 1L).otherwise(0L).as("__c"): _*)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*))
        .cast("long"))
      .withColumn("__n1", sum(col("__c")).over(w))
      .withColumn("__llr", dbl(col("__n1")) * a +
        dbl(col("__rn") - col("__n1")) * b)
      .withColumn("__dec", when(col("__llr") >= bound, "h1")
        .when(col("__llr") <= -bound, "h0"))
    walked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_total"),
        round(max(struct(col("__rn"), col("__llr"))).getField("__llr"), 6)
          .as("llr_final"),
        min(when(col("__dec").isNotNull,
          struct(col("__rn").as("rn"), col("__dec").as("d"),
            col("__llr").as("l")))).as("__first"))
      .select(col(keyCol), col("n_total"),
        coalesce(col("__first").getField("d"), lit("continue"))
          .as("decision"),
        col("__first").getField("rn").as("n_at_decision"),
        round(col("__first").getField("l"), 6).as("llr_at_decision"),
        col("llr_final"))
  }

  /** ONE-WAY ANOVA F — the k-group PARAMETRIC mean test completing the
    * family ([[welchTTest]] two-group parametric, [[kruskalWallis]]
    * k-group rank): F = (SSB/(k−1)) / (SSW/(N−k)) with the sums of
    * squares from ONE conditional-moment pass — SSB = Σ S_g²/n_g − S²/N
    * (per-group terms once on the 1e-6 grid, the Kruskal discipline),
    * SST = Σx² − S²/N, SSW = SST − SSB. Integer cents in, exact
    * DECIMAL(38,0) sums, a pinned-double finish broadcast onto the k
    * group rows.
    */
  def anovaF(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val perGroup = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n_g"), sum(v).as("s_g"), sum(v * v).as("ss_g"))
      .withColumn("term", round(dbl(col("s_g")) * dbl(col("s_g")) /
        dbl(col("n_g")), 6).cast(DecimalType(38, 6)))
    val tot = Window.partitionBy()
    val n = dbl(sum(col("n_g")).over(tot))
    val k = dbl(count(lit(1)).over(tot))
    val s = dbl(sum(col("s_g")).over(tot))
    val ss = dbl(sum(col("ss_g")).over(tot))
    val ssb = dbl(sum(col("term")).over(tot)) - s * s / n
    val ssw = (ss - s * s / n) - ssb
    val f = (ssb / (k - lit(1.0))) / (ssw / (n - k))
    // only O(1)-magnitude statistics leave this operator: the raw sums
    // of squares sit at cents² scale where wide-decimal→double casts
    // carry a 1-ulp cross-engine difference (the q83 lesson) — F is a
    // RATIO of them, so the ulp cancels to ~1e-16 relative and the 1e-6
    // round absorbs it; raw SSB/SSW at 1e15 would expose it
    perGroup.select(col("g"), col("n_g"),
      round(dbl(col("s_g")) / dbl(col("n_g")), 6).as("mean_g"),
      round(f, 6).as("f_stat"))
  }

  /** McNEMAR'S TEST for paired binary outcomes — the within-subject
    * change test ([[srmCheck]] guards assignment, [[welchTTest]] compares
    * groups; this asks "did the SAME units flip"): only the discordant
    * cells matter, χ² = (b−c)²/(b+c), reported with the
    * continuity-corrected (|b−c|−1)²/(b+c) variant. Input: one row per
    * unit with two BOOLEAN outcome columns; one map-side-combined census
    * of the 2×2 table, pure integers to the final divisions.
    */
  def mcnemar(
      df: DataFrame,
      preCol: Column,
      postCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val agg = df.agg(
      sum(when(preCol && postCol, 1L).otherwise(0L)).as("n11"),
      sum(when(preCol && !postCol, 1L).otherwise(0L)).as("b"),
      sum(when(!preCol && postCol, 1L).otherwise(0L)).as("c"),
      sum(when(!preCol && !postCol, 1L).otherwise(0L)).as("n00"))
    val diff = col("b").cast(d38) - col("c").cast(d38)
    val chi = dbl(diff) * dbl(diff) / dbl(col("b") + col("c"))
    val chiCc = (abs(dbl(diff)) - lit(1.0)) * (abs(dbl(diff)) - lit(1.0)) /
      dbl(col("b") + col("c"))
    agg.select(col("n11"), col("b"), col("c"), col("n00"),
      round(chi, 6).as("chi2"), round(chiCc, 6).as("chi2_corrected"))
  }

  /** YUEN'S TRIMMED t-TEST (Yuen 1974) — the robust two-sample mean
    * test that survives heavy tails where [[welchTTest]]'s raw means get
    * dragged: compare TRIMMED means, estimate their variance from the
    * WINSORIZED sums of squares, Welch–Satterthwaite df on the effective
    * (post-trim) sizes. Everything on the VALUE DOMAIN: trimmed means by
    * exact rank-interval overlap (the q391 arithmetic), winsorized
    * values by clamping each tie group at the exact rank-(l+1)/(n−l)
    * order statistics — so boundary ties apportion exactly on both
    * paths; winsorized Σw/Σw² are exact decimals, the t/df finish is
    * pinned doubles. Values are integer cents by contract.
    */
  def yuenTTest(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column,
      trimBp: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(trimBp > 0 && trimBp < 5000)
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val byVG = df
      .groupBy(when(sampleACol, "a").otherwise("b").as("g"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("t"))
    val wg = Window.partitionBy(col("g"))
    val cum = wg.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVG
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("n", sum(col("t")).over(wg))
      .withColumn("l", expr(s"(n * $trimBp) div 10000"))
    // order statistics at ranks l+1 and n−l = the winsorizing clamps
    val bounds = ranked.groupBy(col("g"))
      .agg(min(when(col("c") >= col("l") + 1L, col("v"))).as("vlo"),
        min(when(col("c") >= col("n") - col("l"), col("v"))).as("vhi"))
    val stats = ranked.join(bounds, Seq("g"))
      .withColumn("keep",
        greatest(lit(0L), least(col("c"), col("n") - col("l")) -
          greatest(col("c") - col("t"), col("l"))))
      .withColumn("w", least(greatest(col("v"), col("vlo")), col("vhi")))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("l")).as("l"),
        sum(col("v").cast(d38) * col("keep").cast(d38)).as("ts"),
        sum(col("w").cast(d38) * col("t").cast(d38)).as("sw"),
        sum(col("w").cast(d38) * col("w").cast(d38) * col("t").cast(d38))
          .as("sww"))
    val a = stats.filter(col("g") === "a")
      .select(col("n").as("na"), col("l").as("la"), col("ts").as("tsa"),
        col("sw").as("swa"), col("sww").as("swwa"))
    val b = stats.filter(col("g") === "b")
      .select(col("n").as("nb"), col("l").as("lb"), col("ts").as("tsb"),
        col("sw").as("swb"), col("sww").as("swwb"))
    val j = a.crossJoin(b)
    def tm(ts: String, n: String, l: String) =
      dbl(col(ts)) / (dbl(col(n)) - lit(2.0) * dbl(col(l)))
    // winsorized SS about the winsorized mean: Σw² − (Σw)²/n
    def dTerm(sww: String, sw: String, n: String, l: String) = {
      val h = dbl(col(n)) - lit(2.0) * dbl(col(l))
      (dbl(col(sww)) - dbl(col(sw)) * dbl(col(sw)) / dbl(col(n))) /
        (h * (h - lit(1.0)))
    }
    val da = dTerm("swwa", "swa", "na", "la")
    val db = dTerm("swwb", "swb", "nb", "lb")
    val ha = dbl(col("na")) - lit(2.0) * dbl(col("la"))
    val hb = dbl(col("nb")) - lit(2.0) * dbl(col("lb"))
    val t = (tm("tsa", "na", "la") - tm("tsb", "nb", "lb")) / sqrt(da + db)
    val dfY = (da + db) * (da + db) /
      (da * da / (ha - lit(1.0)) + db * db / (hb - lit(1.0)))
    j.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(tm("tsa", "na", "la"), 6).as("tm_a"),
      round(tm("tsb", "nb", "lb"), 6).as("tm_b"),
      round(t, 6).as("t_yuen"), round(dfY, 6).as("df_yuen"))
  }

  /** EXACT ENERGY DISTANCE (Székely–Rizzo) between two samples —
    * the INTEGRAL-type two-sample statistic beside [[ksExact]]'s
    * supremum: E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|, zero iff the
    * distributions match, sensitive to everywhere-small differences a
    * single-point supremum underweights. All three pairwise
    * mean-absolute-differences compute EXACTLY without materializing a
    * single pair: on the sorted value domain, Σ|v−y| decomposes into
    * cumulative count/sum prefixes (v·c_below − s_below + s_above −
    * v·c_above), so the whole statistic is integer/decimal arithmetic
    * over one census + one cumulative window, with three final double
    * divisions. Values are integer cents by contract.
    */
  def energyDistance(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val byValue = df
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(sum(when(sampleACol, 1L).otherwise(0L)).as("ta"),
        sum(when(sampleACol, 0L).otherwise(1L)).as("tb"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    def vd = col("v").cast(d38)
    val r = byValue
      .withColumn("ca", sum(col("ta")).over(cum))
      .withColumn("cb", sum(col("tb")).over(cum))
      .withColumn("sa", sum(vd * col("ta").cast(d38)).over(cum))
      .withColumn("sb", sum(vd * col("tb").cast(d38)).over(cum))
      .withColumn("na", sum(col("ta")).over(tot))
      .withColumn("nb", sum(col("tb")).over(tot))
      .withColumn("sat", sum(vd * col("ta").cast(d38)).over(tot))
      .withColumn("sbt", sum(vd * col("tb").cast(d38)).over(tot))
    // Σ over pairs (x from this tie group, y from sample S) of |x−y|:
    // x·below(S) − sum_below(S) + sum_above(S) − x·above(S), exact
    def cross(tx: Column, cS: Column, sS: Column, nS: Column, sT: Column) =
      tx.cast(d38) * (vd * cS.cast(d38) - sS +
        (sT - sS) - vd * (nS.cast(d38) - cS.cast(d38)))
    val agg = r.agg(
      max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
      // A: x in a vs y in b (cumulative INCLUSIVE of the tie group is
      // fine for |x−y|: same-value pairs contribute 0 either way)
      sum(cross(col("ta"), col("cb"), col("sb"), col("nb"), col("sbt")))
        .as("axy"),
      sum(cross(col("ta"), col("ca"), col("sa"), col("na"), col("sat")))
        .as("axx"),
      sum(cross(col("tb"), col("cb"), col("sb"), col("nb"), col("sbt")))
        .as("byy"))
    agg.select(col("n_a"), col("n_b"),
      round(lit(2.0) * dbl(col("axy")) / (dbl(col("n_a")) * dbl(col("n_b"))) -
        dbl(col("axx")) / (dbl(col("n_a")) * dbl(col("n_a"))) -
        dbl(col("byy")) / (dbl(col("n_b")) * dbl(col("n_b"))), 6)
        .as("energy"))
  }

  /** KRUSKAL–WALLIS H — [[mannWhitney]]'s k-group generalization: "does
    * ANY of these groups sit systematically higher," the non-parametric
    * one-way ANOVA. Same 100 TB rank formulation: values collapse to the
    * (value × group) DOMAIN in one map-side-combined pass, average ranks
    * come from a cumulative window over the value domain (doubled so
    * 2·avg stays integral), per-group rank sums re-join by value.
    * Exactness: rank sums and the tie term Σ(t³−t) accumulate in
    * DECIMAL(38,0); each group's R²/n term lands once on the 1e-6
    * decimal grid and the k-row finish (H, tie-corrected H) is pinned
    * doubles — H = 3/(n(n+1))·Σ (2R_g)²/n_g − 3(n+1) over the doubled
    * sums. Output: one row per group (n, rank_sum) with the shared H
    * broadcast onto each row (the mutual-info mi_total shape).
    */
  def kruskalWallis(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val byVG = df
      .groupBy(col(valueCol).cast("double").as("v"),
        col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("tvg"))
    val byV = byVG.groupBy(col("v")).agg(sum(col("tvg")).as("t"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // doubled average rank of the tie group ending at cumulative count c
    val ranked = byV
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("r2", lit(2L) * col("c") - col("t") + 1L)
    val perGroup = byVG.join(ranked, "v")
      .groupBy(col("g"))
      .agg(sum(col("tvg")).as("n_g"),
        sum(col("tvg").cast(d38) * col("r2").cast(d38)).as("r2sum"))
      // (2R_g)²/n_g on the 1e-6 grid: one rounding per group, summed exact
      .withColumn("term",
        round(dbl(col("r2sum")) * dbl(col("r2sum")) / dbl(col("n_g")), 6)
          .cast(DecimalType(38, 6)))
    val ties = ranked.agg(
      sum(col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38) -
        col("t").cast(d38)).as("ties"))
    val tot = Window.partitionBy()
    val n = sum(col("n_g")).over(tot)
    val h = lit(3.0) / (dbl(n) * (dbl(n) + 1.0)) *
      dbl(sum(col("term")).over(tot)) - lit(3.0) * (dbl(n) + 1.0)
    val corr = lit(1.0) - dbl(col("ties")) / (dbl(n) * dbl(n) * dbl(n) - dbl(n))
    perGroup.crossJoin(broadcast(ties))
      .select(col("g"), col("n_g"),
        (dbl(col("r2sum")) / 2.0).as("rank_sum"),
        round(h, 6).as("h_stat"),
        round(h / corr, 6).as("h_tie_corrected"))
  }

  /** HOLM–BONFERRONI step-DOWN control — the FWER sibling of [[bhFdr]]'s
    * FDR step-up: reject the smallest p-values while p_r ≤ α/(m−r+1) and
    * STOP at the first failure (monotone by construction — a later rank
    * can never resurrect). Strictly stronger guarantee than BH (no false
    * rejection at all, with probability 1−α) at the price of power — the
    * right gate when ONE false "this nation shifted" page costs more
    * than a few missed ones. Same per-nation Welch-z family machinery as
    * [[bhFdr]]: exact DECIMAL moments, pinned z and A&S tail p, then the
    * step-down scan as family-sized windows (rank, first-failure min).
    */
  def holmBonferroni(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val g = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("na"), sum(v).as("sa"), sum(v * v).as("saa"))
    val t = df.agg(count(lit(1)).as("nt"), sum(v).as("st"),
      sum(v * v).as("stt"))
    val j = g.crossJoin(broadcast(t))
      .withColumn("nb", col("nt") - col("na"))
      .withColumn("sb", col("st") - col("sa"))
      .withColumn("sbb", col("stt") - col("saa"))
    val na = dbl(col("na")); val nb = dbl(col("nb"))
    val va = (na * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))) /
      (na * (na - 1.0)) / na
    val vb = (nb * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))) /
      (nb * (nb - 1.0)) / nb
    val z = (dbl(col("sa")) / na - dbl(col("sb")) / nb) / sqrt(va + vb)
    // a single-row group (or complement) has no variance: its z/p surface
    // as NULL and it stays OUT of the family (m counts tested groups
    // only) instead of flowing NaN through every rank — the cohensD n>1
    // discipline applied to the whole rank scan
    val ok = col("na") > 1L && col("nb") > 1L
    val staged = j
      .withColumn("zr", when(ok, round(z, 6)))
      .withColumn("p", when(ok, round(normalTailP2(z), 9)))
      .localCheckpoint(true) // group-domain frame, two readers below
    val fam = Window.partitionBy()
    val ranked = staged.filter(col("p").isNotNull)
      .withColumn("r", row_number().over(
        fam.orderBy(col("p"), col("g"))).cast("long"))
      .withColumn("m", count(lit(1)).over(fam))
    // step-down: first rank whose scaled p fails kills everything after
    val tested = ranked
      .withColumn("kfail", min(when(
        col("p") * (dbl(col("m")) - dbl(col("r")) + lit(1.0)) > lit(alpha),
        col("r"))).over(fam))
      .select(col("g"), col("na").as("n"), col("zr").as("z"), col("p"),
        col("r").as("p_rank"),
        round(lit(alpha) / (dbl(col("m")) - dbl(col("r")) + lit(1.0)), 9)
          .as("holm_crit"),
        (col("kfail").isNull || col("r") < col("kfail")).as("rejected"))
    tested.unionByName(staged.filter(col("p").isNull)
      .select(col("g"), col("na").as("n"), col("zr").as("z"), col("p"),
        lit(null).cast("long").as("p_rank"),
        lit(null).cast("double").as("holm_crit"),
        lit(null).cast("boolean").as("rejected")))
  }

  /** FUNNEL with WILSON intervals — per funnel transition, the
    * conversion rate WITH the score-interval error bars a bare q50 rate
    * lacks: Wilson's interval stays inside [0,1] and behaves at small n
    * and extreme p where the naive Wald interval collapses — the
    * difference between "step 3 converts at 2%" and "step 3 converts at
    * 2% ± we actually know". One conditional pass counts users true on
    * every prefix of the step chain (monotone funnel semantics);
    * trials/successes are adjacent prefix counts; z is a pinned literal
    * and every interval term is computed at runtime in the identical
    * operation order on both engines. Zero-trial steps emit NULLs.
    */
  def funnelWilson(
      flags: DataFrame,
      steps: Seq[String],
      z: Double = 1.96): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    def dbl(c: Column): Column = c.cast("double")
    val aggs = (1 to steps.size).map { i =>
      sum(when(steps.take(i).map(col).reduce(_ && _), 1L).otherwise(0L))
        .as(s"c$i")
    }
    val agg = flags.agg(aggs.head, aggs.tail: _*)
    val rows = (1 until steps.size).map { i =>
      agg.select(lit(s"${steps(i - 1)}->${steps(i)}").as("step"),
        col(s"c$i").as("trials"), col(s"c${i + 1}").as("successes"))
    }.reduce(_ unionByName _)
    val n = dbl(col("trials"))
    val p = dbl(col("successes")) / n
    val zc = lit(z)
    val z2 = zc * zc
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val half = zc * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n)) / denom
    rows.select(col("step"), col("trials"), col("successes"),
      when(col("trials") > 0L, round(p, 6)).as("rate"),
      when(col("trials") > 0L, round(center - half, 6)).as("lo"),
      when(col("trials") > 0L, round(center + half, 6)).as("hi"))
  }

  /** BH q-VALUES — the REPORTING artifact of multiple-testing control:
    * per test, the smallest FDR level at which it would be rejected
    * (q = min over ranks ≥ r of p·m/r′, the monotone step-up
    * adjustment), so downstream consumers pick their own α instead of
    * inheriting the gate's — the adjusted-p companion to q420's binary
    * verdicts and q512's FWER gate. Same per-nation Welch-z/A&S-p family
    * machinery; the suffix min runs over the family-sized frame with
    * raw q-terms on the 1e-9 grid.
    */
  def bhQValues(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val g = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("na"), sum(v).as("sa"), sum(v * v).as("saa"))
    val t = df.agg(count(lit(1)).as("nt"), sum(v).as("st"),
      sum(v * v).as("stt"))
    val j = g.crossJoin(broadcast(t))
      .withColumn("nb", col("nt") - col("na"))
      .withColumn("sb", col("st") - col("sa"))
      .withColumn("sbb", col("stt") - col("saa"))
    val na = dbl(col("na")); val nb = dbl(col("nb"))
    val va = (na * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))) /
      (na * (na - 1.0)) / na
    val vb = (nb * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))) /
      (nb * (nb - 1.0)) / nb
    val z = (dbl(col("sa")) / na - dbl(col("sb")) / nb) / sqrt(va + vb)
    // single-row groups have no variance: NULL z/p, excluded from the
    // family (m counts tested groups only) — see holmBonferroni
    val ok = col("na") > 1L && col("nb") > 1L
    val fam = Window.partitionBy()
    val staged = j
      .withColumn("zr", when(ok, round(z, 6)))
      .withColumn("p", when(ok, round(normalTailP2(z), 9)))
      .localCheckpoint(true) // group-domain frame, two readers below
    val ranked = staged.filter(col("p").isNotNull)
      .withColumn("r", row_number().over(
        fam.orderBy(col("p"), col("g"))).cast("long"))
      .withColumn("m", count(lit(1)).over(fam))
      .withColumn("qraw",
        round(col("p") * dbl(col("m")) / dbl(col("r")), 9))
    val suffix = fam.orderBy(col("r"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked
      .withColumn("q_value", min(col("qraw")).over(suffix))
      .select(col("g"), col("na").as("n"), col("zr").as("z"), col("p"),
        col("r").as("p_rank"), col("q_value"))
      .unionByName(staged.filter(col("p").isNull)
        .select(col("g"), col("na").as("n"), col("zr").as("z"), col("p"),
          lit(null).cast("long").as("p_rank"),
          lit(null).cast("double").as("q_value")))
  }

  /** COHEN'S d / HEDGES' g — the standardized mean difference the
    * q362 Welch test should ship with: d = (m̄_a − m̄_b)/s_pooled with
    * the pooled SD, and the small-sample-corrected g = d·(1 −
    * 3/(4(n_a+n_b) − 9)) — because "z = 40" says nothing about whether
    * the shift is a hair or a chasm; d is in SD units and comparable
    * across metrics. One conditional DECIMAL(38,0) moment pass; every
    * ratio pinned.
    */
  def cohensD(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val agg = df.agg(
      sum(when(sampleACol, 1L).otherwise(0L)).as("n_a"),
      sum(when(!sampleACol, 1L).otherwise(0L)).as("n_b"),
      sum(when(sampleACol, v).otherwise(lit(0).cast(d38))).as("sa"),
      sum(when(!sampleACol, v).otherwise(lit(0).cast(d38))).as("sb"),
      sum(when(sampleACol, v * v).otherwise(lit(0).cast(d38))).as("saa"),
      sum(when(!sampleACol, v * v).otherwise(lit(0).cast(d38))).as("sbb"))
    val na = dbl(col("n_a")); val nb = dbl(col("n_b"))
    val ssa = dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa")) / na
    val ssb = dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb")) / nb
    val sp = sqrt((ssa + ssb) / (na + nb - 2.0))
    val d = (dbl(col("sa")) / na - dbl(col("sb")) / nb) / sp
    val gcorr = lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - lit(9.0))
    val ok = col("n_a") > 1L && col("n_b") > 1L
    agg.select(col("n_a"), col("n_b"),
      when(ok, round(d, 6)).as("cohens_d"),
      when(ok, round(d * gcorr, 6)).as("hedges_g"))
  }

  /** FLEISS' KAPPA — chance-corrected agreement for ANY number of raters
    * (the multi-rater generalization of q447's two-rater Cohen κ): each
    * item carries exactly `n` categorical ratings (the caller's contract,
    * ENFORCED — a ragged panel silently biases P̄), per-item agreement
    * P_i = (Σ_j n_ij² − n)/(n(n−1)), chance agreement P̄_e = Σ_j p_j²
    * from the pooled category shares, κ = (P̄ − P̄_e)/(1 − P̄_e). One
    * (item, category) census; every sum is integer until the k pinned
    * 1e-9-grid share terms and the final ratios.
    */
  def fleissKappa(
      df: DataFrame,
      itemCol: String,
      categoryCol: String,
      n: Int): DataFrame = {
    require(n >= 2, "agreement needs at least two ratings per item")
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val cells = df.groupBy(col(itemCol).as("i"), col(categoryCol).as("j"))
      .agg(count(lit(1)).as("nij"))
      .localCheckpoint(true) // item-category census, three readers
    val per = cells.groupBy(col("i"))
      .agg(sum(col("nij")).as("ni"), sum(col("nij") * col("nij")).as("sq"))
    require(per.filter(col("ni") =!= n.toLong).isEmpty,
      s"fleissKappa contract: every item must carry exactly $n ratings")
    val st = per.agg(count(lit(1)).as("n_items"), sum(col("sq")).as("sumsq"))
      .localCheckpoint(true) // 1-row totals, two readers
    val pe = cells.groupBy(col("j")).agg(sum(col("nij")).as("cj"))
      .crossJoin(broadcast(st))
      .select(round((dbl(col("cj")) / (dbl(col("n_items")) * lit(n.toDouble))) *
        (dbl(col("cj")) / (dbl(col("n_items")) * lit(n.toDouble))), 9)
        .cast(DecimalType(28, 9)).as("term"))
      .agg(sum(col("term")).as("pe"))
    val pbar = (dbl(col("sumsq")) - dbl(col("n_items")) * lit(n.toDouble)) /
      (dbl(col("n_items")) * lit(n.toDouble) * lit((n - 1).toDouble))
    st.crossJoin(broadcast(pe))
      .select(col("n_items"), lit(n.toLong).as("n_raters"),
        round(pbar, 9).as("p_bar"),
        round(dbl(col("pe")), 9).as("p_e"),
        round((pbar - dbl(col("pe"))) / (lit(1.0) - dbl(col("pe"))), 6)
          .as("kappa"))
  }

  /** SIMPSON-REVERSAL detector — per segment, does the arm effect point
    * the OPPOSITE way from the pooled effect: the aggregation paradox
    * screen run before anyone ships "the feature wins overall" (the
    * pooled diff can be an artifact of segment mix; a reversal means the
    * segmentation, not the feature, is driving the number). One
    * conditional census per (segment, arm); pooled rates broadcast onto
    * the segment-domain frame (the mi_total shape); rates and diffs are
    * pinned doubles on the 1e-6 grid, the verdict compares GRID values
    * so both engines flag identically.
    */
  def simpsonReversal(
      df: DataFrame,
      segCol: String,
      armACol: Column,
      successCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dbl(c: Column): Column = c.cast("double")
    val cells = df.groupBy(col(segCol).as("segment"))
      .agg(sum(when(armACol, 1L).otherwise(0L)).as("n_a"),
        sum(when(!armACol, 1L).otherwise(0L)).as("n_b"),
        sum(when(armACol && successCol, 1L).otherwise(0L)).as("s_a"),
        sum(when(!armACol && successCol, 1L).otherwise(0L)).as("s_b"))
    val tot = Window.partitionBy()
    val pooledDiff = round(
      dbl(sum(col("s_a")).over(tot)) / dbl(sum(col("n_a")).over(tot)) -
        dbl(sum(col("s_b")).over(tot)) / dbl(sum(col("n_b")).over(tot)), 6)
    val segDiff = round(
      dbl(col("s_a")) / dbl(col("n_a")) - dbl(col("s_b")) / dbl(col("n_b")), 6)
    cells
      .withColumn("rate_a", round(dbl(col("s_a")) / dbl(col("n_a")), 6))
      .withColumn("rate_b", round(dbl(col("s_b")) / dbl(col("n_b")), 6))
      .withColumn("diff", segDiff)
      .withColumn("pooled_diff", pooledDiff)
      .withColumn("reversed",
        when(col("n_a") > 0L && col("n_b") > 0L,
          (col("diff") > 0.0 && col("pooled_diff") < 0.0) ||
            (col("diff") < 0.0 && col("pooled_diff") > 0.0)))
      .select(col("segment"), col("n_a"), col("n_b"), col("rate_a"),
        col("rate_b"), col("diff"), col("pooled_diff"), col("reversed"))
  }

  /** DELETE-ONE-GROUP JACKKNIFE for a RATIO — the standard-error of
    * Σx/Σy when rows are dependent within buckets (days, shards,
    * clusters): leave each bucket out, recompute the ratio, and read the
    * spread — the deterministic sibling of q297's Poisson bootstrap and
    * the finite-sample check on q496's delta method. One bucket census,
    * totals broadcast; each leave-one-out ratio is a pinned double on
    * the 1e-9 grid, the variance finish is
    * (B−1)/B · Σ(θ_i − θ̄)² over the bucket-domain frame. Contract:
    * bucket count ≥ 2 and every leave-one-out denominator nonzero.
    */
  def jackknifeRatio(
      df: DataFrame,
      bucketCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val cen = df.groupBy(col(bucketCol).as("b"))
      .agg(sum(col(xCol).cast("long").cast(d38)).as("x"),
        sum(col(yCol).cast("long").cast(d38)).as("y"))
    val tot = Window.partitionBy()
    val staged = cen
      .withColumn("tx", sum(col("x")).over(tot))
      .withColumn("ty", sum(col("y")).over(tot))
      .withColumn("nb", count(lit(1)).over(tot))
      .withColumn("theta_i",
        round(dbl(col("tx") - col("x")) / dbl(col("ty") - col("y")), 9)
          .cast(DecimalType(28, 9)))
      .withColumn("tbar",
        dbl(sum(col("theta_i")).over(tot)) / dbl(col("nb")))
      .withColumn("dev2",
        round((dbl(col("theta_i")) - col("tbar")) *
          (dbl(col("theta_i")) - col("tbar")), 12).cast(DecimalType(28, 12)))
    // contract enforcement (not silent skew): a zero leave-one-out
    // denominator makes theta_i NULL (round/cast of Infinity) — counting
    // that bucket in nb while dropping it from the deviance sum would
    // BIAS jack_se, so any NULL theta_i (or a single-bucket census)
    // surfaces as a NULL jack_se instead
    staged.agg(max(col("nb")).as("n_buckets"),
        max(round(dbl(col("tx")) / dbl(col("ty")), 6)).as("ratio"),
        max(col("nb")).as("__b"), sum(col("dev2")).as("ss"),
        sum(when(col("theta_i").isNull, 1L).otherwise(0L)).as("__bad"))
      .select(col("n_buckets"), col("ratio"),
        when(col("__b") >= 2L && col("__bad") === 0L,
          round(sqrt((dbl(col("__b")) - lit(1.0)) / dbl(col("__b")) *
            dbl(col("ss"))), 6)).as("jack_se"))
  }

  /** QUANTILE TREATMENT EFFECTS — per-arm EXACT percentiles and their
    * gaps at p ∈ {25, 50, 75, 90}: the distributional readout of an
    * experiment (a mean shift from a fat tail and a median shift are
    * different products; q362's Welch can't tell them apart). Ceiling-
    * rank order statistics from the per-arm value-domain census — never
    * a per-row sort; integer quantiles, exact integer QTE.
    */
  def quantileTreatmentEffects(
      df: DataFrame,
      valueCol: String,
      armACol: Column): DataFrame =
    qteFromCensus(df
      .select(col(valueCol).cast("long").as("v"), armACol.as("isa"))
      .groupBy(col("isa"), col("v")).agg(count(lit(1)).as("t")))

  /** [[quantileTreatmentEffects]] computed from an (isa, v, t) CENSUS —
    * rows of partials (e.g. the streaming store's per-batch commits).
    * Counts ADD, so however the partials were batched the merged census
    * — and every output bit — equals the one-pass path; the property
    * that lets the streaming surface share the batch oracle verbatim.
    */
  def qteFromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cen = censusDf.groupBy(col("isa"), col("v"))
      .agg(sum(col("t")).as("t"))
    val byArm = Window.partitionBy(col("isa"))
    val cum = byArm.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cc = cen
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("n", sum(col("t")).over(byArm))
    def stat(pct: Int): Column =
      min(when(col("c") >= expr(s"($pct * n + 99) div 100"), col("v")))
        .as(s"p$pct")
    val perArm = cc.groupBy(col("isa"))
      .agg(max(col("n")).as("n"), stat(25), stat(50), stat(75), stat(90))
      .localCheckpoint(true) // 2-row frame, two readers
    val a = perArm.filter(col("isa"))
    val b = perArm.filter(!col("isa"))
    val ps = Seq(25, 50, 75, 90)
    ps.map { p =>
      a.crossJoin(b.select(col("n").as("n_b2"), col(s"p$p").as("qb")))
        .select(lit(p.toLong).as("pct"), col("n").as("n_a"),
          col("n_b2").as("n_b"), col(s"p$p").as("q_a"), col("qb").as("q_b"),
          (col(s"p$p") - col("qb")).as("qte"))
    }.reduce(_ unionByName _).orderBy(col("pct"))
  }

  /** HETEROGENEOUS-TREATMENT-EFFECT (interaction) z-TEST — does the
    * treatment effect DIFFER between two segments: z = (Δ₁ − Δ₂) /
    * √(V₁ + V₂) where each segment's Δ is its own Welch mean difference
    * — the two-segment interaction readout that catches "the feature
    * helps mobile and hurts desktop" hiding behind a flat q362 global
    * effect. ONE conditional-moment pass computes all four (segment ×
    * arm) cells' n/Σx/Σx² exactly in DECIMAL(38,0); per-segment effects
    * and the interaction finish in pinned doubles. Rows with segment
    * NULL (outside both segments) are excluded by the caller's
    * predicates.
    */
  def hteZTest(
      df: DataFrame,
      valueCol: String,
      armACol: Column,
      seg1Col: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    def cell(p: Column, nm: String): Seq[Column] = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n$nm"),
      sum(when(p, v).otherwise(lit(0).cast(d38))).as(s"s$nm"),
      sum(when(p, v * v).otherwise(lit(0).cast(d38))).as(s"ss$nm"))
    val cells =
      cell(seg1Col && armACol, "1a") ++ cell(seg1Col && !armACol, "1b") ++
      cell(!seg1Col && armACol, "2a") ++ cell(!seg1Col && !armACol, "2b")
    val agg = df.agg(cells.head, cells.tail: _*)
    def mv(nm: String): (Column, Column) = {
      val n = dbl(col(s"n$nm"))
      val m = dbl(col(s"s$nm")) / n
      val va = (n * dbl(col(s"ss$nm")) - dbl(col(s"s$nm")) * dbl(col(s"s$nm"))) /
        (n * (n - 1.0)) / n
      (m, va)
    }
    val (m1a, v1a) = mv("1a"); val (m1b, v1b) = mv("1b")
    val (m2a, v2a) = mv("2a"); val (m2b, v2b) = mv("2b")
    val d1 = m1a - m1b; val d2 = m2a - m2b
    val vv1 = v1a + v1b; val vv2 = v2a + v2b
    val ok = Seq("1a", "1b", "2a", "2b")
      .map(nm => col(s"n$nm") > 1L).reduce(_ && _)
    agg.select(col("n1a"), col("n1b"), col("n2a"), col("n2b"),
      when(ok, round(d1, 6)).as("effect_seg1"),
      when(ok, round(d2, 6)).as("effect_seg2"),
      when(ok && vv1 + vv2 > 0.0,
        round((d1 - d2) / sqrt(vv1 + vv2), 6)).as("z_interaction"))
  }

  /** DUNN POST-HOC TEST with Benjamini–Hochberg control — WHICH groups
    * differ, after [[kruskalWallis]] says "some do": every unordered
    * group pair's mean-rank gap over the POOLED ranking (never re-ranked
    * per pair — that is Dunn's point vs pairwise Mann–Whitney), the
    * tie-corrected σ² = (N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/nᵢ+1/nⱼ),
    * two-sided p from the pinned A&S 26.2.17 tail polynomial
    * ([[normalTailP2]]) and the q420 step-up rule over the
    * k(k−1)/2-sized family. Doubled pooled ranks from the value-domain
    * census (the [[kruskalWallis]] machinery), mean doubled ranks on the
    * 1e-9 grid, every window family-sized.
    */
  def dunnTest(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val byVG = df
      .groupBy(col(valueCol).cast("double").as("v"),
        col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("tvg"))
    val byV = byVG.groupBy(col("v")).agg(sum(col("tvg")).as("t"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("r2", lit(2L) * col("c") - col("t") + 1L)
    val perGroup = byVG.join(ranked, "v")
      .groupBy(col("g"))
      .agg(sum(col("tvg")).as("n_g"),
        sum(col("tvg").cast(d38) * col("r2").cast(d38)).as("r2sum"))
      .withColumn("mr2", round(dbl(col("r2sum")) / dbl(col("n_g")), 9))
      .localCheckpoint(true) // both pair sides + the N total read it
    val globals = ranked.agg(
      sum(col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38) -
        col("t").cast(d38)).as("ties"),
      sum(col("t")).as("nn"))
    val a = perGroup.select(col("g").as("g_i"), col("n_g").as("n_i"),
      col("mr2").as("mr2_i"))
    val b = perGroup.select(col("g").as("g_j"), col("n_g").as("n_j"),
      col("mr2").as("mr2_j"))
    val pairs = a.join(b, col("g_i") < col("g_j"))
      .crossJoin(broadcast(globals))
    val nD = dbl(col("nn"))
    val sig2 = (nD * (nD + 1.0) / 12.0 -
      dbl(col("ties")) / (lit(12.0) * (nD - 1.0))) *
      (lit(1.0) / dbl(col("n_i")) + lit(1.0) / dbl(col("n_j")))
    val z = (col("mr2_i") - col("mr2_j")) / 2.0 / sqrt(sig2)
    val staged = pairs
      .withColumn("z", round(z, 6))
      .withColumn("p", round(normalTailP2(z), 9))
    val fam = Window.partitionBy()
    val withRank = staged
      .withColumn("r", row_number().over(
        fam.orderBy(col("p"), col("g_i"), col("g_j"))).cast("long"))
      .withColumn("m", count(lit(1)).over(fam))
    // BH step-up: reject every rank up to the LARGEST passing rank —
    // a per-rank filter would wrongly resurrect past a gap (q420)
    withRank
      .withColumn("kmax", max(when(
        col("p") * dbl(col("m")) <= dbl(col("r")) * lit(alpha), col("r")))
        .over(fam))
      .select(col("g_i"), col("g_j"), col("n_i"), col("n_j"),
        (col("mr2_i") / 2.0).as("mean_rank_i"),
        (col("mr2_j") / 2.0).as("mean_rank_j"),
        col("z"), col("p"), col("r").as("p_rank"),
        (col("kmax").isNotNull && col("r") <= col("kmax")).as("significant"))
  }

  /** Two-sided normal tail probability 2·Q(|z|) as ONE pinned double
    * polynomial — Abramowitz–Stegun 26.2.17 (|ε| < 7.5e-8), written in
    * the identical literal order on engine and oracle so the p-values
    * that feed [[bhFdr]]'s ranking agree bit for bit (the only
    * cross-engine wobble left is exp()'s final ulp, 8 orders below the
    * 1e-9 grid the caller rounds onto).
    */
  def normalTailP2(z: Column): Column = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * t - lit(1.821255978)) * t +
      lit(1.781477937)) * t - lit(0.356563782)) * t + lit(0.319381530)) * t
    lit(2.0) * lit(0.3989422804014327) * exp(-(az * az) / lit(2.0)) * poly
  }

  /** COCHRAN–ARMITAGE trend test — "does the success rate trend across
    * ORDERED groups": the directed alternative the q408 ANOVA and q373
    * Kruskal–Wallis both waste power on, with the group index as the
    * dose score. All moments are exact integers aggregated per group
    * (w·y, w·n, w²·n fit long for scores ≤ ~10⁶), and the statistic
    *   T = Σwᵢyᵢ − (Y/N)·Σwᵢnᵢ,
    *   Var = (Y/N)(1 − Y/N)·(Σwᵢ²nᵢ − (Σwᵢnᵢ)²/N)
    * is ONE pinned double expression — cross-multiplied to
    * T' = N·Σwy − Y·Σwn over exact integers first, so the only
    * division happens inside the final Z. Returns per-group rates plus
    * the shared Z (the mi_total broadcast shape).
    */
  def cochranArmitage(
      df: DataFrame,
      scoreCol: String,
      successCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val tot = Window.partitionBy()
    val g = df.select(col(scoreCol).cast("long").as("w"),
        when(successCol, 1L).otherwise(0L).as("s"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_g"), sum(col("s")).as("y_g"))
    val t = g.select(col("w"), col("n_g"), col("y_g"),
      sum(col("n_g")).over(tot).as("n"),
      sum(col("y_g")).over(tot).as("y"),
      sum(col("w").cast(d38) * col("y_g").cast(d38)).over(tot).as("swy"),
      sum(col("w").cast(d38) * col("n_g").cast(d38)).over(tot).as("swn"),
      sum(col("w").cast(d38) * col("w").cast(d38) * col("n_g").cast(d38))
        .over(tot).as("swwn"))
    // T·N = N·Σwy − Y·Σwn and Var = Y(N−Y)(N·Σw²n − (Σwn)²)/N³, both
    // exact integers inside; Z = T/√Var = (T·N)·√N / √(Var·N³)
    val num = dbl(col("n").cast(d38) * col("swy") -
      col("y").cast(d38) * col("swn"))
    val den = sqrt(dbl(col("y").cast(d38) * (col("n") - col("y")).cast(d38)) *
      dbl(col("n").cast(d38) * col("swwn") - col("swn") * col("swn")))
    t.select(col("w").as("score"), col("n_g"), col("y_g"),
      round(dbl(col("y_g")) / dbl(col("n_g")), 6).as("rate"),
      round(num * sqrt(dbl(col("n"))) / den, 6).as("z_trend"))
  }

  /** BENJAMINI–HOCHBERG step-up FDR control — the multiple-testing gate
    * that belongs on top of every per-key test family this shelf
    * produces (q362/q373/q408/q412...): rank the m p-values ascending,
    * find k = max{r : p_r ≤ r·α/m}, reject ranks 1..k. The compare runs
    * as p_r·m ≤ r·α in pinned doubles; rank ties break by key so the
    * order is total. The family is METADATA-SIZED by contract (one row
    * per hypothesis), so the unpartitioned rank window is answer-sized,
    * never data-sized — the heavy moment aggregation that produced each
    * p-value stays distributed in the caller.
    */
  def bhFdr(
      tests: DataFrame,
      keyCol: String,
      pCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0)
    import org.apache.spark.sql.expressions.Window
    val fam = Window.partitionBy()
    val w = Window.orderBy(col("p"), col("k"))
    tests.select(col(keyCol).as("k"), col(pCol).cast("double").as("p"))
      .withColumn("m", count(lit(1)).over(fam))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("ok",
        col("p") * col("m").cast("double") <= col("r").cast("double") * lit(alpha))
      .withColumn("kmax", max(when(col("ok"), col("r"))).over(fam))
      .select(col("k"), col("p"), col("r").as("p_rank"), col("m"),
        round(col("r").cast("double") * lit(alpha) / col("m").cast("double"), 9)
          .as("bh_crit"),
        (col("kmax").isNotNull && col("r") <= col("kmax")).as("rejected"))
  }

  /** META-ANALYTIC P-VALUE COMBINATION — the question the multiplicity
    * shelf ([[bhFdr]]/[[holmBonferroni]]/[[byFdr]]) never answers:
    * those control errors across a family of SEPARATE verdicts; this
    * pools the family into ONE verdict ("is there any effect in this
    * group at all"). Two classic poolers side by side: STOUFFER's
    * Z = Σzᵢ/√m (direction-aware — effects in opposite directions
    * cancel) and FISHER's X² = −2Σln pᵢ (direction-blind — any
    * deviation accumulates), with Fisher's combined p from the exact
    * even-df chi-square survival series
    * P(χ²_{2m} > X) = e^{−X/2} Σ_{k<m} (X/2)^k / k!.
    *
    * Exactness: per-test −2 ln p terms pinned at 1e-9 and
    * decimal-summed (FP-order-free); the series' ln k! is the q574
    * discipline — per-integer 1e-12-pinned ln's accumulated as exact
    * decimals over the per-group k-explode (group-sized, never
    * corpus-sized); each survival term exp-pinned at 1e-12 and
    * decimal-summed. p-values clamp to ≥ 1e-9 before ln on both
    * engines (a 9-grid p of exactly 0 would send ln to −∞). The k = 0
    * term is special-cased: at X = 0 the generic 0·ln(0) is NaN, while
    * e^{−X/2} alone is the exact answer 1. O(groups) rows out.
    */
  def combinePvalues(
      tests: DataFrame,
      groupCol: String,
      pCol: String,
      zCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val agg = tests.select(col(groupCol).as("g"),
        col(pCol).cast("double").as("p"), col(zCol).cast("double").as("z"))
      .groupBy(col("g")).agg(
        count(lit(1)).as("m"),
        sum(col("z").cast(DecimalType(18, 6))).as("sz"),
        sum(round(lit(-2.0) * log(greatest(col("p"), lit(1e-9))), 9)
          .cast(DecimalType(18, 9))).as("x2"))
    val stat = agg.select(col("g"), col("m"),
      (round(dbl(col("sz")) / sqrt(dbl(col("m"))), 6) + lit(0.0))
        .as("stouffer_z"),
      dbl(col("x2")).as("x"))
    val wk = Window.partitionBy(col("g")).orderBy(col("k"))
    val terms = stat.select(col("g"), col("m"), col("stouffer_z"),
        col("x"), explode(sequence(lit(0L), col("m") - 1L)).as("k"))
      .withColumn("lnk", when(col("k") === 0L, lit(0.0))
        .otherwise(round(log(dbl(col("k"))), 12)))
      .withColumn("lf",
        sum(col("lnk").cast(DecimalType(28, 12))).over(wk).cast("double"))
    // x <= 0 guard: every k >= 1 term of a zero statistic is exactly 0,
    // and the generic branch's ln(0) is engine-divergent (Spark NULL,
    // DuckDB error) — never let either engine evaluate it
    val term = when(col("k") === 0L, exp(-col("x") / 2.0))
      .when(col("x") <= 0.0, lit(0.0))
      .otherwise(exp(-col("x") / 2.0 +
        dbl(col("k")) * log(col("x") / 2.0) - col("lf")))
    terms.select(col("g"), col("m"), col("stouffer_z"), col("x"),
        round(term, 12).cast(DecimalType(28, 12)).as("t"))
      .groupBy(col("g"), col("m"), col("stouffer_z"), col("x"))
      .agg(sum(col("t")).as("s"))
      .select(col("g").as(groupCol), col("m"), col("stouffer_z"),
        round(col("x"), 6).as("fisher_stat"),
        round(least(dbl(col("s")), lit(1.0)), 6).as("fisher_p"))
      .orderBy(col(groupCol))
  }

  /** BENJAMINI–YEKUTIELI step-up — [[bhFdr]]'s FDR control made valid
    * under ARBITRARY dependence between the tests (BH's guarantee needs
    * independence or positive dependence; correlated metrics over the
    * same users violate it routinely): the critical line shrinks by the
    * harmonic number, p_r ≤ r·α/(m·H_m), H_m = Σ_{i≤m} 1/i — the
    * conservative gate to reach for when the family's dependence
    * structure is unknown. H_m sums the same 1e-9-grid reciprocal terms
    * on both engines (family-sized window, decimal addition).
    */
  def byFdr(
      tests: DataFrame,
      keyCol: String,
      pCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val fam = Window.partitionBy()
    val w = Window.orderBy(col("p"), col("k"))
    tests.select(col(keyCol).as("k"), col(pCol).cast("double").as("p"))
      .withColumn("m", count(lit(1)).over(fam))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("hm", sum(round(lit(1.0) / col("r").cast("double"), 9)
        .cast(DecimalType(18, 9))).over(fam).cast("double"))
      .withColumn("ok",
        col("p") * col("m").cast("double") * col("hm") <=
          col("r").cast("double") * lit(alpha))
      .withColumn("kmax", max(when(col("ok"), col("r"))).over(fam))
      .select(col("k"), col("p"), col("r").as("p_rank"), col("m"),
        round(col("hm"), 9).as("h_m"),
        round(col("r").cast("double") * lit(alpha) /
          (col("m").cast("double") * col("hm")), 9).as("by_crit"),
        (col("kmax").isNotNull && col("r") <= col("kmax")).as("rejected"))
  }

  /** INTRACLASS CORRELATION ICC(1) — "how much of the variance is
    * BETWEEN groups": the reliability/clustering number behind design
    * effects and mixed-model decisions, read off the same one-way
    * decomposition as [[anovaF]] (which asks IF groups differ; ICC asks
    * how much of the total spread they explain):
    *
    *   ICC = (MSB − MSW) / (MSB + (n₀ − 1)·MSW),
    *   n₀ = (N − Σn_g²/N) / (k − 1)   (unbalanced-design group size)
    *
    * One conditional-moment pass (integer cents in DECIMAL sums). Only
    * O(1)-magnitude statistics leave the operator (ICC, the MSB/MSW
    * ratio, n₀) — the raw mean squares sit at cents² scale where
    * wide-decimal→double casts carry a cross-engine ulp the 1e-6 grid
    * cannot absorb (the q83/q408 lesson, re-confirmed by this
    * operator's own first draft failing the sf0.01 hash on a raw MSB of
    * 3·10¹⁴); ratios cancel the ulp. NULL on degenerate denominators.
    */
  def icc(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val perGroup = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n_g"), sum(v).as("s_g"), sum(v * v).as("ss_g"))
      .withColumn("term", round(dbl(col("s_g")) * dbl(col("s_g")) /
        dbl(col("n_g")), 6).cast(DecimalType(38, 6)))
    val m = perGroup.agg(
      sum(col("n_g")).as("nn"), count(lit(1)).as("k"),
      sum(col("s_g")).as("s"), sum(col("ss_g")).as("ss"),
      sum(col("term")).as("tsum"),
      sum(col("n_g").cast(d38) * col("n_g").cast(d38)).as("sn2"))
    val n = dbl(col("nn"))
    val k = dbl(col("k"))
    val ssb = dbl(col("tsum")) - dbl(col("s")) * dbl(col("s")) / n
    val ssw = (dbl(col("ss")) - dbl(col("s")) * dbl(col("s")) / n) - ssb
    val msb = ssb / (k - 1.0)
    val msw = ssw / (n - k)
    val n0 = (n - dbl(col("sn2")) / n) / (k - 1.0)
    val den = msb + (n0 - 1.0) * msw
    m.select(col("k"), col("nn").as("n"),
      round(when(msw =!= lit(0.0), msb / msw), 6).as("ms_ratio"),
      round(n0, 6).as("n0"),
      round(when(den =!= lit(0.0), (msb - msw) / den), 6).as("icc"))
  }

  /** EXACT WASSERSTEIN-1 (earth-mover) distance between two arms'
    * distributions on an integer value domain — the L1 area between the
    * CDFs, W1 = Σ_v |F_a(v) − F_b(v)|·gap(v): the effect-size that
    * measures HOW MUCH mass must move and HOW FAR, completing the
    * distance family beside q385's KS supremum and q470's Cramér–von
    * Mises L2 (two distributions can share a KS yet differ 10× in
    * transport cost). Value-domain census shape (the q319 discipline —
    * never a row sort); per-gap terms are pinned 1e-9-grid decimals
    * NORMALIZED by the domain range so every magnitude stays O(1)
    * (the q83/q408 rule), with the cents-scale W1 recovered at the end
    * as normalized × range. Output: n_a, n_b, range, w1_norm, w1.
    */
  def wasserstein1(
      df: DataFrame,
      valueCol: String,
      armACol: Column): DataFrame =
    w1FromCensus(df
      .select(col(valueCol).cast("long").as("v"), armACol.as("isa"))
      .groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ta"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("tb")))

  /** [[wasserstein1]] from an (v, ta, tb) value census — counts ADD, so
    * the streaming store's drained census reads identically to the
    * one-pass path and shares the batch oracle verbatim.
    */
  def w1FromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val cen = censusDf.groupBy(col("v"))
      .agg(sum(col("ta")).as("ta"), sum(col("tb")).as("tb"))
    val w = Window.orderBy(col("v"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fam = Window.partitionBy()
    val staged = cen
      .withColumn("ca", sum(col("ta")).over(cum))
      .withColumn("cb", sum(col("tb")).over(cum))
      .withColumn("na", sum(col("ta")).over(fam))
      .withColumn("nb", sum(col("tb")).over(fam))
      .withColumn("rng", max(col("v")).over(fam) - min(col("v")).over(fam))
      .withColumn("gap", lead(col("v"), 1).over(w) - col("v"))
      .filter(col("gap").isNotNull)
      .withColumn("term",
        round(abs(dbl(col("ca")) / dbl(col("na")) -
          dbl(col("cb")) / dbl(col("nb"))) * dbl(col("gap")) /
          dbl(col("rng")), 9).cast(DecimalType(28, 9)))
    staged.agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("rng")).as("v_range"), sum(col("term")).as("__w"))
      .select(col("n_a"), col("n_b"), col("v_range"),
        round(dbl(col("__w")), 9).as("w1_norm"),
        round(dbl(col("__w")) * dbl(col("v_range")), 6).as("w1"))
  }

  /** JAMES–STEIN / EMPIRICAL-BAYES shrinkage of group means — partial
    * pooling toward the grand mean with a per-group factor
    * λ_g = n_g·τ̂² / (σ̂² + n_g·τ̂²): small or noisy groups borrow
    * strength from the family, big clean groups keep their own mean —
    * the estimator that beats every raw per-group mean in aggregate risk
    * (Stein's paradox) and the standard fix for "the smallest segment
    * always tops the leaderboard". The variance ratio comes off the
    * [[icc]] one-way decomposition: τ̂²/σ̂² = (MSB/MSW − 1)/n₀ (method
    * of moments, floored at 0 → full pooling when groups explain
    * nothing), so only O(1)-magnitude ratios cross engines (the q83/q408
    * discipline — raw mean squares at cents² scale never leave). Means
    * are exact integer/count divisions. Degenerate MSW → NULLs.
    */
  /** ANDERSON–DARLING NORMALITY TEST per key — the tail-weighted
    * goodness-of-fit the drift shelf lacks: q295's binned KS sees the
    * body, AD's 1/[F(1−F)] weighting is SPECIFICALLY sensitive in the
    * tails where risk lives; the standard "can I use the z-machinery on
    * this metric at all" gate (case 3: mean and variance estimated).
    *
    *   A² = −n − (1/n) Σᵢ (2i−1)[ln Φ(zᵢ) + ln(1 − Φ(z_{n+1−i}))]
    *
    * computed WITHOUT ranking raw rows: ranks collapse onto the VALUE
    * CENSUS — a value with count c occupying ranks a+1..a+c contributes
    * coefficient Σ(2i−1) = 2ca + c² to its ln Φ and Σ(2n+1−2j) =
    * 2c(n−a) − c² to its ln(1−Φ), both exact integers off the
    * cumulative-count window (value-domain-sized: the test column's
    * RANGE bounds the census per key no matter the row count — stated
    * caller contract). Φ replays the shared A&S polynomial
    * ([[normalTailP2]]), z's pinned at 1e-9, Φ clamped to
    * [1e-12, 1−1e-12] before ln (an extreme z would send it to ±∞),
    * per-value terms pinned and decimal-summed. Emits A², the
    * small-sample-modified A*² = A²(1 + 0.75/n + 2.25/n²), and the
    * α=0.05 verdict against the 0.787 critical — compared on the
    * PINNED A*² so both engines flip together. Keys need ≥ 8 rows and
    * positive variance. O(keys) rows out.
    */
  def andersonDarling(
      df: DataFrame,
      keyCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val d289 = DecimalType(28, 9)
    val cen = df.select(col(keyCol).as("k"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("c"))
    val mom = cen.groupBy(col("k"))
      .agg(sum(col("c")).as("n"),
        sum((col("c") * col("v")).cast(d38)).as("sv"),
        sum((col("c").cast(d38) * col("v") * col("v"))).as("svv"))
      .filter(col("n") >= 8L)
    val nD = dbl(col("n"))
    val mean = dbl(col("sv")) / nD
    val varS = (nD * dbl(col("svv")) - dbl(col("sv")) * dbl(col("sv"))) /
      (nD * (nD - 1.0))
    val key = mom.select(col("k"), col("n"), mean.as("mu"),
        when(varS > 0.0, sqrt(varS)).as("sd"))
      .filter(col("sd").isNotNull)
    val wOrd = Window.partitionBy(col("k")).orderBy(col("v"))
    val ranked = cen.join(key, Seq("k"))
      .withColumn("cum", sum(col("c")).over(wOrd))
      .withColumn("a", col("cum") - col("c"))
      .withColumn("z", round((dbl(col("v")) - col("mu")) / col("sd"), 9))
    val p = normalTailP2(col("z"))
    def clamp(c: Column): Column =
      least(greatest(c, lit(1e-12)), lit(1.0 - 1e-12))
    val phi = clamp(when(col("z") >= 0.0, lit(1.0) - p / 2.0)
      .otherwise(p / 2.0))
    val sf = clamp(when(col("z") >= 0.0, p / 2.0)
      .otherwise(lit(1.0) - p / 2.0))
    val terms = ranked.select(col("k"), col("n"),
      round(dbl(lit(2L) * col("c") * col("a") + col("c") * col("c")) *
        round(log(phi), 9), 9).cast(d289).as("ta"),
      round(dbl(lit(2L) * col("c") * (col("n") - col("a")) -
        col("c") * col("c")) * round(log(sf), 9), 9).cast(d289).as("tb"))
    val agg = terms.groupBy(col("k"), col("n"))
      .agg(sum(col("ta")).as("sa"), sum(col("tb")).as("sb"))
    val a2 = -dbl(col("n")) - (dbl(col("sa")) + dbl(col("sb"))) / dbl(col("n"))
    val a2s = round(a2 * (lit(1.0) + lit(0.75) / dbl(col("n")) +
      lit(2.25) / (dbl(col("n")) * dbl(col("n")))), 6)
    agg.select(col("k").as(keyCol), col("n"),
        round(a2, 6).as("a2"), a2s.as("a2_star"),
        (a2s > 0.787).as("reject_normal_05"))
      .orderBy(col(keyCol))
  }

  /** EMPIRICAL-BAYES RATE SHRINKAGE (beta-binomial, method of moments)
    * — [[jamesStein]] for RATES: a part seen twice with one return
    * reads a raw 50% return rate; shrinking toward the corpus prior by
    * the evidence each part actually carries is the difference between
    * a rate table you can rank by and one dominated by small-n noise.
    * The Beta(α, β) prior comes from the per-key rate moments: with
    * m = mean(rᵢ), v = var(rᵢ) across keys, the MoM concentration is
    * K = m(1−m)/v − 1, α = mK, β = (1−m)K, and each key's posterior
    * mean is (sᵢ + α)/(nᵢ + K) — more trials, less shrink.
    *
    * One key census (n, s) pass; raw rates pinned at 1e-9 and their
    * cross-key moments decimal-summed; the prior is a one-row broadcast
    * every key joins. Refusals read NULL shrunk rates: v = 0 (all keys
    * identical — nothing to learn a prior from), v ≥ m(1−m) (more
    * dispersed than ANY beta-binomial; K ≤ 0), or a degenerate corpus
    * mean (m = 0 or 1 exactly). O(keys) rows out.
    */
  def ebBetaBinomial(
      df: DataFrame,
      keyCol: String,
      successCol: Column,
      minKeys: Long = 3L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d189 = DecimalType(18, 9)
    val cen = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("s"))
      .withColumn("r", round(dbl(col("s")) / dbl(col("n")), 9))
      .localCheckpoint(true) // the prior aggregate + the final join
    val pr = cen.agg(count(lit(1)).as("p"),
        sum(col("r").cast(d189)).as("sr"),
        sum(round(col("r") * col("r"), 9).cast(d189)).as("srr"))
    val p = dbl(col("p"))
    val m = dbl(col("sr")) / p
    val v = (p * dbl(col("srr")) - dbl(col("sr")) * dbl(col("sr"))) /
      (p * (p - 1.0))
    val kk = m * (lit(1.0) - m) / v - lit(1.0)
    val prior = pr.select(col("p"), round(m, 9).as("m"),
      round(v, 9).as("v"),
      when(col("p") >= minKeys && v > 0.0 && m > 0.0 && m < 1.0 &&
        kk > 0.0, round(kk, 9)).as("kc"))
    cen.crossJoin(broadcast(prior))
      .select(col("k").as(keyCol), col("n"), col("s"),
        round(col("r"), 6).as("raw_rate"),
        when(col("kc").isNotNull,
          round(col("m") * col("kc"), 6)).as("prior_alpha"),
        when(col("kc").isNotNull,
          round((lit(1.0) - col("m")) * col("kc"), 6)).as("prior_beta"),
        when(col("kc").isNotNull,
          round((dbl(col("s")) + col("m") * col("kc")) /
            (dbl(col("n")) + col("kc")), 6)).as("shrunk_rate"))
      .orderBy(col(keyCol))
  }

  def jamesStein(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = col(valueCol).cast("long").cast(DecimalType(38, 0))
    jamesSteinFromCensus(df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n_g"), sum(v).as("s_g"), sum(v * v).as("ss_g")))
  }

  /** [[jamesStein]] from an already-aggregated (g, n_g, s_g, ss_g) moment
    * CENSUS — partials ADD across batches, so a streaming store's drained
    * census finishes identically to the one-pass path (the welch/qte
    * pattern) and shares the batch oracle verbatim.
    */
  def jamesSteinFromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val perGroup = censusDf.groupBy(col("g"))
      .agg(sum(col("n_g")).as("n_g"),
        sum(col("s_g").cast(d38)).as("s_g"),
        sum(col("ss_g").cast(d38)).as("ss_g"))
      .withColumn("term", round(dbl(col("s_g")) * dbl(col("s_g")) /
        dbl(col("n_g")), 6).cast(DecimalType(38, 6)))
      .localCheckpoint(true) // group census, two readers
    val m = perGroup.agg(
      sum(col("n_g")).as("nn"), count(lit(1)).as("k"),
      sum(col("s_g")).as("s"), sum(col("ss_g")).as("ss"),
      sum(col("term")).as("tsum"),
      sum(col("n_g").cast(d38) * col("n_g").cast(d38)).as("sn2"))
    val n = dbl(col("nn"))
    val k = dbl(col("k"))
    val ssb = dbl(col("tsum")) - dbl(col("s")) * dbl(col("s")) / n
    val ssw = (dbl(col("ss")) - dbl(col("s")) * dbl(col("s")) / n) - ssb
    val msb = ssb / (k - 1.0)
    val msw = ssw / (n - k)
    val n0 = (n - dbl(col("sn2")) / n) / (k - 1.0)
    val totals = m.select(col("nn"), col("s"),
      when(msw =!= lit(0.0), msb / msw).as("f"), round(n0, 9).as("n0"))
    val xbar = dbl(col("s")) / dbl(col("nn"))
    val xg = dbl(col("s_g")) / dbl(col("n_g"))
    val fm1 = greatest(col("f") - lit(1.0), lit(0.0))
    // zero MSW means "no within-group noise was measurable" — emit NULL
    // rather than a silently wrong full-pool λ=0 (greatest() would
    // swallow the NULL f on both engines otherwise)
    val lam = when(col("f").isNotNull,
      dbl(col("n_g")) * fm1 / (col("n0") + dbl(col("n_g")) * fm1))
    perGroup.crossJoin(broadcast(totals))
      .select(col("g"), col("n_g").as("n"),
        round(xg, 6).as("raw_mean"),
        round(lam, 6).as("lambda"),
        round(xbar + lam * (xg - xbar), 6).as("shrunk_mean"))
      .orderBy(col("g"))
  }

  /** PAIRWISE JENSEN–SHANNON DIVERGENCE matrix — how DIFFERENT every
    * pair of groups' distributions over a shared categorical support is,
    * on the symmetric bounded [0, ln 2] scale: the all-pairs
    * distribution-similarity table (data-mixing / domain-shift
    * decisions) where [[psiBins]] compares exactly two slices and
    * mutualInfo scores one joint. JSD(P,Q) = ½ΣP ln(2P/(P+M)) … with
    * M = P+Q implied: here the standard ½[KL(P‖A) + KL(Q‖A)],
    * A = (P+Q)/2, computed as ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)).
    *
    * Every term is ln over EXACT integer cross-ratios (counts and the
    * two group totals — the q256 mutual-information discipline),
    * quantized to the 1e-9 grid and decimal-summed order-independently;
    * zero cells contribute zero (lim x·ln x = 0). Support × k² sized —
    * the bounded-domain contract, stated.
    */
  def jsdMatrix(
      df: DataFrame,
      keyCol: String,
      binCol: String): DataFrame =
    jsdMatrixFromCensus(df.groupBy(col(keyCol).cast("string").as("k"),
        col(binCol).cast("long").as("b"))
      .agg(count(lit(1)).as("n")))

  /** [[jsdMatrix]] from an already-aggregated (k, b, n) CENSUS — the
    * entry point the streaming store uses: censuses ADD across batches,
    * so the drained matrix equals the batch one without ever
    * re-materializing rows.
    */
  def jsdMatrixFromCensus(census: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d189 = DecimalType(18, 9)
    def dbl(c: Column): Column = c.cast("double")
    val totals = census.groupBy(col("k")).agg(sum(col("n")).as("t"))
    val spine = totals.select(col("k").as("ka"), col("t").as("ta"))
      .join(totals.select(col("k").as("kb"), col("t").as("tb")),
        col("ka") < col("kb"))
    val aSide = spine.select(col("ka"), col("kb"))
      .join(census.select(col("k").as("ka"), col("b"), col("n").as("na")),
        Seq("ka"))
    val bSide = spine.select(col("ka"), col("kb"))
      .join(census.select(col("k").as("kb"), col("b"), col("n").as("nb")),
        Seq("kb"))
    val joined = aSide.join(bSide, Seq("ka", "kb", "b"), "full")
      .join(spine, Seq("ka", "kb"))
      .select(col("ka"), col("kb"), col("ta"), col("tb"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
    // p·ln(2p/(p+q)) with p = na/ta, q = nb/tb rewritten over integers:
    // ln(2·na·tb / (na·tb + nb·ta)) — exact integer operands, products
    // in DECIMAL(38,0) so count·total never overflows long at scale
    val d38 = DecimalType(38, 0)
    def half(nc: Column, tc: Column, oc: Column, otc: Column): Column = {
      val cross = nc.cast(d38) * otc.cast(d38)
      val crossSum = nc.cast(d38) * otc.cast(d38) + oc.cast(d38) * tc.cast(d38)
      when(nc > 0L,
        round(dbl(nc) / dbl(tc) *
          log(lit(2.0) * dbl(cross) / dbl(crossSum)), 9)
          .cast(d189))
        .otherwise(lit(0).cast(d189))
    }
    joined
      .select(col("ka"), col("kb"),
        half(col("na"), col("ta"), col("nb"), col("tb")).as("pa"),
        half(col("nb"), col("tb"), col("na"), col("ta")).as("pb"))
      .groupBy(col("ka"), col("kb"))
      .agg(round((dbl(sum(col("pa"))) + dbl(sum(col("pb")))) / 2.0, 6)
        .as("jsd_nats"))
  }

  /** COVARIATE BALANCE (standardized mean differences) — the diagnostic
    * TABLE an observational analysis or experiment-health check reads
    * before trusting any effect estimate: per covariate,
    * SMD = (mean_t − mean_c) / √((var_t + var_c)/2), with the
    * conventional |SMD| < 0.1 "balanced" flag. Complements [[srmCheck]]
    * (which gates COUNTS; this gates covariate MIX).
    *
    * Covariates are melted into (name, value) rows in ONE pass (the
    * covariate list is small by contract), each side's moments are
    * exact DECIMAL(38,0) integer sums, and SMD is one pinned double per
    * covariate; zero pooled variance emits NULL. Covariate-domain
    * output.
    */
  def covariateBalance(
      df: DataFrame,
      treatedCol: Column,
      covariates: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(covariates.nonEmpty)
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val melted = covariates.map { c =>
      df.select(lit(c).as("cov"), treatedCol.as("t"),
        col(c).cast("long").as("v"))
    }.reduce(_.unionByName(_))
    def side(flag: Boolean, c: Column): Column =
      sum(when(col("t") === flag, c).otherwise(lit(0).cast(d38)))
    val m = melted.groupBy(col("cov")).agg(
      sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
      side(true, col("v").cast(d38)).as("st"),
      side(false, col("v").cast(d38)).as("sc"),
      side(true, col("v").cast(d38) * col("v").cast(d38)).as("sst"),
      side(false, col("v").cast(d38) * col("v").cast(d38)).as("ssc"))
    val nt = dbl(col("nt"))
    val nc = dbl(col("nc"))
    val mt = dbl(col("st")) / nt
    val mc = dbl(col("sc")) / nc
    val vt = (nt * dbl(col("sst")) - dbl(col("st")) * dbl(col("st"))) /
      (nt * (nt - 1.0))
    val vc = (nc * dbl(col("ssc")) - dbl(col("sc")) * dbl(col("sc"))) /
      (nc * (nc - 1.0))
    val pooled = sqrt((vt + vc) / lit(2.0))
    val smd = (mt - mc) / pooled
    m.select(col("cov"), col("nt"), col("nc"),
      round(mt, 6).as("mean_t"), round(mc, 6).as("mean_c"),
      round(when(pooled > 0.0, smd), 6).as("smd"),
      when(pooled > 0.0, abs(smd) < lit(0.1)).as("balanced"))
  }

  /** COHEN'S KAPPA — chance-corrected agreement between two BINARY
    * raters over the same units ("do these two flags/systems/annotators
    * agree beyond what their base rates force"): the labeling-QA gate
    * beside [[mcnemar]] (which asks about DISAGREEMENT direction; kappa
    * scores agreement level). Cross-multiplied to pure integers:
    *
    *   κ = (n(a+d) − [(a+b)(a+c) + (c+d)(b+d)]) / (n² − [...])
    *
    * — exact DECIMAL(38,0) to one pinned division; NULL when chance
    * agreement is total (denominator 0). One 2×2 census pass.
    */
  def cohenKappa(
      df: DataFrame,
      rater1: Column,
      rater2: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val cells = df.agg(
      sum(when(rater1 && rater2, 1L).otherwise(0L)).as("a"),
      sum(when(rater1 && !rater2, 1L).otherwise(0L)).as("b"),
      sum(when(!rater1 && rater2, 1L).otherwise(0L)).as("c"),
      sum(when(!rater1 && !rater2, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    val pe2 = (col("a") + col("b")).cast(d38) * (col("a") + col("c")).cast(d38) +
      (col("c") + col("d")).cast(d38) * (col("b") + col("d")).cast(d38)
    val num = col("n").cast(d38) * (col("a") + col("d")).cast(d38) - pe2
    val den = col("n").cast(d38) * col("n").cast(d38) - pe2
    cells.select(col("a"), col("b"), col("c"), col("d"), col("n"),
      round(dbl((col("a") + col("d")).cast(d38)) / dbl(col("n")), 6)
        .as("p_observed"),
      round(when(den =!= lit(0).cast(d38), dbl(num) / dbl(den)), 6)
        .as("kappa"))
  }

  /** WALD–WOLFOWITZ RUNS TEST per key — "is this binary sequence random
    * or does it cluster": too FEW runs = positive serial dependence
    * (regimes), too many = oscillation; the order-sensitive complement
    * of the distributional tests. R = number of runs counted by one
    * lag-window pass;
    *
    *   E[R] = 2n₁n₀/n + 1,  Var = 2n₁n₀(2n₁n₀ − n) / (n²(n−1))
    *
    * over exact integers (2n₁n₀ in DECIMAL38), Z one pinned double.
    * Degenerate sequences (all one symbol, n < 2) emit NULL Z.
    */
  def runsTest(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      flagCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val byKey = Window.partitionBy(col("k")).orderBy(col("t"))
    val base = df.select(col(keyCol).as("k"),
      col(orderCol).cast("long").as("t"),
      when(flagCol, 1L).otherwise(0L).as("x"))
    val agg = base
      .withColumn("__new",
        when(lag(col("x"), 1).over(byKey).isNull ||
          lag(col("x"), 1).over(byKey) =!= col("x"), 1L).otherwise(0L))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("n1"),
        sum(col("__new")).as("runs"))
      .withColumn("n0", col("n") - col("n1"))
    val p = lit(2L).cast(d38) * col("n1").cast(d38) * col("n0").cast(d38)
    val er = dbl(p) / dbl(col("n")) + lit(1.0)
    val varR = dbl(p) * (dbl(p) - dbl(col("n"))) /
      (dbl(col("n")) * dbl(col("n")) * (dbl(col("n")) - 1.0))
    val z = (dbl(col("runs")) - er) / sqrt(varR)
    agg.select(col("k"), col("n"), col("n1"), col("n0"), col("runs"),
      round(er, 6).as("expected_runs"),
      round(when(col("n1") > 0L && col("n0") > 0L && col("n") > 1L, z), 6)
        .as("z"))
  }

  /** CRONBACH'S ALPHA — internal-consistency reliability of k ITEMS
    * measured over the same observations ("do these k signals measure
    * one underlying thing"): the gate before anyone averages k metrics
    * into a composite score. Callers supply the complete (obs, item,
    * value) frame.
    *
    *   α = k/(k−1) · (1 − Σᵢ varᵢ / var_total)
    *
    * Sample variances share the n(n−1) denominator, so the ratio
    * rewrites over pure integer numerators: Σᵢ(n·Σx² − Sᵢ²) over
    * n·ΣT² − (ΣT)² with T the per-observation totals — exact
    * DECIMAL(38,0) to one pinned double. Item-domain output with α
    * broadcast; NULL on zero total variance.
    */
  def cronbachAlpha(
      df: DataFrame,
      obsCol: String,
      itemCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val rows = df.select(col(obsCol).cast("string").as("o"),
      col(itemCol).cast("string").as("i"),
      col(valueCol).cast("long").as("x"))
    val perItem = rows.groupBy(col("i"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("s"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"))
      .withColumn("vnum",
        col("n").cast(d38) * col("sxx") - col("s") * col("s"))
    val totals = rows.groupBy(col("o"))
      .agg(sum(col("x").cast(d38)).as("tt"))
      .agg(count(lit(1)).as("n"), sum(col("tt")).as("st"),
        sum(col("tt") * col("tt")).as("stt"))
      .withColumn("tnum",
        col("n").cast(d38) * col("stt") - col("st") * col("st"))
    val tot = Window.partitionBy()
    val staged = perItem
      .withColumn("kk", count(lit(1)).over(tot).cast(d38))
      .withColumn("svnum", sum(col("vnum")).over(tot))
      .crossJoin(broadcast(totals.select(col("tnum"), col("n").as("n_obs"))))
    val denom = dbl(col("n")) * (dbl(col("n")) - 1.0)
    val alpha = dbl(col("kk")) / (dbl(col("kk")) - 1.0) *
      (lit(1.0) - dbl(col("svnum")) / dbl(col("tnum")))
    staged.select(col("i"), col("n"),
      round(dbl(col("vnum")) / denom, 6).as("var_i"),
      round(when(col("tnum") > lit(0).cast(d38), alpha), 6).as("alpha"))
  }

  /** MDE REPORT — "what effect size could this metric even detect at
    * current traffic": the pre-experiment power calculation every A/B
    * platform runs before anyone ships a test. Per group, the minimum
    * detectable effect of a two-sample mean test at a 50/50 split of
    * the group's n:
    *
    *   MDE = (z_{α/2} + z_β) · σ · √(2 / (n/2))
    *
    * with the z critical values PINNED literals supplied by the caller
    * (1.959964/0.841621 for the classic 5%/80%). σ² is the exact-moment
    * sample variance ((nΣx² − S²)/(n(n−1)) over integer cents), the
    * finish one pinned double expression; relative MDE divides by the
    * exact mean. Group-domain everything.
    */
  def mdeReport(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      zAlpha: Double = 1.959964,
      zBeta: Double = 0.841621): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val m = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"), sum(v * v).as("sxx"))
      .filter(col("n") >= 2L)
    val n = dbl(col("n"))
    val mean = dbl(col("s")) / n
    val variance = (n * dbl(col("sxx")) - dbl(col("s")) * dbl(col("s"))) /
      (n * (n - 1.0))
    val mde = lit(zAlpha + zBeta) * sqrt(variance) *
      sqrt(lit(2.0) / (n / 2.0))
    m.select(col("g"), col("n"),
      round(mean, 6).as("mean"),
      round(variance, 6).as("variance"),
      round(mde, 6).as("mde_abs"),
      round(when(mean =!= lit(0.0), mde / mean), 6).as("mde_rel"))
  }

  /** GROUP-SEQUENTIAL MONITORING (O'Brien–Fleming–style boundaries) —
    * "looking at the experiment K times without inflating α": the
    * running two-sample z is evaluated at K interim looks (time
    * fractions of the data) against caller-PINNED boundary literals;
    * a look crosses when |z| exceeds its boundary, and the report says
    * at which look the test would have stopped. The sequential
    * discipline [[welchTTest]] alone can't give — peeking at an
    * unadjusted z = 1.96 gate inflates false positives several-fold.
    *
    * Looks are time-fraction cutoffs lo + (hi−lo)·k/K in pure integer
    * arithmetic (2-value min/max driver read — metadata-sized); each
    * look's moments come from ONE conditional pass (sec ≤ cut_k terms),
    * the z is the [[welchTTest]] finish, boundaries are literals shared
    * verbatim with the oracle. Look-domain output with the stop
    * decision broadcast.
    */
  def groupSequential(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column,
      secCol: Column,
      boundaries: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(boundaries.nonEmpty)
    val kLooks = boundaries.size
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val b = df.agg(min(secCol).as("lo"), max(secCol).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cuts = (1 to kLooks).map(k => lo + (hi - lo) * k / kLooks)
    val v = col(valueCol).cast("long").cast(d38)
    val aggs = (1 to kLooks).flatMap { k =>
      val in = secCol <= cuts(k - 1)
      Seq(
        sum(when(in && sampleACol, 1L).otherwise(0L)).as(s"na$k"),
        sum(when(in && !sampleACol, 1L).otherwise(0L)).as(s"nb$k"),
        sum(when(in && sampleACol, v).otherwise(lit(0).cast(d38)))
          .as(s"sa$k"),
        sum(when(in && !sampleACol, v).otherwise(lit(0).cast(d38)))
          .as(s"sb$k"),
        sum(when(in && sampleACol, v * v).otherwise(lit(0).cast(d38)))
          .as(s"saa$k"),
        sum(when(in && !sampleACol, v * v).otherwise(lit(0).cast(d38)))
          .as(s"sbb$k"))
    }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val looks = (1 to kLooks).map { k =>
      m.select(lit(k.toLong).as("look"),
        lit(boundaries(k - 1)).as("boundary"),
        col(s"na$k").as("na"), col(s"nb$k").as("nb"),
        col(s"sa$k").as("sa"), col(s"sb$k").as("sb"),
        col(s"saa$k").as("saa"), col(s"sbb$k").as("sbb"))
    }.reduce(_.unionByName(_))
    val na = dbl(col("na"))
    val nb = dbl(col("nb"))
    val va = (na * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))) /
      (na * (na - 1.0))
    val vb = (nb * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))) /
      (nb * (nb - 1.0))
    val z = (dbl(col("sa")) / na - dbl(col("sb")) / nb) /
      sqrt(va / na + vb / nb)
    val staged = looks
      .withColumn("z", round(z, 6))
      .withColumn("crossed", abs(col("z")) > col("boundary"))
    staged
      .withColumn("stop_at_look",
        min(when(col("crossed"), col("look")))
          .over(Window.partitionBy()))
      .select(col("look"), col("na").as("n_a"), col("nb").as("n_b"),
        col("boundary"), col("z"), col("crossed"), col("stop_at_look"))
  }

  /** PAIRWISE WELCH CONTRASTS — every group pair's two-sample t from ONE
    * moment pass: the post-hoc step after [[anovaF]] says "the groups
    * differ" and the analyst asks WHICH; feed the p-values to [[bhFdr]]
    * to control the family-wise discovery rate (q442 composes exactly
    * that). Group moments aggregate once (integer cents in DECIMAL
    * sums), the k²/2 pair frame is group-domain-sized, each pair's
    * t/df/p is the [[welchTTest]] finish plus the pinned
    * [[normalTailP2]] tail (the z-approximation of the t tail — exact
    * for the large-n pipeline contract, stated). p on the 1e-9 grid.
    */
  def pairwiseWelch(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val v = col(valueCol).cast("long").cast(d38)
    val m = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"), sum(v * v).as("ss"))
    val pairs = m.select(col("g").as("ga"), col("n").as("na0"),
        col("s").as("sa"), col("ss").as("saa"))
      .join(m.select(col("g").as("gb"), col("n").as("nb0"),
        col("s").as("sb"), col("ss").as("sbb")), col("ga") < col("gb"))
    val na = dbl(col("na0"))
    val nb = dbl(col("nb0"))
    val va = (na * dbl(col("saa")) - dbl(col("sa")) * dbl(col("sa"))) /
      (na * (na - 1.0))
    val vb = (nb * dbl(col("sbb")) - dbl(col("sb")) * dbl(col("sb"))) /
      (nb * (nb - 1.0))
    val sea = va / na
    val seb = vb / nb
    val t = (dbl(col("sa")) / na - dbl(col("sb")) / nb) / sqrt(sea + seb)
    pairs.select(col("ga"), col("gb"),
      col("na0").as("n_a"), col("nb0").as("n_b"),
      round(t, 6).as("t_stat"),
      round(normalTailP2(t), 9).as("p"))
  }

  /** MANTEL–HAENSZEL pooled odds ratio + CMH test over STRATIFIED 2×2
    * tables — "is exposure associated with outcome once the stratum
    * (year, site, cohort) is held fixed": the confounding-aware effect
    * readout a flat 2×2 ([[mcnemar]] is paired, this is stratified)
    * gets wrong when strata differ in both mix and baseline.
    *
    *   OR_MH = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ),
    *   CMH χ² = (Σaᵢ − Σ r1ᵢc1ᵢ/nᵢ)² / Σ r1ᵢr2ᵢc1ᵢc2ᵢ/(nᵢ²(nᵢ−1))
    *
    * (no continuity correction — stated). Every per-stratum term is one
    * pinned double over exact integer cells, quantized to the 1e-9 grid
    * and decimal-summed (order-independent); the two final ratios are
    * pinned doubles. Output: one row per stratum with its cells, the
    * shared OR and χ² broadcast on (the mi_total shape); NULL OR when a
    * side's sum is 0, NULL χ² on a degenerate variance.
    */
  def mantelHaenszel(
      df: DataFrame,
      stratumCol: String,
      exposedCol: Column,
      outcomeCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d189 = DecimalType(18, 9)
    def dbl(c: Column): Column = c.cast("double")
    def g9(c: Column): Column = round(c, 9).cast(d189)
    val cells = df.groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(
        sum(when(exposedCol && outcomeCol, 1L).otherwise(0L)).as("a"),
        sum(when(exposedCol && !outcomeCol, 1L).otherwise(0L)).as("b"),
        sum(when(!exposedCol && outcomeCol, 1L).otherwise(0L)).as("c"),
        sum(when(!exposedCol && !outcomeCol, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    val n = dbl(col("n"))
    val terms = cells
      .withColumn("ad", g9(dbl(col("a")) * dbl(col("d")) / n))
      .withColumn("bc", g9(dbl(col("b")) * dbl(col("c")) / n))
      .withColumn("e1", g9(dbl(col("a") + col("b")) *
        dbl(col("a") + col("c")) / n))
      .withColumn("v1", when(col("n") > 1L,
        g9(dbl(col("a") + col("b")) * dbl(col("c") + col("d")) *
          dbl(col("a") + col("c")) * dbl(col("b") + col("d")) /
          (n * n * (n - lit(1.0))))).otherwise(g9(lit(0.0))))
    val tot = Window.partitionBy()
    val sad = sum(col("ad")).over(tot)
    val sbc = sum(col("bc")).over(tot)
    val se1 = sum(col("e1")).over(tot)
    val sv1 = sum(col("v1")).over(tot)
    val sa = sum(col("a")).over(tot)
    val orMh = when(dbl(sbc) > 0.0, dbl(sad) / dbl(sbc))
    val chi = when(dbl(sv1) > 0.0,
      (dbl(sa) - dbl(se1)) * (dbl(sa) - dbl(se1)) / dbl(sv1))
    terms.select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
      round(orMh, 6).as("or_mh"), round(chi, 6).as("cmh_chi2"))
  }

  /** MOOD'S MEDIAN TEST — "do the groups share a MEDIAN": the coarse,
    * outlier-immune k-group location test beside [[kruskalWallis]]
    * (which uses full rank information) — the right gate when the data
    * are heavy-tailed or censored at the ends. Counts each group's
    * values strictly above the POOLED lower median (exact census order
    * statistic, the [[brownForsythe]] rank lookup) and runs the 2×k
    * contingency χ²: per cell, (O·N − n_g·A)²/(N·n_g·A) over exact
    * integers (the [[srmCheck]] cross-multiplied form), terms once on
    * the 1e-9 grid, decimal-summed. Degenerate splits (all above / none
    * above) emit NULL. Census-domain shuffles only.
    */
  def moodMedian(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val census = df
      .groupBy(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("t"))
    val pooled = census.groupBy(col("v")).agg(sum(col("t")).as("t"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = pooled
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("n", sum(col("t")).over(Window.partitionBy()))
      .filter(col("c") >= expr("(n + 1) div 2"))
      .agg(min(col("v")).as("med"))
    val perGroup = census.crossJoin(broadcast(med))
      .groupBy(col("g"))
      .agg(sum(col("t")).as("n_g"),
        sum(when(col("v") > col("med"), col("t")).otherwise(0L))
          .as("n_above"))
    val tot = Window.partitionBy()
    val staged = perGroup
      .withColumn("nn", sum(col("n_g")).over(tot))
      .withColumn("aa", sum(col("n_above")).over(tot))
      .withColumn("d", col("n_above").cast(d38) * col("nn").cast(d38) -
        col("n_g").cast(d38) * col("aa").cast(d38))
      .withColumn("term",
        when(col("aa") > 0L && col("aa") < col("nn"),
          round(dbl(col("d")) * dbl(col("d")) /
            (dbl(col("nn")) * dbl(col("n_g")) * dbl(col("aa"))), 9)
            .cast(DecimalType(18, 9)) +
          round(dbl(col("d")) * dbl(col("d")) /
            (dbl(col("nn")) * dbl(col("n_g")) *
              dbl(col("nn") - col("aa"))), 9)
            .cast(DecimalType(18, 9))))
    staged
      .withColumn("chi2", sum(col("term")).over(tot))
      .select(col("g"), col("n_g"), col("n_above"),
        round(dbl(col("n_g")) * dbl(col("aa")) / dbl(col("nn")), 6)
          .as("expected_above"),
        round(dbl(col("chi2")), 6).as("chi2"))
  }

  /** COCHRAN'S Q — the k-treatment test for PAIRED BINARY outcomes
    * ("did the same blocks succeed under different treatments"),
    * completing the family the way [[friedman]] completes
    * [[kruskalWallis]]: [[mcnemar]] is its k = 2 special case. Callers
    * supply one row per (block, treatment) with a boolean outcome —
    * complete blocks by contract.
    *
    *   Q = (k−1)·(k·ΣCⱼ² − T²) / (k·T − ΣRᵢ²)
    *
    * with Cⱼ the treatment totals, Rᵢ the block totals, T the grand
    * total — every quantity an exact integer in DECIMAL(38,0), the
    * single division the final pinned-double Q (~χ²(k−1)). Blocks that
    * respond identically under every treatment contribute nothing; if
    * ALL do, the denominator is 0 and Q is NULL rather than 0/0.
    * Treatment-count-sized output; block-sized aggregates only.
    */
  def cochranQ(
      df: DataFrame,
      blockCol: String,
      treatCol: String,
      successCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val rows = df.select(col(blockCol).cast("string").as("b"),
      col(treatCol).cast("string").as("j"),
      when(successCol, 1L).otherwise(0L).as("x"))
    val perT = rows.groupBy(col("j"))
      .agg(count(lit(1)).as("n_b"), sum(col("x")).as("c_j"))
    val bm = rows.groupBy(col("b")).agg(sum(col("x")).as("ri"))
      .agg(sum(col("ri").cast(d38)).as("t"),
        sum(col("ri").cast(d38) * col("ri").cast(d38)).as("sr2"))
    val tot = Window.partitionBy()
    val staged = perT
      .withColumn("kk", count(lit(1)).over(tot).cast(d38))
      .withColumn("sc2",
        sum(col("c_j").cast(d38) * col("c_j").cast(d38)).over(tot))
      .crossJoin(broadcast(bm))
      .withColumn("den", col("kk") * col("t") - col("sr2"))
    val q = (col("kk") - lit(1).cast(d38)).cast("double") *
      dbl(col("kk") * col("sc2") - col("t") * col("t")) / dbl(col("den"))
    staged.select(col("j"), col("n_b"), col("c_j"),
      round(when(col("den") =!= lit(0).cast(d38), q), 6).as("q_stat"))
  }

  /** JONCKHEERE–TERPSTRA trend test — "does the RESPONSE trend across
    * ORDERED groups": the continuous-response sibling of
    * [[cochranArmitage]] (binary response) and the directed alternative
    * [[kruskalWallis]] wastes power on. J = Σ_{i<j} U_ij with U_ij the
    * Mann–Whitney count between group pair (i, j); ties count ½, so the
    * engine carries 2J as a pure integer: over the (group, value) CELL
    * census, every ordered cell pair contributes t₁t₂(2·[v₁<v₂] +
    * [v₁=v₂]). Null moments use the standard tie-corrected variance
    * (three integer component sums from the group and value censuses);
    * Z = (2J − 2E)/(2√Var) is one pinned-double expression.
    *
    * The pair join is census² — the bucketed/categorical contract
    * (q421/q424): callers pass a small-domain response. Output: one row
    * per group with its n and mean rank-free summary (Σv/n), the shared
    * J and Z broadcast on (the mi_total shape).
    */
  def jonckheereTerpstra(
      df: DataFrame,
      scoreCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val cells = df
      .groupBy(col(scoreCol).cast("long").as("g"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("t"))
    val j2 = cells.as("a").join(cells.as("b"), col("a.g") < col("b.g"))
      .agg(coalesce(sum(col("a.t").cast(d38) * col("b.t").cast(d38) *
        (when(col("a.v") < col("b.v"), 2L)
          .when(col("a.v") === col("b.v"), 1L).otherwise(0L)).cast(d38)),
        lit(0).cast(d38)).as("j2"))
    val groups = cells.groupBy(col("g"))
      .agg(sum(col("t")).as("n_g"),
        sum(col("v").cast(d38) * col("t").cast(d38)).as("sv"))
    val gm = groups.agg(
      sum(col("n_g").cast(d38)).as("n"),
      sum(col("n_g").cast(d38) * col("n_g").cast(d38)).as("sn2"),
      sum(col("n_g").cast(d38) * (col("n_g") - 1L).cast(d38)).as("u1"),
      sum(col("n_g").cast(d38) * (col("n_g") - 1L).cast(d38) *
        (lit(2L) * col("n_g") + 5L).cast(d38)).as("u2"),
      sum(col("n_g").cast(d38) * (col("n_g") - 1L).cast(d38) *
        (col("n_g") - 2L).cast(d38)).as("u3"))
    val ties = cells.groupBy(col("v")).agg(sum(col("t")).as("tu"))
      .agg(
        coalesce(sum(col("tu").cast(d38) * (col("tu") - 1L).cast(d38)),
          lit(0).cast(d38)).as("w1"),
        coalesce(sum(col("tu").cast(d38) * (col("tu") - 1L).cast(d38) *
          (lit(2L) * col("tu") + 5L).cast(d38)), lit(0).cast(d38)).as("w2"),
        coalesce(sum(col("tu").cast(d38) * (col("tu") - 1L).cast(d38) *
          (col("tu") - 2L).cast(d38)), lit(0).cast(d38)).as("w3"))
    val n = dbl(col("n"))
    val e2 = (col("n") * col("n") - col("sn2")).cast("double") / lit(2.0)
    val varJ = (n * (n - 1.0) * (lit(2.0) * n + 5.0) - dbl(col("u2")) -
        dbl(col("w2"))) / lit(72.0) +
      dbl(col("u3")) * dbl(col("w3")) /
        (lit(36.0) * n * (n - 1.0) * (n - 2.0)) +
      dbl(col("u1")) * dbl(col("w1")) / (lit(8.0) * n * (n - 1.0))
    val z = (dbl(col("j2")) - e2) / (lit(2.0) * sqrt(varJ))
    groups.crossJoin(broadcast(j2)).crossJoin(broadcast(gm))
      .crossJoin(broadcast(ties))
      .select(col("g"), col("n_g"),
        round(dbl(col("sv")) / dbl(col("n_g")), 6).as("mean_v"),
        (dbl(col("j2")) / 2.0).as("j_stat"),
        round(when(varJ > 0.0, z), 6).as("z"))
  }

  /** BROWN–FORSYTHE test (Levene with median centers) — "do the groups
    * share a VARIANCE": the spread-homogeneity gate the mean tests
    * ([[anovaF]], [[welchTTest]]) assume away, run before pooling or
    * after a treatment that should change dispersion, not level. The
    * robust median-centered variant: z = |x − med_g|, then the one-way
    * F of [[anovaF]] on z.
    *
    * Everything stays on the VALUE CENSUS: per-group medians are exact
    * lower order statistics from a cumulative count (the q394 rank
    * lookup), |x − med| is exact integer cents, and the weighted moment
    * pass feeds the same cross-multiplied F finish as [[anovaF]] (per-
    * group S²/n terms once on the 1e-6 grid, DECIMAL(38,0) sums, one
    * pinned-double ratio at the end — the wide-decimal ulp cancels in
    * the ratio). Group count = k rows out, census-sized shuffles only.
    */
  def brownForsythe(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val census = df
      .groupBy(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("t"))
    val cum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = census
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("n_g", sum(col("t")).over(Window.partitionBy(col("g"))))
    // lower-median rank (n+1) div 2, integer-exact (Column `/` on longs
    // is a double divide — expr's `div` keeps the floor semantics)
    val med = ranked
      .filter(col("c") >= expr("(n_g + 1) div 2"))
      .groupBy(col("g")).agg(min(col("v")).as("med"))
    val z = census.join(med, "g")
      .withColumn("z", abs(col("v") - col("med")))
    val perGroup = z.groupBy(col("g"))
      .agg(sum(col("t")).as("n_g"), max(col("med")).as("med"),
        sum(col("z").cast(d38) * col("t").cast(d38)).as("s_g"),
        sum(col("z").cast(d38) * col("z").cast(d38) * col("t").cast(d38))
          .as("ss_g"))
      .withColumn("term", round(dbl(col("s_g")) * dbl(col("s_g")) /
        dbl(col("n_g")), 6).cast(DecimalType(38, 6)))
    val tot = Window.partitionBy()
    val n = dbl(sum(col("n_g")).over(tot))
    val k = dbl(count(lit(1)).over(tot))
    val s = dbl(sum(col("s_g")).over(tot))
    val ss = dbl(sum(col("ss_g")).over(tot))
    val ssb = dbl(sum(col("term")).over(tot)) - s * s / n
    val ssw = (ss - s * s / n) - ssb
    val f = (ssb / (k - lit(1.0))) / (ssw / (n - k))
    perGroup.select(col("g"), col("n_g"), col("med"),
      round(dbl(col("s_g")) / dbl(col("n_g")), 6).as("mad_mean"),
      round(f, 6).as("bf_stat"))
  }

  /** FRIEDMAN test — the k-treatment test for COMPLETE BLOCK designs
    * ("do the treatments differ when every block sees all of them"):
    * the within-block-ranked sibling of [[kruskalWallis]] (which pools
    * ranks globally and so confounds block effects). Callers supply one
    * row per (block, treatment) — complete blocks, zero-filled via a
    * spine if needed.
    *
    * Ranks are DOUBLED average ranks from the per-block value census
    * (r2 = 2c − t + 1, the [[kruskalWallis]] trick), so every quantity
    * through the tie-corrected statistic
    *   χ² = (k−1)·Σⱼ(2Rⱼ − b(k+1))² / (Σ r2²ᵢⱼ − b·k·(k+1)²)
    * is exact integer arithmetic in DECIMAL(38,0); the single division
    * is the final pinned-double χ². Block-partitioned windows only —
    * the shuffle key is the block, never a global sort.
    */
  def friedman(
      df: DataFrame,
      blockCol: String,
      treatCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val rows = df.select(col(blockCol).cast("long").as("b"),
      col(treatCol).cast("string").as("j"),
      col(valueCol).cast("long").as("v"))
    val census = rows.groupBy(col("b"), col("v")).agg(count(lit(1)).as("t"))
    val cum = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = census
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("r2", lit(2L) * col("c") - col("t") + 1L)
    val withRanks = rows.join(ranked.select(col("b"), col("v"), col("r2")),
      Seq("b", "v"))
    val perTreat = withRanks.groupBy(col("j"))
      .agg(count(lit(1)).as("n_b"),
        sum(col("r2").cast(d38)).as("r2sum"))
    val tot = Window.partitionBy()
    val one = lit(1).cast(d38)
    // Σ r2² over all cells, tie groups weighted by their size
    val sq = ranked.agg(
      sum(col("t").cast(d38) * col("r2").cast(d38) * col("r2").cast(d38))
        .as("r2sq"))
    // staged windows (k then Σdev²) — window expressions can't nest;
    // every frame here is treatment-count-sized, never the input
    val staged = perTreat
      .withColumn("kk", count(lit(1)).over(tot).cast(d38))
      .withColumn("dev",
        col("r2sum") - col("n_b").cast(d38) * (col("kk") + one))
      .withColumn("num", sum(col("dev") * col("dev")).over(tot))
      .crossJoin(broadcast(sq))
      .withColumn("den", col("r2sq") - col("n_b").cast(d38) * col("kk") *
        (col("kk") + one) * (col("kk") + one))
    val chi = (col("kk") - one).cast("double") * dbl(col("num")) /
      dbl(col("den"))
    staged.select(col("j"), col("n_b"),
      (dbl(col("r2sum")) / 2.0).as("rank_sum"),
      round(when(col("den") =!= lit(0).cast(d38), chi), 6).as("chi2"))
  }

  /** DELTA-METHOD RATIO z-TEST — the A/B readout for RATIO metrics
    * (revenue per session, clicks per view) where the naive per-row
    * t-test is statistically WRONG: the unit of randomization is the
    * user, numerator and denominator are correlated within a user, and
    * only the delta method prices that in: Var(x̄/ȳ) ≈ (s²_x + R²s²_y −
    * 2R·s_xy)/(n·ȳ²). Inputs are PER-UNIT aggregates (x = numerator,
    * y = denominator per unit); one conditional-moment pass computes
    * both arms' n, Σx, Σy, Σx², Σy², Σxy exactly in DECIMAL(38,0)
    * (integer contract), and the ratio/variance/z finish is pinned
    * doubles rounded once. NULL z when a denominator or variance
    * degenerates.
    */
  def ratioDeltaZ(
      units: DataFrame,
      xCol: String,
      yCol: String,
      armACol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val x = col(xCol).cast("long").cast(d38)
    val y = col(yCol).cast("long").cast(d38)
    def side(p: Column, c: Column, nm: String): Column =
      sum(when(p, c).otherwise(lit(0).cast(d38))).as(nm)
    val agg = units.agg(
      sum(when(armACol, 1L).otherwise(0L)).as("n_a"),
      sum(when(!armACol, 1L).otherwise(0L)).as("n_b"),
      side(armACol, x, "sxa"), side(!armACol, x, "sxb"),
      side(armACol, y, "sya"), side(!armACol, y, "syb"),
      side(armACol, x * x, "sxxa"), side(!armACol, x * x, "sxxb"),
      side(armACol, y * y, "syya"), side(!armACol, y * y, "syyb"),
      side(armACol, x * y, "sxya"), side(!armACol, x * y, "sxyb"))
    def arm(n: String, sx: String, sy: String, sxx: String, syy: String,
        sxy: String): (Column, Column) = {
      val nD = dbl(col(n))
      val r = dbl(col(sx)) / dbl(col(sy))
      val ybar = dbl(col(sy)) / nD
      // sample (co)variances over the exact moments, pinned order
      val vx = (nD * dbl(col(sxx)) - dbl(col(sx)) * dbl(col(sx))) /
        (nD * (nD - 1.0))
      val vy = (nD * dbl(col(syy)) - dbl(col(sy)) * dbl(col(sy))) /
        (nD * (nD - 1.0))
      val cxy = (nD * dbl(col(sxy)) - dbl(col(sx)) * dbl(col(sy))) /
        (nD * (nD - 1.0))
      val varR = (vx + r * r * vy - lit(2.0) * r * cxy) / (nD * ybar * ybar)
      (r, varR)
    }
    val (ra, va) = arm("n_a", "sxa", "sya", "sxxa", "syya", "sxya")
    val (rb, vb) = arm("n_b", "sxb", "syb", "sxxb", "syyb", "sxyb")
    val ok = col("n_a") > 1L && col("n_b") > 1L &&
      col("sya") =!= lit(0).cast(d38) && col("syb") =!= lit(0).cast(d38)
    agg.select(col("n_a"), col("n_b"),
      when(ok, round(ra, 6)).as("ratio_a"),
      when(ok, round(rb, 6)).as("ratio_b"),
      when(ok && va + vb > 0.0, round((ra - rb) / sqrt(va + vb), 6)).as("z"))
  }

  /** TOP MOVERS — the period-over-period "heavy changers" monitor: which
    * keys' activity shifted most between two slices (yesterday vs today,
    * pre vs post deploy), the question a plain q13 top-k by volume never
    * answers (a stable heavy hitter isn't news; a quiet key that tripled
    * is). One conditional census per key, then the GLOBAL top-k by
    * |Δ| cut with the map-side bounded [[graft.functions.Aggregators
    * .TopK]] — ≤ k rows per partition cross the shuffle, never the key
    * domain (the q203 discipline; a rank window here would single-task
    * sort every key). Ties break by key ascending; the census
    * localCheckpoints because the winners join back for their counts.
    */
  def topMovers(
      df: DataFrame,
      keyCol: String,
      isCurrCol: Column,
      k: Int): DataFrame =
    topMoversFromCensus(
      df.groupBy(col(keyCol).cast("long").as("key"))
        .agg(sum(when(isCurrCol, 0L).otherwise(1L)).as("n_prev"),
          sum(when(isCurrCol, 1L).otherwise(0L)).as("n_curr")), k)

  /** [[topMovers]] computed from a (key, n_prev, n_curr) CENSUS — rows
    * of partials (e.g. the streaming store's per-batch commits). Counts
    * ADD, so however the partials were batched the merged census — and
    * every output bit — equals the one-pass [[topMovers]] over the raw
    * rows; that is what lets the streaming surface share the batch
    * oracle verbatim.
    */
  def topMoversFromCensus(censusDf: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 10000, s"unreasonable top-k $k")
    val census = censusDf
      .groupBy(col("key").cast("long").as("key"))
      .agg(sum(col("n_prev")).as("n_prev"), sum(col("n_curr")).as("n_curr"))
      .withColumn("delta", col("n_curr") - col("n_prev"))
      .localCheckpoint(true)
    val top = census
      .agg(graft.functions.Aggregators.topK(k)(
        abs(col("delta")).cast("double"), col("key")).as("tk"))
      .select(posexplode(col("tk")).as(Seq("i", "p")))
      .select((col("i") + 1).cast("long").as("rank"),
        col("p._2").as("__key"))
    top.join(census, col("__key") === col("key"))
      .select(col("rank"), col("key"), col("n_prev"), col("n_curr"),
        col("delta"))
  }

  /** ANSARI–BRADLEY test — the RANK test for equal DISPERSION: scores
    * min(r, N+1−r) grow toward the middle of the pooled ordering, so a
    * sample squeezed into the center scores high and one pushed to the
    * tails scores low — the nonparametric sibling of q428's
    * Brown–Forsythe and q477's Bartlett that needs no variance to exist
    * at all. Tie-robust via the general linear-rank form: per tie run
    * the EXACT integer score sum S_g has a closed form (the min() split
    * of the arithmetic series at k = ⌊(N+1)/2⌋), averaged scores enter
    * A = Σ n_Ag·S_g/t_g and the score second moment Σ S_g²/t_g as
    * 1e-9-grid decimals (order-independent), and z uses the exact
    * without-replacement variance n_a·n_b·Σ(a−ā)²/(N(N−1)). Value-domain
    * census shape — never a per-row sort (the [[mannWhitney]] contract).
    */
  def ansariBradley(
      df: DataFrame,
      valueCol: String,
      sampleACol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val byValue = df
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(sum(when(sampleACol, 1L).otherwise(0L)).as("na"),
        count(lit(1)).as("t"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    def d(c: Column): Column = c.cast(d38)
    val staged = byValue
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("nn", sum(col("t")).over(tot))
      .withColumn("lo", col("c") - col("t") + 1L)
      .withColumn("k", expr("(nn + 1) div 2"))
      // DOUBLED score sums — no division anywhere in the exact path:
      // ascending half 2·Σr = (lo+h1)(h1−lo+1) over r in [lo, min(c,k)]
      .withColumn("h1", least(col("c"), col("k")))
      .withColumn("s1", when(col("lo") <= col("h1"),
        (d(col("lo")) + d(col("h1"))) * (d(col("h1")) - d(col("lo")) + 1))
        .otherwise(lit(0).cast(d38)))
      // descending half 2·Σ(N+1−r) over r in [max(lo,k+1), c]
      .withColumn("l2", greatest(col("lo"), col("k") + 1L))
      .withColumn("s2", when(col("l2") <= col("c"),
        d(col("nn") + 1L) * (d(col("c")) - d(col("l2")) + 1) * 2 -
          (d(col("l2")) + d(col("c"))) * (d(col("c")) - d(col("l2")) + 1))
        .otherwise(lit(0).cast(d38)))
      .withColumn("sg2", col("s1") + col("s2")) // = 2·S_g, exact
    def dbl(c: Column): Column = c.cast("double")
    val agg = staged.agg(
      sum(col("na")).as("n_a"),
      sum(col("t") - col("na")).as("n_b"),
      sum(col("t")).as("n"),
      sum(col("sg2")).as("m1x2"),
      sum(round(dbl(col("sg2")) * dbl(col("sg2")) / (lit(4.0) * dbl(col("t"))), 9)
        .cast(DecimalType(28, 9))).as("m2"),
      sum(round(dbl(col("na")) * dbl(col("sg2")) / (lit(2.0) * dbl(col("t"))), 9)
        .cast(DecimalType(28, 9))).as("ab"))
    val nD = dbl(col("n"))
    val abar = dbl(col("m1x2")) / (lit(2.0) * nD)
    val varNum = dbl(col("m2")) - nD * abar * abar
    val v = dbl(col("n_a")) * dbl(col("n_b")) / (nD * (nD - 1.0)) * varNum
    agg.select(col("n_a"), col("n_b"),
      dbl(col("ab")).as("ab_stat"),
      round(when(v > 0.0,
        (dbl(col("ab")) - dbl(col("n_a")) * abar) / sqrt(v)), 6).as("z"))
  }

  /** WILCOXON SIGNED-RANK test — the PAIRED sibling of [[mannWhitney]]'s
    * two-sample rank test: per subject, did the value systematically move
    * between two paired measurements (before/after, year-over-year),
    * robust to outliers and any monotone transform where q362's Welch-t
    * assumes a mean. Zero differences drop before ranking (the standard
    * Wilcoxon treatment, reported as `n_zero`); |d| ranks come from a
    * cumulative window over the VALUE-DOMAIN census (never a per-row
    * sort — the [[mannWhitney]] 100 TB formulation), with doubled average
    * ranks (2·avg = 2c − t + 1, always integral). W⁺ and the tie term
    * Σ(t³−t) accumulate exactly in DECIMAL(38,0); only the final z =
    * (2W⁺ − n(n+1)/2) / 2σ is double, evaluated in pinned order with the
    * tie-corrected σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 and rounded to 1e-6.
    * Input contract: one row per subject, `aCol`/`bCol` integer-valued
    * (cents discipline).
    */
  def wilcoxonSignedRank(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val diffs = pairs
      .select((col(aCol).cast("long") - col(bCol).cast("long")).as("d"))
    // one census over the |d| domain; the d=0 row stays visible so the
    // dropped-pair count comes from the same pass, but never enters ranks
    val census = diffs
      .groupBy(abs(col("d")).as("ad"))
      .agg(sum(when(col("d") > 0L, 1L).otherwise(0L)).as("npos"),
        count(lit(1)).as("t"))
    val zeros = census.filter(col("ad") === 0L)
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_zero"))
    val cum = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = census.filter(col("ad") > 0L)
      .withColumn("c", sum(col("t")).over(cum))
      .withColumn("r2", lit(2L) * col("c") - col("t") + 1L)
    val agg = ranked.agg(
      sum(col("t")).as("n"),
      sum(col("npos").cast(d38) * col("r2").cast(d38)).as("w2"),
      sum(col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38) -
        col("t").cast(d38)).as("ties"))
    def dbl(c: Column): Column = c.cast("double")
    val n = dbl(col("n"))
    val sig2 = n * (n + lit(1.0)) * (lit(2.0) * n + lit(1.0)) / 24.0 -
      dbl(col("ties")) / 48.0
    val z = (dbl(col("w2")) - n * (n + lit(1.0)) / 2.0) /
      (lit(2.0) * sqrt(sig2))
    agg.crossJoin(broadcast(zeros)).select(
      coalesce(col("n"), lit(0L)).as("n_pairs"), col("n_zero"),
      when(col("n") > 0L, dbl(col("w2")) / 2.0).as("w_plus"),
      when(col("n") > 0L, round(z, 6)).as("z"))
  }

  /** PROPORTION EFFECT SIZES on a 2×2 — the "how big and in what
    * units" readout beside the q283 z-test's verdict: risk difference,
    * risk RATIO with its Katz log-CI, ODDS ratio with its Woolf log-CI,
    * and Cohen's h (the arcsine-stabilized difference whose magnitude
    * is comparable across baseline rates — a 1pp lift means a very
    * different thing at 2% than at 50%, and h is the number that says
    * so). One conditional census (four exact integer cells); every
    * statistic is O(1) double arithmetic over those integers with the
    * log terms pinned on the 1e-9 grid before the exp re-expansion so
    * both engines walk identical CI bounds. Degenerate cells NULL their
    * family (zero conversions → no ratio CI; an empty 2×2 cell → no
    * odds ratio) instead of emitting infinities.
    */
  def propEffects(
      df: DataFrame,
      armACol: Column,
      convCol: Column): DataFrame = {
    val conv = convCol.cast("long")
    propEffectsFromCells(df.agg(
      sum(when(armACol, 1L).otherwise(0L)).as("n_a"),
      sum(when(!armACol, 1L).otherwise(0L)).as("n_b"),
      sum(when(armACol, conv).otherwise(0L)).as("conv_a"),
      sum(when(!armACol, conv).otherwise(0L)).as("conv_b")))
  }

  /** [[propEffects]] from (n_a, n_b, conv_a, conv_b) cell PARTIALS —
    * the four 2×2 cells add across batches, so a streaming store's
    * drained census reads identically to the one-pass path and shares
    * the batch oracle verbatim.
    */
  def propEffectsFromCells(cells: DataFrame): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val cen = cells.agg(
      sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"),
      sum(col("conv_a")).as("conv_a"), sum(col("conv_b")).as("conv_b"))
    val a = dbl(col("conv_a")); val b = dbl(col("n_a") - col("conv_a"))
    val c = dbl(col("conv_b")); val d = dbl(col("n_b") - col("conv_b"))
    val na = dbl(col("n_a")); val nb = dbl(col("n_b"))
    val pa = a / na; val pb = c / nb
    // Katz: se(ln RR) = sqrt(1/a - 1/n_a + 1/c - 1/n_b); defined when
    // both arms converted at least once
    val rrOk = col("conv_a") > 0L && col("conv_b") > 0L
    val lrr = round(log(pa / pb), 9)
    val seRr = round(sqrt(lit(1.0) / a - lit(1.0) / na +
      lit(1.0) / c - lit(1.0) / nb), 9)
    // Woolf: se(ln OR) = sqrt(1/a + 1/b + 1/c + 1/d); all four cells > 0
    val orOk = col("conv_a") > 0L && col("conv_b") > 0L &&
      col("n_a") > col("conv_a") && col("n_b") > col("conv_b")
    val lor = round(log(a * d / (b * c)), 9)
    val seOr = round(sqrt(lit(1.0) / a + lit(1.0) / b +
      lit(1.0) / c + lit(1.0) / d), 9)
    cen.filter(col("n_a") > 0L && col("n_b") > 0L).select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round(pa - pb, 6).as("risk_diff"),
      when(rrOk, round(pa / pb, 6)).as("risk_ratio"),
      when(rrOk, round(exp(lrr - lit(1.96) * seRr), 6)).as("rr_lo"),
      when(rrOk, round(exp(lrr + lit(1.96) * seRr), 6)).as("rr_hi"),
      when(orOk, round(a * d / (b * c), 6)).as("odds_ratio"),
      when(orOk, round(exp(lor - lit(1.96) * seOr), 6)).as("or_lo"),
      when(orOk, round(exp(lor + lit(1.96) * seOr), 6)).as("or_hi"),
      round(lit(2.0) * (asin(sqrt(pa)) - asin(sqrt(pb))), 6)
        .as("cohens_h"))
  }

  /** CATEGORICAL DISTRIBUTION DISTANCES between every pair of groups —
    * total variation, Hellinger, and the Bhattacharyya
    * coefficient/distance over each group's category mix: the
    * categorical-domain member of the distance family beside q385's KS
    * supremum, q470's CvM L2 and q541's W1 transport (none of which
    * apply when the domain has no order). TVD is the worst-case
    * probability gap any event sees; Hellinger is the proper metric
    * that saturates more slowly; BC is the overlap mass. One
    * (group, category) census; shares pin on the 1e-9 grid; the pair
    * sweep runs on the category-domain grid (groups × categories —
    * bounded however large the corpus), never on rows.
    */
  def categoricalDistances(
      df: DataFrame,
      groupCol: String,
      catCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d189 = DecimalType(18, 9)
    val d289 = DecimalType(28, 9)
    val cen = df.select(col(groupCol).cast("string").as("g"),
        col(catCol).cast("string").as("cat"))
      .groupBy(col("g"), col("cat")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // census-sized: grid + totals + pair sweep
    val tots = cen.groupBy(col("g")).agg(sum(col("n")).as("tot"))
    val grid = cen.select(col("g")).distinct()
      .crossJoin(cen.select(col("cat")).distinct())
      .join(cen, Seq("g", "cat"), "left")
      .join(broadcast(tots), Seq("g"))
      .select(col("g"), col("cat"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("n"), lit(0L)).cast("double") /
          col("tot").cast("double"), 9).cast(d189).as("p"))
    val a = grid.select(col("g").as("g_a"), col("cat"),
      col("n").as("na"), col("p").as("pa"))
    val b = grid.select(col("g").as("g_b"), col("cat"),
      col("n").as("nb"), col("p").as("pb"))
    val hellTerm = round((sqrt(dbl(col("pa"))) - sqrt(dbl(col("pb")))) *
      (sqrt(dbl(col("pa"))) - sqrt(dbl(col("pb")))), 9).cast(d289)
    val bcTerm = round(sqrt(dbl(col("pa")) * dbl(col("pb"))), 9).cast(d289)
    val pairs = a.join(b, Seq("cat")).filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(sum(when(col("na") > 0L || col("nb") > 0L, 1L).otherwise(0L))
        .as("n_cats"),
        sum(abs(col("pa") - col("pb"))).as("__l1"),
        sum(hellTerm).as("__h2"), sum(bcTerm).as("__bc"))
    val bc = dbl(col("__bc"))
    pairs.select(col("g_a"), col("g_b"), col("n_cats"),
      round(dbl(col("__l1")) / 2.0, 6).as("tvd"),
      round(sqrt(dbl(col("__h2")) / 2.0), 6).as("hellinger"),
      round(bc, 6).as("bc"),
      when(bc > 0.0, round(-log(least(bc, lit(1.0))), 6))
        .as("b_dist"))
      .orderBy(col("g_a"), col("g_b"))
  }

  /** MURPHY DECOMPOSITION of the Brier score — WHY a forecast is bad:
    * Brier ≈ reliability − resolution + uncertainty splits the q288
    * ECE story into the three levers (reliability = how far each bin's
    * claimed probability sits from its realized rate — fixable by
    * recalibration; resolution = how much the bins actually separate
    * outcomes — fixable only by a better model; uncertainty = the
    * outcome's own variance — not fixable at all). ECE says "off by
    * 0.07"; this says whether remapping scores can help or the model
    * just can't discriminate. The exact Brier is ALSO emitted from its
    * own row pass so the binned decomposition's approximation error is
    * visible, not hidden. One row pass + one K-bin census; every
    * squared term lands once on the 1e-9 grid before an
    * order-independent decimal sum, the score sum itself is an exact
    * decimal. Empty input yields no row rather than 0/0.
    */
  def brierDecomposition(
      df: DataFrame,
      scoreCol: Column,
      outcomeCol: Column,
      nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val rows = df.select(scoreCol.as("p"), outcomeCol.cast("long").as("o"))
      .withColumn("bin",
        least(floor(col("p") * nBins).cast("long"), lit(nBins - 1L)))
    val bins = rows.groupBy(col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("o")).as("posk"),
        sum(col("p")).as("psum"),
        sum(round((dbl(col("p")) - dbl(col("o"))) *
          (dbl(col("p")) - dbl(col("o"))), 9).cast(d289)).as("sq"))
      .localCheckpoint(true) // K rows: totals + the two sweeps reuse it
    val tot = bins.agg(sum(col("nk")).as("n"), sum(col("posk")).as("pos"),
      sum(col("sq")).as("sqsum"))
    val obar = dbl(col("pos")) / dbl(col("n"))
    val terms = bins.crossJoin(broadcast(tot))
      .select(col("n"), col("pos"), col("sqsum"),
        round(dbl(col("nk")) *
          (dbl(col("psum")) / dbl(col("nk")) -
            dbl(col("posk")) / dbl(col("nk"))) *
          (dbl(col("psum")) / dbl(col("nk")) -
            dbl(col("posk")) / dbl(col("nk"))), 9).cast(d289).as("rel_t"),
        round(dbl(col("nk")) *
          (dbl(col("posk")) / dbl(col("nk")) - obar) *
          (dbl(col("posk")) / dbl(col("nk")) - obar), 9).cast(d289)
          .as("res_t"))
    terms.groupBy(col("n"), col("pos"), col("sqsum"))
      .agg(count(lit(1)).as("n_bins"), sum(col("rel_t")).as("rel"),
        sum(col("res_t")).as("res"))
      .select(col("n"), col("n_bins"),
        round(dbl(col("sqsum")) / dbl(col("n")), 6).as("brier"),
        round(dbl(col("rel")) / dbl(col("n")), 6).as("reliability"),
        round(dbl(col("res")) / dbl(col("n")), 6).as("resolution"),
        round(obar * (lit(1.0) - obar), 6).as("uncertainty"),
        round(dbl(col("rel")) / dbl(col("n")) -
          dbl(col("res")) / dbl(col("n")) +
          obar * (lit(1.0) - obar), 6).as("brier_decomp"))
  }

  /** HOSMER–LEMESHOW calibration TEST — the χ² companion to q288's
    * ECE magnitude and q570's decomposition: over score bins, HL =
    * Σ (O_k − n_k·p̄_k)² / (n_k·p̄_k·(1−p̄_k)) with df = bins − 2 —
    * the number you compare to a χ² table to say "this model's
    * claimed probabilities are statistically inconsistent with its
    * outcomes", which the descriptive meters can't. Bins whose mean
    * score saturates (p̄ ∈ {0,1} — a zero chance-variance cell) carry
    * no information and are EXCLUDED AND COUNTED, not silently
    * absorbed. One K-bin census over the scored frame; each bin's
    * term lands once on the 1e-9 grid.
    */
  def hosmerLemeshow(
      df: DataFrame,
      scoreCol: Column,
      outcomeCol: Column,
      nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val bins = df.select(scoreCol.as("p"), outcomeCol.cast("long").as("o"))
      .withColumn("bin",
        least(floor(col("p") * nBins).cast("long"), lit(nBins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("o")).as("ok"),
        sum(col("p")).as("psum"))
    val pb = dbl(col("psum")) / dbl(col("nk"))
    val ek = dbl(col("nk")) * pb
    val usable = pb > 0.0 && pb < 1.0
    val term = round((dbl(col("ok")) - ek) * (dbl(col("ok")) - ek) /
      (ek * (lit(1.0) - pb)), 9).cast(d289)
    bins.agg(sum(col("nk")).as("n"),
      sum(when(usable, 1L).otherwise(0L)).as("n_bins"),
      sum(when(!usable, 1L).otherwise(0L)).as("n_dropped"),
      sum(when(usable, term)).as("hl"))
      .select(col("n"), col("n_bins"), col("n_dropped"),
        when(col("n_bins") > 2L, col("n_bins") - 2L).as("df"),
        when(col("n_bins") > 2L, round(dbl(col("hl")), 6)).as("hl_chi2"))
  }

  /** POISSON GOODNESS-OF-FIT on the user-day ACTIVITY MATRIX — "is
    * per-user daily volume Poisson noise, or does the corpus hide
    * burst/heavy-user structure": the full users×days grid (zeros
    * INCLUDED — the observed-rows-only version silently fits a
    * zero-truncated model and always looks overdispersed), λ from the
    * exact grand mean, expected cell masses from the pmf recursion
    * pmf(k) = pmf(k−1)·λ/k with every step pinned at 1e-12 (so both
    * engines walk identical masses — no k! overflow, no lgamma), a
    * closing TAIL cell absorbing the remaining mass, and χ² over the
    * count-domain census. The distribution-SHAPE companion to q456's
    * single-number variance-mean ratio. Cells run k = 0..`kMax` then
    * tail; the count census is bounded by the count domain.
    */
  def poissonGof(
      df: DataFrame,
      userCol: Column,
      dayCol: Column,
      kMax: Int = 30): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val dd = df.select(userCol.as("u"), dayCol.cast("long").as("d"))
    val perCell = dd.groupBy(col("u"), col("d")).agg(count(lit(1)).as("k"))
      .localCheckpoint(true) // totals + the k-census read it
    val users = dd.select(col("u")).distinct().count()
    val days = dd.select(col("d")).distinct().count()
    val grid = users * days
    val tot = perCell.agg(sum(col("k")).as("ev"),
      count(lit(1)).as("nonzero")).head()
    val events = tot.getLong(0)
    val lambda = events.toDouble / grid.toDouble
    // the pinned pmf ladder, built once on the driver (kMax entries)
    def rnd12(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
    val pmf = new Array[Double](kMax + 1)
    pmf(0) = rnd12(math.exp(-lambda))
    (1 to kMax).foreach(k => pmf(k) = rnd12(pmf(k - 1) * lambda / k))
    // the grid masses are exact 1e-12 decimals: sum them exactly so
    // the tail matches the oracle's decimal sum bit for bit
    val pmfMass = pmf.foldLeft(java.math.BigDecimal.ZERO)((a, p) =>
      a.add(java.math.BigDecimal.valueOf(p)
        .setScale(12, java.math.RoundingMode.HALF_UP)))
    val tail = math.max(0.0,
      java.math.BigDecimal.ONE.subtract(pmfMass).doubleValue)
    val kCensus = perCell.groupBy(col("k")).agg(count(lit(1)).as("obs"))
    val spark = df.sparkSession
    import spark.implicits._
    val expected = (0 to kMax).map(k =>
      (k.toLong, rnd12(grid.toDouble * pmf(k)))) :+
      (kMax + 1L, rnd12(grid.toDouble * tail))
    val expDf = expected.toDF("cell", "e")
    val zeros = grid - tot.getLong(1)
    val obs = kCensus
      .select(least(col("k"), lit(kMax + 1L)).as("cell"), col("obs"))
      .unionByName(Seq((0L, zeros)).toDF("cell", "obs"))
      .groupBy(col("cell")).agg(sum(col("obs")).as("obs"))
    val joined = expDf.join(obs, Seq("cell"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .filter(col("e") > 0.0)
    val term = round((dbl(col("obs")) - col("e")) *
      (dbl(col("obs")) - col("e")) / col("e"), 9).cast(d289)
    joined.agg(count(lit(1)).as("n_cells"), sum(term).as("chi2s"))
      .select(lit(grid).as("n_grid"), lit(events).as("n_events"),
        round(lit(lambda), 6).as("lambda"), col("n_cells"),
        (col("n_cells") - 2L).as("df"),
        round(dbl(col("chi2s")), 6).as("chi2"))
  }

  /** INCIDENCE-RATE RATIOS vs a baseline group — the
    * exposure-normalized comparison the raw 2×2 can't make: each
    * group's rate is events per ACTIVE exposure unit (its own distinct
    * hours), so a type that fires 3× as often but was only live a
    * third of the time reads flat. IRR = rate_g/rate_base with the
    * Poisson log-CI (se = √(1/n_g + 1/n_base) — exposure enters the
    * point estimate, counts alone the variance) and the Wald z — the
    * epidemiology-shelf member beside q563's proportion family. One
    * census (count + distinct-exposure per group), O(groups) double
    * arithmetic after, log terms pinned at 1e-9 before the exp
    * re-expansion. Zero-count groups NULL their CI/z, the baseline row
    * is the reference and not emitted.
    */
  def incidenceRates(
      df: DataFrame,
      groupCol: String,
      exposureCol: String,
      baseline: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val cen = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col(exposureCol)).as("h"))
      .localCheckpoint(true) // group census: baseline + others read it
    val base = cen.filter(col("g") === baseline)
      .select(col("n").as("n0"), col("h").as("h0"))
    val rate = dbl(col("n")) / dbl(col("h"))
    val rate0 = dbl(col("n0")) / dbl(col("h0"))
    val ok = col("n") > 0L && col("n0") > 0L
    val lirr = round(log(rate / rate0), 9)
    val se = round(sqrt(lit(1.0) / dbl(col("n")) +
      lit(1.0) / dbl(col("n0"))), 9)
    cen.filter(col("g") =!= baseline).crossJoin(broadcast(base))
      .select(col("g").as(groupCol), col("n"), col("h").as("exposure"),
        round(rate, 6).as("rate"),
        when(ok, round(rate / rate0, 6)).as("irr"),
        when(ok, round(exp(lirr - lit(1.96) * se), 6)).as("irr_lo"),
        when(ok, round(exp(lirr + lit(1.96) * se), 6)).as("irr_hi"),
        when(ok, round(lirr / se, 6)).as("z"))
  }

  /** DIRECT + INDIRECT RATE STANDARDIZATION — the "adjust for the mix
    * before comparing" meter: two cohorts' crude event rates differ
    * partly because their STRATUM mixes differ (one cohort skews
    * toward high-error hours), and the standardized rate re-weights
    * each cohort's stratum rates by ONE standard population (the
    * pooled stratum sizes) so the mix cancels — the
    * rate-domain sibling of q443's Mantel–Haenszel odds pooling and
    * q462's post-stratified mean. Also emits the SMR (observed over
    * expected-at-pooled-rates — the indirect form that stays stable
    * when a cohort's small strata make direct weights noisy). One
    * (group, stratum) census; every weight term lands once on the
    * 1e-9 grid before order-independent decimal sums; a group's
    * standardized rate averages over the strata IT observed (absent
    * strata contribute no weight — documented, not silent).
    */
  def directStandardization(
      df: DataFrame,
      groupCol: Column,
      stratumCol: Column,
      eventCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val cen = df.select(groupCol.cast("string").as("g"),
        stratumCol.cast("long").as("s"), eventCol.cast("long").as("e"))
      .groupBy(col("g"), col("s"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("ev"))
      .localCheckpoint(true) // standard pop + both sweeps read it
    val std = cen.groupBy(col("s"))
      .agg(sum(col("n")).as("ns"), sum(col("ev")).as("es"))
    val joined = cen.join(broadcast(std), Seq("s"))
    val dirTerm = round(dbl(col("ns")) * (dbl(col("ev")) / dbl(col("n"))), 9)
      .cast(d289)
    val expTerm = round(dbl(col("n")) * (dbl(col("es")) / dbl(col("ns"))), 9)
      .cast(d289)
    val byG = joined.groupBy(col("g"))
      .agg(sum(col("n")).as("n"), sum(col("ev")).as("events"),
        sum(col("ns")).as("wsum"), sum(dirTerm).as("dirs"),
        sum(expTerm).as("expected"))
    byG.select(col("g").as("cohort"), col("n"), col("events"),
      round(dbl(col("events")) / dbl(col("n")), 6).as("crude_rate"),
      round(dbl(col("dirs")) / dbl(col("wsum")), 6).as("std_rate"),
      when(dbl(col("expected")) > 0.0,
        round(dbl(col("events")) / dbl(col("expected")), 6)).as("smr"))
  }

  /** OVERLAP COEFFICIENT between two arms' binned score distributions
    * — the COMMON-SUPPORT audit every propensity/matching method
    * assumes and rarely checks: OVL = Σ_bins min(share_a, share_b) is
    * the probability mass where the two groups actually coexist;
    * OVL → 0 means the score separates the groups perfectly and any
    * "controlling for it" is extrapolation, not adjustment (the
    * distributional companion to q453's per-covariate SMD balance).
    * One K-bin × 2-arm census; shares pin at 1e-9 and the min-mass
    * sums as exact decimals. Degenerate arms (one side empty) read
    * NULL.
    */
  def overlapCoefficient(
      df: DataFrame,
      scoreCol: Column,
      armACol: Column,
      nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d189 = DecimalType(18, 9)
    val bins = df.select(scoreCol.as("p"), armACol.as("isa"))
      .withColumn("bin",
        least(floor(col("p") * nBins).cast("long"), lit(nBins - 1L)))
      .groupBy(col("bin"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
      .localCheckpoint(true) // totals + the min sweep read it
    val tot = bins.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val withShares = bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("na"), col("nb"),
        when(col("na") > 0L, round(dbl(col("ca")) / dbl(col("na")), 9))
          .otherwise(lit(0.0)).cast(d189).as("sa"),
        when(col("nb") > 0L, round(dbl(col("cb")) / dbl(col("nb")), 9))
          .otherwise(lit(0.0)).cast(d189).as("sb"))
    withShares.groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_bins"),
        sum(least(col("sa"), col("sb"))).as("ovl"))
      .select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"), col("n_bins"),
        when(col("na") > 0L && col("nb") > 0L,
          round(dbl(col("ovl")), 6)).as("overlap"))
  }

  /** KENDALL'S W — coefficient of concordance for m raters RANKING n
    * items: do the daily volume leaderboards actually agree, or is
    * yesterday's #1 today's #4? The ordinal-RANKING member of the
    * agreement shelf (q447/q581 score categorical labels, q532 fixed
    * panels; W scores whole orderings, with the Friedman-equivalent
    * χ²_r = m(n−1)W as its verdict). Tie-averaged ranks with the
    * classic ΣT = Σ(t³−t) correction; ranks are carried DOUBLED
    * (2·minrank + t − 1) so every sum stays an exact integer — S
    * appears ×4 and cancels against the ×4 in the denominator
    * algebraically (W = 3·S₄/denominator). FULL rater×item spine
    * (an item a rater never saw ranks last at score 0, it doesn't
    * vanish). One (rater, item) census; rank windows partition by
    * rater over the item domain.
    */
  def kendallW(
      df: DataFrame,
      raterCol: Column,
      itemCol: Column,
      scoreCol: Column): DataFrame =
    kendallWFromCensus(df.select(raterCol.cast("string").as("r"),
        itemCol.cast("string").as("it"), scoreCol.cast("long").as("sc"))
      .groupBy(col("r"), col("it")).agg(sum(col("sc")).as("s")))

  /** [[kendallW]] from an (r, it, s) score census — scores ADD across
    * batches, so a streaming store's drained concordance reads
    * identically to the one-pass path and shares the batch oracle
    * verbatim.
    */
  def kendallWFromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val cen = censusDf.groupBy(col("r"), col("it"))
      .agg(sum(col("s")).as("s"))
      .localCheckpoint(true) // spine + ranks + tie masses read it
    val spine = cen.select(col("r")).distinct()
      .crossJoin(cen.select(col("it")).distinct())
    val full = spine.join(cen, Seq("r", "it"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
    val byRater = Window.partitionBy(col("r")).orderBy(col("s"))
    val ranked = full
      .withColumn("minrank", rank().over(byRater).cast("long"))
      .withColumn("t", count(lit(1)).over(
        Window.partitionBy(col("r"), col("s"))))
      .withColumn("r2", lit(2L) * col("minrank") + col("t") - 1L)
    val dims = ranked.agg(countDistinct(col("r")).as("m"),
      countDistinct(col("it")).as("n"))
    val ties = ranked.select(col("r"), col("s"), col("t")).distinct()
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
        lit(0L)).as("tsum"))
    val rsum = ranked.groupBy(col("it")).agg(sum(col("r2")).as("rr2"))
    val s4 = rsum.crossJoin(broadcast(dims))
      .select(((col("rr2") - col("m") * (col("n") + 1L)) *
        (col("rr2") - col("m") * (col("n") + 1L))).cast(d38).as("sq"))
      .agg(sum(col("sq")).as("s4"))
    val denom = dbl(col("m")) * dbl(col("m")) *
      (dbl(col("n")) * dbl(col("n")) * dbl(col("n")) - dbl(col("n"))) -
      dbl(col("m")) * dbl(col("tsum"))
    val w = lit(3.0) * dbl(col("s4")) / denom
    s4.crossJoin(broadcast(dims)).crossJoin(broadcast(ties))
      .select(col("m").cast("long").as("m"), col("n").cast("long").as("n"),
        when(denom > 0.0, round(w, 6)).as("kendall_w"),
        when(denom > 0.0,
          round(dbl(col("m")) * (dbl(col("n")) - 1.0) * w, 6))
          .as("friedman_chi2"))
  }

  /** DISPROPORTIONALITY SCREEN (PRR/ROR) — pharmacovigilance's
    * cell-sweep pointed at any (segment, outcome) table: for EVERY
    * cell, the proportional reporting ratio (its outcome share vs all
    * other segments' pooled share) and the reporting odds ratio with
    * its Woolf CI, plus the classic signal gate (a ≥ `minCell` and
    * PRR ≥ `prrGate` and CI floor > 1). The ratio-scaled sibling of
    * q599's adjusted residuals: residuals rank surprise in σ units,
    * PRR says "3.4× the background rate", which is the number an
    * incident review quotes. One contingency census; each cell's 2×2
    * derives from the margins by subtraction (exact integers), the CI
    * log terms pin at 1e-9. Degenerate complements NULL their
    * family.
    */
  def disproportionality(
      df: DataFrame,
      segmentCol: Column,
      outcomeCol: Column,
      minCell: Long = 3L,
      prrGate: Double = 2.0): DataFrame =
    disproportionalityFromCensus(
      df.select(segmentCol.cast("string").as("seg"),
          outcomeCol.cast("string").as("out"))
        .groupBy(col("seg"), col("out")).agg(count(lit(1)).as("a")),
      minCell, prrGate)

  /** [[disproportionality]] from a (seg, out, a) census — cell counts
    * ADD across batches, so a streaming store's drained screen reads
    * identically to the one-pass path and shares the batch oracle
    * verbatim.
    */
  def disproportionalityFromCensus(
      censusDf: DataFrame,
      minCell: Long = 3L,
      prrGate: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dbl(c: Column): Column = c.cast("double")
    val cen = censusDf.groupBy(col("seg"), col("out"))
      .agg(sum(col("a")).as("a"))
      .localCheckpoint(true)
    val t = cen
      .withColumn("rt", sum(col("a")).over(Window.partitionBy(col("seg"))))
      .withColumn("ct", sum(col("a")).over(Window.partitionBy(col("out"))))
      .withColumn("nn", sum(col("a")).over(Window.partitionBy()))
    val b = t.withColumn("b", col("rt") - col("a"))
      .withColumn("c", col("ct") - col("a"))
      .withColumn("d", col("nn") - col("rt") - col("ct") + col("a"))
    val prr = (dbl(col("a")) / dbl(col("rt"))) /
      (dbl(col("c")) / (dbl(col("c")) + dbl(col("d"))))
    val prrOk = col("a") > 0L && col("c") > 0L
    val orOk = prrOk && col("b") > 0L && col("d") > 0L
    val lor = round(log(dbl(col("a")) * dbl(col("d")) /
      (dbl(col("b")) * dbl(col("c")))), 9)
    val seOr = round(sqrt(lit(1.0) / dbl(col("a")) + lit(1.0) / dbl(col("b")) +
      lit(1.0) / dbl(col("c")) + lit(1.0) / dbl(col("d"))), 9)
    val orLo = exp(lor - lit(1.96) * seOr)
    b.select(col("seg"), col("out"), col("a").as("n_cell"),
        col("rt").as("n_segment"), col("ct").as("n_outcome"),
        when(prrOk, round(prr, 6)).as("prr"),
        when(orOk, round(dbl(col("a")) * dbl(col("d")) /
          (dbl(col("b")) * dbl(col("c"))), 6)).as("ror"),
        when(orOk, round(orLo, 6)).as("ror_lo"),
        when(orOk, round(exp(lor + lit(1.96) * seOr), 6)).as("ror_hi"),
        when(prrOk && orOk,
          col("a") >= minCell && prr >= prrGate && orLo > 1.0)
          .as("signal"))
      .orderBy(col("seg"), col("out"))
  }

  /** PROCESS PERFORMANCE Pp/Ppk against DECLARED spec limits — the
    * SPC shelf's "does this process meet the spec" number: Pp
    * compares the spec width to 6σ of OVERALL variation (potential
    * if centered), Ppk charges off-centering (min distance from the
    * mean to either limit over 3σ) — Pp ≫ Ppk means the process is
    * capable but aimed wrong, which is a different fix than Pp < 1
    * (not capable at all). Named Pp/Ppk, not Cp/Cpk, by SPC
    * convention: σ here is the LONG-TERM overall sample standard
    * deviation (one census per group), not the within-subgroup
    * short-term sigma Cp/Cpk demand — a subgrouping is a rational
    * sampling-plan input this batch census doesn't take. Beside the
    * exact out-of-spec share, which at scale is the number the
    * indices only approximate. q446/q592 chart the process over
    * time; this scores it against the CONTRACT. Exact integer cents
    * moments per group, O(1) doubles after; zero-variance groups
    * NULL the indices.
    */
  def processCapability(
      df: DataFrame,
      groupCol: Column,
      centsCol: Column,
      lsl: Long,
      usl: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(usl > lsl)
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val v = centsCol.cast("long")
    val cen = df.select(groupCol.cast("string").as("g"), v.as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(d38)).as("s"),
        sum((col("v") * col("v")).cast(d38)).as("ss"),
        sum(when(col("v") < lsl || col("v") > usl, 1L).otherwise(0L))
          .as("oos"))
      .filter(col("n") >= 2L)
    val n = dbl(col("n"))
    val mean = dbl(col("s")) / n
    val sd = sqrt((dbl(col("ss")) - n * mean * mean) / (n - lit(1.0)))
    val pp = (lit(usl.toDouble) - lsl.toDouble) / (lit(6.0) * sd)
    val ppk = least(lit(usl.toDouble) - mean, mean - lit(lsl.toDouble)) /
      (lit(3.0) * sd)
    cen.select(col("g"), col("n"), round(mean, 6).as("mean"),
      when(sd > 0.0, round(sd, 6)).as("sd"),
      when(sd > 0.0, round(pp, 6)).as("pp"),
      when(sd > 0.0, round(ppk, 6)).as("ppk"),
      round(dbl(col("oos")) / n, 6).as("oos_share"))
      .orderBy(col("g"))
  }

  /** BRESLOW–DAY HOMOGENEITY TEST — the validity check
    * [[mantelHaenszel]] silently assumes: MH pools the per-stratum
    * odds ratios into ONE number, which is only meaningful if the
    * strata share a common OR; BD tests exactly that (for each
    * stratum, the expected exposed-case count E under the pooled OR
    * solves the standard quadratic in closed form, and χ² = Σ(a−E)²/V
    * on k−1 df — a significant BD means q443's pooled estimate is
    * averaging genuinely different effects and should be reported
    * per-stratum instead). Exact integer stratum cells, the pooled OR
    * from the same 1e-9-pinned MH term sums q443 uses, one
    * sqrt-and-pick-the-in-bounds-root per stratum (IEEE sqrt —
    * deterministic), per-stratum terms pinned at 1e-9. Degenerate
    * strata (an empty margin) carry no information and are counted
    * out of df, not silently absorbed; a near-1 pooled OR takes the
    * exact linear limit instead of dividing by A ≈ 0.
    */
  def breslowDay(
      df: DataFrame,
      stratumCol: String,
      exposedCol: Column,
      outcomeCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d189 = DecimalType(18, 9)
    val d289 = DecimalType(28, 9)
    val cen = df.select(col(stratumCol).cast("string").as("st"),
        exposedCol.as("ex"), outcomeCol.as("oc"))
      .groupBy(col("st"))
      .agg(sum(when(col("ex") && col("oc"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ex") && !col("oc"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ex") && col("oc"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("ex") && !col("oc"), 1L).otherwise(0L)).as("d"))
      .withColumn("nn", col("a") + col("b") + col("c") + col("d"))
      .localCheckpoint(true) // MH terms + the per-stratum sweep read it
    val mh = cen.agg(
      sum(round(dbl(col("a")) * dbl(col("d")) / dbl(col("nn")), 9)
        .cast(d189)).as("rr"),
      sum(round(dbl(col("b")) * dbl(col("c")) / dbl(col("nn")), 9)
        .cast(d189)).as("ss"))
    val or0 = dbl(col("rr")) / dbl(col("ss"))
    val n1 = dbl(col("a") + col("b")); val n2 = dbl(col("c") + col("d"))
    val m1 = dbl(col("a") + col("c"))
    val qa = or0 - lit(1.0)
    val qb = -(or0 * (n1 + m1) + (n2 - m1))
    val qc = or0 * n1 * m1
    val disc = sqrt(qb * qb - lit(4.0) * qa * qc)
    val lo = greatest(lit(0.0), m1 - n2)
    val hi = least(n1, m1)
    val root1 = (-qb - disc) / (lit(2.0) * qa)
    val root2 = (-qb + disc) / (lit(2.0) * qa)
    val eQuad = when(root1 > lo && root1 < hi, root1).otherwise(root2)
    val eCol = when(abs(qa) < 1e-9, -qc / qb).otherwise(eQuad)
    val informative = col("a") + col("b") > 0L && col("c") + col("d") > 0L &&
      col("a") + col("c") > 0L && col("b") + col("d") > 0L
    val vInv = lit(1.0) / eCol + lit(1.0) / (n1 - eCol) +
      lit(1.0) / (m1 - eCol) + lit(1.0) / (n2 - m1 + eCol)
    val term = round((dbl(col("a")) - eCol) * (dbl(col("a")) - eCol) *
      vInv, 9).cast(d289)
    val swept = cen.crossJoin(broadcast(mh))
      .select(col("st"),
        when(informative && eCol > lo && eCol < hi, term).as("t"),
        when(informative && eCol > lo && eCol < hi, 1L).otherwise(0L)
          .as("inf"), or0.as("or0"))
    swept.groupBy(col("or0"))
      .agg(count(lit(1)).as("k"), sum(col("inf")).as("k_inf"),
        sum(col("t")).as("bd"))
      .select(col("k").cast("long").as("n_strata"),
        col("k_inf").as("n_informative"),
        round(col("or0"), 6).as("or_mh"),
        when(col("k_inf") > 1L, col("k_inf") - 1L).as("df"),
        when(col("k_inf") > 1L, round(dbl(col("bd")), 6)).as("bd_chi2"))
  }

  /** MARKOV ENTROPY RATE of the behavior chain — how much of the NEXT
    * event is genuinely new information once you know the current
    * one: H = −Σ_ij (n_ij/N)·ln(n_ij/n_i·) in nats per step, with the
    * normalized ratio H/ln(k) (`entropy_norm`, 1 = maximally
    * unpredictable, 0 = deterministic) over the FULL alphabet k —
    * states on either side of a transition count. The sequence-level complement to q460's
    * marginal entropy (a corpus can have maximal marginal entropy and
    * near-zero entropy RATE if transitions are deterministic — that
    * gap IS the behavioral structure q222's raw transition matrix
    * shows but doesn't score). One per-user lag pass + one transition
    * census; ln terms over exact integer ratios pin once at 1e-9.
    */
  def markovEntropyRate(
      df: DataFrame,
      userCol: Column,
      orderCol: Column,
      stateCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val trans = df
      .select(userCol.as("u"), orderCol.as("o"),
        stateCol.cast("string").as("st"))
      .withColumn("prev", lag(col("st"), 1).over(
        Window.partitionBy(col("u")).orderBy(col("o"))))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("st")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // rows + totals + terms read it
    val rowT = trans.groupBy(col("prev")).agg(sum(col("n")).as("nr"))
    val joined = trans.join(broadcast(rowT), Seq("prev"))
    // the alphabet spans BOTH sides of the census: a state seen only
    // as a source (e.g. only ever first) still belongs to the chain
    val alphabet = trans.select(col("prev").as("s0"))
      .union(trans.select(col("st").as("s0")))
      .agg(countDistinct(col("s0")).as("k"))
    val tot = trans.agg(sum(col("n")).as("nn")).crossJoin(alphabet)
    val term = round(dbl(col("n")) *
      log(dbl(col("n")) / dbl(col("nr"))), 9).cast(d289)
    joined.crossJoin(broadcast(tot))
      .groupBy(col("nn"), col("k"))
      .agg(sum(term).as("ts"))
      .select(col("nn").cast("long").as("n_transitions"),
        col("k").cast("long").as("n_states"),
        round(-dbl(col("ts")) / dbl(col("nn")), 6).as("entropy_rate"),
        when(col("k") > 1L,
          round(-dbl(col("ts")) / dbl(col("nn")) /
            log(dbl(col("k"))), 6)).as("entropy_norm"))
  }

  /** KPI BRIDGE — the "why did the rate move" decomposition every
    * metrics review reinvents badly: between two periods, the overall
    * rate's change splits EXACTLY into per-segment RATE effects
    * (w₀·Δr — the segment itself got worse), MIX effects (Δw·r₀ —
    * traffic shifted toward segments that were always worse) and
    * interactions (Δw·Δr), and the three columns SUM to ΔKPI by
    * construction — so "the error rate doubled" resolves to "checkout
    * got worse" vs "more traffic hit checkout" in one table. One
    * (segment, period) census; every effect term is O(1) doubles over
    * exact integers. A segment absent from a period carries w = 0 and
    * r = 0 on that side (its whole contribution lands in the
    * interaction column — documented, and the identity still holds).
    */
  def kpiBridge(
      df: DataFrame,
      segmentCol: Column,
      basePeriodCol: Column,
      eventCol: Column): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val cen = df.select(segmentCol.cast("string").as("seg"),
        basePeriodCol.as("isbase"), eventCol.cast("long").as("e"))
      .groupBy(col("seg"))
      .agg(sum(when(col("isbase"), 1L).otherwise(0L)).as("n0"),
        sum(when(!col("isbase"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("isbase"), col("e")).otherwise(0L)).as("e0"),
        sum(when(!col("isbase"), col("e")).otherwise(0L)).as("e1"))
      .localCheckpoint(true) // totals + the effect sweep read it
    val tot = cen.agg(sum(col("n0")).as("t0"), sum(col("n1")).as("t1"))
    val w0 = when(col("n0") > 0L, dbl(col("n0")) / dbl(col("t0")))
      .otherwise(lit(0.0))
    val w1 = when(col("n1") > 0L, dbl(col("n1")) / dbl(col("t1")))
      .otherwise(lit(0.0))
    val r0 = when(col("n0") > 0L, dbl(col("e0")) / dbl(col("n0")))
      .otherwise(lit(0.0))
    val r1 = when(col("n1") > 0L, dbl(col("e1")) / dbl(col("n1")))
      .otherwise(lit(0.0))
    cen.crossJoin(broadcast(tot))
      .select(col("seg"), col("n0"), col("n1"),
        round(r0, 6).as("rate_base"), round(r1, 6).as("rate_cur"),
        round(w0, 6).as("mix_base"), round(w1, 6).as("mix_cur"),
        // + 0.0 normalizes an exact-zero effect's −0.0 to 0.0
        // (hash-stable across engines; the q619 pattern)
        (round(w0 * (r1 - r0), 6) + lit(0.0)).as("rate_effect"),
        (round((w1 - w0) * r0, 6) + lit(0.0)).as("mix_effect"),
        (round((w1 - w0) * (r1 - r0), 6) + lit(0.0)).as("interaction"))
      .orderBy(col("seg"))
  }

  /** TOST EQUIVALENCE for two proportions — the release-gate question
    * every other test on the shelf gets BACKWARD: q283/q563 ask "is
    * there a difference" (absence of evidence ≠ evidence of absence);
    * TOST asks "is the difference provably INSIDE ±δ" — two one-sided
    * z's against the margin, both must clear the one-sided critical
    * value (equivalently the 90% CI sits inside the margin). The
    * deploy/rollback decision for a no-regression launch. One 2×2
    * census, unpooled SE (the TOST convention), O(1) doubles; the
    * critical value is a shared literal on both engines. Degenerate
    * arms NULL the verdict.
    */
  def tostEquivalence(
      df: DataFrame,
      armACol: Column,
      convCol: Column,
      delta: Double,
      zCrit: Double = 1.6448536269514722): DataFrame = {
    require(delta > 0.0)
    val conv = convCol.cast("long")
    tostFromCells(df.agg(
      sum(when(armACol, 1L).otherwise(0L)).as("n_a"),
      sum(when(!armACol, 1L).otherwise(0L)).as("n_b"),
      sum(when(armACol, conv).otherwise(0L)).as("conv_a"),
      sum(when(!armACol, conv).otherwise(0L)).as("conv_b")),
      delta, zCrit)
  }

  /** [[tostEquivalence]] from (n_a, n_b, conv_a, conv_b) cell
    * PARTIALS — the four cells add across batches, so a streaming
    * store's drained verdict reads identically to the one-pass path
    * and shares the batch oracle verbatim.
    */
  def tostFromCells(
      cells: DataFrame,
      delta: Double,
      zCrit: Double = 1.6448536269514722): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val cen = cells.agg(
      sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"),
      sum(col("conv_a")).as("conv_a"), sum(col("conv_b")).as("conv_b"))
    val pa = dbl(col("conv_a")) / dbl(col("n_a"))
    val pb = dbl(col("conv_b")) / dbl(col("n_b"))
    val se = sqrt(pa * (lit(1.0) - pa) / dbl(col("n_a")) +
      pb * (lit(1.0) - pb) / dbl(col("n_b")))
    val diff = pa - pb
    val ok = col("n_a") > 0L && col("n_b") > 0L && se > 0.0
    cen.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(diff, 6).as("risk_diff"), lit(delta).as("margin"),
      when(ok, round((diff + lit(delta)) / se, 6)).as("z_lower"),
      when(ok, round((lit(delta) - diff) / se, 6)).as("z_upper"),
      when(ok, (diff + lit(delta)) / se > zCrit &&
        (lit(delta) - diff) / se > zCrit).as("equivalent"))
  }

  /** FISHER'S EXACT TEST on a 2×2 — the small-sample verdict q283's
    * normal approximation can't give: the exact conditional
    * hypergeometric p, two-sided by the standard
    * sum-of-no-more-likely-tables rule plus both one-sided tails.
    * Exact tests are a SMALL-SAMPLE instrument (at corpus scale the z
    * is correct and this is pointless), so callers pass a bounded
    * frame — the q574 gate samples the 200 hash-smallest events, a
    * fixed support at ANY corpus scale. Determinism discipline: ln n!
    * is a sum of per-integer ln terms each pinned at 1e-12 and
    * accumulated as exact decimals (never libm lgamma, which differs
    * across engines), each table's log-pmf lands once on the 1e-9
    * grid, the pmf on the 1e-12 grid, and the tail sums are decimal
    * adds — both engines walk identical tables. The equal-probability
    * tie uses the classic (1+1e-7) tolerance so the observed table's
    * mirror image is never dropped to FP dust.
    */
  def fisherExact(
      df: DataFrame,
      armACol: Column,
      convCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val conv = convCol.cast("long")
    val cells = df.agg(
        sum(when(armACol, conv).otherwise(0L)).as("a"),
        sum(when(armACol, lit(1L) - conv).otherwise(0L)).as("b"),
        sum(when(!armACol, conv).otherwise(0L)).as("c"),
        sum(when(!armACol, lit(1L) - conv).otherwise(0L)).as("d"))
      .withColumn("r1", col("a") + col("b"))
      .withColumn("r2", col("c") + col("d"))
      .withColumn("c1", col("a") + col("c"))
      .withColumn("nn", col("a") + col("b") + col("c") + col("d"))
    // ln-factorial on the pinned grid: lf(n) = Σ_{i=2..n} round(ln i, 1e-12)
    def lf(n: String): String =
      s"CASE WHEN $n >= 2 THEN aggregate(sequence(CAST(2 AS BIGINT), " +
        s"CAST($n AS BIGINT)), CAST(0 AS DECIMAL(28,12)), (acc, i) -> " +
        "CAST(acc + CAST(round(ln(CAST(i AS DOUBLE)), 12) AS " +
        "DECIMAL(28,12)) AS DECIMAL(28,12))) " +
        "ELSE CAST(0 AS DECIMAL(28,12)) END"
    val support = cells
      .select(col("*"), explode(sequence(
        greatest(lit(0L), col("c1") - col("r2")),
        least(col("r1"), col("c1")))).as("k"))
      .withColumn("r1k", col("r1") - col("k"))
      .withColumn("c1k", col("c1") - col("k"))
      .withColumn("r2k", col("r2") - col("c1") + col("k"))
      .withColumn("c2n", col("nn") - col("c1"))
      .withColumn("lnp", expr(
        s"CAST(${lf("r1")} + ${lf("r2")} + ${lf("c1")} + ${lf("c2n")} " +
          s"- ${lf("nn")} - ${lf("k")} - ${lf("r1k")} - ${lf("c1k")} " +
          s"- ${lf("r2k")} AS DOUBLE)"))
      .withColumn("pmf",
        round(exp(round(col("lnp"), 9)), 12).cast(DecimalType(16, 12)))
    val pobs = support.filter(col("k") === col("a"))
      .select(col("pmf").as("pobs"))
    val agg = support.crossJoin(broadcast(pobs))
      .groupBy(col("a"), col("b"), col("c"), col("d"))
      .agg(
        sum(when(dbl(col("pmf")) <=
          dbl(col("pobs")) * (1.0 + 1e-7), col("pmf"))).as("s_two"),
        sum(when(col("k") <= col("a"), col("pmf"))).as("s_less"),
        sum(when(col("k") >= col("a"), col("pmf"))).as("s_greater"))
    agg.select(col("a"), col("b"), col("c"), col("d"),
      when(col("b") * col("c") > 0L,
        round(dbl(col("a")) * dbl(col("d")) /
          (dbl(col("b")) * dbl(col("c"))), 6)).as("odds_ratio"),
      round(least(lit(1.0), dbl(col("s_less"))), 9).as("p_less"),
      round(least(lit(1.0), dbl(col("s_greater"))), 9).as("p_greater"),
      round(least(lit(1.0), dbl(col("s_two"))), 9).as("p_two"))
  }

  /** p-CHART — the attribute control chart: per subgroup (day), the
    * defective share against ±3σ BINOMIAL limits around the pooled
    * center line, each subgroup's limits widening as its own n
    * shrinks (the property q446's XmR chart — built for continuous
    * individual values — cannot give a proportion: a 20%-error day
    * means nothing at n=5 and everything at n=5000). The SPC shelf's
    * rate member beside XmR; one (bucket, flag) census, pooled p̄ from
    * exact integers, O(buckets) double arithmetic after, LCL clamped
    * at 0. Degenerate subgroups (n = 0 never occur by construction;
    * p̄ ∈ {0,1} collapses the limits to the center) stay well-defined.
    */
  def pChart(
      df: DataFrame,
      bucketCol: Column,
      flagCol: Column): DataFrame =
    pChartFromCensus(df.select(bucketCol.cast("long").as("b"),
        flagCol.cast("long").as("x"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("x")))

  /** [[pChart]] from (b, n, x) subgroup PARTIALS — counts add across
    * batches, so a streaming store's drained chart reads identically
    * to the one-pass path and shares the batch oracle verbatim.
    */
  def pChartFromCensus(censusDf: DataFrame): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val cen = censusDf.groupBy(col("b"))
      .agg(sum(col("n")).as("n"), sum(col("x")).as("x"))
      .localCheckpoint(true) // center line + per-bucket limits read it
    val tot = cen.agg(sum(col("n")).as("nn"), sum(col("x")).as("xx"))
    val pbar = dbl(col("xx")) / dbl(col("nn"))
    val sig = sqrt(pbar * (lit(1.0) - pbar) / dbl(col("n")))
    val share = dbl(col("x")) / dbl(col("n"))
    cen.crossJoin(broadcast(tot))
      .select(col("b").as("bucket"), col("n"), col("x"),
        round(share, 6).as("share"),
        round(pbar, 6).as("center"),
        round(greatest(lit(0.0), pbar - lit(3.0) * sig), 6).as("lcl"),
        round(least(lit(1.0), pbar + lit(3.0) * sig), 6).as("ucl"),
        (share > pbar + lit(3.0) * sig ||
          share < pbar - lit(3.0) * sig).as("ooc"))
      .orderBy(col("bucket"))
  }

  /** ONE-WAY EFFECT SIZES — the "how big" beside q408's ANOVA F
    * verdict: η² (variance share explained, biased upward), ω² (the
    * unbiased estimate — the honest number for small groups), ε²
    * (between them), and Cohen's f (the power-analysis input). A
    * significant F over a million rows can mean a trivial 0.1%
    * η² — these are the numbers that say whether the grouping
    * MATTERS. Exact cents-integer group moments (q408's census), all
    * four ratios O(1) doubles over them; zero total variance NULLs
    * every ratio.
    */
  def anovaEffects(
      df: DataFrame,
      groupCol: String,
      centsCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d38 = DecimalType(38, 0)
    val g = df.select(col(groupCol).cast("string").as("g"),
        centsCol.cast("long").as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(d38)).as("s"),
        sum((col("v") * col("v")).cast(d38)).as("ss"))
    val agg = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("s")).as("st"), sum(col("ss")).as("sst_raw"),
      // Σ s_g²/n_g carried as per-group pinned doubles on the 1e-6
      // grid (cents²/n — magnitudes far under 2^53 per group)
      sum(round(dbl(col("s")) * dbl(col("s")) / dbl(col("n")), 6)
        .cast(DecimalType(38, 6))).as("sbn"))
    val sst = dbl(col("sst_raw")) - dbl(col("st")) * dbl(col("st")) /
      dbl(col("nn"))
    val ssb = dbl(col("sbn")) - dbl(col("st")) * dbl(col("st")) /
      dbl(col("nn"))
    val ssw = dbl(col("sst_raw")) - dbl(col("sbn"))
    val msw = ssw / (dbl(col("nn")) - dbl(col("k")))
    val eta2 = ssb / sst
    agg.filter(col("nn") > col("k"))
      .select(col("k").cast("long").as("k"), col("nn").cast("long").as("n"),
        when(sst > 0.0, round(eta2, 6)).as("eta2"),
        when(sst > 0.0, round((ssb - (dbl(col("k")) - 1.0) * msw) /
          (sst + msw), 6)).as("omega2"),
        when(sst > 0.0, round((ssb - (dbl(col("k")) - 1.0) * msw) /
          sst, 6)).as("epsilon2"),
        when(sst > 0.0 && eta2 < 1.0,
          round(sqrt(eta2 / (lit(1.0) - eta2)), 6)).as("cohens_f"))
  }

  /** STUART–MAXWELL marginal-homogeneity test on a PAIRED 3-category
    * square table — "did the population's category mix shift between
    * the two measurements", with each subject as its own control: the
    * k=3 generalization of q409's McNemar (which only sees 2×2
    * discordance). χ² = d'V⁻¹d over the first two marginal differences
    * with the 2×2 covariance inverted in closed form — no matrix
    * library, no iteration, every operand an exact integer from ONE
    * (before, after) census until the final ratio. The category spine
    * ranks in a window over the bounded category domain (≤ k rows,
    * never data). A non-3-category domain or a singular V reads NULL
    * χ² instead of a wrong number — the closed form is k=3-specific
    * by contract.
    */
  /** BOWKER SYMMETRY TEST on a PAIRED k-category square table — is the
    * flow between every category pair balanced: χ² = Σ_{i<j}
    * (n_ij−n_ji)²/(n_ij+n_ji), the ANY-k companion to
    * [[stuartMaxwell]] (marginal homogeneity can hold while specific
    * pair flows churn asymmetrically; Bowker sees the churn, and needs
    * no matrix inverse so k is unrestricted). One (before, after)
    * census folded to the UNORDERED pair census (≤ k(k−1)/2 rows);
    * each pair's term lands once on the 1e-9 grid before the
    * order-independent decimal sum. df counts the pairs that actually
    * flowed (the zero-denominator pairs contribute no information, the
    * standard convention); an all-diagonal table reads χ² = 0 with
    * df = 0.
    */
  def bowker(
      df: DataFrame,
      beforeCol: Column,
      afterCol: Column): DataFrame =
    bowkerFromCensus(df.select(beforeCol.cast("string").as("b"),
        afterCol.cast("string").as("a"))
      .groupBy(col("b"), col("a")).agg(count(lit(1)).as("n")))

  /** [[bowker]] from a (b, a, n) census — pair counts ADD across
    * batches (every flow term is a census functional), so a streaming
    * store whose batches each own WHOLE subjects drains to the
    * one-pass answer and shares the batch oracle verbatim.
    */
  def bowkerFromCensus(censusDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val d289 = DecimalType(28, 9)
    val census = censusDf.groupBy(col("b"), col("a"))
      .agg(sum(col("n")).as("n"))
      .localCheckpoint(true) // totals + the pair fold read it
    val tot = census.agg(sum(col("n")).as("nn"))
    val cats = census.select(col("b").as("cat"))
      .unionByName(census.select(col("a").as("cat"))).distinct()
      .agg(count(lit(1)).as("n_cats"))
    val pairs = census.filter(col("b") =!= col("a"))
      .select(least(col("b"), col("a")).as("lo"),
        greatest(col("b"), col("a")).as("hi"),
        when(col("b") < col("a"), col("n")).otherwise(0L).as("up"),
        when(col("b") > col("a"), col("n")).otherwise(0L).as("dn"))
      .groupBy(col("lo"), col("hi"))
      .agg(sum(col("up")).as("nij"), sum(col("dn")).as("nji"))
    val term = round((dbl(col("nij")) - dbl(col("nji"))) *
      (dbl(col("nij")) - dbl(col("nji"))) /
      (dbl(col("nij")) + dbl(col("nji"))), 9).cast(d289)
    val agg = pairs.agg(
      coalesce(sum(when(col("nij") + col("nji") > 0L, term)),
        lit(0).cast(d289)).as("chi2s"),
      coalesce(sum(when(col("nij") + col("nji") > 0L, 1L).otherwise(0L)),
        lit(0L)).as("df"))
    agg.crossJoin(broadcast(tot)).crossJoin(broadcast(cats))
      .select(col("nn").cast("long").as("n"), col("n_cats"), col("df"),
        round(dbl(col("chi2s")), 6).as("chi2"))
  }

  /** WEIGHTED COHEN'S KAPPA for two ORDINAL raters on a fixed k-point
    * scale — chance-corrected agreement where NEAR-misses count:
    * q447's binary κ and q532's Fleiss treat a 1-step and a 4-step
    * disagreement identically, which is wrong on ordinal scales;
    * linear weights charge |i−j|/(k−1), quadratic charge its square
    * (the ICC-equivalent convention). κ_w = 1 − ΣwO/ΣwE with observed
    * disagreement over the (i, j) census and expected over the FULL
    * k×k margin grid (an unobserved cell still owes its r_i·c_j/n
    * chance mass). Every weight lands once on the 1e-9 grid, both
    * sums are exact decimals over integers, and the final ratio is
    * one double division. Contract: rater columns are rank-coded in
    * [0, k); a chance-free degenerate (E = 0) reads NULL.
    */
  def weightedKappa(
      df: DataFrame,
      r1Col: Column,
      r2Col: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 2)
    def dbl(c: Column): Column = c.cast("double")
    val d389 = DecimalType(38, 9)
    val census = df.select(r1Col.cast("long").as("i"),
        r2Col.cast("long").as("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // margins + observed sums read it
    def wLin(i: Column, j: Column): Column =
      round(abs(i - j).cast("double") / (k - 1.0), 9)
    def wQuad(i: Column, j: Column): Column =
      round(abs(i - j).cast("double") / (k - 1.0) *
        (abs(i - j).cast("double") / (k - 1.0)), 9)
    val obs = census.agg(sum(col("n")).as("nn"),
      sum(when(col("i") === col("j"), col("n")).otherwise(0L)).as("agree"),
      sum((wLin(col("i"), col("j")) * dbl(col("n"))).cast(d389)).as("ol"),
      sum((wQuad(col("i"), col("j")) * dbl(col("n"))).cast(d389)).as("oq"))
    val ri = census.groupBy(col("i")).agg(sum(col("n")).as("r"))
    val cj = census.groupBy(col("j")).agg(sum(col("n")).as("c"))
    val exp0 = ri.crossJoin(cj).agg(
      sum((wLin(col("i"), col("j")) * dbl(col("r")) * dbl(col("c")))
        .cast(d389)).as("el"),
      sum((wQuad(col("i"), col("j")) * dbl(col("r")) * dbl(col("c")))
        .cast(d389)).as("eq"))
    obs.crossJoin(broadcast(exp0))
      .select(col("nn").cast("long").as("n"), lit(k).as("k"),
        round(dbl(col("agree")) / dbl(col("nn")), 6).as("po"),
        when(dbl(col("el")) > 0.0,
          round(lit(1.0) - dbl(col("nn")) * dbl(col("ol")) /
            dbl(col("el")), 6)).as("kappa_linear"),
        when(dbl(col("eq")) > 0.0,
          round(lit(1.0) - dbl(col("nn")) * dbl(col("oq")) /
            dbl(col("eq")), 6)).as("kappa_quadratic"))
  }

  def stuartMaxwell(
      df: DataFrame,
      beforeCol: Column,
      afterCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dbl(c: Column): Column = c.cast("double")
    val census = df.select(beforeCol.cast("string").as("b"),
        afterCol.cast("string").as("a"))
      .groupBy(col("b"), col("a")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // k² cells: spine + cell sums read it
    val cats = census.select(col("b").as("cat"))
      .unionByName(census.select(col("a").as("cat"))).distinct()
      .withColumn("r", row_number().over(Window.orderBy(col("cat"))))
    val ranked = census
      .join(cats.select(col("cat").as("b"), col("r").as("rb")), Seq("b"))
      .join(cats.select(col("cat").as("a"), col("r").as("ra")), Seq("a"))
    val agg = ranked.agg(sum(col("n")).as("nn"),
      sum(when(col("rb") === 1, col("n")).otherwise(0L)).as("row1"),
      sum(when(col("rb") === 2, col("n")).otherwise(0L)).as("row2"),
      sum(when(col("ra") === 1, col("n")).otherwise(0L)).as("col1"),
      sum(when(col("ra") === 2, col("n")).otherwise(0L)).as("col2"),
      sum(when(col("rb") === 1 && col("ra") === 1, col("n"))
        .otherwise(0L)).as("n11"),
      sum(when(col("rb") === 2 && col("ra") === 2, col("n"))
        .otherwise(0L)).as("n22"),
      sum(when(col("rb") === 1 && col("ra") === 2, col("n"))
        .otherwise(0L)).as("n12"),
      sum(when(col("rb") === 2 && col("ra") === 1, col("n"))
        .otherwise(0L)).as("n21"))
    val names = cats.groupBy()
      .agg(max(when(col("r") === 1, col("cat"))).as("cat1"),
        max(when(col("r") === 2, col("cat"))).as("cat2"),
        count(lit(1)).as("n_cats"))
    val d1 = dbl(col("row1") - col("col1"))
    val d2 = dbl(col("row2") - col("col2"))
    val v11 = dbl(col("row1") + col("col1") - lit(2L) * col("n11"))
    val v22 = dbl(col("row2") + col("col2") - lit(2L) * col("n22"))
    val v12 = -dbl(col("n12") + col("n21"))
    val det = v11 * v22 - v12 * v12
    agg.crossJoin(broadcast(names))
      .select(col("nn").as("n"), col("n_cats"),
        col("cat1"), col("cat2"),
        (col("row1") - col("col1")).as("d1"),
        (col("row2") - col("col2")).as("d2"),
        when(col("n_cats") === 3L && det > 0.0,
          round((d1 * d1 * v22 - lit(2.0) * d1 * d2 * v12 +
            d2 * d2 * v11) / det, 6)).as("chi2"))
  }

  /** DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimate when
    * there is no randomized control: Δ = (treat_post − treat_pre) −
    * (ctrl_post − ctrl_pre) cancels both the groups' LEVEL difference
    * and the common TIME shock, which is exactly what the naive
    * post-period comparison (q283's z) confounds when assignment is not
    * random. One conditional census over the four (treat, post) cells,
    * rates as one pinned division each, pooled binomial SE over the
    * four cells, z = Δ/SE. The parallel-trends assumption is the
    * caller's to defend — this operator states the estimate and its
    * noise, not the identification. Empty cells NULL the estimate
    * loudly rather than reading a 0-rate as evidence.
    */
  def diffInDiff(
      df: DataFrame,
      treatCol: Column,
      postCol: Column,
      outcomeCol: Column): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val cen = df.select(treatCol.as("tr"), postCol.as("po"),
        outcomeCol.cast("long").as("y"))
      .agg(
        sum(when(col("tr") && col("po"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("tr") && col("po"), col("y")).otherwise(0L)).as("e11"),
        sum(when(col("tr") && !col("po"), 1L).otherwise(0L)).as("n10"),
        sum(when(col("tr") && !col("po"), col("y")).otherwise(0L)).as("e10"),
        sum(when(!col("tr") && col("po"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("tr") && col("po"), col("y")).otherwise(0L)).as("e01"),
        sum(when(!col("tr") && !col("po"), 1L).otherwise(0L)).as("n00"),
        sum(when(!col("tr") && !col("po"), col("y")).otherwise(0L)).as("e00"))
    // ANSI-safe: an empty cell never evaluates its division — the rate
    // reads NULL and every downstream expression propagates it
    def rate(e: String, n: String): Column =
      when(col(n) > 0L, dbl(col(e)) / dbl(col(n)))
    val p11 = rate("e11", "n11")
    val p10 = rate("e10", "n10")
    val p01 = rate("e01", "n01")
    val p00 = rate("e00", "n00")
    val did = (p11 - p10) - (p01 - p00)
    def vterm(p: Column, n: Column): Column = p * (lit(1.0) - p) / dbl(n)
    val se = sqrt(vterm(p11, col("n11")) + vterm(p10, col("n10")) +
      vterm(p01, col("n01")) + vterm(p00, col("n00")))
    val ok = col("n11") > 0L && col("n10") > 0L && col("n01") > 0L &&
      col("n00") > 0L
    cen.select(col("n11"), col("n10"), col("n01"), col("n00"),
      when(ok, round(p10, 6)).as("rate_treat_pre"),
      when(ok, round(p11, 6)).as("rate_treat_post"),
      when(ok, round(p00, 6)).as("rate_ctrl_pre"),
      when(ok, round(p01, 6)).as("rate_ctrl_post"),
      when(ok, round(did, 6)).as("did"),
      when(ok && se > 0.0, round(se, 6)).as("se"),
      when(ok && se > 0.0, round(did / se, 6)).as("z"))
  }

  /** INSTRUMENTAL-VARIABLE (WALD) ESTIMATE — the causal effect when
    * treatment is self-selected but an ENCOURAGEMENT was randomized:
    * β_IV = ITT / first-stage = (E[y|z=1] − E[y|z=0]) /
    * (E[x|z=1] − E[x|z=0]). The estimator that stays honest where the
    * naive treated-vs-untreated difference is confounded by who CHOSE
    * treatment — both are emitted so the confounding gap is visible.
    * Completes the causal shelf beside q630's DiD (no randomization at
    * all) and q553's strata-ATT (selection on observables). One
    * conditional census over (z, x, y) unit rows; every estimate is a
    * pinned division over exact integers; a weak first stage NULLs the
    * Wald ratio loudly (|FS| below `minFirstStage`) instead of
    * emitting a divide-by-noise artifact. Census cells ADD — shared
    * with the streaming store.
    */
  def ivWald(
      df: DataFrame,
      zCol: Column,
      xCol: Column,
      yCol: Column,
      minFirstStage: Double = 0.01): DataFrame =
    ivWaldFromCensus(
      df.select(zCol.as("z"), xCol.cast("long").as("x"),
          yCol.cast("long").as("y"))
        .groupBy(col("z"), col("x"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("e")),
      minFirstStage)

  /** [[ivWald]] on a pre-aggregated (z, x, n, e) cell census — cells
    * add across batches, shared with the streaming store. */
  def ivWaldFromCensus(
      census: DataFrame, minFirstStage: Double = 0.01): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val f = census.groupBy(col("z"), col("x"))
      .agg(sum(col("n")).as("n"), sum(col("e")).as("e"))
      .agg(
        sum(when(col("z"), col("n")).otherwise(0L)).as("n1"),
        sum(when(!col("z"), col("n")).otherwise(0L)).as("n0"),
        sum(when(col("z"), col("x") * col("n")).otherwise(0L)).as("x1"),
        sum(when(!col("z"), col("x") * col("n")).otherwise(0L)).as("x0"),
        sum(when(col("z"), col("e")).otherwise(0L)).as("y1"),
        sum(when(!col("z"), col("e")).otherwise(0L)).as("y0"),
        sum(when(col("x") === 1L, col("n")).otherwise(0L)).as("nt"),
        sum(when(col("x") === 0L, col("n")).otherwise(0L)).as("nc"),
        sum(when(col("x") === 1L, col("e")).otherwise(0L)).as("yt"),
        sum(when(col("x") === 0L, col("e")).otherwise(0L)).as("yc"))
    val ok = col("n1") > 0L && col("n0") > 0L
    val itt = dbl(col("y1")) / dbl(col("n1")) -
      dbl(col("y0")) / dbl(col("n0"))
    val fs = dbl(col("x1")) / dbl(col("n1")) -
      dbl(col("x0")) / dbl(col("n0"))
    val naiveOk = col("nt") > 0L && col("nc") > 0L
    val naive = dbl(col("yt")) / dbl(col("nt")) -
      dbl(col("yc")) / dbl(col("nc"))
    f.select(col("n1"), col("n0"),
      when(ok, round(fs, 6)).as("first_stage"),
      when(ok, round(itt, 6)).as("itt"),
      when(ok && abs(fs) > minFirstStage, round(itt / fs, 6)).as("wald"),
      when(naiveOk, round(naive, 6)).as("naive_diff"))
  }

  /** REGRESSION DISCONTINUITY — the causal read at a THRESHOLD RULE:
    * units just below and just above a cutoff are as-good-as-random,
    * so the jump between the two local linear fits AT the cutoff is
    * the effect of crossing it — the design for "does the credit
    * cutoff itself change behavior", where q630's DiD needs a time
    * dimension and q650's IV needs an instrument. Bandwidth-windowed
    * rows, running variable centered at the cutoff so each side's
    * INTERCEPT is its value at the threshold; exact integer moments
    * per side, closed-form fits, intercept variance
    * s²·(1/n + x̄²/Sxx) per side, pinned gap z. Degenerate sides NULL.
    */
  def regressionDiscontinuity(
      df: DataFrame,
      runCol: Column,
      outcomeCol: Column,
      cutoff: Long,
      bandwidth: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(bandwidth > 0L)
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select((runCol.cast("long") - cutoff).as("x"),
        outcomeCol.cast("long").as("y"))
      .filter(col("x") >= -bandwidth && col("x") < bandwidth)
      .withColumn("above", col("x") >= 0L)
    val mom = base.groupBy(col("above"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
      .filter(col("n") >= 3L)
    val n = dbl(col("n"))
    val cxx = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val cxy = n * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val cyy = n * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val b = cxy / cxx
    val a = (dbl(col("sy")) - cxy / cxx * dbl(col("sx"))) / n
    val sse = (cyy - cxy * cxy / cxx) / n
    val s2 = sse / (n - lit(2.0))
    val xbar = dbl(col("sx")) / n
    val va = s2 * (lit(1.0) / n + xbar * xbar / (cxx / n))
    val sided = mom.select(col("above"), col("n"),
      when(cxx > 0.0, round(a, 9)).as("a"),
      when(cxx > 0.0, round(b, 9)).as("b"),
      when(cxx > 0.0 && sse > 0.0, round(va, 9)).as("va"))
    val lo = sided.filter(!col("above"))
      .select(col("n").as("n_below"), col("a").as("a0"),
        col("b").as("slope_below"), col("va").as("v0"))
    val hi = sided.filter(col("above"))
      .select(col("n").as("n_above"), col("a").as("a1"),
        col("b").as("slope_above"), col("va").as("v1"))
    val gap = col("a1") - col("a0")
    val se = sqrt(col("v0") + col("v1"))
    lo.crossJoin(hi).select(col("n_below"), col("n_above"),
      round(col("a0"), 6).as("est_below"),
      round(col("a1"), 6).as("est_above"),
      round(col("slope_below"), 6).as("slope_below"),
      round(col("slope_above"), 6).as("slope_above"),
      round(gap, 6).as("gap"),
      when(col("v0").isNotNull && col("v1").isNotNull, round(se, 6))
        .as("se"),
      when(col("v0").isNotNull && col("v1").isNotNull && se > 0.0,
        round(gap / se, 6)).as("z"))
  }

  /** MEDIATION ANALYSIS (Baron–Kenny with the Sobel test) — HOW an
    * effect travels: the total effect of x on y splits into the
    * indirect path a·b through the mediator m (x → m → y) and the
    * direct remainder c′, with Sobel's z on the product term. The
    * mechanism question the causal shelf's single-equation estimators
    * (q630/q650/q651) can't ask. Three closed-form fits over ONE exact
    * moment pass: m ~ x, y ~ x, and y ~ x + m via the 2×2 normal
    * equations (the q629 shape); coefficient variances from the
    * standard centered forms, every finish a pinned double. Degenerate
    * designs NULL.
    */
  def mediation(
      df: DataFrame,
      xCol: Column,
      mCol: Column,
      yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val f = df.select(xCol.cast("long").as("x"), mCol.cast("long").as("m"),
        yCol.cast("long").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("m").cast(d38)).as("sm"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("m")).cast(d38)).as("sxm"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("m") * col("y")).cast(d38)).as("smy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("m") * col("m")).cast(d38)).as("smm"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
    val n = dbl(col("n"))
    val cxx = n * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val cmm = n * dbl(col("smm")) - dbl(col("sm")) * dbl(col("sm"))
    val cyy = n * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val cxm = n * dbl(col("sxm")) - dbl(col("sx")) * dbl(col("sm"))
    val cxy = n * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val cmy = n * dbl(col("smy")) - dbl(col("sm")) * dbl(col("sy"))
    // m ~ x
    val aPath = cxm / cxx
    val sseA = (cmm - cxm * cxm / cxx) / n
    val varA = sseA / (n - lit(2.0)) * n / cxx
    // y ~ x (total)
    val cTot = cxy / cxx
    // y ~ x + m (the 2x2 normal equations)
    val det = cxx * cmm - cxm * cxm
    val cDir = (cxy * cmm - cmy * cxm) / det
    val bPath = (cmy * cxx - cxy * cxm) / det
    val sseU = (cyy - cDir * cxy - bPath * cmy) / n
    val s2 = sseU / (n - lit(3.0))
    val varB = s2 * n * cxx / det
    val indirect = aPath * bPath
    val sobelSe = sqrt(aPath * aPath * varB + bPath * bPath * varA)
    val ok = col("n") >= 5L && cxx > 0.0 && det > 0.0 && sseU > 0.0 &&
      sseA > 0.0
    f.select(col("n").cast("long").as("n"),
      when(ok, round(aPath, 6)).as("a_x_to_m"),
      when(ok, round(bPath, 6)).as("b_m_to_y"),
      when(ok, round(cTot, 6)).as("total_effect"),
      when(ok, round(cDir, 6)).as("direct_effect"),
      when(ok, round(indirect, 6)).as("indirect_effect"),
      when(ok && abs(cTot) > 0.0,
        round(indirect / cTot, 6)).as("prop_mediated"),
      when(ok && sobelSe > 0.0, round(indirect / sobelSe, 6))
        .as("sobel_z"))
  }
}
