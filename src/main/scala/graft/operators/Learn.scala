package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** ML-lite shelf: clustering, projection, and classification primitives
  * as exact census + closed-form operators — no ML runtime, every number
  * oracle-replayable.
  *
  * Shared discipline: integer inputs censused exactly (DECIMAL(38,0)
  * sums), centered cross-moments formed in ONE fixed double expression
  * shape shared verbatim with the oracle SQL, divisions pinned
  * (`round(x, 9)`) the moment they happen, final reports rounded at 6
  * with `+ 0.0` normalizing any −0.0 (the q619 pattern). Everything
  * after the census is O(domain) or O(1) — the 100 TB shape is the one
  * corpus aggregation that builds the census.
  */
object Learn {

  private val d38 = DecimalType(38, 0)
  private def dbl(c: Column): Column = c.cast("double")

  /** 1-D LLOYD K-MEANS over the value census — the segmentation
    * primitive behind "split customers into k balance bands that
    * actually fit the data" (vs q67's fixed-width bins). Deterministic
    * end to end: centroids init at the k equal-frequency slice medians
    * (exact discrete ranks on the census, no sampling), `iters` Lloyd
    * rounds run driver-side over the DOMAIN-sized census (the
    * hlFromCensus posture — each round is one census aggregation; rows
    * never re-scan), assignment is nearest-centroid with smallest-index
    * tie-break, updates are exact decimal sums with ONE pinned division
    * each. An emptied cluster keeps its previous centroid (stated).
    * Output: one row per cluster — n, centroid, within-cluster sum of
    * squares (grid-pinned) — plus the assignment boundaries implied.
    */
  /** Shared Lloyd core: the value census (checkpointed), the final
    * centroids after `iters` driver-paced rounds, and the assignment
    * builder. Used by [[kMeans1D]] and the clustering-quality meters
    * ([[silhouette1D]]). */
  /** Build the checkpointed value census once — shared across the
    * Lloyd rounds and, in [[kMeansElbow]], across every k. */
  private[operators] def valueCensus(
      df: DataFrame, valueCol: String): DataFrame =
    df.select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)

  private[operators] def lloydCore(
      df: DataFrame,
      valueCol: String,
      k: Int,
      iters: Int,
      census: Option[DataFrame] = None): (DataFrame, Seq[Double]) = {
    require(k >= 2 && k <= 16 && iters >= 1 && iters <= 16)
    val cen = census.getOrElse(valueCensus(df, valueCol))
    // DRIVER-PACED loop, driver-LOCAL arithmetic when the census is
    // collectable: the init rank lookups
    // were k jobs and every Lloyd round one census aggregate + collect —
    // the elbow sweep paid ~(k + iters) jobs per k. All replayed steps
    // are deterministic JVM library arithmetic identical to the
    // expressions: |v − c| double distance with smallest-index ties,
    // exact integer sn/sv sums, round(sv/sn, 9) =
    // BigDecimal.valueOf(q).setScale(9, HALF_UP).doubleValue. Callers'
    // assignment/WSS/silhouette stages stay distributed over the census.
    if (DriverFinisher.fits("lloydCore", DriverFinisher.LloydCensus)(
        cen.count())) {
      val Array(vs, ns) =
        DriverFinisher.collectLongs(cen.select(col("v"), col("n")))
      val nC = vs.length
      // sort by value (census rows are unique per v)
      val order = (0 until nC).sortBy(vs(_)).toArray
      var nTotal = 0L
      ns.foreach(nTotal += _)
      require(nTotal > 0, "kMeans1D needs rows")
      val ranks = (1 to k).map(j => (2L * j - 1) * nTotal / (2L * k) + 1L)
      val cents0 = new Array[Double](k)
      var ri = 0; var cum = 0L; var oi = 0
      while (oi < nC && ri < k) {
        cum += ns(order(oi))
        while (ri < k && cum >= ranks(ri)) {
          cents0(ri) = vs(order(oi)).toDouble; ri += 1
        }
        oi += 1
      }
      var cents: Seq[Double] = cents0.toSeq
      val rm = java.math.RoundingMode.HALF_UP
      for (_ <- 1 to iters) {
        val sn = new Array[Long](k)
        val sv = Array.fill(k)(java.math.BigInteger.ZERO)
        var i = 0
        while (i < nC) {
          val vd = vs(i).toDouble
          var best = 0; var bd = math.abs(vd - cents(0))
          var j = 1
          while (j < k) {
            val d = math.abs(vd - cents(j))
            if (d < bd) { bd = d; best = j }
            j += 1
          }
          sn(best) += ns(i)
          sv(best) = sv(best).add(
            java.math.BigInteger.valueOf(vs(i) * ns(i)))
          i += 1
        }
        cents = cents.indices.map { j =>
          if (sn(j) == 0L) cents(j)
          else {
            val q = new java.math.BigDecimal(sv(j)).doubleValue() /
              java.math.BigDecimal.valueOf(sn(j)).doubleValue()
            java.math.BigDecimal.valueOf(q).setScale(9, rm).doubleValue()
          }
        }
      }
      return (cen, cents)
    }
    val nTotal = cen.agg(sum(col("n"))).head().getLong(0)
    require(nTotal > 0, "kMeans1D needs rows")
    // init: value at discrete rank floor((2j-1)*N/(2k)) + 1 — the
    // median of the j-th equal-frequency slice
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cen.withColumn("cum", sum(col("n")).over(wOrd))
      .localCheckpoint(true)
    val ranks = (1 to k).map(j => (2L * j - 1) * nTotal / (2L * k) + 1L)
    var cents: Seq[Double] = ranks.map { r =>
      cum.filter(col("cum") >= r).orderBy(col("v"))
        .limit(1).head().getLong(0).toDouble
    }
    for (_ <- 1 to iters) {
      val got = assign(cen, cents).groupBy(col("cluster"))
        .agg(sum(col("n").cast(d38)).as("sn"),
          sum((col("v") * col("n")).cast(d38)).as("sv"))
        .select(col("cluster"),
          round(dbl(col("sv")) / dbl(col("sn")), 9).as("c"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      cents = cents.indices.map(j => got.getOrElse(j, cents(j)))
    }
    (cen, cents)
  }

  /** Assignment for the given centroid literals: nearest, ties to the
    * smallest cluster index (the when-chain encodes the tie-break). */
  private[operators] def assign(
      cen: DataFrame, cents: Seq[Double]): DataFrame = {
    val dists = cents.zipWithIndex.map { case (c, j) =>
      abs(dbl(col("v")) - lit(c)).as(s"__d$j")
    }
    val withD = cen.select(col("v") +: col("n") +: dists: _*)
    val dmin = least(cents.indices.map(j => col(s"__d$j")): _*)
    val cl = cents.indices.tail.foldLeft(
      when(col("__d0") === dmin, 0)) { (acc, j) =>
      acc.when(col(s"__d$j") === dmin, j)
    }
    withD.select(col("v"), col("n"), cl.as("cluster"))
  }

  /** 2-COMPONENT 1-D GAUSSIAN MIXTURE by DRIVER-PACED EM — the SOFT
    * version of [[kMeans1D]]'s hard bands and the model-based answer to
    * "is this metric one population or two" (a bimodality verdict with
    * the component shapes attached, where q301's changepoint looks in
    * time and q295's KS compares two given samples). Fixed `iters` EM
    * rounds; every E-step runs distributed over the VALUE CENSUS and
    * every M-step reduces to SIX decimal sums collected to the driver
    * (answer-sized — the [[lloydCore]] pacing), so the loop costs
    * iters × one census aggregate.
    *
    * Determinism is total, not stochastic: init is the exact
    * quartile-rank split (μ's at the discrete 25/75 ranks, shared
    * variance, π = ½ — no RNG), responsibilities come from the PINNED
    * log-odds d = ℓ₂ − ℓ₁ (1e-9, clamped ±700 so exp never overflows
    * apart) through one logistic pinned at 1e-12, and every M-step
    * parameter is re-pinned at 1e-9 before the next round — both
    * engines walk the identical trajectory, which the oracle replays
    * as unrolled CTE rounds. A variance FLOOR of 1e-6 keeps a
    * component that collapses onto a single census value from emitting
    * ±∞ log-densities (the classic EM degeneracy, handled identically
    * on both sides). Needs n ≥ 10 and positive variance; a degenerate
    * quartile split (q25 = q75) refuses. Two rows out.
    */
  def gmm2(df: DataFrame, valueCol: String, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 8)
    val spark = df.sparkSession
    val cen = valueCensus(df, valueCol)
    val mom = cen.agg(sum(col("n")).as("n"),
      sum((col("v") * col("n")).cast(d38)).as("sv"),
      sum((col("n").cast(d38) * col("v") * col("v"))).as("svv")).head()
    val n = mom.getLong(0)
    require(n >= 10L, s"gmm2 needs >= 10 rows, got $n")
    val mean = mom.getDecimal(1).doubleValue() / n
    val varP = mom.getDecimal(2).doubleValue() / n - mean * mean
    require(varP > 0.0, "gmm2 needs positive variance")
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cen.withColumn("cum", sum(col("n")).over(wOrd))
      .localCheckpoint(true)
    def atRank(r: Long): Double =
      cum.filter(col("cum") >= r).orderBy(col("v"))
        .limit(1).head().getLong(0).toDouble
    val mu10 = atRank(n / 4L + 1L)
    val mu20 = atRank(3L * n / 4L + 1L)
    require(mu10 < mu20, "degenerate quartile split — not a mixture")
    def pin(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // variances live at the VALUE-SQUARED magnitude (~1e10 here), where
    // a 1e-9 or even 1e-6 pin crosses 2^53 and the scale-then-divide
    // round diverges between engines (the kMeans WSS lesson) — pin them
    // at 1e-3, which is exact far past this magnitude
    def pin3(x: Double): Double =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    var pi = 0.5
    var mu1 = pin(mu10); var mu2 = pin(mu20)
    var s1 = math.max(pin3(varP), 1e-6); var s2 = s1
    for (_ <- 1 to iters) {
      val l1 = lit(math.log(pi) - 0.5 * math.log(s1)) -
        (dbl(col("v")) - lit(mu1)) * (dbl(col("v")) - lit(mu1)) /
          lit(2.0 * s1)
      val l2 = lit(math.log(1.0 - pi) - 0.5 * math.log(s2)) -
        (dbl(col("v")) - lit(mu2)) * (dbl(col("v")) - lit(mu2)) /
          lit(2.0 * s2)
      val d = least(greatest(round(l2 - l1, 9), lit(-700.0)), lit(700.0))
      // responsibilities as INTEGER 1e-12 units: a fractional decimal
      // responsibility would overflow DECIMAL(38) when multiplied by
      // n·v² and Spark/DuckDB clamp overflow differently (Spark drops
      // scale, DuckDB errors or widens) — integer units keep every
      // E-step product an exact (38,0) decimal on both engines, and
      // the 1e12 scale cancels in every M-step ratio
      val r1i = round(lit(1.0) / (lit(1.0) + exp(d)) * lit(1e12), 0)
        .cast("long")
      val g = cen
        .select(col("v"), col("n"), r1i.as("r1"),
          (lit(1000000000000L) - r1i).as("r2"))
        .agg(sum(col("r1").cast(d38) * col("n")).as("w1"),
          sum(col("r1").cast(d38) * col("n") * col("v")).as("m1"),
          sum(col("r1").cast(d38) * col("n") * col("v") * col("v"))
            .as("q1"),
          sum(col("r2").cast(d38) * col("n")).as("w2"),
          sum(col("r2").cast(d38) * col("n") * col("v")).as("m2"),
          sum(col("r2").cast(d38) * col("n") * col("v") * col("v"))
            .as("q2")).head()
      val w1 = g.getDecimal(0).doubleValue()
      val w2 = g.getDecimal(3).doubleValue()
      pi = pin(w1 / (n.toDouble * 1e12))
      mu1 = pin(g.getDecimal(1).doubleValue() / w1)
      mu2 = pin(g.getDecimal(4).doubleValue() / w2)
      s1 = math.max(pin3(g.getDecimal(2).doubleValue() / w1 - mu1 * mu1),
        1e-6)
      s2 = math.max(pin3(g.getDecimal(5).doubleValue() / w2 - mu2 * mu2),
        1e-6)
    }
    val sep = BigDecimal(math.abs(mu2 - mu1) /
        math.sqrt((s1 + s2) / 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def out(c: Long, p: Double, m: Double, v: Double) =
      (c, n, BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0,
        BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0,
        // already 3-pinned; a 6-re-round at this magnitude is the
        // nonportable op
        v + 0.0, sep + 0.0)
    import spark.implicits._
    Seq(out(1L, pi, mu1, s1), out(2L, 1.0 - pi, mu2, s2))
      .toDF("component", "n", "pi", "mu", "sigma2", "separation")
      .orderBy(col("component"))
  }

  def kMeans1D(
      df: DataFrame,
      valueCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val spark = df.sparkSession
    val (cen, cents) = lloydCore(df, valueCol, k, iters)
    def assigned: DataFrame = assign(cen, cents)
    // WSS on an EXACT integer path: the centroid (pinned at 1e-9) is
    // rescaled to whole 1e-9 units, deviations are exact longs, squares
    // exact decimals, ONE final division by 1e18. Rounding the ~1e12
    // squared-deviation doubles instead diverges across engines — the
    // scale-then-divide round loses integer precision past 2^53.
    val perCluster = assigned
      .withColumn("c", cents.indices.tail.foldLeft(
        when(col("cluster") === 0, lit(cents(0)))) { (acc, j) =>
        acc.when(col("cluster") === j, lit(cents(j)))
      })
      .withColumn("d9",
        col("v") * lit(1000000000L) -
          round(col("c") * lit(1e9), 0).cast("long"))
      .groupBy(col("cluster"))
      .agg(sum(col("n")).as("n"),
        sum(col("d9").cast(DecimalType(31, 0)) *
          col("d9").cast(DecimalType(31, 0)) *
          col("n").cast(DecimalType(7, 0)))
          .as("wss"))
    import spark.implicits._
    val centDf = cents.zipWithIndex
      .map { case (c, j) => (j, c) }.toDF("cluster", "centroid")
    // wss ships as the exact decimal's correctly-rounded double — a
    // round(x, 6) on a ~1e12 double differs between engines (the
    // scale-then-divide form loses integer precision past 2^53)
    perCluster.join(broadcast(centDf), Seq("cluster"))
      .select(col("cluster").cast("long").as("cluster"), col("n"),
        (round(col("centroid"), 6) + lit(0.0)).as("centroid"),
        (dbl(col("wss")) / lit(1e18) + lit(0.0)).as("wss"))
      .orderBy(col("cluster"))
  }

  /** 1-D SILHOUETTE per cluster — the measured-not-assumed quality
    * meter for [[kMeans1D]]'s bands: s = (b − a)/max(a, b) with a the
    * mean distance to the OWN cluster's other members and b the best
    * other cluster's mean distance. All pairwise distance sums come
    * from per-cluster PREFIX SUMS over the value-ordered census
    * (v·cntBelow − sumBelow + sumAbove − v·cntAbove — the q393
    * energy-distance machinery per cluster), so the cost is k windows
    * over the DOMAIN-sized census — zero pairs materialized. Exact
    * integer distance sums, one pinned division per side, s on the
    * 1e-9 grid, per-cluster weighted mean at 1e-6. Singleton clusters
    * read s = 0 (stated convention, as does a point with no other
    * non-empty cluster).
    */
  def silhouette1D(
      df: DataFrame,
      valueCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val (cen, cents) = lloydCore(df, valueCol, k, iters)
    val asg = assign(cen, cents).localCheckpoint(true)
    val tots = asg.groupBy(col("cluster"))
      .agg(sum(col("n")).as("ct"),
        sum((col("v") * col("n")).cast(d38)).as("st"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))).toMap
    def ctOf(j: Int): Long = tots.get(j).map(_._1).getOrElse(0L)
    def stOf(j: Int): String = tots.get(j).map(_._2).getOrElse(BigInt(0))
      .toString
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPre = cents.indices.foldLeft(asg) { (acc, j) =>
      acc
        .withColumn(s"__cb$j",
          sum(when(col("cluster") === j, col("n")).otherwise(0L)
            .cast(d38)).over(wOrd))
        .withColumn(s"__sb$j",
          sum(when(col("cluster") === j, col("v") * col("n"))
            .otherwise(0L).cast(d38)).over(wOrd))
    }
    def distJ(j: Int): Column =
      col("v").cast(d38) * col(s"__cb$j") - col(s"__sb$j") +
        (lit(stOf(j)).cast(d38) - col(s"__sb$j")) -
        col("v").cast(d38) * (lit(ctOf(j)).cast(d38) - col(s"__cb$j"))
    val scored = withPre
      .withColumn("__a", cents.indices.tail.foldLeft(
        when(col("cluster") === 0,
          if (ctOf(0) > 1L)
            round(dbl(distJ(0)) / lit((ctOf(0) - 1L).toDouble), 9)
          else lit(null).cast("double"))) { (acc, j) =>
        acc.when(col("cluster") === j,
          if (ctOf(j) > 1L)
            round(dbl(distJ(j)) / lit((ctOf(j) - 1L).toDouble), 9)
          else lit(null).cast("double"))
      })
      .withColumn("__b", least(cents.indices.map { j =>
        if (ctOf(j) > 0L)
          when(col("cluster") =!= j,
            round(dbl(distJ(j)) / lit(ctOf(j).toDouble), 9))
        else lit(null).cast("double")
      }: _*))
      .withColumn("__s",
        when(col("__a").isNull || col("__b").isNull, lit(0.0))
          .when(greatest(col("__a"), col("__b")) === 0.0, lit(0.0))
          .otherwise(round((col("__b") - col("__a")) /
            greatest(col("__a"), col("__b")), 9)))
    scored.groupBy(col("cluster"))
      .agg(sum(col("n")).as("n"),
        sum(col("__s").cast(DecimalType(10, 9)) *
          col("n").cast(DecimalType(19, 0))).as("ssum"))
      .select(col("cluster").cast("long").as("cluster"), col("n"),
        (round(dbl(col("ssum")) / dbl(col("n")), 6) + lit(0.0))
          .as("mean_silhouette"))
      .orderBy(col("cluster"))
  }

  /** K-MEANS ELBOW SWEEP — the "how many bands does this data actually
    * have" meter run BEFORE committing to a k: [[kMeans1D]]'s Lloyd
    * core at every k in `ks` (driver-paced; the census is re-read, rows
    * never re-scan), total WSS per k on the same exact integer path,
    * and the knee flagged at the maximum SECOND DIFFERENCE of the WSS
    * curve (the discrete curvature argmax, smallest-k tie-break;
    * endpoints carry no curvature). Complements q507's generic
    * curve-knee: this sweep OWNS the clustering loop, so the curve is
    * guaranteed consistent with q659's estimator.
    */
  def kMeansElbow(
      df: DataFrame,
      valueCol: String,
      ks: Seq[Int],
      iters: Int): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct == ks,
      "ks must be distinct ascending")
    val spark = df.sparkSession
    val shared = valueCensus(df, valueCol)
    val wss: Seq[(Int, Double)] = ks.map { k =>
      val (cen, cents) = lloydCore(df, valueCol, k, iters, Some(shared))
      val asg = assign(cen, cents)
        .withColumn("c", cents.indices.tail.foldLeft(
          when(col("cluster") === 0, lit(cents(0)))) { (acc, j) =>
          acc.when(col("cluster") === j, lit(cents(j)))
        })
        .withColumn("d9",
          col("v") * lit(1000000000L) -
            round(col("c") * lit(1e9), 0).cast("long"))
      val w = asg.agg(
        sum(col("d9").cast(DecimalType(31, 0)) *
          col("d9").cast(DecimalType(31, 0)) *
          col("n").cast(DecimalType(7, 0))).as("w"))
        .select(dbl(col("w")) / lit(1e18)).head().getDouble(0)
      k -> w
    }
    val byK = wss.toMap
    // discrete curvature: only where both neighbors exist in the sweep
    val curv: Seq[(Int, Option[Double])] = ks.map { k =>
      k -> (for { p <- byK.get(k - 1); nx <- byK.get(k + 1) }
        yield (p + nx) - 2.0 * byK(k))
    }
    val defined = curv.collect { case (k, Some(c)) => (k, c) }
    val knee: Option[Int] =
      if (defined.isEmpty) None
      else {
        val mx = defined.map(_._2).max
        Some(defined.filter(_._2 == mx).map(_._1).min)
      }
    import spark.implicits._
    ks.map { k =>
      (k.toLong, byK(k) + 0.0,
        curv.toMap.apply(k).map(_ + 0.0),
        knee.contains(k))
    }.toDF("k", "total_wss", "curvature", "is_knee")
  }

  /** DAVIES–BOULDIN INDEX from a [[kMeans1D]] result — the one-number
    * "are the bands separated relative to their spread" verdict:
    * DB = (1/k)·Σᵢ maxⱼ≠ᵢ (Sᵢ + Sⱼ)/|cᵢ − cⱼ| with Sᵢ = √(WSSᵢ/nᵢ)
    * (the rms spread the kmeans output already carries exactly). Lower
    * is better; coincident centroids read NULL rather than dividing by
    * zero. Pure closed-form over the k-row result — O(k²) driver-free
    * arithmetic, pinned at 1e-9, report at 1e-6.
    */
  def daviesBouldin(kmeansOut: DataFrame): DataFrame = {
    val a = kmeansOut.select(col("cluster").as("i"), col("n").as("ni"),
      col("centroid").as("ci"), col("wss").as("wi"))
    val b = kmeansOut.select(col("cluster").as("j"), col("n").as("nj"),
      col("centroid").as("cj"), col("wss").as("wj"))
    val si = round(sqrt(col("wi") / dbl(col("ni"))), 9)
    val sj = round(sqrt(col("wj") / dbl(col("nj"))), 9)
    val ratio = when(abs(col("ci") - col("cj")) > 0.0,
      round((si + sj) / abs(col("ci") - col("cj")), 9))
    a.crossJoin(b).filter(col("i") =!= col("j"))
      .groupBy(col("i"))
      .agg(max(ratio).as("r"))
      .agg(count(lit(1)).as("k"),
        (round(dbl(sum(col("r").cast(DecimalType(28, 9)))) /
          dbl(count(lit(1))), 6) + lit(0.0))
          .as("db_index"))
  }

  /** HUBER ROBUST LOCATION — the outlier-resistant center the mean
    * can't give and the median overshoots (the median throws away all
    * magnitude information; Huber down-weights only past the cutoff):
    * 4 IRLS rounds over the value census with ψ-weights w = min(1,
    * c/|v − μ|), c = 1.345·1.4826·MAD (the 95%-efficiency convention).
    * Median and MAD are exact discrete census ranks (lower-median
    * convention), weights pinned at 1e-12, weighted sums on the 1e-9
    * decimal grid, μ re-pinned per round — the plattScaling unrolled
    * shape, oracle-replayable step for step. A zero MAD (over half the
    * mass on one value) reports the median outright (stated).
    */
  def huberLocation(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val cen = df.select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cen.agg(sum(col("n")).as("nt"),
      sum((col("v") * col("n")).cast(d38)).as("sv")).head()
    val nt = tot.getLong(0)
    val medRank = (nt + 1L) / 2L
    val med = cen.withColumn("cum", sum(col("n")).over(wOrd))
      .filter(col("cum") >= medRank).orderBy(col("v"))
      .limit(1).head().getLong(0)
    val madCen = cen.select(abs(col("v") - lit(med)).as("v"), col("n"))
      .groupBy(col("v")).agg(sum(col("n")).as("n"))
    val mad = madCen.withColumn("cum", sum(col("n")).over(wOrd))
      .filter(col("cum") >= medRank).orderBy(col("v"))
      .limit(1).head().getLong(0)
    val mean = BigDecimal(tot.getDecimal(1)).toDouble / nt.toDouble
    import spark.implicits._
    if (mad == 0L) {
      return Seq(1).toDF("__one").select(lit(nt).as("n"),
        lit(med).as("median"), lit(mad).as("mad"),
        lit(null).cast("double").as("c"),
        (lit(med).cast("double") + lit(0.0)).as("huber_mu"),
        (round(lit(mean), 6) + lit(0.0)).as("mean"))
    }
    var mu: Double = med.toDouble
    // c = 1.345 sigma-units of the MAD-consistent scale
    val cCut = BigDecimal(1.345 * (1.4826 * mad.toDouble))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (_ <- 1 to 4) {
      // the weight is the ONLY pinned double (12 decimals, |w| ≤ 1);
      // everything it multiplies stays an exact integer decimal — a
      // round() on the ~1e9-magnitude products would diverge across
      // engines past 2^53 (the kMeans1D WSS lesson)
      val w = when(abs(dbl(col("v")) - lit(mu)) <= lit(cCut), lit(1.0))
        .otherwise(round(lit(cCut) / abs(dbl(col("v")) - lit(mu)), 12))
        .cast(DecimalType(13, 12))
      val got = cen.agg(
        sum(w * (col("v") * col("n")).cast(DecimalType(20, 0))).as("swv"),
        sum(w * col("n").cast(DecimalType(19, 0))).as("sw"))
        .select(round(dbl(col("swv")) / dbl(col("sw")), 9)).head()
      mu = got.getDouble(0)
    }
    Seq(1).toDF("__one").select(lit(nt).as("n"),
      lit(med).as("median"), lit(mad).as("mad"),
      (lit(cCut) + lit(0.0)).as("c"),
      (round(lit(mu), 6) + lit(0.0)).as("huber_mu"),
      (round(lit(mean), 6) + lit(0.0)).as("mean"))
  }

  /** 2-FEATURE PCA — the principal direction and the variance split of
    * an (x, y) cloud from ONE exact moment pass: population covariances
    * pinned at 1e-9, eigenvalues in closed form (trace/discriminant —
    * sqrt is a correctly-rounded IEEE primitive, no iterative eigen
    * anywhere), the leading axis from the (cov, λ₁ − var_x) eigenvector
    * normalized to unit length with its sign fixed (axis_x ≥ 0). The
    * "is this 2-D cloud really 1-D" meter beside q83's correlation —
    * explained_share IS the answer. Degenerate clouds (zero total
    * variance) read NULL; an axis-aligned cloud (cov = 0) reads the
    * dominant coordinate axis exactly.
    */
  def pca2(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val f = df.select(col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
    val mom = f.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("y") * col("y")).cast(d38)).as("syy"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"))
    val n = dbl(col("n"))
    val mx = dbl(col("sx")) / n
    val my = dbl(col("sy")) / n
    val staged = mom.select(col("n"),
      round(dbl(col("sxx")) / n - mx * mx, 9).as("cxx"),
      round(dbl(col("syy")) / n - my * my, 9).as("cyy"),
      round(dbl(col("sxy")) / n - mx * my, 9).as("cxy"))
    val disc = sqrt((col("cxx") - col("cyy")) * (col("cxx") - col("cyy")) /
      lit(4.0) + col("cxy") * col("cxy"))
    val l1 = (col("cxx") + col("cyy")) / lit(2.0) + disc
    val l2 = (col("cxx") + col("cyy")) / lit(2.0) - disc
    // eigenvector of λ₁: (cxy, λ₁ − cxx) when cov ≠ 0, else the
    // dominant coordinate axis; normalized, sign pinned by axis_x ≥ 0
    val vx0 = when(col("cxy") =!= 0.0, col("cxy"))
      .otherwise(when(col("cxx") >= col("cyy"), lit(1.0)).otherwise(lit(0.0)))
    val vy0 = when(col("cxy") =!= 0.0, l1 - col("cxx"))
      .otherwise(when(col("cxx") >= col("cyy"), lit(0.0)).otherwise(lit(1.0)))
    val nrm = sqrt(vx0 * vx0 + vy0 * vy0)
    val sgn = when(vx0 < 0.0, lit(-1.0))
      .when(vx0 === 0.0 && vy0 < 0.0, lit(-1.0)).otherwise(lit(1.0))
    val ok = col("cxx") + col("cyy") > 0.0
    staged.select(col("n"),
      (col("cxx") + lit(0.0)).as("var_x"),
      (col("cyy") + lit(0.0)).as("var_y"),
      (col("cxy") + lit(0.0)).as("cov_xy"),
      when(ok, round(l1, 6) + lit(0.0)).as("lambda1"),
      when(ok, round(l2, 6) + lit(0.0)).as("lambda2"),
      when(ok, round(l1 / (col("cxx") + col("cyy")), 6) + lit(0.0))
        .as("explained_share"),
      when(ok, round(sgn * vx0 / nrm, 6) + lit(0.0)).as("axis_x"),
      when(ok, round(sgn * vy0 / nrm, 6) + lit(0.0)).as("axis_y"))
  }

  /** THREE-REGRESSOR OLS via the centered normal equations solved in
    * closed form (Cramer's rule on the symmetric 3×3) — the multiple
    * regression the shelf's 1- and 2-regressor fits (q147, q629/q652's
    * 2×2) stop short of: "how much order value does EACH of line count,
    * total quantity, and urgency carry, holding the others fixed".
    * ONE exact moment pass (every raw sum DECIMAL(38,0)); centered
    * cross-moments C_ij = n·S_ij − S_i·S_j in a fixed double expression
    * shape shared verbatim with the oracle; determinant and the three
    * column-replaced determinants expanded explicitly; R² from the
    * fitted inner product. A singular design (collinear regressors)
    * reads NULL coefficients rather than exploding.
    */
  def ols3(
      df: DataFrame,
      yCol: String,
      x1Col: String,
      x2Col: String,
      x3Col: String): DataFrame = {
    val f = df.select(col(yCol).cast("long").as("y"),
      col(x1Col).cast("long").as("x1"), col(x2Col).cast("long").as("x2"),
      col(x3Col).cast("long").as("x3"))
    def s(a: String, b: String) =
      sum((col(a) * col(b)).cast(d38)).as(s"s_${a}_$b")
    val mom = f.agg(count(lit(1)).as("n"),
      sum(col("y").cast(d38)).as("s_y"),
      sum(col("x1").cast(d38)).as("s_x1"),
      sum(col("x2").cast(d38)).as("s_x2"),
      sum(col("x3").cast(d38)).as("s_x3"),
      s("y", "y"), s("x1", "x1"), s("x2", "x2"), s("x3", "x3"),
      s("x1", "x2"), s("x1", "x3"), s("x2", "x3"),
      s("x1", "y"), s("x2", "y"), s("x3", "y"))
    val n = dbl(col("n"))
    def cc(sij: String, si: String, sj: String): Column =
      n * dbl(col(sij)) - dbl(col(si)) * dbl(col(sj))
    val c11 = cc("s_x1_x1", "s_x1", "s_x1")
    val c22 = cc("s_x2_x2", "s_x2", "s_x2")
    val c33 = cc("s_x3_x3", "s_x3", "s_x3")
    val c12 = cc("s_x1_x2", "s_x1", "s_x2")
    val c13 = cc("s_x1_x3", "s_x1", "s_x3")
    val c23 = cc("s_x2_x3", "s_x2", "s_x3")
    val cy1 = cc("s_x1_y", "s_x1", "s_y")
    val cy2 = cc("s_x2_y", "s_x2", "s_y")
    val cy3 = cc("s_x3_y", "s_x3", "s_y")
    val cyy = cc("s_y_y", "s_y", "s_y")
    val det = c11 * (c22 * c33 - c23 * c23) -
      c12 * (c12 * c33 - c23 * c13) + c13 * (c12 * c23 - c22 * c13)
    val det1 = cy1 * (c22 * c33 - c23 * c23) -
      c12 * (cy2 * c33 - c23 * cy3) + c13 * (cy2 * c23 - c22 * cy3)
    val det2 = c11 * (cy2 * c33 - c23 * cy3) -
      cy1 * (c12 * c33 - c23 * c13) + c13 * (c12 * cy3 - cy2 * c13)
    val det3 = c11 * (c22 * cy3 - c23 * cy2) -
      c12 * (c12 * cy3 - cy2 * c13) + cy1 * (c12 * c23 - c22 * c13)
    val b1 = det1 / det
    val b2 = det2 / det
    val b3 = det3 / det
    val icept = (dbl(col("s_y")) - b1 * dbl(col("s_x1")) -
      b2 * dbl(col("s_x2")) - b3 * dbl(col("s_x3"))) / n
    val r2 = (b1 * cy1 + b2 * cy2 + b3 * cy3) / cyy
    val ok = det =!= 0.0 && cyy > 0.0 && col("n") >= 5L
    mom.select(col("n"),
      when(ok, round(b1, 6) + lit(0.0)).as("beta1"),
      when(ok, round(b2, 6) + lit(0.0)).as("beta2"),
      when(ok, round(b3, 6) + lit(0.0)).as("beta3"),
      when(ok, round(icept, 6) + lit(0.0)).as("intercept"),
      when(ok, round(r2, 6) + lit(0.0)).as("r2"))
  }

  /** 2-FEATURE MAHALANOBIS OUTLIERS — covariance-aware distance from
    * the centroid, so a point far along the cloud's thin axis outranks
    * one equally far along its fat axis (the multivariate upgrade of
    * q84-style per-column z-scores, which miss exactly the correlated
    * outliers). Σ and its closed-form 2×2 inverse from one exact moment
    * pass (pinned at 1e-9); md² per row is a fixed double expression;
    * top `topK` by md² with id tie-break. A singular Σ (collinear
    * features) refuses loudly — distances would be meaningless.
    */
  def mahalanobis2(
      df: DataFrame,
      idCol: String,
      xCol: String,
      yCol: String,
      topK: Int = 20): DataFrame = {
    val f = df.select(col(idCol).as("id"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .localCheckpoint(true) // moment pass + scoring pass share it
    val momRow = f.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("y") * col("y")).cast(d38)).as("syy"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"))
    val st = momRow.select(col("n"),
      round(dbl(col("sx")) / dbl(col("n")), 9).as("mx"),
      round(dbl(col("sy")) / dbl(col("n")), 9).as("my"),
      round(dbl(col("sxx")) / dbl(col("n")) -
        (dbl(col("sx")) / dbl(col("n"))) * (dbl(col("sx")) / dbl(col("n"))),
        9).as("cxx"),
      round(dbl(col("syy")) / dbl(col("n")) -
        (dbl(col("sy")) / dbl(col("n"))) * (dbl(col("sy")) / dbl(col("n"))),
        9).as("cyy"),
      round(dbl(col("sxy")) / dbl(col("n")) -
        (dbl(col("sx")) / dbl(col("n"))) * (dbl(col("sy")) / dbl(col("n"))),
        9).as("cxy")).head()
    val (mx, my) = (st.getDouble(1), st.getDouble(2))
    val (cxx, cyy, cxy) = (st.getDouble(3), st.getDouble(4), st.getDouble(5))
    val detS = cxx * cyy - cxy * cxy
    require(detS != 0.0,
      "mahalanobis2 needs a non-singular covariance (collinear features?)")
    val dx = dbl(col("x")) - lit(mx)
    val dy = dbl(col("y")) - lit(my)
    // md² = (cyy·dx² − 2·cxy·dx·dy + cxx·dy²) / det
    val md2 = (lit(cyy) * dx * dx - lit(2.0) * lit(cxy) * dx * dy +
      lit(cxx) * dy * dy) / lit(detS)
    f.select(col("id"), col("x"), col("y"),
        (round(md2, 6) + lit(0.0)).as("md2"))
      .orderBy(col("md2").desc, col("id"))
      .limit(topK)
  }

  /** DECISION STUMP — the best single threshold split of a binary label
    * on one integer feature, by exact Gini impurity reduction over the
    * value census: prefix counts give every candidate split's left/right
    * class balance in ONE window pass (O(domain), never O(rows·splits)),
    * impurities are pinned doubles, the winner takes the LOWEST
    * splitting value on gain ties. The interpretable one-rule baseline
    * (and feature screen) beside the shelf's calibrated models — if the
    * stump's gain is near zero, a deeper tree is fitting noise.
    * Output: one row — split (left = values ≤ split), counts, left/right
    * positive rates, root and split Gini, the gain.
    */
  def decisionStump(
      df: DataFrame,
      featureCol: String,
      labelCol: Column): DataFrame = {
    val cen = df.select(col(featureCol).cast("long").as("v"),
        labelCol.cast("long").as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cen.agg(sum(col("n")).as("nt"), sum(col("pos")).as("pt"))
    val pre = cen.select(col("v"), sum(col("n")).over(wOrd).as("nl"),
        sum(col("pos")).over(wOrd).as("pl"))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("nt")) // a split must leave a right side
    val nl = dbl(col("nl")); val pl = dbl(col("pl"))
    val nr = dbl(col("nt") - col("nl")); val pr = dbl(col("pt") - col("pl"))
    val nt = dbl(col("nt")); val pt = dbl(col("pt"))
    def gini(p: Column, q: Column): Column =
      lit(1.0) - p * p - q * q
    val gl = gini(pl / nl, (nl - pl) / nl)
    val gr = gini(pr / nr, (nr - pr) / nr)
    val g0 = gini(pt / nt, (nt - pt) / nt)
    val gain = round(g0 - (nl / nt) * gl - (nr / nt) * gr, 9)
    val best = pre
      .select(struct(gain.as("g"), (-col("v")).as("negv"), col("v"),
        col("nl"), col("pl"), col("nt"), col("pt")).as("s"))
      .agg(max(col("s")).as("s")) // max gain, then LOWEST v (via −v)
      .select(col("s.*"))
    best.select(col("v").as("split"), col("nt").as("n"),
      col("nl").as("n_left"), (col("nt") - col("nl")).as("n_right"),
      (round(dbl(col("pl")) / dbl(col("nl")), 6) + lit(0.0))
        .as("pos_rate_left"),
      (round(dbl(col("pt") - col("pl")) / dbl(col("nt") - col("nl")), 6) +
        lit(0.0)).as("pos_rate_right"),
      (round(lit(1.0) - (dbl(col("pt")) / dbl(col("nt"))) *
        (dbl(col("pt")) / dbl(col("nt"))) -
        ((dbl(col("nt")) - dbl(col("pt"))) / dbl(col("nt"))) *
        ((dbl(col("nt")) - dbl(col("pt"))) / dbl(col("nt"))), 6) + lit(0.0))
        .as("gini_root"),
      (col("g") + lit(0.0)).as("gain"))
  }

  /** FISHER LDA (2 features, 2 classes) — the closed-form separating
    * direction w = Σ_w⁻¹(μ₁ − μ₀) from per-class exact moments: pooled
    * WITHIN-class covariance (the piece q660's class-blind PCA cannot
    * see — PCA's top axis may be exactly the direction that mixes the
    * classes), 2×2 inverse in closed form, Fisher criterion
    * (between-class gap over within-class spread along w) as the
    * separation meter. Direction normalized, sign pinned so class 1's
    * projection mean is the larger. Degenerate designs (a class with
    * < 2 rows, singular pooled Σ) read NULL.
    */
  def lda2(
      df: DataFrame,
      classCol: Column,
      xCol: String,
      yCol: String): DataFrame = {
    val f = df.select(classCol.cast("long").as("g"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val mom = f.groupBy(col("g")).agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("y") * col("y")).cast(d38)).as("syy"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"))
    val n = dbl(col("n"))
    // per-class CENTERED scatter (not divided — pooled below), pinned
    val staged = mom.select(col("g"), col("n"),
      round(dbl(col("sx")) / n, 9).as("mx"),
      round(dbl(col("sy")) / n, 9).as("my"),
      round(dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / n, 9)
        .as("wxx"),
      round(dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / n, 9)
        .as("wyy"),
      round(dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / n, 9)
        .as("wxy"))
    val a = staged.filter(col("g") === 1L).select(col("n").as("n1"),
      col("mx").as("mx1"), col("my").as("my1"), col("wxx").as("wxx1"),
      col("wyy").as("wyy1"), col("wxy").as("wxy1"))
    val b = staged.filter(col("g") === 0L).select(col("n").as("n0"),
      col("mx").as("mx0"), col("my").as("my0"), col("wxx").as("wxx0"),
      col("wyy").as("wyy0"), col("wxy").as("wxy0"))
    val j = a.crossJoin(b)
    val dfree = dbl(col("n1")) + dbl(col("n0")) - lit(2.0)
    val pxx = (col("wxx1") + col("wxx0")) / dfree
    val pyy = (col("wyy1") + col("wyy0")) / dfree
    val pxy = (col("wxy1") + col("wxy0")) / dfree
    val detP = pxx * pyy - pxy * pxy
    val dmx = col("mx1") - col("mx0")
    val dmy = col("my1") - col("my0")
    // w = Σ⁻¹ Δμ (un-normalized), then unit-scaled
    val wx0 = (pyy * dmx - pxy * dmy) / detP
    val wy0 = (pxx * dmy - pxy * dmx) / detP
    val nrm = sqrt(wx0 * wx0 + wy0 * wy0)
    // sign already points from class 0 toward class 1 by construction
    // (w·Δμ = Δμᵀ Σ⁻¹ Δμ ≥ 0); fisher = (w·Δμ)² / (wᵀ Σ_w w) = w·Δμ
    val fisher = wx0 * dmx + wy0 * dmy
    val ok = col("n1") >= 2L && col("n0") >= 2L && detP =!= 0.0 &&
      dfree > 0.0 && nrm > 0.0
    j.select(col("n1"), col("n0"),
      when(ok, round(wx0 / nrm, 6) + lit(0.0)).as("w_x"),
      when(ok, round(wy0 / nrm, 6) + lit(0.0)).as("w_y"),
      when(ok, round(dmx, 6) + lit(0.0)).as("gap_x"),
      when(ok, round(dmy, 6) + lit(0.0)).as("gap_y"),
      when(ok, round(fisher, 6) + lit(0.0)).as("fisher_separation"))
  }
}
