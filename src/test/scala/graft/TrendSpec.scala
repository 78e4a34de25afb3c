package graft

import org.apache.spark.sql.functions._

import graft.operators.Trend

class TrendSpec extends SparkSuite {
  import spark.implicits._

  test("olsPerKey recovers an exact linear trend and drops single-x keys") {
    // key a: y = 3x + 1 (slope exactly 3); key b: constant (slope 0);
    // key c: one x only → undefined, dropped
    val df = Seq(
      ("a", 10L, 31L), ("a", 11L, 34L), ("a", 12L, 37L),
      ("b", 5L, 7L), ("b", 6L, 7L),
      ("c", 9L, 1L)).toDF("k", "x", "y")
    val out = Trend.olsPerKey(df, "k", "x", "y")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out == Map("a" -> 3.0, "b" -> 0.0))
  }

  test("seasonalAnomalies flags the one bucket off its seasonal profile") {
    // season length 2: even buckets run at 10, odd at 20 — except bucket 6
    // spikes to 100, which dominates the residual variance and is the
    // only |resid| > 2·sd point
    val df = Seq(
      ("k", 0L, 10L), ("k", 1L, 20L), ("k", 2L, 10L), ("k", 3L, 20L),
      ("k", 4L, 10L), ("k", 5L, 20L), ("k", 6L, 100L), ("k", 7L, 20L))
      .toDF("k", "b", "n")
    val out = Trend.seasonalAnomalies(df, "k", "b", 2, "n", 2.0)
      .collect().map(r => r.getLong(1) -> r.getInt(4)).toMap
    assert(out(6L) == 1, "the spike must be flagged")
    assert(out.filter(_._1 != 6L).values.forall(_ == 0),
      "profile-conformant buckets must not be flagged")
  }

  test("markovTransitions counts consecutive steps and conditions on the from-state") {
    // user 1: a→b→a→c, user 2: a→b — steps: a→b ×2, b→a, a→c, b is never
    // a terminal from-state twice; last event of each user emits no step
    val df = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "a"), (1L, 40L, 4L, "c"),
      (2L, 10L, 5L, "a"), (2L, 20L, 6L, "b")).toDF("u", "sec", "id", "st")
    val out = Trend.markovTransitions(df, "u", col("sec"), col("id"), "st")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      ("a", "b") -> ((2L, 3L, 2.0 / 3.0)),
      ("a", "c") -> ((1L, 3L, 1.0 / 3.0)),
      ("b", "a") -> ((1L, 1L, 1.0))))
  }

  test("cusumShifts closed form equals the recursive CUSUM definition") {
    val vals = Seq(10000L, 12000L, 9000L, 30000L, 31000L, 30500L, 10000L)
    val kC = 1000L
    val hC = 20000L
    val df = vals.zipWithIndex
      .map { case (v, i) => ("k", i.toLong, v) }.toDF("k", "b", "cents")
    val got = Trend.cusumShifts(df, "k", "b", "cents", kC, hC)
      .collect().map(r => r.getLong(1) -> ((r.getDouble(2), r.getInt(3)))).toMap
    // reference: the textbook recursion S_i = max(0, S_{i-1} + d_i) on the
    // same m-scaled integer residuals
    val m = vals.length.toLong
    val t = vals.sum
    var s = 0L
    val exp = vals.zipWithIndex.map { case (v, i) =>
      s = math.max(0L, s + (m * v - t - m * kC))
      i.toLong -> ((BigDecimal(s.toDouble / (m.toDouble * 100.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        if (s > m * hC) 1 else 0))
    }.toMap
    assert(got == exp)
    assert(exp.values.exists(_._2 == 1), "the level shift must be flagged")
    assert(exp(0L)._2 == 0, "pre-shift buckets must not be flagged")
  }

  test("autocorrPerKey: linear series gives acf 1, alternating gives -1, short keys drop") {
    // key a: strictly increasing linear → lag-1 pairs perfectly correlated;
    // key b: alternating 0/10 → lag-1 pairs perfectly anti-correlated;
    // key c: 3 points → only 2 lag-1 pairs → dropped by the n >= 3 floor
    val rows =
      (0 until 6).map(i => ("a", i.toLong, (i + 1).toLong)) ++
      (0 until 6).map(i => ("b", i.toLong, if (i % 2 == 0) 0L else 10L)) ++
      (0 until 3).map(i => ("c", i.toLong, i.toLong))
    val df = rows.toDF("k", "b", "cents")
    val out = Trend.autocorrPerKey(df, "k", "b", "cents", Seq(1))
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map("a" -> ((5L, 1.0)), "b" -> ((5L, -1.0))))
  }

  test("ljungBoxPerKey: alternating series, hand r_k and exact Q = 12") {
    // x = [1,2,1,2,1,2]: r1 = -45/54 = -5/6, r2 = 36/54 = 2/3;
    // terms r1²/5 + r2²/4 = 0.138888889 + 0.111111111 = 0.25 on the
    // 1e-9 grid, Q = 6·8·0.25 = 12 exactly. Constant key drops (den=0),
    // short key keeps only lags < n.
    val rows = (0 until 6).map(i => ("a", i.toLong, 1L + (i % 2))) ++
      (0 until 4).map(i => ("c", i.toLong, 7L)) ++
      (0 until 3).map(i => ("s", i.toLong, (i * i).toLong))
    val df = rows.toDF("k", "b", "cents")
    val out = Trend.ljungBoxPerKey(df, "k", "b", "cents", maxLag = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("a") == ((6L, 2L, -0.833333, 12.0)))
    assert(!out.contains("c"), "zero-variance keys drop (den = 0)")
    assert(out("s")._2 == 2L, "n=3 keeps lags 1..2 (lag < n)")
  }

  test("crostonPerKey: hand fold — init, interval seed, smoothed rate") {
    // events (0,4), (2,8), (5,2): z: 4 → 6 → 4; p: seed 2 → 2.5;
    // forecast 4/2.5 = 1.6. Zero rows excluded; single-event keys drop.
    val rows = Seq(("a", 0L, 4L), ("a", 1L, 0L), ("a", 2L, 8L),
      ("a", 5L, 2L), ("s", 3L, 9L))
    val got = Trend.crostonPerKey(rows.toDF("k", "b", "q"), "k", "b", "q")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 3L)
    assert(a.getDouble(2) == 4.0 && a.getDouble(3) == 2.5)
    assert(a.getDouble(4) == 1.6)
    assert(!got.contains("s"), "single-demand keys drop")
  }

  test("sbcClassify: dense-constant = smooth, sparse-volatile = lumpy") {
    val smooth = (0L to 9L).map(b => ("sm", b, 10L))
    val lumpy = Seq(("lu", 0L, 1L), ("lu", 10L, 100L))
    val got = Trend.sbcClassify((smooth ++ lumpy).toDF("k", "b", "q"),
        "k", "b", "q")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getString(4)))).toMap
    assert(got("sm") == ((1.0, 0.0, "smooth")))
    assert(got("lu")._1 == 10.0 && got("lu")._3 == "lumpy")
  }

  test("pinballEval: train p90 order stat, asymmetric loss on test") {
    // train (even buckets) [10,20,30] → p90 = 30; test [25, 35]:
    // losses max(.9d, -.1d) = (0.5, 4.5) → mean 2.5
    val rows = Seq(("a", 0L, 10L), ("a", 2L, 20L), ("a", 4L, 30L),
      ("a", 1L, 25L), ("a", 3L, 35L))
    val r = Trend.pinballEval(rows.toDF("k", "b", "cents"),
      "k", "b", "cents").head()
    assert(r.getLong(1) == 30L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 2.5)
  }

  test("dispersionCheck: hand VMR, zero-mean keys emit NULL") {
    // counts [1,2,3]: mean 2, var 1, VMR 0.5, D = (n-1)·VMR = 1
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("z", 0L), ("z", 0L))
    val got = Trend.dispersionCheck(rows.toDF("k", "cnt"), "k", "cnt")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 3L && a.getDouble(2) == 2.0 &&
      a.getDouble(3) == 1.0)
    assert(a.getDouble(4) == 0.5 && a.getDouble(5) == 1.0)
    assert(got("z").isNullAt(4) && got("z").isNullAt(5))
  }

  test("xmrChart: limits from the mean moving range, spike flagged") {
    // a = [10,12,10,12,40]: x̄=16.8, MR̄=34/4=8.5 → UCL=16.8+2.66·8.5
    // = 39.41 < 40 → one violation at bucket 4; b in-control
    val rows = Seq(("a", 0L, 10L), ("a", 1L, 12L), ("a", 2L, 10L),
      ("a", 3L, 12L), ("a", 4L, 40L), ("b", 0L, 5L), ("b", 1L, 6L))
    val df = rows.toDF("k", "b", "cents")
    val got = Trend.xmrChart(df, "k", "b", "cents")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 5L && a.getDouble(2) == 16.8 &&
      a.getDouble(3) == 8.5)
    assert(a.getDouble(4) == math.rint((16.8 + 2.66 * 8.5) * 1e6) / 1e6)
    assert(a.getLong(6) == 1L && a.getLong(7) == 4L)
    assert(got("b").getLong(6) == 0L && got("b").isNullAt(7))
  }

  test("pageHinkley: running-mean deviations, alarm at the shift, flat = 0") {
    // a = [10,10,10,40]: terms 0,0,0,22.5 → ph peaks 22.5 at bucket 3,
    // crossing λ=15 there; b flat → ph 0 everywhere, peak tie → bucket 0
    val rows = Seq(("a", 0L, 10L), ("a", 1L, 10L), ("a", 2L, 10L),
      ("a", 3L, 40L), ("b", 0L, 5L), ("b", 1L, 5L))
    val df = rows.toDF("k", "b", "cents")
    val got = Trend.pageHinkley(df, "k", "b", "cents", 0.0, 15.0)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getBoolean(5)))).toMap
    assert(got("a") == ((4L, 22.5, 3L, Some(3L), true)))
    assert(got("b") == ((2L, 0.0, 0L, None, false)))
  }

  test("seasonalMannKendall: per-season S and variance numerators combine") {
    // season 0: 1,2,3 → S=3, numvar 66; season 1: 5,5,4 → S=-2, ties
    // tsum 18 → numvar 48; total S=1, Var=114/18, z=(1-1)/√Var = 0
    val rows = Seq(("a", 0L, 0L, 1L), ("a", 0L, 1L, 2L), ("a", 0L, 2L, 3L),
      ("a", 1L, 0L, 5L), ("a", 1L, 1L, 5L), ("a", 1L, 2L, 4L))
    val df = rows.toDF("k", "h", "t", "v")
    val r = Trend.seasonalMannKendall(df, "k", "h", "t", "v").head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (("a", 6L, 2L, 1L)))
    assert(r.getDouble(4) == math.rint(114.0 / 18.0 * 1e6) / 1e6)
    assert(r.getDouble(5) == 0.0)
  }

  test("holtPerKey tracks a perfect linear trend exactly; singletons drop") {
    // on v_i = 10 + 5i the recursion is exact at every step: level = v_n,
    // trend = 5, forecast = v_n + 5 — while plain EWMA would lag
    val lin = (1 to 8).map(i => ("a", i.toLong, 10.0 + 5.0 * i))
    val df = (lin :+ (("b", 1L, 42.0))).toDF("k", "o", "v")
    val got = Trend.holtPerKey(df, "k", "o", "v", 0.5, 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == Map("a" -> ((8L, 50.0, 5.0, 55.0))))
    // two points: init state IS the answer (level v2, trend v2 - v1)
    val two = Seq(("c", 1L, 3.0), ("c", 2L, 7.0)).toDF("k", "o", "v")
    val g2 = Trend.holtPerKey(two, "k", "o", "v", 0.5, 0.5).collect()(0)
    assert((g2.getDouble(2), g2.getDouble(3), g2.getDouble(4)) == ((7.0, 4.0, 11.0)))
  }

  test("rollingOlsPerKey: exact slope on a line, NULL before a full window") {
    // y = 3x + 1 for key a → slope exactly 3, intercept exactly 1 once
    // the window fills; the first win-1 rows emit NULL
    val df = (0L to 5L).map(x => ("a", x, 3 * x + 1)).toDF("k", "x", "y")
    val got = Trend.rollingOlsPerKey(df, "k", "x", "y", win = 3)
      .orderBy("x").collect()
    assert(got.length == 6)
    assert(got.take(2).forall(r => r.isNullAt(3) && r.isNullAt(4)))
    got.drop(2).foreach { r =>
      assert(r.getDouble(3) == 3.0)
      assert(r.getDouble(4) == 1.0)
    }
    // degenerate window (all same x) emits NULL, not a 0/0
    val dup = Seq(("b", 2L, 1L), ("b", 2L, 5L), ("b", 2L, 9L)).toDF("k", "x", "y")
    val gb = Trend.rollingOlsPerKey(dup, "k", "x", "y", win = 3)
    assert(gb.collect().forall(_.isNullAt(3)))
  }

  test("changePointPerKey finds the level shift with exact segment means") {
    // key a: 5, 5, 5 then 50, 50 → best split after x=3
    val df = Seq(("a", 1L, 5L), ("a", 2L, 5L), ("a", 3L, 5L),
      ("a", 4L, 50L), ("a", 5L, 50L),
      // key b: flat series — any split has gain 0; earliest wins
      ("b", 1L, 7L), ("b", 2L, 7L), ("b", 3L, 7L)).toDF("k", "x", "y")
    val got = graft.operators.Trend.changePointPerKey(df, "k", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got("a") == ((3L, 3L, 2L, 5.0, 50.0)))
    assert(got("b")._1 == 1L) // deterministic earliest-split tie-break
    assert(got("b")._4 == 7.0 && got("b")._5 == 7.0)
  }

  test("ewmaPerKey equals the sequential fold, and a singleton is its value") {
    val df = Seq(
      ("a", 0L, 10.0), ("a", 1L, 20.0), ("a", 2L, 30.0),
      ("b", 5L, 7.5)).toDF("k", "o", "v")
    val got = Trend.ewmaPerKey(df, "k", "o", "v", 0.25)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val a = Seq(10.0, 20.0, 30.0).reduceLeft((acc, x) => 0.25 * x + 0.75 * acc)
    assert(got("a")._1 == 3L)
    assert(math.abs(got("a")._2 - a) < 1e-9)
    assert(got("b") == ((1L, 7.5)))
  }

  test("lttb keeps the endpoints and the interior peak; short series are excluded") {
    // flat series with one spike: threshold 3 = one interior bucket whose
    // largest triangle against (first, last) is exactly the spike
    val spike = (1 to 23).map(x =>
      ("s", x.toLong, if (x == 12) 100L else 10L))
    // a series no longer than the threshold is the identity — excluded
    val short = (1 to 3).map(x => ("t", x.toLong, 5L))
    val df = (spike ++ short).toDF("k", "x", "y")
    val got = Trend.lttbPerKey(df, "k", "x", "y", 3)
      .orderBy(col("idx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toList == List(
      ("s", 1L, 1L, 10L), ("s", 12L, 12L, 100L), ("s", 23L, 23L, 10L)),
      s"expected endpoints + spike; got ${got.toList}")
  }

  test("crossCorr: a planted 2-step lead reads r=1 at lag 2 and only there") {
    val x = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L, 5L, 3L)
    // y repeats x two steps later: y_{t+2} = x_t
    val rows = (1 to 10).map(t =>
      (t.toLong, x(t - 1), if (t >= 3) x(t - 3) else 0L))
    val got = Trend.crossCorr(rows.toDF("t", "x", "y"), "t", "x", "y",
        Seq(-1, 0, 1, 2, 3))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(2) == ((8L, 1.0)), s"lag 2 must be a perfect r=1: ${got(2)}")
    assert(math.abs(got(0)._2) < 0.999, "lag 0 must not be perfect")
    assert(got(-1)._1 == 9L && got(3)._1 == 7L, "pair counts shrink with |lag|")
  }

  test("holtBacktest: zero error on a perfect line, hand-computed otherwise") {
    def bt(vals: Seq[Double]) = Trend.holtBacktestPerKey(
      vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "t", "v"), "k", "t", "v", 0.5, 0.5)
      .collect().map(r =>
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).head
    // Holt is exact on a linear series with the (x2, x2-x1) init
    assert(bt(Seq(2, 4, 6, 8)) == ((4L, 2L, 0.0, 0.0)))
    // final point misses by 2: yHat=8, y=10 → mae 1.0, smape 2/18 avg'd
    assert(bt(Seq(2, 4, 6, 10)) == ((4L, 2L, 1.0, 0.111111)))
  }

  test("isotonicFit: violators pool to the PAVA solution, monotone out") {
    // unit weights, means [3, 1, 2, 4] → isotonic fit [2, 2, 2, 4]
    val df = Seq((1L, 3L, 1L), (2L, 1L, 1L), (3L, 2L, 1L), (4L, 4L, 1L))
      .toDF("x", "ys", "n")
    val got = Trend.isotonicFit(df, "x", "ys", "n")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._4).toSeq == Seq(2.0, 2.0, 2.0, 4.0))
    assert(got.map(_._3).toSeq == Seq(3.0, 1.0, 2.0, 4.0))
    // already-monotone input is a fixed point
    val mono = Seq((1L, 1L, 2L), (2L, 3L, 2L), (3L, 5L, 2L))
      .toDF("x", "ys", "n")
    val g2 = Trend.isotonicFit(mono, "x", "ys", "n")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(g2.forall(r => r._3 == r._4))
    // output is nondecreasing by construction
    assert(got.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("isotonicPava: block-merge plan agrees with the minimax form exactly") {
    // strictly decreasing input pools to ONE block (the all-mean)
    val dec = (1L to 9L).map(x => (x, 10L - x, 1L)).toDF("x", "ys", "n")
    val g1 = Trend.isotonicPava(dec, "x", "ys", "n", bucketSize = 2L)
      .as[(Long, Long, Double, Double)].collect()
    assert(g1.length == 9 && g1.forall(_._4 == 5.0))
    // random weighted census: PAVA == minimax, row for row (the two
    // plans must reach the same unique optimum on the same grids)
    val rnd = new scala.util.Random(19)
    val census = (1L to 120L).map(x =>
      (x, rnd.nextInt(50).toLong, 1L + rnd.nextInt(9).toLong))
      .map { case (x, y, n) => (x, math.min(y, n * 3), n) }
      .toDF("x", "ys", "n")
    val pava = Trend.isotonicPava(census, "x", "ys", "n", bucketSize = 8L)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val mm = Trend.isotonicFit(census, "x", "ys", "n")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(pava == mm)
    // the loud block bound
    assertThrows[IllegalArgumentException](
      Trend.isotonicPava(census, "x", "ys", "n", maxBlocks = 3))
  }

  test("maseBacktest: Holt is exact on a line, naive denominator exact") {
    // v = 10t: Holt one-step error 0 → mae 0, mase 0; season-5 naive
    // |v_t − v_{t−5}| = 50 every step → mae_snaive 50
    val df = (1 to 30).map(t => ("k", t.toLong, 10L * t)).toDF("k", "t", "v")
    val r = Trend.maseBacktest(df, "k", "t", "v", 0.5, 0.5, 5).head()
    assert((r.getLong(1), r.getLong(2)) == ((30L, 28L)))
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 50.0 &&
      r.getDouble(5) == 0.0)
  }

  test("saxSymbols: ramp series maps one segment per letter") {
    // hours 0..15 valued 0..15, PAA window 4 → means 1.5/5.5/9.5/13.5;
    // exact-rank quartile breakpoints put one segment in each band
    val df = (0 until 16).map(t => ("u", t.toLong, t.toLong))
      .toDF("k", "t", "v")
    val got = Trend.saxSymbols(df, "k", "t", "v", 4, 4)
      .as[(String, Long, String)].collect()
    assert(got.toSeq == Seq(("u", 4L, "abcd")))
    // constant series: single band, all 'a'
    val const = (0 until 8).map(t => ("c", t.toLong, 7L)).toDF("k", "t", "v")
    val g2 = Trend.saxSymbols(const, "k", "t", "v", 4, 4)
      .as[(String, Long, String)].collect()
    assert(g2.toSeq == Seq(("c", 2L, "aa")))
  }

  test("hillTailIndex: exact Pareto recovers its exponent") {
    // x_i = floor(1e6 / i^(1/2)) for i = 1..3000 is Pareto with alpha=2:
    // the Hill estimate over the top 100 should land near 2
    val vals = (1 to 3000).map(i =>
      (math.floor(1e6 / math.sqrt(i.toDouble)).toLong, i))
    val got = Trend.hillTailIndex(vals.toDF("v", "i"), "v", 100).head()
    assert(got.getLong(0) == 100L)
    val alpha = got.getDouble(2)
    assert(alpha > 1.7 && alpha < 2.3, s"Hill alpha should be ~2, got $alpha")
    // hand case: values 8,4,2,1 with k=2: terms ln(8/2), ln(4/2)
    val hand = Trend.hillTailIndex(
      Seq(8L, 4L, 2L, 1L).map((_, 0)).toDF("v", "i"), "v", 2).head()
    def g9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val s = g9(math.log(4.0)) + g9(math.log(2.0))
    assert(hand.getLong(1) == 2L)
    assert(hand.getDouble(2) == math.rint(2.0 / s.toDouble * 1e6) / 1e6)
  }

  test("kalmanLevelPerKey: hand-stepped recursion, gain settles") {
    // q=0.25, r=1: x1=10, P=1
    // step2: Pp=1.25, K=1.25/2.25=5/9, x=10+5/9*(19-10)=15, P=(4/9)*1.25
    val got = Trend.kalmanLevelPerKey(
      Seq(("k", 0L, 10.0), ("k", 1L, 19.0)).toDF("k", "t", "v"),
      "k", "t", "v", 0.25, 1.0).head()
    assert(got.getLong(1) == 2L)
    assert(got.getDouble(2) == 15.0)
    assert(got.getDouble(3) ==
      math.rint((1.0 - 1.25 / 2.25) * 1.25 * 1e6) / 1e6)
    // constant series: level stays at the constant regardless of steps
    val const = Trend.kalmanLevelPerKey(
      (0 to 9).map(i => ("c", i.toLong, 7.0)).toDF("k", "t", "v"),
      "k", "t", "v", 0.25, 1.0).head()
    assert(const.getDouble(2) == 7.0)
  }

  test("maDecompose: constant series decomposes to itself, zero seasonal") {
    // 96 hourly buckets of a constant: trend = c where defined, seasonal
    // indices all 0, remainder 0
    val df = (0 until 96).map(t => (t.toLong, 5L)).toDF("t", "v")
    val got = Trend.maDecompose(df, "t", "v", 24)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(got.length == 96)
    // rows 12..83 have full 2x24 windows
    val defined = got.filter(_._3.isDefined).map(_._1)
    assert(defined.head == 12L && defined.last == 83L)
    got.filter(_._3.isDefined).foreach { r =>
      assert(r._3.contains(5.0) && r._4.contains(0.0) &&
        r._5.contains(0.0), s"row $r")
    }
    // pure seasonal square wave, period 24: slot k contributes v=10 for
    // k<12 else 0; trend = mean = 5, seasonal = ±5, remainder 0
    val sq = (0 until 96).map(t =>
      (t.toLong, if (t % 24 < 12) 10L else 0L)).toDF("t", "v")
    val g2 = Trend.maDecompose(sq, "t", "v", 24)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().filter(_._3.isDefined)
    g2.foreach { r =>
      assert(r._3.contains(5.0), s"trend $r")
      val want = if (r._1 % 24 < 12) 5.0 else -5.0
      assert(r._4.contains(want) && r._5.contains(0.0), s"seasonal $r")
    }
  }

  test("maxDrawdown: hand series, per-key partitioning, value tie-break") {
    val rows = Seq(100L, 80L, 120L, 60L, 90L).zipWithIndex
      .map { case (v, i) => ("a", i.toLong, v) } ++
      Seq(("b", 0L, 50L), ("b", 1L, 70L)) // monotone up: zero drawdown
    val got = Trend.maxDrawdown(rows.toDF("k", "t", "v"),
        "k", Seq("t", "v"), "v")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 5L, 60L, 120L, 60L))) // peak 120 → trough 60
    assert(got("b") == (("b", 2L, 0L, 70L, 50L)))
  }
  test("negbinFit: hand MoM parameters, Poisson-or-under emits NULL") {
    // [1,2,3,6]: mean 3, var 14/3 -> r = 9/(5/3) = 5.4, p = 9/14
    val df = (Seq(1L, 2L, 3L, 6L).map(("a", _)) ++
      Seq(2L, 2L, 2L).map(("z", _))).toDF("k", "cnt")
    val got = Trend.negbinFit(df, "k", "cnt")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    val v = 14.0 / 3.0
    assert(a.getDouble(2) == 3.0)
    assert(a.getDouble(4) == math.rint(9.0 / (v - 3.0) * 1e6) / 1e6)
    assert(a.getDouble(5) == math.rint(3.0 / v * 1e6) / 1e6)
    assert(got("z").isNullAt(4) && got("z").isNullAt(5),
      "zero-variance keys are not overdispersed")
  }

  test("thetaPerKey: exact-linear series, hand SES fold and combination") {
    import spark.implicits._
    // v = [0,10,20] at t=1..3: OLS line -10+10t fits exactly, so the
    // theta-2 series equals v; SES(0.5): 0 -> 5 -> 12.5;
    // forecast = 0.5*12.5 + 0.5*(-10+10*4) = 21.25
    val df = Seq((7L, 1L, 0L), (7L, 2L, 10L), (7L, 3L, 20L),
      (8L, 1L, 5L), (8L, 2L, 5L)).toDF("k", "o", "v")
    val out = graft.operators.Trend.thetaPerKey(df, "k", "o", "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r7 = out(7L)
    assert(r7.getLong(1) == 3L)
    assert(r7.getDouble(2) == -10.0 && r7.getDouble(3) == 10.0)
    assert(r7.getDouble(4) == 12.5 && r7.getDouble(5) == 21.25)
    assert(!out.contains(8L), "series shorter than 3 must drop")
  }

  test("dominantPeriodPerKey: exact period-3 series reads lag 3, strength 1") {
    import spark.implicits._
    val rows = (0L until 24L).map(i =>
      (1L, i, if (i % 3 == 0) 10L else 0L)).toDF("k", "b", "v")
    val r = graft.operators.Trend.dominantPeriodPerKey(rows, "k", "b", "v", 6)
      .head()
    assert(r.getLong(1) == 3L, "period must be the true cycle length")
    assert(r.getDouble(2) == 1.0, "an exactly periodic series correlates 1")
    assert(r.getLong(4) == 5L) // lags 2..6 all had enough pairs
  }

  test("seasonalBandPerKey: slot-local envelope, newest-day breach") {
    import spark.implicits._
    // slot 0: days 1..10 read 10,20,...,100 (p10=10, p50=50, p90=90);
    // the newest day (10) reads 100 → breach. slot 1: flat 50s → no breach.
    val rows = (1L to 10L).flatMap(d =>
      Seq(("a", d, 0L, d * 10L), ("a", d, 1L, 50L))).toDF("k", "d", "slot", "v")
    val got = graft.operators.Trend
      .seasonalBandPerKey(rows, "k", "d", "slot", "v")
      .collect().map(r => r.getLong(1) -> r).toMap
    val s0 = got(0L)
    assert(s0.getLong(2) == 10L)
    assert(s0.getLong(3) == 10L && s0.getLong(4) == 50L && s0.getLong(5) == 90L)
    assert(s0.getLong(6) == 100L && s0.getBoolean(7))
    val s1 = got(1L)
    assert(s1.getLong(3) == 50L && s1.getLong(5) == 50L && !s1.getBoolean(7))
  }

  test("rmstFromKm: step integral with tail, truncation at tau") {
    import spark.implicits._
    val km = Seq((2L, 0.5), (5L, 0.25)).toDF("t", "survival")
    val r = graft.operators.Trend.rmstFromKm(km, tau = 10L).head()
    // 1.0*2 + 0.5*3 + 0.25*5 = 4.75
    assert(r.getDouble(2) == 4.75 && r.getDouble(3) == 0.475)
    val cut = graft.operators.Trend.rmstFromKm(km, tau = 4L).head()
    assert(cut.getDouble(2) == 3.0) // 1.0*2 + 0.5*min(5,4)-2, no tail
  }

  test("logRank: hand hypergeometric terms, chi2 = 3") {
    import spark.implicits._
    // arm A dies at t=1 (both), arm B at t=2: O_A=2, E_A=1, V=1/3
    val df = Seq((1L, 0L, true), (1L, 3600L, true), (2L, 0L, true),
      (2L, 3600L, true), (3L, 0L, false), (3L, 7200L, false),
      (4L, 0L, false), (4L, 7200L, false)).toDF("u", "sec", "ua")
    val r = graft.operators.Trend.logRank(df, "u", "sec",
      censorCutoffSec = 999999L, armACol = col("ua")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 2L && r.getDouble(3) == 1.0)
    assert(math.abs(r.getDouble(4) - 3.0) < 1e-6)
  }

  test("nelsonAalen: hand additive-hazard chain over the KM census") {
    import spark.implicits._
    // users 1,2 die at t=1 (n_risk 4), users 3,4 at t=2 (n_risk 2):
    // h = 0.5 then 1.0, H = 0.5 then 1.5
    val df = Seq((1L, 0L), (1L, 3600L), (2L, 0L), (2L, 3600L),
      (3L, 0L), (3L, 7200L), (4L, 0L), (4L, 7200L)).toDF("u", "sec")
    val km = graft.operators.Trend.kaplanMeier(df, "u", "sec", 999999L)
    val got = graft.operators.Trend.nelsonAalen(km)
      .orderBy(col("t")).collect()
    assert(got.length == 2)
    assert(got(0).getDouble(3) == 0.5 && got(0).getDouble(4) == 0.5)
    assert(got(1).getDouble(3) == 1.0 && got(1).getDouble(4) == 1.5)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getDouble(5) == r6(math.exp(-0.5)))
    assert(got(1).getDouble(5) == r6(math.exp(-1.5)))
  }

  test("seasonalStrength: periodic 1, constant NULL, profile-free 0") {
    import spark.implicits._
    val rows = (0L to 5L).map(b => ("a", b, if (b % 2 == 0) 10L else 20L)) ++
      (0L to 5L).map(b => ("b", b, 5L)) ++
      Seq(("c", 0L, 1L), ("c", 1L, 1L), ("c", 2L, 5L), ("c", 3L, 5L))
    val got = graft.operators.Trend.seasonalStrength(
        rows.toDF("k", "b", "v"), "k", "b", 2, "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getDouble(3) == 1.0, "perfectly periodic -> 1")
    assert(got("b").isNullAt(3), "zero total variance -> NULL")
    assert(got("c").getDouble(3) == 0.0, "slot means explain nothing -> 0")
  }

  test("kaplanMeierFromLives: per-cohort curves, censoring respected") {
    import spark.implicits._
    // cohort 0: deaths at t=1 (2 of 4) and t=2 (2) -> S = 0.5 then 0.0;
    // cohort 1: one censored user -> S stays 1.0
    val lives = Seq((0L, 1L, 1L), (0L, 1L, 1L), (0L, 2L, 1L), (0L, 2L, 1L),
      (1L, 1L, 0L)).toDF("cohort_week", "t", "death")
    val got = graft.operators.Trend
      .kaplanMeierFromLives(lives, "cohort_week")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got((0L, 1L)).getLong(4) == 4L)
    assert(got((0L, 1L)).getDouble(5) == 0.5)
    assert(got((0L, 2L)).getDouble(5) == 0.0)
    assert(got((1L, 1L)).getLong(3) == 1L) // censored, not dead
    assert(got((1L, 1L)).getDouble(5) == 1.0)
  }

  test("kmGreenwood: hand variance bands; saturated risk set reads NULL") {
    import spark.implicits._
    val df = Seq((1L, 0L), (1L, 3600L), (2L, 0L), (2L, 3600L),
      (3L, 0L), (3L, 7200L), (4L, 0L), (4L, 7200L)).toDF("u", "sec")
    val km = graft.operators.Trend.kaplanMeier(df, "u", "sec", 999999L)
    val got = graft.operators.Trend.kmGreenwood(km)
      .orderBy(col("t")).collect()
    // t=1: S=0.5, g=2/(4*2)=0.25 -> se=0.25, lo=0.01, hi=0.99
    assert(got(0).getDouble(4) == 0.25)
    assert(got(0).getDouble(5) == 0.01 && got(0).getDouble(6) == 0.99)
    // t=2: n_risk == n_death -> the band is undefined, never infinite
    assert(got(1).isNullAt(4) && got(1).isNullAt(5) && got(1).isNullAt(6))
  }

  test("gehanWilcoxon up-weights early differences vs logRank") {
    import spark.implicits._
    // A dies at t=1 and t=3; B at t=2 and t=3. Hand terms (w = r/4):
    // U = 1·(1−.5) + .75·(0−1/3) + .5·0 = 0.25, V = 0.25 + 0.125 = 0.375
    val df = Seq((1L, 0L, true), (1L, 3600L, true),
      (2L, 0L, true), (2L, 10800L, true),
      (3L, 0L, false), (3L, 7200L, false),
      (4L, 0L, false), (4L, 10800L, false)).toDF("u", "sec", "ua")
    val g = graft.operators.Trend.gehanWilcoxon(df, "u", "sec",
      censorCutoffSec = 999999L, armACol = col("ua")).head()
    assert(g.getLong(0) == 2L && g.getLong(1) == 2L)
    assert(g.getDouble(3) == 0.166667, s"chi2 was ${g.getDouble(3)}")
    assert(g.getDouble(2) == 0.408248)
    // the unweighted test reads the same data much weaker: the early
    // death difference is exactly what the Gehan weighting amplifies
    val lr = graft.operators.Trend.logRank(df, "u", "sec",
      censorCutoffSec = 999999L, armACol = col("ua")).head()
    assert(lr.getDouble(4) < g.getDouble(3))
  }

  test("hampelPerKey: spike flagged, inliers pass, edge windows NULL") {
    import spark.implicits._
    // key 1: flat 10s with one 100 spike at x=5. Center windows (x=4..6)
    // see med=10, MAD=0 → the spike (|100-10| > 0) flags, neighbors don't.
    val rows = ((1L to 9L).map(x => (1L, x, if (x == 5) 100L else 10L)) ++
      Seq((2L, 1L, 7L))).toDF("k", "x", "v")
    val got = graft.operators.Trend.hampelPerKey(rows, "k", "x", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // x=1..3 and 7..9 have incomplete centered windows → NULL verdicts
    Seq(1L, 2L, 3L, 7L, 8L, 9L).foreach { x =>
      assert(got((1L, x)).isNullAt(3) && got((1L, x)).isNullAt(5),
        s"edge x=$x must be NULL")
    }
    assert(got((1L, 5L)).getBoolean(5), "the spike must flag")
    assert(got((1L, 5L)).getLong(3) == 10L) // median ignores the spike
    assert(!got((1L, 4L)).getBoolean(5) && !got((1L, 6L)).getBoolean(5))
    // x=4 window [1..7] contains the spike: MAD still 0 (4th of
    // [0,0,0,0,0,0,90]), inlier |10-10| = 0 is NOT > 0 → false
    assert(got((1L, 4L)).getLong(4) == 0L)
    assert(got((2L, 1L)).isNullAt(5), "short series never completes")
  }

  test("durbinWatson: hand residuals land DW; perfect fit and short " +
    "series NULL/drop") {
    import spark.implicits._
    // key a: x=0..3, y=(1,-1,-1,1) → slope 0, icept 0, residuals = y.
    // num = (−2)² + 0² + 2² = 8, den = 4 → DW 2 (white), rho1 0.
    // key b: y = 2x+3 exactly → residual mass 0 → DW NULL, not ∞.
    // key c: two points → under the n≥3 contract, dropped.
    val df = (Seq((0L, 1L), (1L, -1L), (2L, -1L), (3L, 1L))
      .map { case (x, y) => ("a", x, y) } ++
      (0L to 4L).map(x => ("b", x, 2 * x + 3)) ++
      Seq(("c", 0L, 1L), ("c", 1L, 2L))).toDF("k", "x", "y")
    val got = graft.operators.Trend.durbinWatson(df, "k", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "b"))
    val a = got("a")
    assert(a.getLong(1) == 4L && a.getDouble(2) == 0.0 &&
      a.getDouble(3) == 0.0)
    assert(a.getDouble(4) == 2.0 && a.getDouble(5) == 0.0)
    val b = got("b")
    assert(b.getDouble(2) == 2.0 && b.getDouble(3) == 3.0)
    assert(b.isNullAt(4) && b.isNullAt(5))
  }

  test("goldfeldQuandt: hand thirds land F=4; flat lo-SSE and short " +
    "keys guard") {
    import spark.implicits._
    // key a, x=0..8: lo third y=(0,1,0) → SSE 2/3; mid ignored;
    // hi third y=(0,2,0) → SSE 8/3; df 1 each → F = 4.
    val a = Seq(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 100L, 4L -> 200L,
      5L -> 300L, 6L -> 0L, 7L -> 2L, 8L -> 0L)
      .map { case (x, y) => ("a", x, y) }
    // key b: lo third fits exactly (y=x) → SSE 0 → F NULL
    val b = Seq(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 7L, 4L -> 1L,
      5L -> 9L, 6L -> 0L, 7L -> 5L, 8L -> 0L)
      .map { case (x, y) => ("b", x, y) }
    // key c: 8 points → third = 2 < minSeg → dropped entirely
    val c = (0L to 7L).map(x => ("c", x, x))
    val df = (a ++ b ++ c).toDF("k", "x", "y")
    val got = graft.operators.Trend.goldfeldQuandt(df, "k", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "b"))
    val ra = got("a")
    assert(ra.getLong(1) == 3L && ra.getLong(2) == 3L)
    assert(ra.getDouble(3) == 0.0 && ra.getDouble(4) == 0.0)
    assert(ra.getDouble(5) == 0.666666667 &&
      ra.getDouble(6) == 2.666666667)
    assert(ra.getDouble(7) == 4.0)
    assert(got("b").isNullAt(7), "zero lo-SSE must NULL F")
  }

  test("cooksDistance: the dragging outlier flags, an inlier doesn't") {
    import spark.implicits._
    // y=x for x=0..3 plus (4,10): slope 2.2, icept −1.2, SSE 14.4,
    // s²=4.8, x̄=2, Sxx=10. x=4: e=2.4 h=0.6 D=2.25 > 4/5 → flags.
    val df = (Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L), (4L, 10L)))
      .map { case (x, y) => ("k", x, y) }.toDF("k", "x", "y")
    val got = graft.operators.Trend.cooksDistance(df, "k", "x", "y")
      .collect().map(r => r.getLong(1) -> r).toMap
    val p4 = got(4L)
    assert(p4.getDouble(4) == 2.4 && p4.getDouble(5) == 0.6)
    assert(p4.getDouble(6) ==
      math.rint(2.4 / math.sqrt(4.8 * 0.4) * 1e6) / 1e6)
    assert(p4.getDouble(7) == 2.25 && p4.getBoolean(8))
    val p0 = got(0L)
    assert(p0.getDouble(4) == 1.2 && p0.getDouble(7) == 0.5625)
    assert(!p0.getBoolean(8), "D=0.5625 < 4/n=0.8 must not flag")
  }

  test("chowTest: a level shift beats the pooled line; exact fits NULL") {
    import spark.implicits._
    // key a: halves (0,1,0) and (10,12,10) — each flat with small SSE,
    // pooled line pays hugely for the 10-unit jump
    val a = Seq(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 10L, 4L -> 12L,
      5L -> 10L).map { case (x, y) => ("a", x, y) }
    // key c: y = x exactly → both halves fit perfectly → SSE 0 → NULL F
    val c = (0L to 5L).map(x => ("c", x, x))
    // key d: 5 points → half = 2 < minSeg → dropped
    val d = (0L to 4L).map(x => ("d", x, x))
    val got = graft.operators.Trend.chowTest(
      (a ++ c ++ d).toDF("k", "x", "y"), "k", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "c"))
    val ra = got("a")
    assert(ra.getLong(1) == 6L && ra.getLong(2) == 3L && ra.getLong(3) == 3L)
    assert(ra.getDouble(4) == 0.0 && ra.getDouble(5) == 0.0)
    assert(ra.getDouble(7) == 3.333333334)
    // replay the pooled fit by hand: the F the operator must land
    val b = (6.0 * 129 - 15 * 33) / (6.0 * 55 - 225)
    val icp = (33 - b * 15) / 6.0
    val sseP = math.rint((345 - icp * 33 - b * 129) * 1e9) / 1e9
    val split = 3.333333334
    val f = math.rint((sseP - split) / 2.0 / (split / 2.0) * 1e6) / 1e6
    assert(ra.getDouble(8) == f && f > 10.0)
    assert(got("c").isNullAt(8), "zero split-SSE must NULL F")
  }

  test("pacf3PerKey: the DL ladder lands hand ACFs; degenerates drop") {
    import spark.implicits._
    // v = 1..8: r1 = 26.25/42, r2 = 11.5/42, r3 = −1.25/42 by hand
    val lin = (1L to 8L).map(x => ("k", x, x))
    val const = (1L to 8L).map(x => ("c", x, 5L)) // zero variance
    val short = (1L to 3L).map(x => ("s", x, x)) // under 4 buckets
    val got = graft.operators.Trend.pacf3PerKey(
      (lin ++ const ++ short).toDF("k", "x", "v"), "k", "x", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("k"))
    val r = got("k")
    val (r1, r2, r3) = (0.625, 0.273809524, -0.029761905)
    assert(r.getDouble(2) == r1 && r.getDouble(3) == r2 &&
      r.getDouble(4) == r3)
    assert(r.getDouble(5) == 0.625)
    val p22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    assert(r.getDouble(6) == math.rint(p22 * 1e6) / 1e6)
    val p21 = r1 - p22 * r1
    val p33 = (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2)
    assert(r.getDouble(7) == math.rint(p33 * 1e6) / 1e6)
  }

  test("gumbelMaxima: daily maxima land the MoM fit; flat keys drop") {
    import spark.implicits._
    // one row per block: maxima 10,12,14,16 → mean 13, var 20/3
    val k = Seq(0L -> 10L, 24L -> 12L, 48L -> 14L, 72L -> 16L)
      .map { case (b, v) => ("k", b, v) }
    val flat = Seq(0L -> 5L, 24L -> 5L, 48L -> 5L)
      .map { case (b, v) => ("f", b, v) }
    val got = graft.operators.Trend.gumbelMaxima(
      (k ++ flat).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("k"), "zero-spread maxima must drop")
    val r = got("k")
    assert(r.getLong(1) == 4L && r.getLong(2) == 16L)
    val beta = math.sqrt(20.0 / 3.0) * (math.sqrt(6.0) / math.Pi)
    val mu = 13.0 - 0.5772156649 * beta
    assert(r.getDouble(3) == math.rint(mu * 1e6) / 1e6)
    assert(r.getDouble(4) == math.rint(beta * 1e6) / 1e6)
    val rl10 = mu - beta * math.log(-math.log(0.9))
    assert(r.getDouble(5) == math.rint(rl10 * 1e6) / 1e6)
    assert(r.getDouble(5) > r.getDouble(3), "return level above location")
  }

  test("lifeTable: the c/2 withdrawal convention and the chained S") {
    import spark.implicits._
    // iv0: 2 deaths + 1 censored of 4 → n' = 3.5, q = 4/7; iv1: 1 death
    val rows = Seq((1L, 0L), (1L, 36000L), (4L, 0L), (4L, 7200L),
      (3L, 1000000L), (3L, 1018000L), (2L, 0L), (2L, 108000L))
      .toDF("u", "sec")
    val got = graft.operators.Trend.lifeTable(rows, "u", "sec",
      censorCutoffSec = 1000000L)
      .collect().map(r => r.getLong(0) -> r).toMap
    val i0 = got(0L)
    assert(i0.getLong(1) == 4L && i0.getLong(2) == 2L &&
      i0.getLong(3) == 1L)
    assert(i0.getDouble(4) == 3.5)
    assert(i0.getDouble(5) == math.rint(2.0 / 3.5 * 1e6) / 1e6)
    assert(i0.getDouble(6) == math.rint((1.0 - 2.0 / 3.5) * 1e6) / 1e6)
    val i1 = got(1L)
    assert(i1.getLong(1) == 1L && i1.getDouble(5) == 1.0 &&
      i1.getDouble(6) == 0.0)
  }

  test("dtwProfiles: identical rhythms read 0, a one-slot shift pays " +
    "the impulse once") {
    import spark.implicits._
    // a and a2 put all mass in slot 0; b in slot 1 (4-slot circle):
    // the (0,0) start is mandatory, so DTW(a,b) = one impulse = 1e6
    val rows = Seq(("a", 0L), ("a", 0L), ("a2", 0L), ("a2", 0L),
      ("b", 1L), ("b", 1L)).toDF("k", "s")
    val got = graft.operators.Trend.dtwProfiles(rows, col("k"), col("s"),
      nSlots = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got(("a", "a2")).getLong(2) == 0L)
    assert(got(("a", "a2")).getDouble(3) == 0.0)
    assert(got(("a", "b")).getLong(2) == 1000000L)
    assert(got(("a2", "b")).getDouble(3) == 1.0)
  }

  test("circularStats: a single-slot key points at its hour with R=1; " +
    "uniform keys have no rhythm") {
    import spark.implicits._
    val rows = (1 to 10).map(_ => ("c", 6L)) ++
      (0 until 24).map(s => ("u", s.toLong))
    val got = graft.operators.Trend.circularStats(rows.toDF("k", "s"),
      col("k"), col("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val c = got("c")
    assert(c.getLong(1) == 10L && c.getDouble(2) == 6.0)
    assert(c.getDouble(3) == 1.0 && c.getDouble(4) == 0.0)
    assert(c.getDouble(5) == 10.0)
    val u = got("u")
    assert(u.getDouble(3) == 0.0, "uniform phase has no resultant")
    assert(u.getDouble(5) == 0.0, "Rayleigh finds no rhythm")
  }

  test("haarEnergy: alternation lives at level 1, DC in the approx; " +
    "tails truncate and short keys drop") {
    import spark.implicits._
    // 32 points of 1,0,1,0…: level-1 energy 16, everything else in the
    // approx (16² = 256); 8 trailing 999s beyond the dyadic cut are
    // ignored; a 16-point key can't fill one 32-block and drops
    val k = (0L until 32L).map(i => ("k", i, (1L - i % 2))) ++
      (32L until 40L).map(i => ("k", i, 999L))
    val short = (0L until 16L).map(i => ("s", i, i))
    val got = graft.operators.Trend.haarEnergy(
      (k ++ short).toDF("k", "x", "v"), "k", "x", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(!got.keySet.exists(_._1 == "s"))
    assert(got(("k", 1L)).getLong(3) == 16L)
    (2L to 5L).foreach(l => assert(got(("k", l)).getLong(3) == 0L))
    val dc = got(("k", 0L))
    assert(dc.getLong(2) == 1L && dc.getLong(3) == 256L)
    assert(dc.getDouble(4) == math.rint(256.0 / 272.0 * 1e6) / 1e6)
  }

  test("meanExcess: ceiling-rank thresholds and exact excess means") {
    import spark.implicits._
    val df = (1L to 10L).map(v => ("k", v)).toDF("k", "v")
    val got = graft.operators.Trend.meanExcess(df, "k", "v")
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(got(50L).getLong(2) == 5L && got(50L).getDouble(6) == 3.0)
    assert(got(75L).getLong(2) == 8L && got(75L).getDouble(6) == 1.5)
    assert(got(90L).getLong(2) == 9L && got(90L).getDouble(6) == 1.0)
    val p95 = got(95L)
    assert(p95.getLong(2) == 10L && p95.getLong(4) == 0L &&
      p95.isNullAt(6))
  }

  test("kupiecPof: the out-of-sample violation count lands the LR") {
    import spark.implicits._
    // calibration half 1..20 → u = 19; test half has 2/20 violations
    val rows = (0L until 20L).map(b => ("k", b, b + 1)) ++
      (20L until 38L).map(b => ("k", b, 5L)) ++
      Seq(("k", 38L, 25L), ("k", 39L, 25L))
    val r = graft.operators.Trend.kupiecPof(rows.toDF("k", "b", "v"),
      "k", "b", "v").head()
    assert(r.getLong(1) == 19L && r.getLong(2) == 20L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == 0.05 && r.getDouble(5) == 0.1)
    val lc = math.rint((18 * math.log(0.95) + 2 * math.log(0.05)) * 1e9) / 1e9
    val lo = math.rint((18 * math.log(0.9) + 2 * math.log(0.1)) * 1e9) / 1e9
    assert(r.getDouble(6) == math.rint(-2.0 * (lc - lo) * 1e6) / 1e6)
  }

  test("recordStats: a monotone series sets every record, a flat one " +
    "only the first; the harmonic budget is pinned") {
    import spark.implicits._
    val rows = (1L to 8L).map(i => ("up", i, i)) ++
      (1L to 4L).map(i => ("flat", i, 5L))
    val got = graft.operators.Trend.recordStats(rows.toDF("k", "b", "v"),
      "k", "b", "v").collect().map(r => r.getString(0) -> r).toMap
    val up = got("up")
    assert(up.getLong(2) == 8L && up.getLong(3) == 8L)
    val h8 = (1 to 8).map(i => math.rint(1.0 / i * 1e12) / 1e12).sum
    assert(up.getDouble(4) == math.rint(h8 * 1e6) / 1e6)
    assert(up.getDouble(5) == math.rint(8.0 / h8 * 1e6) / 1e6)
    val fl = got("flat")
    assert(fl.getLong(2) == 1L && fl.getLong(3) == 1L)
  }

  test("theilSenPerKey: driver selection ≡ distributed window " +
    "(dup x, ties, even pair count, dropped single-x key)") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L), ("a", 3L, 40L),
      ("b", 5L, 7L), ("b", 6L, 7L), ("b", 7L, 7L),
      ("d", 1L, 1L), ("d", 2L, 2L), ("d", 3L, 4L), ("d", 4L, 8L),
      ("c", 9L, 1L)).toDF("k", "x", "y")
    def run() =
      Trend.theilSenPerKey(df, "k", "x", "y")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val driver = forced(graft.operators.DriverFinisher.Driver)(run())
    val dist = distributed(run()) // the distributed pair/window plan
    assert(driver == dist)
    // a: 5 distinct-x pairs (the x=3 duplicate pair never forms), lower
    // median of {-10, 5, 10, 15, 20} = 10; b: all-ties slope 0;
    // d: even pair count takes the LOWER median; c: single x, dropped
    assert(driver == Set(("a", 5L, 10.0), ("b", 3L, 0.0), ("d", 6L, 2.0)))
  }

  test("theilU: a constant overshoot is PURE bias; short keys drop") {
    import spark.implicits._
    // period-2 series +2 per cycle: every naive error is exactly 2 →
    // UM = 1, US = UC = 0, rmse = 2
    val k = Seq(10L, 20L, 12L, 22L, 14L, 24L).zipWithIndex
      .map { case (v, b) => ("k", b.toLong, v) }
    val short = Seq(("s", 0L, 1L), ("s", 1L, 2L), ("s", 2L, 3L))
    val got = graft.operators.Trend.theilU(
      (k ++ short).toDF("k", "b", "v"), "k", "b", "v", seasonLag = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("k"), "a 1-pair key can't decompose")
    val r = got("k")
    assert(r.getLong(1) == 4L && r.getDouble(2) == 2.0)
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 0.0 &&
      r.getDouble(6) == 0.0)
    val u1 = 2.0 / (math.sqrt(350.0) + math.sqrt(282.0))
    assert(r.getDouble(3) == math.rint(u1 * 1e6) / 1e6)
  }

  test("uniformityChi2: uniform reads 0, a point mass pays every " +
    "empty slot") {
    import spark.implicits._
    val rows = (0 until 24).flatMap(s => Seq(("u", s.toLong),
      ("u", s.toLong))) ++ (1 to 24).map(_ => ("p", 0L))
    val got = graft.operators.Trend.uniformityChi2(rows.toDF("k", "s"),
      col("k"), col("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("u").getDouble(3) == 0.0)
    assert(got("u").getLong(2) == 23L)
    // point mass: (24−1)²/1 + 23·(0−1)²/1 = 552
    assert(got("p").getDouble(3) == 552.0)
  }

  test("hurstRS: a trending series reads persistent, alternation " +
    "reads antipersistent") {
    import spark.implicits._
    val lin = (0L until 128L).map(i => ("lin", i, i))
    val alt = (0L until 128L).map(i => ("alt", i, i % 2))
    val got = graft.operators.Trend.hurstRS(
      (lin ++ alt).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("lin").getLong(1) == 4L)
    assert(got("lin").getDouble(2) > 0.9,
      s"a straight line is maximally persistent: ${got("lin")}")
    assert(got("alt").getDouble(2) < 0.3,
      s"strict alternation is antipersistent: ${got("alt")}")
  }

  test("sampleEntropy: repetition extends its matches, a broken " +
    "extension refuses") {
    import spark.implicits._
    // 1,2,1,2…: both censuses over the extendable positions 1..6 —
    // B = C(3,2)+C(3,2) = 6 and every match extends (A = 6), so a
    // perfect repeat reads exactly SampEn = −ln(6/6) = 0
    val rep = Seq(1L, 2L, 1L, 2L, 1L, 2L, 1L, 2L).zipWithIndex
      .map { case (v, b) => ("rep", b.toLong, v) }
    // 1,2,9,1,2,5: the one template match breaks at extension → NULL
    val brk = Seq(1L, 2L, 9L, 1L, 2L, 5L).zipWithIndex
      .map { case (v, b) => ("brk", b.toLong, v) }
    val got = graft.operators.Trend.sampleEntropy(
      (rep ++ brk).toDF("k", "b", "v"), "k", "b", "v", tolerance = 0L)
      .collect().map(r => r.getString(0) -> r).toMap
    val r = got("rep")
    assert(r.getLong(1) == 6L && r.getLong(2) == 6L)
    assert(r.getDouble(3) == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(3)) == 0L,
      "A == B must read +0.0, not -0.0 (hash stability)")
    val b = got("brk")
    assert(b.getLong(1) == 1L && b.getLong(2) == 0L && b.isNullAt(3))
  }

  test("sharpeSortino: the pinned oscillation lands its replayed " +
    "moments") {
    import spark.implicits._
    // 100,200,100,200 → returns ln2, −ln2, ln2 (pinned at 1e-9)
    val rows = Seq(0L -> 100L, 1L -> 200L, 2L -> 100L, 3L -> 200L)
      .map { case (b, v) => ("k", b, v) }
    val r = graft.operators.Trend.sharpeSortino(rows.toDF("k", "b", "v"),
      "k", "b", "v").head()
    val ln2 = math.rint(math.log(2.0) * 1e9) / 1e9
    val sq = math.rint(ln2 * ln2 * 1e9) / 1e9
    val mean = ln2 / 3.0
    val vr = (3 * sq - 3.0 * mean * mean) / 2.0
    val dd = math.sqrt(sq / 3.0)
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == math.rint(mean * 1e6) / 1e6)
    assert(r.getDouble(3) == math.rint(math.sqrt(vr) * 1e6) / 1e6)
    assert(r.getDouble(4) == math.rint(dd * 1e6) / 1e6)
    assert(r.getDouble(5) == math.rint(mean / math.sqrt(vr) * 1e6) / 1e6)
    assert(r.getDouble(6) == math.rint(mean / dd * 1e6) / 1e6)
  }

  test("coxBinary: the bisected MLE lands the hand score's root; " +
    "no-overlap brackets NULL") {
    import spark.implicits._
    // arm1 dies at t=1,2 (one censored survivor), arm0 at t=3,4:
    // U(θ) = 1/(1+θ) + 3/(3+2θ) − θ/(3+θ) − θ/(2+θ)
    val rows = Seq((1L, 0L), (1L, 3600L), (2L, 0L), (2L, 7200L),
      (3L, 1000000L), (3L, 1018000L),
      (11L, 0L), (11L, 10800L), (12L, 0L), (12L, 14400L),
      (13L, 1000000L), (13L, 1018000L)).toDF("u", "sec")
    val r = graft.operators.Trend.coxBinary(rows, "u", "sec",
      censorCutoffSec = 1000000L, armACol = col("u") < 10L).head()
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)))
    assert((r.getLong(2), r.getLong(3)) == ((2L, 4L)))
    // independent plain-double bisection of the hand score
    def u(th: Double) = 1.0 / (1 + th) + 3.0 / (3 + 2 * th) -
      th / (3 + th) - th / (2 + th)
    var (lo, hi) = (1e-4, 1e4)
    (1 to 80).foreach { _ =>
      val m = math.sqrt(lo * hi); if (u(m) > 0) lo = m else hi = m
    }
    assert(math.abs(r.getDouble(4) - math.sqrt(lo * hi)) < 1e-4)
    assert(r.getDouble(4) > 1.0, "arm1 dies faster: HR above 1")
    assert(r.getDouble(7) > 0.0, "z positive with the hazard excess")
    // arm0's deaths all happen after arm1's risk set empties: the
    // score never crosses zero and the fit refuses
    val deg = Seq((1L, 0L), (1L, 3600L), (11L, 0L), (11L, 7200L))
      .toDF("u", "sec")
    val d = graft.operators.Trend.coxBinary(deg, "u", "sec",
      censorCutoffSec = 1000000L, armACol = col("u") < 10L).head()
    assert(d.isNullAt(4) && d.isNullAt(7))
  }

  test("taylorLaw: var = 2·mean² series land slope 2, intercept ln 2, " +
    "r2 = 1") {
    import spark.implicits._
    // per key two buckets (0, 2m): mean m, var 2m² exactly
    val rows = Seq(1L, 2L, 3L).flatMap(m =>
      Seq((s"k$m", 0L, 0L), (s"k$m", 1L, 2L * m)))
    val r = graft.operators.Trend.taylorLaw(rows.toDF("k", "b", "v"),
      "k", "b", "v").head()
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 2.0)
    assert(r.getDouble(2) == math.rint(math.log(2.0) * 1e6) / 1e6)
    assert(r.getDouble(3) == 1.0)
  }

  test("taylorLaw: degenerate keys drop, under 3 points the fit NULLs") {
    import spark.implicits._
    // constant series (var 0) and a single-bucket key contribute nothing
    val rows = Seq(("c", 0L, 5L), ("c", 1L, 5L), ("s", 0L, 9L),
      ("k1", 0L, 0L), ("k1", 1L, 2L), ("k2", 0L, 0L), ("k2", 1L, 4L))
    val r = graft.operators.Trend.taylorLaw(rows.toDF("k", "b", "v"),
      "k", "b", "v").head()
    assert(r.getLong(0) == 2L && r.isNullAt(1) && r.isNullAt(3))
  }

  test("dickeyFuller: a perfect mean-reverter NULLs (zero residual), " +
    "noise makes it strongly stationary, a trend walk is not") {
    import spark.implicits._
    def series(k: String, vs: Seq[Long]) =
      vs.zipWithIndex.map { case (v, i) => (k, i.toLong, v) }
    val perfect = series("p", Seq(10L, 0L, 10L, 0L, 10L, 0L, 10L, 0L))
    val noisy = series("n", Seq(10L, 0L, 9L, 1L, 10L, 0L, 9L, 0L, 10L))
    val walk = series("w", Seq(1L, 2L, 4L, 5L, 9L, 11L, 12L, 15L, 16L))
    val got = graft.operators.Trend.dickeyFuller(
      (perfect ++ noisy ++ walk).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("p").isNullAt(2) && got("p").isNullAt(3))
    assert(got("n").getBoolean(4), s"oscillation reverts: ${got("n")}")
    assert(!got("w").getBoolean(4), s"a doubling walk persists: ${got("w")}")
    assert(got("n").getDouble(2) < -1.5) // rho near full reversion
  }

  test("grangerCausality: a 1-step lead shows up only in its own " +
    "direction's F") {
    import spark.implicits._
    val x = Seq(1L, 5L, 2L, 7L, 3L, 8L, 4L, 9L, 5L, 10L)
    // y follows x by one step; one bumped point keeps the fit inexact
    val y = 0L +: x.dropRight(1)
    val rows = x.indices.map(i =>
      (i.toLong, x(i), if (i == 9) y(i) + 1L else y(i)))
    val got = graft.operators.Trend.grangerCausality(
      rows.toDF("b", "x", "y"), "b", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    val fx = got("x->y").getDouble(5)
    val fy = got("y->x").getDouble(5)
    assert(got("x->y").getLong(1) == 9L)
    assert(fx > 10.0, s"the lead direction must dominate: $fx")
    assert(fx > fy, s"F(x->y)=$fx vs F(y->x)=$fy")
  }

  test("neweyWestSlope: autocorrelated residuals widen the HAC error " +
    "bar; short keys drop") {
    import spark.implicits._
    // v = i + a slow square wave: residuals run in 6-long same-sign
    // stretches, so the first three autocovariances are positive and
    // OLS's independence assumption understates the slope noise
    val wave = Seq.fill(6)(3L) ++ Seq.fill(6)(-3L)
    val rows = (0 until 36).map(t =>
      ("w", t.toLong, t.toLong + wave(t % 12))) ++
      (0 until 5).map(t => ("short", t.toLong, t.toLong))
    val got = graft.operators.Trend.neweyWestSlope(
      rows.toDF("k", "b", "v"), "k", "b", "v", lags = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("short"))
    val w = got("w")
    assert(w.getDouble(2) > 0.9 && w.getDouble(2) < 1.1)
    assert(w.getDouble(5) > 1.25,
      s"positive autocorrelation must widen the bar: ${w}")
  }

  test("classicalDecomposition: a clean trend+seasonal series recovers " +
    "its indices exactly with strength 1") {
    import spark.implicits._
    val s = Seq(3L, -1L, -1L, -1L)
    val rows = (0 until 16).map(t => ("k", t.toLong, t.toLong + s(t % 4)))
    val got = graft.operators.Trend.classicalDecomposition(
      rows.toDF("k", "b", "v"), "k", "b", "v", period = 4)
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(got.size == 4)
    assert(got(0L).getDouble(3) == 3.0 && got(1L).getDouble(3) == -1.0)
    assert(got(2L).getDouble(3) == -1.0 && got(3L).getDouble(3) == -1.0)
    assert(got(0L).getLong(2) == 3L) // 12 windowed rows / 4 slots
    assert(got(0L).getDouble(4) == 1.0,
      "zero remainder reads full seasonal strength")
  }

  test("engleGranger: a shared trend cointegrates, an unrelated walk " +
    "does not") {
    import spark.implicits._
    val steps = Seq(1L, 2L, 1L, 3L)
    val xs = (0 until 40).scanLeft(10L)((a, t) => a + steps(t % 4)).tail
    val noise = (0 until 40).map(t => if (t % 2 == 0) 1L else -1L)
    val yCo = xs.zip(noise).map { case (xv, e) => 2L * xv + e }
    val co = (0 until 40).map(t => (t.toLong, xs(t), yCo(t)))
    val r1 = graft.operators.Trend.engleGranger(
      co.toDF("b", "x", "y"), "b", "x", "y").head()
    assert(r1.getDouble(1) > 1.8 && r1.getDouble(1) < 2.2)
    assert(r1.getBoolean(5), s"shared trend must cointegrate: $r1")
    // a quadratic drift the linear tie can't absorb: the residual
    // keeps its own trend, so no equilibrium exists
    val yIn = (0 until 40).map(t => 2L * xs(t) + (t.toLong * t) / 4L)
    val in2 = (0 until 40).map(t => (t.toLong, xs(t), yIn(t)))
    val r2 = graft.operators.Trend.engleGranger(
      in2.toDF("b", "x", "y"), "b", "x", "y").head()
    assert(r2.isNullAt(5) || !r2.getBoolean(5),
      s"a drifting residual must not cointegrate: $r2")
  }

  test("hmmRegimeEvidence: alternating quiet/burst blocks read strong " +
    "evidence, a flat series refuses, short keys drop") {
    import spark.implicits._
    val bursty = (0 until 40).map(t =>
      ("b", t.toLong, if ((t / 10) % 2 == 0) 2L else 20L))
    val flat = (0 until 40).map(t => ("f", t.toLong, 5L))
    val short = (0 until 5).map(t => ("s", t.toLong, 3L))
    val got = graft.operators.Trend.hmmRegimeEvidence(
      (bursty ++ flat ++ short).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("s"))
    assert(got("b").getBoolean(5),
      s"block switching is regime evidence: ${got("b")}")
    assert(got("b").getDouble(4) > 50.0)
    assert(!got("f").getBoolean(5),
      s"a flat series fits one rate better: ${got("f")}")
    assert(got("f").getDouble(4) < 0.0)
  }

  test("competingRisks: each cause gets only its own share of the " +
    "hazard, weighted by still-being-around") {
    import spark.implicits._
    // t=1: 1 of 4 dies of A; t=2: 1 of 3 dies of B; t=3: 1 censored,
    // 1 dies of A
    val lives = Seq((1L, true, false), (2L, false, true),
      (3L, false, false), (3L, true, false))
    val got = graft.operators.Trend.competingRisks(
      lives.toDF("t", "ia", "ib"), "t", col("ia"), col("ib"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getLong(1) == 4L && r1.getLong(2) == 1L)
    assert(r1.getDouble(5) == 0.75 && r1.getDouble(6) == 0.25)
    val r2 = got(2L)
    assert(r2.getDouble(6) == 0.25) // CIF_A unchanged at t=2
    assert(r2.getDouble(7) == 0.25) // S(1)=0.75 · 1/3
    assert(r2.getDouble(5) == 0.5)
    val r3 = got(3L)
    // S(2)=0.5, 1 of 2 dies of A: CIF_A = 0.25 + 0.25
    assert(r3.getDouble(6) == 0.5 && r3.getDouble(7) == 0.25)
    assert(r3.getDouble(5) == 0.25)
  }

  test("meanCumulativeFunction: late ages divide by the units still " +
    "old enough, not the whole cohort") {
    import spark.implicits._
    // u1 lives 2 buckets with events at ages 0,1,2; u2 lives 0 buckets
    // with one event; bucket = 10s
    val ev = Seq((1L, 100L), (1L, 110L), (1L, 120L), (2L, 500L))
    val got = graft.operators.Trend.meanCumulativeFunction(
      ev.toDF("u", "sec"), "u", "sec", bucketSec = 10L)
      .collect().map(r => r.getLong(0) -> r).toMap
    val a0 = got(0L)
    assert(a0.getLong(1) == 2L && a0.getLong(2) == 2L)
    assert(a0.getDouble(4) == 1.0)
    val a1 = got(1L)
    assert(a1.getLong(2) == 1L, "only u1 is observable at age 1")
    assert(a1.getDouble(4) == 2.0)
    assert(got(2L).getDouble(4) == 3.0)
  }

  test("logLogFit: an exact power law reads its exponent; degenerate " +
    "groups NULL") {
    import spark.implicits._
    // y = x^2 exactly on x in {2, 4, 8}: slope 2, r2 1
    val rows = Seq(("g", 2L, 4L), ("g", 4L, 16L), ("g", 8L, 64L),
      ("one", 5L, 7L), ("zero", 0L, 3L), ("zero", 4L, 0L))
    val got = graft.operators.Trend.logLogFit(rows.toDF("g", "x", "y"),
      "g", col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("g").getDouble(2) == 2.0 && got("g").getDouble(4) == 1.0)
    assert(got("one").isNullAt(2))
    assert(!got.contains("zero"), "non-positive points drop entirely")
  }

  test("yuleWalkerAr2: an exact AR(1) reads phi1=rho phi2=0, a flat " +
    "series NULLs, short keys drop") {
    import spark.implicits._
    // v_t - 8 alternates +4/-4: rho1 = -1... that's degenerate; use a
    // period-3 cycle instead: autocovariances are exact rationals and
    // the YW system solves to phi1 = phi2 = -1 (v_t = -v_{t-1} -
    // v_{t-2} + const reproduces any zero-mean period-3 cycle)
    val cyc = Seq(5L, 11L, 8L)
    val per3 = (0 until 18).map(t => ("c", t.toLong, cyc(t % 3)))
    val flat = (0 until 12).map(t => ("f", t.toLong, 7L))
    val short = (0 until 4).map(t => ("s", t.toLong, t.toLong))
    val got = graft.operators.Trend.yuleWalkerAr2(
      (per3 ++ flat ++ short).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("s"), "keys under 5 buckets drop")
    assert(got("f").isNullAt(3) && got("f").isNullAt(4),
      s"zero variance reads NULL coefficients: ${got("f")}")
    assert(got("f").getDouble(2) == 7.0)
    val c = got("c")
    assert(math.abs(c.getDouble(3) + 1.0) < 0.2 &&
      math.abs(c.getDouble(4) + 1.0) < 0.2,
      s"period-3 cycle fits phi1=phi2=-1: $c")
    // forecast: m + phi1(v_last-m) + phi2(v_prev-m); last two are 8, 11
    // (t=17 is cyc(2)=8, t=16 is cyc(1)=11), next true value 5
    assert(math.abs(c.getDouble(6) - 5.0) < 1.5,
      s"one-step forecast lands near the cycle's next value: $c")
  }

  // deterministic ±1 shock sequence shared by the MA/ARMA fit specs —
  // java.util.Random's LCG is spec-fixed, so a pinned seed is
  // reproducible everywhere (a linear hash's sign bit toggles in runs
  // and reads as spurious positive autocorrelation)
  private val shocks: Vector[Long] = {
    val rng = new java.util.Random(1L)
    Vector.fill(128)(if (rng.nextBoolean()) 1L else -1L)
  }
  private def shock(t: Int): Long = shocks(t)

  test("ma1Fit: a generated MA(1) recovers theta's sign and scale, " +
    "|r1| >= 0.5 refuses theta, a flat series NULLs, short keys drop") {
    import spark.implicits._
    // v_t = 10 + e_t + 0.5 e_{t-1} scaled by 2 to stay integral:
    // v_t = 20 + 2 e_t + e_{t-1}, true rho1 = 2/5, theta = 1/2
    val ma = (0 until 96).map(t =>
      ("m", t.toLong, 20L + 2L * shock(t) + (if (t > 0) shock(t - 1) else 0L)))
    val alt = (0 until 12).map(t =>
      ("a", t.toLong, if (t % 2 == 0) 4L else 12L))
    val flat = (0 until 8).map(t => ("f", t.toLong, 7L))
    val short = (0 until 4).map(t => ("s", t.toLong, t.toLong))
    val got = graft.operators.Trend.ma1Fit(
      (ma ++ alt ++ flat ++ short).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("s"), "keys under 5 buckets drop")
    assert(got("f").isNullAt(3) && got("f").isNullAt(4),
      s"zero variance reads NULL: ${got("f")}")
    val a = got("a")
    assert(!a.isNullAt(3) && a.getDouble(3) <= -0.5 && a.isNullAt(4),
      s"alternating series shows its r1 but refuses the MA(1) fit: $a")
    val m = got("m")
    assert(math.abs(m.getDouble(3) - 0.4) < 0.15, s"r1 near 2/5: $m")
    assert(math.abs(m.getDouble(4) - 0.5) < 0.25, s"theta near 1/2: $m")
    assert(m.getDouble(5) > 0.0, s"positive innovation variance: $m")
  }

  test("arma11Fit: an MA(1) sample reads small phi, a pure cycle " +
    "refuses as non-stationary, flat NULLs, short keys drop") {
    import spark.implicits._
    val ma = (0 until 96).map(t =>
      ("m", t.toLong, 20L + 2L * shock(t) + (if (t > 0) shock(t - 1) else 0L)))
    // exact period-3 cycle: rho1 = rho2 => phi = 1, refused loudly
    val cyc = Seq(5L, 11L, 8L)
    val per3 = (0 until 18).map(t => ("c", t.toLong, cyc(t % 3)))
    val flat = (0 until 8).map(t => ("f", t.toLong, 7L))
    val short = (0 until 5).map(t => ("s", t.toLong, t.toLong))
    val got = graft.operators.Trend.arma11Fit(
      (ma ++ per3 ++ flat ++ short).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("s"), "keys under 6 buckets drop")
    assert(got("f").isNullAt(3) && got("f").isNullAt(5),
      s"zero variance reads NULL: ${got("f")}")
    val c = got("c")
    assert(c.isNullAt(3) || math.abs(c.getDouble(3)) > 0.9,
      s"a pure cycle's rho2/rho1 ~ 1 is (near-)unit-root: $c")
    val m = got("m")
    assert(!m.isNullAt(3) && math.abs(m.getDouble(3)) < 0.45,
      s"MA(1) data reads a small AR share: $m")
    assert(!m.isNullAt(4) && m.getDouble(4) > 0.0,
      s"positive MA coefficient recovered: $m")
    assert(m.getDouble(5) > 0.0, s"positive innovation variance: $m")
  }

  test("weibullFit: ideal-quantile Weibull samples recover shape and " +
    "scale, constant durations NULL, sub-1 durations drop") {
    import spark.implicits._
    // ideal quantiles of Weibull(k=2, lambda=40): t_j = 40*sqrt(-ln(1-u))
    // at u = (j-0.5)/64 — the probability plot is near-perfectly linear,
    // so median-rank regression must land close to (2, 40)
    val wei = (1 to 64).map { j =>
      val u = (j - 0.5) / 64.0
      ("w", math.round(40.0 * math.sqrt(-math.log(1.0 - u))))
    }
    val const = (0 until 8).map(_ => ("c", 9L))
    val zeros = (0 until 8).map(_ => ("z", 0L))
    val short = (0 until 4).map(j => ("s", j + 1L))
    val got = graft.operators.Trend.weibullFit(
      (wei ++ const ++ zeros ++ short).toDF("k", "v"), "k", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("z"), "all-sub-1 keys drop entirely")
    assert(!got.contains("s"), "keys under 5 durations drop")
    val c = got("c")
    assert(c.isNullAt(2) && c.isNullAt(3),
      s"zero x-variance reads NULL: $c")
    val w = got("w")
    assert(math.abs(w.getDouble(2) - 2.0) < 0.25, s"shape near 2: $w")
    assert(math.abs(w.getDouble(3) - 40.0) < 3.0, s"scale near 40: $w")
    assert(w.getDouble(4) > 0.98, s"ideal quantiles plot near-linear: $w")
  }

  test("zipFit: planted structural zeros read the exact MoM pi/lambda, " +
    "a constant active series reads NULL, short keys drop") {
    import spark.implicits._
    // six structural zeros + six weeks of exactly 4: m=2, v=48/11,
    // lam=(v+2)/2, pi=1-2/lam — hand-derivable
    val zip = (0 until 12).map(t => ("z", t.toLong, if (t % 2 == 0) 0L else 4L))
    val const = (0 until 12).map(t => ("c", t.toLong, 3L))
    val short = Seq(("s", 0L, 5L))
    val got = graft.operators.Trend.zipFit(
      (zip ++ const ++ short).toDF("k", "b", "v"), "k", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("s"), "single-bucket keys drop")
    val c = got("c")
    assert(c.isNullAt(5) && c.isNullAt(6),
      s"zero variance is not zero-inflated: $c")
    val z = got("z")
    assert(z.getDouble(2) == 2.0 && z.getDouble(4) == 0.5, s"moments: $z")
    assert(z.getDouble(5) == 0.371429, s"pi_hat: $z")
    assert(z.getDouble(6) == 3.181818, s"lambda_hat: $z")
    assert(z.getDouble(7) > z.getDouble(5) &&
      math.abs(z.getDouble(7) - 0.5) < 0.12,
      s"fitted zero share approaches the observed: $z")
    // the sparse path over only the NONZERO rows is bit-identical to
    // the dense fit (absent buckets are the zeros)
    val sparse = graft.operators.Trend.zipFitFromSparse(
      (zip.filter(_._3 > 0L) ++ const).toDF("k", "b", "v"), "k", "v",
      totalBuckets = 12L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(sparse("z").toSeq == z.toSeq && sparse("c").toSeq == got("c").toSeq,
      s"sparse == dense: ${sparse("z")} vs $z")
  }

  test("dieboldMariano: a strictly-better forecast 2 reads positive " +
    "significant DM, identical forecasts NULL, short keys drop") {
    import spark.implicits._
    // f2 is exact, f1 always misses by 3: d_t = 9 - 0 = 9 every bucket
    // -> dbar 9, but lrv 0 (constant d) -> stat NULL. Perturb one
    // bucket so the variance is positive and the stat fires.
    val rows = (0 until 20).map { t =>
      val v = 10L + (t % 4)
      val miss = if (t == 7) 4L else 3L
      ("w", t.toLong, v, v + miss, v)
    }
    val ident = (0 until 20).map(t => ("i", t.toLong, t.toLong,
      t.toLong + 2L, t.toLong + 2L))
    val short = (0 until 5).map(t => ("s", t.toLong, t.toLong, t + 1L,
      t.toLong))
    val got = graft.operators.Trend.dieboldMariano(
      (rows ++ ident ++ short).toDF("k", "b", "v", "f1", "f2"),
      "k", "b", "v", "f1", "f2")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("s"), "keys under 8 buckets drop")
    val i = got("i")
    assert(i.getDouble(2) == 0.0 && i.isNullAt(4),
      s"identical losses: zero mean, NULL stat: $i")
    val w = got("w")
    assert(w.getDouble(2) > 8.0, s"loss differential favors f2: $w")
    assert(w.getDouble(4) > 1.96 && w.getBoolean(5),
      s"a 20-bucket unanimous gap is significant: $w")
  }
}
