package graft

import org.apache.spark.sql.functions._

import graft.operators.{Profiling, TextPipeline}

class ProfilingSpec extends SparkSuite {
  import spark.implicits._

  test("jsonSchemaProfile classifies long/double/bool/null/string and counts coverage") {
    val df = Seq(
      """{"a": 1, "b": 1.5, "c": true, "d": null, "e": "x"}""",
      """{"a": -7, "b": 0.25, "c": false, "e": "1x"}""",
      """{"a": "txt"}""").toDF("j")
    val got = Profiling.jsonSchemaProfile(df, "j")
      .select("path", "vtype", "n").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("a", "long")) == 2L)
    assert(got(("a", "string")) == 1L) // mixed-type key: two rows reported
    assert(got(("b", "double")) == 2L)
    assert(got(("c", "bool")) == 2L)
    assert(got(("d", "null")) == 1L)   // explicit null, distinct from absent
    assert(got(("e", "string")) == 2L) // "1x" is not a number
    assert(!got.keySet.exists(_._1 == "f")) // absent keys report nothing
    val cov = Profiling.jsonSchemaProfile(df, "j")
      .filter(col("path") === "a" && col("vtype") === "long")
      .select("coverage").as[Double].head()
    assert(math.abs(cov - 2.0 / 3.0) < 1e-6)
  }

  test("benfordDigits: digit from the integer part, spine keeps zeros, χ² totals") {
    // 9 ones, 1 two; values below 1 are excluded; 19.x still leads with 1
    val df = (Seq.fill(8)(1.5) ++ Seq(19.99, 2.0, 0.4)).toDF("v")
    val got = Profiling.benfordDigits(df, "v")
      .select("digit", "n", "chi2_term").as[(Int, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1)._2 == 9L)
    assert(got(2)._2 == 1L)
    assert((3 to 9).forall(d => got(d)._2 == 0L))
    // zero-count digits still contribute expected_n to χ²
    assert(got(3)._3 > 0.0)
    val tot = Profiling.benfordDigits(df, "v")
      .select("chi2_total").as[Double].head()
    val exp = Map(1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
      4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
      7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)
    val manual = (1 to 9).map { d =>
      val en = exp(d) * 10.0
      val n = if (d == 1) 9.0 else if (d == 2) 1.0 else 0.0
      BigDecimal((n - en) * (n - en) / en).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(math.abs(tot - manual) < 1e-9)
  }

  test("fdViolations: holding and violated dependencies with exact multiplicities") {
    val df = Seq(
      (1L, "A", "x"), (2L, "A", "y"), (3L, "B", "z"), (4L, "B", "z"))
      .toDF("id", "grp", "val")
    val got = Profiling.fdViolations(df,
        Seq("id" -> "grp", "grp" -> "val", "val" -> "grp"))
      .select("lhs", "n_groups", "n_violating", "max_multiplicity", "holds")
      .as[(String, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 4L, 0L, 1L, true)))     // key → anything holds
    assert(got("grp") == (("grp", 2L, 1L, 2L, false)))  // A → {x, y} violates
    assert(got("val") == (("val", 3L, 0L, 1L, true)))   // each val maps to one grp
  }

  test("lexicalDiversity: exact token/type/hapax counts") {
    val df = Seq((1L, "a b a  c"), (2L, "x x x")).toDF("id", "text")
    val got = TextPipeline.lexicalDiversity(df, "id", "text")
      .select("id", "n_tokens", "n_types", "n_hapax")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 3L, 2L))) // a×2, b, c → hapax {b, c}
    assert(got(2L) == ((2L, 3L, 1L, 0L)))
  }

  test("zipfFit recovers the closed-form OLS on a constructed spectrum") {
    // counts 8/4/2/1 at ranks 1..4
    val text = (Seq.fill(8)("w1") ++ Seq.fill(4)("w2") ++
      Seq.fill(2)("w3") ++ Seq("w4")).mkString(" ")
    val got = TextPipeline.zipfFit(Seq(text).toDF("text"), "text", 500)
      .select("n", "slope", "intercept").as[(Long, Double, Double)].head()
    val xs = (1 to 4).map(r => math.log(r.toDouble))
    val ys = Seq(8, 4, 2, 1).map(c => math.log(c.toDouble))
    val n = 4.0
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(got._1 == 4L)
    assert(math.abs(got._2 - slope) < 1e-5)
    assert(math.abs(got._3 - (sy - slope * sx) / n) < 1e-5)
  }

  test("welchTTest: hand-computed two-sample case") {
    import spark.implicits._
    // A = [1,2,3] (mean 2, s²=1), B = [2,4,6] (mean 4, s²=4):
    // t = -2/√(1/3+4/3) = -1.549193, df = (5/3)²/((1/9+16/9)/2) = 50/17
    val df = (Seq(1L, 2L, 3L).map((_, true)) ++ Seq(2L, 4L, 6L).map((_, false)))
      .toDF("v", "isa")
    val r = graft.operators.Drift.welchTTest(df, "v", col("isa")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 4.0)
    assert(r.getDouble(4) == -1.549193)
    assert(r.getDouble(5) == math.rint(50.0 / 17.0 * 1e6) / 1e6)
  }

  test("welchFromMoments: arbitrarily-batched partials equal the row path") {
    import spark.implicits._
    // the same samples as above, split across 3 uneven "micro-batch"
    // partials (A: [1,2]+[3]; B: [2]+[4,6]) — moments add, so the census
    // path must reproduce the row path bit for bit
    val census = Seq(
      (true, 2L, BigDecimal(3), BigDecimal(5)),
      (true, 1L, BigDecimal(3), BigDecimal(9)),
      (false, 1L, BigDecimal(2), BigDecimal(4)),
      (false, 2L, BigDecimal(10), BigDecimal(52)))
      .toDF("isa", "n", "s", "ss")
    val rows = (Seq(1L, 2L, 3L).map((_, true)) ++
      Seq(2L, 4L, 6L).map((_, false))).toDF("v", "isa")
    val a = graft.operators.Drift.welchFromMoments(census).head()
    val b = graft.operators.Drift.welchTTest(rows, "v", col("isa")).head()
    assert(a == b)
  }

  test("psiFromCensus: batch-split bin censuses equal the one-pass path") {
    import spark.implicits._
    // rows in [0, 10); reference = first 6, actual = last 4. The census
    // path splits each bin's counts across two uneven "micro-batch"
    // partials — counts add, so the readout must match bit for bit.
    val rows = Seq((0.0, false), (1.0, false), (4.9, false), (5.0, false),
      (9.0, false), (10.0, false), (0.5, true), (5.5, true), (9.5, true),
      (10.0, true)).toDF("v", "isa")
    val onePass = graft.operators.Drift.psiBins(rows, "v", col("isa"), 4)
      .orderBy(col("bin")).collect().toSeq
    val bin = least(floor((col("v") - lit(0.0)) * lit(4.0) / lit(10.0)),
      lit(3L)).cast("long")
    val half1 = rows.limit(5)
    val half2 = rows.exceptAll(half1)
    def cen(df: org.apache.spark.sql.DataFrame) = df.groupBy(bin.as("bin"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("n_act"),
        sum(when(col("isa"), 0L).otherwise(1L)).as("n_ref"))
    val merged = cen(half1).unionByName(cen(half2))
      .groupBy(col("bin"))
      .agg(sum(col("n_act")).as("n_act"), sum(col("n_ref")).as("n_ref"))
    val census = graft.operators.Drift.psiFromCensus(merged, 4)
      .orderBy(col("bin")).collect().toSeq
    assert(census == onePass)
  }

  test("benfordFromCensus: batch-split digit censuses equal the one-pass path") {
    import spark.implicits._
    val rows = (Seq.fill(8)(1.5) ++ Seq(19.99, 2.0, 0.4)).toDF("v")
    val onePass = Profiling.benfordDigits(rows, "v")
      .orderBy(col("digit")).collect().toSeq
    def cen(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("v") >= 1.0)
        .select(substring(floor(col("v")).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    // uneven micro-batch partials: counts add, readout must be bit-equal
    val half1 = rows.limit(3)
    val half2 = rows.exceptAll(half1)
    val census = Profiling.benfordFromCensus(
        cen(half1).unionByName(cen(half2)))
      .orderBy(col("digit")).collect().toSeq
    assert(census == onePass)
  }

  test("wilcoxonSignedRank: hand-ranked ties, zero diffs dropped but counted") {
    import spark.implicits._
    // d = a-b: +3, -1, +2, +2, 0 → nonzero ranks |1|→1, |2|,|2|→2.5 each,
    // |3|→4; W+ = 2.5 + 2.5 + 4 = 9, n = 4, one zero pair dropped
    val pairs = Seq((13L, 10L), (9L, 10L), (12L, 10L), (22L, 20L), (5L, 5L))
      .toDF("a", "b")
    val r = graft.operators.Drift.wilcoxonSignedRank(pairs, "a", "b").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 9.0)
    val sig2 = 4.0 * 5.0 * 9.0 / 24.0 - (8.0 - 2.0) / 48.0
    val manual = BigDecimal((2.0 * 9.0 - 4.0 * 5.0 / 2.0 * 1.0) /
      (2.0 * math.sqrt(sig2))).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(math.abs(r.getDouble(3) - manual.toDouble) < 1e-9)
  }

  test("ansariBradley: hand scores, extremes read negative, ties averaged") {
    import spark.implicits._
    // pooled 1,2,3,4 scores min(r, N+1-r) = 1,2,2,1; A = {1,4} takes the
    // extremes: AB = 2, abar = 1.5, var = (2·2/12)·1 → z = -1/√(1/3)
    val df = Seq((1L, true), (4L, true), (2L, false), (3L, false))
      .toDF("v", "isa")
    val r = graft.operators.Drift.ansariBradley(df, "v", col("isa")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 2.0)
    assert(math.abs(r.getDouble(3) - (-1.0 / math.sqrt(1.0 / 3.0))) < 1e-6)
    // tie run of 2 at v=1 (avg score 1.5): A={1,2}, B={1,3} → AB=3.5,
    // varNum = 9.5 - 4·2.25 = 0.5, z = 0.5/√(1/6)
    val t = Seq((1L, true), (2L, true), (1L, false), (3L, false))
      .toDF("v", "isa")
    val rt = graft.operators.Drift.ansariBradley(t, "v", col("isa")).head()
    assert(rt.getDouble(2) == 3.5)
    assert(math.abs(rt.getDouble(3) - 0.5 / math.sqrt(1.0 / 6.0)) < 1e-6)
  }

  test("topMovers: |delta| ranks, key tie-break, disappearing keys count") {
    import spark.implicits._
    // key 1: 1 -> 4 (+3); key 2: 5 -> 1 (-4); key 3: 2 -> 2 (0);
    // key 4: 3 -> 0 (-3, ties key 1 on |delta| — lower key wins)
    val rows = (Seq.fill(1)((1L, false)) ++ Seq.fill(4)((1L, true)) ++
      Seq.fill(5)((2L, false)) ++ Seq.fill(1)((2L, true)) ++
      Seq.fill(2)((3L, false)) ++ Seq.fill(2)((3L, true)) ++
      Seq.fill(3)((4L, false))).toDF("k", "curr")
    val got = graft.operators.Drift.topMovers(rows, "k", col("curr"), 3)
      .orderBy(col("rank")).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 1L, 4L))
    assert(got(0).getLong(4) == -4L && got(1).getLong(4) == 3L &&
      got(2).getLong(4) == -3L)
    assert(got(2).getLong(3) == 0L, "a key absent from the current period still reports")
  }

  test("ratioDeltaZ: hand moments, covariance term included") {
    import spark.implicits._
    // A: (10,2),(20,2) → R=7.5, varR = 50/8 = 6.25
    // B: (8,1),(12,3) → R=5, varR = (8 + 50 - 40)/8 = 2.25
    val units = Seq((10L, 2L, true), (20L, 2L, true),
      (8L, 1L, false), (12L, 3L, false)).toDF("x", "y", "isa")
    val r = graft.operators.Drift.ratioDeltaZ(units, "x", "y", col("isa"))
      .head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 7.5 && r.getDouble(3) == 5.0)
    val manual = BigDecimal(2.5 / math.sqrt(6.25 + 2.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == manual)
    // a single-unit arm degenerates to NULLs, never 0/0
    val deg = Seq((10L, 2L, true), (8L, 1L, false)).toDF("x", "y", "isa")
    assert(graft.operators.Drift.ratioDeltaZ(deg, "x", "y", col("isa"))
      .head().isNullAt(4))
  }

  test("topMoversFromCensus: batch-split censuses equal the one-pass path") {
    import spark.implicits._
    val rows = Seq((1L, false), (1L, true), (1L, true), (2L, false),
      (2L, false), (3L, true)).toDF("k", "curr")
    val onePass = graft.operators.Drift.topMovers(rows, "k", col("curr"), 3)
      .orderBy(col("rank")).collect().toSeq
    def cen(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k").as("key"))
        .agg(sum(when(col("curr"), 0L).otherwise(1L)).as("n_prev"),
          sum(when(col("curr"), 1L).otherwise(0L)).as("n_curr"))
    val half1 = rows.limit(2)
    val half2 = rows.exceptAll(half1)
    val census = graft.operators.Drift.topMoversFromCensus(
        cen(half1).unionByName(cen(half2)), 3)
      .orderBy(col("rank")).collect().toSeq
    assert(census == onePass)
  }

  test("dunnTest: pooled ranking, hand z values, BH gate") {
    import spark.implicits._
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L),
      ("C", 10L), ("C", 11L)).toDF("g", "v")
    val got = graft.operators.Drift.dunnTest(df, "v", "g")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ac = got(("A", "C"))
    // pooled mean ranks 1.5 / 3.5 / 5.5; sigma^2 = 3.5 per pair
    assert(ac.getDouble(4) == 1.5 && ac.getDouble(5) == 5.5)
    val zAC = BigDecimal(-4.0 / math.sqrt(3.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ac.getDouble(6) == zAC)
    // strongest pair ranks first; family is too small for BH at 0.05
    assert(ac.getLong(8) == 1L)
    assert(got.values.forall(!_.getBoolean(9)))
  }

  test("hteZTest: opposite per-segment effects, hand interaction z") {
    import spark.implicits._
    // seg1: A={1,3} vs B={5,5} → d1=-3, v=1.0; seg2: A={2,2} vs B={1,1}
    // → d2=+1, v=0 → z = (-3-1)/1 = -4
    val rows = Seq((1L, true, true), (3L, true, true), (5L, false, true),
      (5L, false, true), (2L, true, false), (2L, true, false),
      (1L, false, false), (1L, false, false)).toDF("v", "isa", "s1")
    val r = graft.operators.Drift.hteZTest(rows, "v", col("isa"), col("s1"))
      .head()
    assert(r.getDouble(4) == -3.0 && r.getDouble(5) == 1.0)
    assert(r.getDouble(6) == -4.0)
  }

  test("funnelWilson: monotone prefix counts, hand Wilson interval") {
    import spark.implicits._
    val flags = Seq((true, false, false), (true, true, false),
      (true, true, false), (true, true, true)).toDF("v", "c", "p")
    val got = graft.operators.Drift.funnelWilson(flags, Seq("v", "c", "p"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = got("v->c")
    assert(s1.getLong(1) == 4L && s1.getLong(2) == 3L)
    assert(s1.getDouble(3) == 0.75)
    val z = 1.96; val n = 4.0; val p = 0.75
    val denom = 1.0 + z * z / n
    val center = (p + z * z / (2.0 * n)) / denom
    val half = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n)) / denom
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s1.getDouble(4) == r6(center - half))
    assert(s1.getDouble(5) == r6(center + half))
    assert(got("c->p").getLong(1) == 3L && got("c->p").getLong(2) == 1L)
  }

  test("holmBonferroni: step-down prefix property, criticals scale") {
    import spark.implicits._
    // one wildly shifted group, one mildly, two null — whatever the
    // p-values land at, rejection must be a PREFIX of the p-ranking with
    // the first failing scaled p killing everything after
    val rows = (Seq.fill(40)(("a", 1000L)) ++ Seq.fill(40)(("b", 60L)) ++
      Seq.fill(40)(("c", 52L)) ++ Seq.fill(40)(("d", 49L)))
      .zipWithIndex.map { case ((g, base), i) => (g, base + (i % 7)) }
      .toDF("g", "v")
    val got = graft.operators.Drift.holmBonferroni(rows, "g", "v")
      .orderBy(col("p_rank")).collect()
    val m = got.length.toDouble
    val scaled = got.zipWithIndex.map { case (r, i) =>
      r.getDouble(3) * (m - (i + 1) + 1.0) <= 0.05
    }
    val expected = scaled.scanLeft(true)(_ && _).tail // prefix-and
    assert(got.map(_.getBoolean(6)).toSeq == expected.toSeq)
    assert(got.head.getBoolean(6), "the extreme shift must reject")
    got.zipWithIndex.foreach { case (r, i) =>
      val crit = BigDecimal(0.05 / (m - (i + 1) + 1.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) == crit)
    }
  }

  test("mwEffectSizes: total separation reads CLES 1, rank-biserial 1") {
    import spark.implicits._
    val df = Seq((3L, true), (4L, true), (1L, false), (2L, false))
      .toDF("v", "isa")
    val r = graft.operators.Drift.mwEffectSizes(df, "v", col("isa")).head()
    assert(r.getDouble(2) == 4.0) // U = n_a*n_b, every A beats every B
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0)
  }

  test("simpsonReversal: A wins every segment, loses pooled → flagged") {
    import spark.implicits._
    // the kidney-stone construction: A beats B inside both segments but
    // the mix makes the pooled rate favor B
    def cell(seg: String, isa: Boolean, s: Int, n: Int) =
      (0 until n).map(i => (seg, isa, i < s))
    val rows = (cell("s1", true, 81, 87) ++ cell("s1", false, 234, 270) ++
      cell("s2", true, 192, 263) ++ cell("s2", false, 55, 80))
      .toDF("seg", "isa", "succ")
    val got = graft.operators.Drift.simpsonReversal(
        rows, "seg", col("isa"), col("succ"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("s1").getDouble(5) > 0 && got("s2").getDouble(5) > 0)
    assert(got("s1").getDouble(6) < 0, "pooled must favor B")
    assert(got("s1").getBoolean(7) && got("s2").getBoolean(7))
  }

  test("jackknifeRatio: hand leave-one-out spread") {
    import spark.implicits._
    val rows = Seq(("b1", 10L, 2L), ("b2", 20L, 3L)).toDF("b", "x", "y")
    val r = graft.operators.Drift.jackknifeRatio(rows, "b", "x", "y").head()
    assert(r.getLong(0) == 2L && r.getDouble(1) == 6.0)
    // theta = (20/3, 5); se = sqrt(1/2 * 2 * (5/6)^2) = 5/6
    assert(math.abs(r.getDouble(2) - 5.0 / 6.0) < 1e-6)
  }

  test("quantileTreatmentEffects: identical arms read zero QTE, shift reads it") {
    import spark.implicits._
    val base = (1L to 100L)
    val same = (base.map((_, true)) ++ base.map((_, false))).toDF("v", "isa")
    val g0 = graft.operators.Drift.quantileTreatmentEffects(same, "v", col("isa"))
      .collect()
    assert(g0.forall(_.getLong(5) == 0L))
    val shifted = (base.map(v => (v + 10L, true)) ++ base.map((_, false)))
      .toDF("v", "isa")
    val g1 = graft.operators.Drift
      .quantileTreatmentEffects(shifted, "v", col("isa"))
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(g1.values.forall(_ == 10L))
  }

  test("bhQValues: monotone adjustment, last rank reads its own p") {
    import spark.implicits._
    val rows = (Seq.fill(40)(("a", 1000L)) ++ Seq.fill(40)(("b", 60L)) ++
      Seq.fill(40)(("c", 52L)) ++ Seq.fill(40)(("d", 49L)))
      .zipWithIndex.map { case ((g, base), i) => (g, base + (i % 7)) }
      .toDF("g", "v")
    val got = graft.operators.Drift.bhQValues(rows, "g", "v")
      .orderBy(col("p_rank")).collect()
    val m = got.length
    // q is non-decreasing in rank and bounded by the scaled p
    got.sliding(2).foreach { w =>
      assert(w(0).getDouble(5) <= w(1).getDouble(5) + 1e-12)
    }
    got.zipWithIndex.foreach { case (r, i) =>
      val scaled = BigDecimal(r.getDouble(3) * m / (i + 1.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) <= scaled + 1e-12)
    }
    assert(math.abs(got.last.getDouble(5) - got.last.getDouble(3)) < 1e-9,
      "rank m's q-value is its own p")
  }

  test("kAnonSweep and uniquenessRisk: hand class-size accounting") {
    import spark.implicits._
    // classes: (a,1)x3, (a,2)x1, (b,1)x2 -> sizes {3,1,2}
    val df = (Seq.fill(3)(("a", 1)) ++ Seq(("a", 2)) ++ Seq.fill(2)(("b", 1)))
      .toDF("g", "h")
    val sweep = graft.operators.Privacy
      .kAnonSweep(df, Seq("g", "h"), Seq(2, 3))
      .collect().map(r => r.getLong(0) -> r).toMap
    // k=2: the singleton class suppresses (1 class, 1 row of 6)
    assert(sweep(2L).getLong(1) == 3L && sweep(2L).getLong(2) == 1L)
    assert(sweep(2L).getLong(3) == 1L)
    assert(sweep(2L).getDouble(4) == 0.166667)
    // k=3: the size-2 class suppresses too (3 rows of 6)
    assert(sweep(3L).getLong(2) == 2L && sweep(3L).getLong(3) == 3L)
    val risk = graft.operators.Privacy.uniquenessRisk(df,
      Seq(("g_only", Seq("g")), ("g_h", Seq("g", "h"))))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(risk("g_only").getLong(2) == 0L)
    assert(risk("g_h").getLong(1) == 3L && risk("g_h").getLong(2) == 1L)
    assert(risk("g_h").getDouble(3) == 0.166667)
  }

  test("tailDependence: comonotone tails read 1, antitone tails read 0") {
    import spark.implicits._
    val co = (1L to 100L).map(i => (i, i)).toDF("x", "y")
    val g1 = graft.operators.Drift.tailDependence(co, "x", "y", Seq(90))
      .head()
    assert(g1.getLong(1) == 90L && g1.getLong(2) == 90L)
    assert(g1.getLong(3) == 10L && g1.getLong(4) == 10L)
    assert(g1.getDouble(5) == 1.0)
    val anti = (1L to 100L).map(i => (i, 101L - i)).toDF("x", "y")
    assert(graft.operators.Drift.tailDependence(anti, "x", "y", Seq(90))
      .head().getDouble(5) == 0.0)
  }

  test("metaAnalysis: hand Q/I2/tau2 and the random-effects re-pool") {
    import spark.implicits._
    // stratum A: d=2, var=4; stratum B: d=12, var=4 ->
    // sw=0.5, d_fe=7, Q=12.5, I2=0.92, tau2=46, d_re=7, se_re=5
    val df = Seq(("A", 0L, true), ("A", 4L, true), ("A", 0L, false),
      ("A", 0L, false), ("B", 10L, true), ("B", 14L, true),
      ("B", 0L, false), ("B", 0L, false)).toDF("s", "v", "isa")
    val r = graft.operators.Drift.metaAnalysis(df, "s", col("isa"), "v")
      .head()
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == 7.0 && r.getDouble(2) == 12.5)
    assert(r.getDouble(3) == 0.92 && r.getDouble(4) == 46.0)
    assert(r.getDouble(5) == 7.0 && r.getDouble(6) == 5.0)
  }

  test("strataAtt: treated-share weighting, unmatchable strata drop loudly") {
    import spark.implicits._
    // stratum A: treated {2,4} vs control {0,2} -> diff 2, var 2 each;
    // stratum B has treated only -> drops with its mass reported
    val df = Seq(("A", 2L, true), ("A", 4L, true), ("A", 0L, false),
      ("A", 2L, false), ("B", 10L, true)).toDF("s", "v", "isa")
    val r = graft.operators.Drift.strataAtt(df, "s", col("isa"), "v").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 1L)
    assert(r.getDouble(4) == 2.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == r6(math.sqrt(2.0)))
    assert(r.getDouble(6) == r6(2.0 / r6(math.sqrt(2.0))))
  }

  test("hodgesLehmann: median of pairwise differences, even case averaged") {
    import spark.implicits._
    // A = {10, 20}, B = {0, 5}: diffs 5,10,15,20 -> HL = (10+15)/2
    val df = Seq((10L, true), (20L, true), (0L, false), (5L, false))
      .toDF("v", "isa")
    val r = graft.operators.Drift.hodgesLehmann(df, "v", col("isa")).head()
    assert(r.getLong(0) == 4L && r.getDouble(1) == 12.5)
  }

  test("theilsU: perfect determination reads 1 both ways") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L)).toDF("x", "y")
    val r = graft.operators.Drift.theilsU(df, "x", "y").head()
    // H(X) = H(Y) = MI = ln 2 on the grid
    assert(r.getDouble(0) == 0.69314718 && r.getDouble(1) == 0.69314718)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("wasserstein1: hand CDF-area transport distance") {
    import spark.implicits._
    // arm A mass at {0, 10}, arm B mass at {10, 20}: |F_a - F_b| is 0.5
    // over [0,10) and 0.5 over [10,20) -> w1 = 10, range 20, norm 0.5
    val df = Seq((0L, true), (10L, true), (10L, false), (20L, false))
      .toDF("v", "isa")
    val r = graft.operators.Drift.wasserstein1(df, "v", col("isa")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 20L)
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 10.0)
  }

  test("w1/jamesStein census finishers: batch-split partials equal one pass") {
    import spark.implicits._
    val rows = ((1L to 20L).map(v => (v, v % 3 == 0)) ++
      (5L to 30L).map(v => (v, v % 2 == 0))).toDF("v", "isa")
    val onePass = graft.operators.Drift.wasserstein1(rows, "v", col("isa"))
      .head()
    def cen(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ta"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("tb"))
    val half = rows.limit(17)
    assert(graft.operators.Drift.w1FromCensus(
      cen(half).unionByName(cen(rows.exceptAll(half)))).head() == onePass)
    // the Hodges-Lehmann finisher rides the identical census layout
    val hlOne = graft.operators.Drift.hodgesLehmann(rows, "v", col("isa"))
      .head()
    assert(graft.operators.Drift.hlFromCensus(
      cen(half).unionByName(cen(rows.exceptAll(half)))).head() == hlOne)
    // the distributed batched-probe selection (forced past the driver
    // search) lands the identical statistic
    assert(distributed(graft.operators.Drift.hlFromCensus(cen(rows)).head()) ==
      hlOne)
    val gv = ((1L to 9L).map(v => ("a", v)) ++ (4L to 15L).map(v => ("b", v)))
      .toDF("g", "v")
    val js = graft.operators.Drift.jamesStein(gv, "g", "v")
      .collect().toSeq
    def mo(df: org.apache.spark.sql.DataFrame) = {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val vv = col("v").cast("long").cast(d38)
      df.groupBy(col("g")).agg(count(lit(1)).as("n_g"),
        sum(vv).as("s_g"), sum(vv * vv).as("ss_g"))
    }
    val gh = gv.limit(11)
    assert(graft.operators.Drift.jamesSteinFromCensus(
      mo(gh).unionByName(mo(gv.exceptAll(gh)))).collect().toSeq == js)
    // joint censuses add for the directional-association finisher too
    val xy = (Seq.fill(4)(("a", 1L)) ++ Seq.fill(2)(("a", 2L)) ++
      Seq.fill(5)(("b", 2L))).toDF("x", "y")
    val one = graft.operators.Drift.theilsU(xy, "x", "y").head()
    def jc(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("x"),
      col("y")).agg(count(lit(1)).as("n_xy"))
    val xh = xy.limit(7)
    assert(graft.operators.Drift.theilsUFromCensus(
      jc(xh).unionByName(jc(xy.exceptAll(xh)))).head() == one)
  }

  test("jamesStein: hand shrinkage toward the grand mean") {
    import spark.implicits._
    // A = {0,2} (mean 1), B = {4,6} (mean 5): F = 8, n0 = 2,
    // lambda = 2*7/(2+14) = 0.875, grand mean 3
    val df = Seq(("A", 0L), ("A", 2L), ("B", 4L), ("B", 6L)).toDF("g", "v")
    val got = graft.operators.Drift.jamesStein(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("A").getDouble(2) == 1.0 && got("B").getDouble(2) == 5.0)
    assert(got("A").getDouble(3) == 0.875)
    assert(got("A").getDouble(4) == 1.25 && got("B").getDouble(4) == 4.75)
  }

  test("byFdr: harmonic-shrunk line is strictly more conservative than BH") {
    import spark.implicits._
    // H_4 = 1 + 1/2 + 1/3 + 1/4 = 2.083333333 on the 1e-9 grid
    val tests = Seq(("a", 0.001), ("b", 0.01), ("c", 0.03), ("d", 0.5))
      .toDF("k", "p")
    val by = graft.operators.Drift.byFdr(tests, "k", "p", 0.05)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(by("a").getDouble(4) == 2.083333333)
    // BY crit at rank 3 = 3*0.05/(4*H) = 0.018 < 0.03 -> only ranks 1,2
    assert(by("a").getBoolean(6) && by("b").getBoolean(6))
    assert(!by("c").getBoolean(6) && !by("d").getBoolean(6))
    // BH (independence-assuming) accepts rank 3 on the same family:
    // 0.03 <= 3*0.05/4 — the dependence insurance costs exactly this
    val bh = graft.operators.Drift.bhFdr(tests, "k", "p", 0.05)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(bh("c"), "BH must reject rank 3 here")
  }

  test("fleissKappa: perfect panel reads 1, split panel lands the hand value") {
    import spark.implicits._
    // perfect: every item's 3 raters agree -> kappa = 1 whatever Pe
    val perfect = Seq((1L, "x"), (1L, "x"), (1L, "x"),
      (2L, "y"), (2L, "y"), (2L, "y")).toDF("i", "j")
    val p = graft.operators.Drift.fleissKappa(perfect, "i", "j", 3).head()
    assert(p.getLong(0) == 2L && p.getDouble(4) == 1.0)
    // split: (x,x,y) and (x,y,y): P_bar = 1/3, Pe = 0.5, kappa = -1/3
    val split = Seq((1L, "x"), (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y"), (2L, "y")).toDF("i", "j")
    val s = graft.operators.Drift.fleissKappa(split, "i", "j", 3).head()
    assert(s.getDouble(2) == 0.333333333 && s.getDouble(3) == 0.5)
    assert(s.getDouble(4) == -0.333333)
    // the fixed-panel contract is enforced, not silently biased
    val ragged = Seq((1L, "x"), (1L, "x"), (2L, "y"), (2L, "y"), (2L, "y"))
      .toDF("i", "j")
    intercept[IllegalArgumentException] {
      graft.operators.Drift.fleissKappa(ragged, "i", "j", 3)
    }
  }

  test("cohensD: hand pooled-SD standardization with Hedges correction") {
    import spark.implicits._
    val df = Seq((0L, true), (2L, true), (4L, false), (6L, false))
      .toDF("v", "isa")
    val r = graft.operators.Drift.cohensD(df, "v", col("isa")).head()
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d = -4.0 / math.sqrt(2.0)
    assert(r.getDouble(2) == r6(d))
    assert(r.getDouble(3) == r6(d * (1.0 - 3.0 / 7.0)))
  }

  test("qteFromCensus: batch-split value censuses equal the one-pass path") {
    import spark.implicits._
    val rows = ((1L to 20L).map((_, true)) ++ (5L to 24L).map((_, false)))
      .toDF("v", "isa")
    val onePass = graft.operators.Drift
      .quantileTreatmentEffects(rows, "v", col("isa"))
      .orderBy(col("pct")).collect().toSeq
    def cen(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("isa"), col("v")).agg(count(lit(1)).as("t"))
    val half1 = rows.limit(13)
    val census = graft.operators.Drift.qteFromCensus(
        cen(half1).unionByName(cen(rows.exceptAll(half1))))
      .orderBy(col("pct")).collect().toSeq
    assert(census == onePass)
  }

  test("tCloseness: ordered EMD against the global distribution") {
    import spark.implicits._
    // global over {1,2} is (0.75, 0.25); both classes sit 0.25 away
    val df = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 1L)).toDF("cls", "s")
    val got = graft.operators.Privacy.tCloseness(df, Seq("cls"), "s", 0.3)
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getInt(4))))
      .toMap
    assert(got("A") == ((0.25, 1)) && got("B") == ((0.25, 1)))
    val tight = graft.operators.Privacy.tCloseness(df, Seq("cls"), "s", 0.2)
      .collect().map(r => r.getInt(4)).toSeq
    assert(tight == Seq(0, 0), "at t=0.2 both classes must fail closeness")
  }

  test("dpMedian: retry-stable, concentrated near the true median") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("v")
    val a = graft.operators.Privacy.dpMedian(df, "v", 0.5, "s1").head()
    val b = graft.operators.Privacy.dpMedian(df, "v", 0.5, "s1").head()
    assert(a == b, "the DP release must be retry-stable (budget property)")
    assert(a.getLong(0) == 1000L && a.getLong(1) == 500L)
    // exponential mechanism with eps=0.5 on n=1000: u2 penalty is
    // 0.125/doubled-rank vs Gumbel scale ~1 → stays within ~40 ranks
    assert(math.abs(a.getLong(2) - 500L) < 100L,
      s"dp median ${a.getLong(2)} drifted far from 500")
    // a different salt is a fresh draw
    val c = graft.operators.Privacy.dpMedian(df, "v", 0.5, "s2").head()
    assert(math.abs(c.getLong(2) - 500L) < 100L)
  }

  test("srmCheck: JVM-replayed assignment, exact chi2, zero-arm safety") {
    import spark.implicits._
    val arms = Seq(("control", 2), ("t1", 1), ("t2", 1))
    def bucket(u: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s9:$u".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 13), 16) % 4).toInt
    }
    def armOf(b: Int) = if (b < 2) "control" else if (b < 3) "t1" else "t2"
    val units = (1L to 200L)
    // duplicates must not double-count: each unit appears twice
    val df = (units ++ units).toDF("u")
    val got = graft.operators.Drift.srmCheck(df, "u", arms, "s9", 9.21034)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    val obs = units.groupBy(u => armOf(bucket(u))).map { case (a, us) =>
      a -> us.size.toLong }
    def grid9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val chi = arms.map { case (a, w) =>
      val o = obs.getOrElse(a, 0L)
      val diff = (o * 4 - 200L * w).toDouble
      grid9(diff * diff / (200.0 * w * 4.0))
    }.sum
    arms.foreach { case (a, w) =>
      val (n, e, c2, _) = got(a)
      assert(n == obs.getOrElse(a, 0L), s"arm $a")
      assert(e == math.rint(200.0 * w / 4.0 * 1e6) / 1e6)
      assert(c2 == math.rint(chi.toDouble * 1e6) / 1e6)
    }
  }

  test("theilIndex: within-zero case decomposes fully to between") {
    import spark.implicits._
    // A = [1,1], B = [2,2]: no inequality inside groups → within = 0,
    // total = between = (1/3)ln(2/3) + (2/3)ln(4/3)
    val df = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 2L)).toDF("g", "v")
    val got = graft.operators.Drift.theilIndex(df, "v", "g")
      .collect().map(r => r.getString(0) -> r).toMap
    val expect = (1.0 / 3.0) * math.log(2.0 / 3.0) +
      (2.0 / 3.0) * math.log(4.0 / 3.0)
    for ((_, r) <- got) {
      assert(r.getDouble(3) == 0.0, "theil_g must be 0 inside equal groups")
      assert(math.abs(r.getDouble(4)) < 1e-6, "within must be ~0")
      assert(math.abs(r.getDouble(5) - expect) < 1e-5, "between")
      assert(math.abs(r.getDouble(6) - expect) < 1e-5, "total = between")
    }
    assert(got("A").getDouble(2) == math.rint(1.0 / 3.0 * 1e6) / 1e6)
    // lazy raise_error guard: fires inside the main pass at action time
    val nonpos = intercept[Exception] {
      graft.operators.Drift.theilIndex(
        Seq(("A", 0L)).toDF("g", "v"), "v", "g").collect()
    }
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootChain(nonpos).exists(e =>
      Option(e.getMessage).exists(_.contains("strictly positive"))))
  }

  test("sprt: crossings at the exact boundary trial, continue otherwise") {
    import spark.implicits._
    // all successes: llr = n·ln(5/3) crosses ln(19) at n = 6
    val up = (1L to 10L).map(i => ("u", i, true))
    // all failures: llr = n·ln(15/17) crosses −ln(19) at n = 24
    val down = (1L to 30L).map(i => ("d", i, false))
    // too short to decide
    val short = (1L to 3L).map(i => ("s", i, true))
    val df = (up ++ down ++ short).toDF("k", "t", "conv")
    val got = graft.operators.Drift.sprt(df, "k", Seq("t"), col("conv"),
      0.15, 0.25, 19.0).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(got("u") == ((10L, "h1", Some(6L))))
    assert(got("d") == ((30L, "h0", Some(24L))))
    assert(got("s") == ((3L, "continue", None)))
  }

  test("anovaF: two-group hand case, F = 5 exactly") {
    import spark.implicits._
    // A=[1,2], B=[3,5]: SSB=6.25, SSW=2.5 → F = 6.25/(2.5/2) = 5
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 5L)).toDF("g", "v")
    val got = graft.operators.Drift.anovaF(df, "v", "g")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("A") == ((2L, 1.5, 5.0)))
    assert(got("B") == ((2L, 4.0, 5.0)))
  }

  test("mcnemar: only discordant cells drive the statistic") {
    import spark.implicits._
    val rows = Seq.fill(2)((true, true)) ++ Seq.fill(3)((true, false)) ++
      Seq.fill(1)((false, true)) ++ Seq.fill(4)((false, false))
    val r = graft.operators.Drift.mcnemar(rows.toDF("pre", "post"),
      col("pre"), col("post")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 3L, 1L, 4L)))
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 0.25)
  }

  test("yuenTTest: symmetric shifted samples, hand-computed t and df") {
    import spark.implicits._
    // A = 1..10, B = 11..20, 10% trim: trimmed means 5.5 / 15.5,
    // winsorized SS = 66.5 each, d = 66.5/56, df = 2(h-1) = 14 exactly
    val rows = (1L to 10L).map((_, true)) ++ (11L to 20L).map((_, false))
    val r = graft.operators.Drift.yuenTTest(rows.toDF("v", "isa"),
      "v", col("isa"), 1000).head()
    assert((r.getLong(0), r.getLong(1)) == ((10L, 10L)))
    assert(r.getDouble(2) == 5.5 && r.getDouble(3) == 15.5)
    val d = 66.5 / (8.0 * 7.0)
    val t = (5.5 - 15.5) / math.sqrt(d + d)
    assert(r.getDouble(4) == math.rint(t * 1e6) / 1e6)
    assert(r.getDouble(5) == 14.0)
  }

  test("energyDistance: zero on identical samples, hand pairwise cases") {
    def e(rows: Seq[(Long, Boolean)]): Double =
      graft.operators.Drift.energyDistance(
        rows.toDF("v", "isa"), "v", col("isa")).head().getDouble(2)
    // identical distributions: E = 0 exactly
    assert(e(Seq((1L, true), (5L, true), (1L, false), (5L, false))) == 0.0)
    // A=[0], B=[2]: 2*2/1 - 0 - 0 = 4
    assert(e(Seq((0L, true), (2L, false))) == 4.0)
    // A=[0,2], B=[1]: 2*(1+1)/2 - (|0-2|*2)/4 - 0 = 2 - 1 = 1
    assert(e(Seq((0L, true), (2L, true), (1L, false))) == 1.0)
  }

  test("ksExact: supremum, its location, disjoint samples reach D=1") {
    // A=[1,2], B=[2,3]: D = 1/2, first attained at v=1
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, false))
      .toDF("v", "isa")
    val r = graft.operators.Drift.ksExact(df, "v", col("isa")).head()
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 1.0)
    // disjoint supports: D = 1 exactly, at A's max value
    val dj = Seq((1L, true), (2L, true), (5L, false), (6L, false))
      .toDF("v", "isa")
    val r2 = graft.operators.Drift.ksExact(dj, "v", col("isa")).head()
    assert(r2.getDouble(2) == 1.0 && r2.getDouble(3) == 2.0)
  }

  test("joinFanout: exact pair counts, deterministic top ranking") {
    val left = Seq("a", "a", "b").toDF("k")
    val right = Seq("a", "b", "b", "c").toDF("k")
    val got = Profiling.joinFanout(left, "k", right, "k", topN = 5)
      .as[(Long, String, Long, Long, Long, Long, Double)].collect()
      .sortBy(_._1)
    // a: 2x1=2, b: 1x2=2 (c never joins); total 4; tie ranks by key
    assert(got.map(r => (r._1, r._2, r._5, r._6, r._7)).toSeq == Seq(
      (1L, "a", 2L, 4L, 0.5), (2L, "b", 2L, 4L, 0.5)))
  }

  test("jsdMatrix: identical = 0 exactly, disjoint = ln 2 on the grid") {
    import spark.implicits._
    // A and B share the same histogram; C lives on a disjoint bin
    val rows = Seq(("A", 0L), ("A", 0L), ("A", 1L), ("A", 1L),
      ("B", 0L), ("B", 0L), ("B", 1L), ("B", 1L), ("C", 2L), ("C", 2L))
    val got = graft.operators.Drift.jsdMatrix(rows.toDF("k", "b"), "k", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(got(("A", "B")) == 0.0, "identical distributions read 0 exactly")
    assert(got(("A", "C")) == 0.693147 && got(("B", "C")) == 0.693147,
      "disjoint supports saturate at ln 2")
  }

  test("covariateBalance: hand SMD = 1/sqrt(2), balanced flag") {
    import spark.implicits._
    // treated [2,4] (mean 3, var 2) vs control [1,3] (mean 2, var 2):
    // SMD = 1/√2 ≈ 0.707 → unbalanced at the 0.1 convention
    val df = Seq((true, 2L), (true, 4L), (false, 1L), (false, 3L))
      .toDF("t", "x")
    val r = graft.operators.Drift.covariateBalance(df, col("t"), Seq("x"))
      .head()
    assert((r.getString(0), r.getLong(1), r.getLong(2)) == (("x", 2L, 2L)))
    assert(r.getDouble(3) == 3.0 && r.getDouble(4) == 2.0)
    assert(r.getDouble(5) == math.rint(1.0 / math.sqrt(2.0) * 1e6) / 1e6)
    assert(!r.getBoolean(6))
  }

  test("cohenKappa: hand 2x2 gives kappa = 0.4 exactly; runs test moments") {
    import spark.implicits._
    // cells (20,5,10,15): po=0.7, pe2=1250, κ = 500/1250 = 0.4
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false))
    val r = graft.operators.Drift.cohenKappa(rows.toDF("r1", "r2"),
      col("r1"), col("r2")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((20L, 5L, 10L, 15L)))
    assert(r.getDouble(5) == 0.7 && r.getDouble(6) == 0.4)
    // runs test: [1,1,0,0,1] → 3 runs, E=3.4, Var=0.84; all-true → NULL z
    val seq1 = Seq(("a", 0L, true), ("a", 1L, true), ("a", 2L, false),
      ("a", 3L, false), ("a", 4L, true), ("b", 0L, true), ("b", 1L, true))
    val got = graft.operators.Drift.runsTest(seq1.toDF("k", "t", "f"),
      "k", "t", col("f")).collect().map(x => x.getString(0) -> x).toMap
    val a = got("a")
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4)) ==
      ((5L, 3L, 2L, 3L)))
    assert(a.getDouble(5) == 3.4)
    assert(a.getDouble(6) ==
      math.rint((3.0 - 3.4) / math.sqrt(0.84) * 1e6) / 1e6)
    assert(got("b").isNullAt(6))
  }

  test("captureRecapture: Chapman estimate and CI from hand overlap") {
    import spark.implicits._
    val s1 = Seq(1L, 2L, 3L).toDF("id")
    val s2 = Seq(2L, 3L, 4L, 5L).toDF("id")
    val r = graft.operators.Sketches.captureRecapture(s1, s2, "id").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 4L, 2L, 5L)))
    val nh = 4.0 * 5.0 / 3.0 - 1.0
    val se = math.sqrt(4.0 * 5.0 * 1.0 * 2.0 / (3.0 * 3.0 * 4.0))
    assert(r.getDouble(4) == math.rint(nh * 1e6) / 1e6)
    assert(r.getDouble(5) == math.rint(se * 1e6) / 1e6)
  }

  test("blandAltman: bias, limits, outside count from exact diffs") {
    import spark.implicits._
    // diffs [1, 3]: bias 2, sd √2; both inside the limits
    val df = Seq((10L, 9L), (10L, 7L)).toDF("a", "b")
    val r = graft.operators.Reconcile.blandAltman(df, "a", "b").head()
    val sd = math.sqrt(2.0)
    assert(r.getLong(0) == 2L && r.getDouble(1) == 2.0)
    assert(r.getDouble(2) == math.rint(sd * 1e6) / 1e6)
    assert(r.getDouble(3) == math.rint((2.0 - 1.959964 * sd) * 1e6) / 1e6)
    assert(r.getLong(5) == 0L)
  }

  test("cronbachAlpha: perfectly correlated items, hand alpha = 8/9") {
    import spark.implicits._
    // A=[1,2,3], B=[2,4,6]: vnums 6+24=30, totals [3,6,9] → tnum 54,
    // α = 2·(1 − 30/54) = 0.888889 on the grid
    val df = Seq(("o1", "A", 1L), ("o2", "A", 2L), ("o3", "A", 3L),
      ("o1", "B", 2L), ("o2", "B", 4L), ("o3", "B", 6L))
      .toDF("o", "i", "x")
    val got = graft.operators.Drift.cronbachAlpha(df, "o", "i", "x")
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 3L, 1.0, math.rint(2.0 * (1.0 - 30.0 / 54.0) * 1e6) / 1e6)))
    assert(got("B")._3 == 4.0)
  }

  test("mdeReport: hand MDE from exact moments") {
    import spark.implicits._
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L)).toDF("g", "v")
    val r = graft.operators.Drift.mdeReport(df, "g", "v").head()
    val mde = (1.959964 + 0.841621) * math.sqrt(1.0) *
      math.sqrt(2.0 / (3.0 / 2.0))
    assert((r.getLong(1), r.getDouble(2), r.getDouble(3)) == ((3L, 2.0, 1.0)))
    assert(r.getDouble(4) == math.rint(mde * 1e6) / 1e6)
    assert(r.getDouble(5) == math.rint(mde / 2.0 * 1e6) / 1e6)
  }

  test("pairwiseWelch: pair t matches welchTTest, all pairs present") {
    import spark.implicits._
    // A/B are the welchTTest hand case (t = -1.549193); C adds 2 pairs
    val df = (Seq(1L, 2L, 3L).map(("A", _)) ++ Seq(2L, 4L, 6L).map(("B", _))
      ++ Seq(7L, 8L, 9L).map(("C", _))).toDF("g", "v")
    val got = graft.operators.Drift.pairwiseWelch(df, "v", "g")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.size == 3)
    val ab = got(("A", "B"))
    assert(ab._1 == 3L && ab._2 == 3L && ab._3 == -1.549193)
    assert(ab._4 > 0.0 && ab._4 < 1.0)
    assert(got(("A", "C"))._3 < got(("A", "B"))._3,
      "the far-apart pair must be more extreme")
  }

  test("mantelHaenszel: hand two-strata OR and CMH chi2") {
    import spark.implicits._
    // s1: (10,5,5,10) n=30; s2: (2,8,8,2) n=20 — opposite-direction
    // strata pool to OR < 1 and a small chi2
    def rows(st: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((st, true, true)) ++ Seq.fill(b)((st, true, false)) ++
      Seq.fill(c)((st, false, true)) ++ Seq.fill(d)((st, false, false))
    val df = (rows("s1", 10, 5, 5, 10) ++ rows("s2", 2, 8, 8, 2))
      .toDF("st", "ex", "oc")
    val r = graft.operators.Drift.mantelHaenszel(df, "st", col("ex"),
      col("oc")).collect().map(x => x.getString(0) -> x).toMap
    val g9 = (x: Double) => math.rint(x * 1e9) / 1e9
    val sad = g9(100.0 / 30.0) + g9(4.0 / 20.0)
    val sbc = g9(25.0 / 30.0) + g9(64.0 / 20.0)
    val se1 = g9(225.0 / 30.0) + g9(100.0 / 20.0)
    val sv1 = g9(50625.0 / (900.0 * 29.0)) + g9(10000.0 / (400.0 * 19.0))
    val s1 = r("s1")
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3), s1.getLong(4)) ==
      ((10L, 5L, 5L, 10L)))
    assert(s1.getDouble(5) == math.rint(sad / sbc * 1e6) / 1e6)
    assert(s1.getDouble(6) ==
      math.rint((12.0 - se1) * (12.0 - se1) / sv1 * 1e6) / 1e6)
  }

  test("moodMedian: pooled lower median, 2xk chi2 = 6 exactly") {
    import spark.implicits._
    // pooled [1..6]: lower median 3; above-counts A=0, B=3 of A=3 total
    // → each group's two cells contribute 1.5+1.5 → χ² = 6
    val df = (Seq(1L, 2L, 3L).map(("A", _)) ++ Seq(4L, 5L, 6L).map(("B", _)))
      .toDF("g", "v")
    val got = graft.operators.Drift.moodMedian(df, "v", "g")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 3L, 0L, 1.5, 6.0)))
    assert(got("B") == (("B", 3L, 3L, 1.5, 6.0)))
    // all values equal → nothing above the median → NULL, not 0/0
    val flat = Seq(("A", 7L), ("B", 7L)).toDF("g", "v")
    val g2 = graft.operators.Drift.moodMedian(flat, "v", "g").collect()
    assert(g2.forall(_.isNullAt(4)))
  }

  test("cochranQ: textbook Q = 3 exactly, all-identical blocks give NULL") {
    import spark.implicits._
    // C = (3,2,1), T = 6, ΣR² = 14, ΣC² = 14 → Q = 2·(42−36)/(18−14) = 3
    val df = Seq(
      ("b1", "A", true), ("b1", "B", true), ("b1", "C", false),
      ("b2", "A", true), ("b2", "B", false), ("b2", "C", false),
      ("b3", "A", true), ("b3", "B", true), ("b3", "C", true),
      ("b4", "A", false), ("b4", "B", false), ("b4", "C", false))
      .toDF("b", "j", "s")
    val got = graft.operators.Drift.cochranQ(df, "b", "j", col("s"))
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 4L, 3L, 3.0)))
    assert(got("B") == (("B", 4L, 2L, 3.0)))
    assert(got("C") == (("C", 4L, 1L, 3.0)))
    // every block answers identically under every treatment → den = 0
    val flat = Seq(("b1", "A", true), ("b1", "B", true),
      ("b2", "A", false), ("b2", "B", false)).toDF("b", "j", "s")
    val g2 = graft.operators.Drift.cochranQ(flat, "b", "j", col("s"))
      .collect()
    assert(g2.forall(_.isNullAt(3)))
  }

  test("jonckheereTerpstra: hand 2J with a tie, exact Var = 1.5") {
    import spark.implicits._
    // g1=[1,2], g2=[2,3]: pair counts 2+2+1+2 → 2J=7, J=3.5; E=2;
    // Var = 102/72 + 0 + 8/96 = 1.5 exactly → z = 1.5/√1.5
    val df = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L)).toDF("g", "v")
    val got = graft.operators.Drift.jonckheereTerpstra(df, "g", "v")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1.5, 3.5,
      math.rint(1.5 / math.sqrt(1.5) * 1e6) / 1e6)))
    assert(got(2L)._3 == 2.5 && got(2L)._4 == 3.5)
  }

  test("brownForsythe: hand medians (LOWER order stat on even n) and F") {
    import spark.implicits._
    // A=[1,2,3]: med 2, z=[1,0,1]; B=[10,20,40,40]: lower median is the
    // rank-2 stat 20 (NOT 40 — the even-n discriminator), z=[10,0,20,20]
    val df = (Seq(1L, 2L, 3L).map(("A", _)) ++
      Seq(10L, 20L, 40L, 40L).map(("B", _))).toDF("g", "v")
    val got = graft.operators.Drift.brownForsythe(df, "v", "g")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // terms: 2²/3 → 1.333333 (gridded), 50²/4 = 625; N=7, S=52, SS=902
    val tsum = math.rint(4.0 / 3.0 * 1e6) / 1e6 + 625.0
    val s2n = 52.0 * 52.0 / 7.0
    val ssb = tsum - s2n
    val ssw = (902.0 - s2n) - ssb
    val f = math.rint(ssb / (ssw / 5.0) * 1e6) / 1e6
    assert(got("A") == (("A", 3L, 2L, 0.666667, f)))
    assert(got("B") == (("B", 4L, 20L, 12.5, f)))
  }

  test("friedman: textbook no-tie chi2, tied block, degenerate NULL") {
    import spark.implicits._
    // 3 blocks × 3 treatments; blocks 1-2 rank A<B<C, block 3 B<A<C:
    // R = (4, 5, 9) → χ² = 12/(3·3·4)·(16+25+81) − 3·3·4 = 14/3
    val clean = Seq(
      (1L, "A", 1L), (1L, "B", 2L), (1L, "C", 3L),
      (2L, "A", 1L), (2L, "B", 2L), (2L, "C", 3L),
      (3L, "A", 2L), (3L, "B", 1L), (3L, "C", 3L)).toDF("b", "j", "v")
    val g1 = graft.operators.Drift.friedman(clean, "b", "j", "v")
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(g1("A") == (("A", 3L, 4.0, 4.666667)))
    assert(g1("B") == (("B", 3L, 5.0, 4.666667)))
    assert(g1("C") == (("C", 3L, 9.0, 4.666667)))
    // block 3 ties A=B at 1 (avg rank 1.5): 2R=(7,11,18), num=62, den=22
    val tied = Seq(
      (1L, "A", 1L), (1L, "B", 2L), (1L, "C", 3L),
      (2L, "A", 1L), (2L, "B", 2L), (2L, "C", 3L),
      (3L, "A", 1L), (3L, "B", 1L), (3L, "C", 3L)).toDF("b", "j", "v")
    val g2 = graft.operators.Drift.friedman(tied, "b", "j", "v")
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(g2("A")._3 == 3.5 && g2("B")._3 == 5.5 && g2("C")._3 == 9.0)
    assert(g2("A")._4 == math.rint(2.0 * 62.0 / 22.0 * 1e6) / 1e6)
    // every block fully tied → zero denominator → NULL, not a 0/0
    val flat = Seq((1L, "A", 5L), (1L, "B", 5L),
      (2L, "A", 7L), (2L, "B", 7L)).toDF("b", "j", "v")
    val g3 = graft.operators.Drift.friedman(flat, "b", "j", "v").collect()
    assert(g3.forall(_.isNullAt(3)))
  }

  test("kruskalWallis: hand-computed H, tie correction") {
    // A=[1,2], B=[3,4]: ranks 1..4, R_A=3, R_B=7 → H = 2.4, no ties
    val clean = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L))
      .toDF("g", "v")
    val g1 = graft.operators.Drift.kruskalWallis(clean, "v", "g")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(g1("A") == (("A", 2L, 3.0, 2.4, 2.4)))
    assert(g1("B") == (("B", 2L, 7.0, 2.4, 2.4)))
    // A=[1,1], B=[1,2]: value 1 is a 3-way tie (avg rank 2), value 2 rank
    // 4 → R_A=4, R_B=6, H=0.6; Σ(t³−t)=24 → corr 0.6 → H/corr = 1.0
    val tied = Seq(("A", 1L), ("A", 1L), ("B", 1L), ("B", 2L))
      .toDF("g", "v")
    val g2 = graft.operators.Drift.kruskalWallis(tied, "v", "g")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(g2("A") == (("A", 2L, 4.0, 0.6, 1.0)))
    assert(g2("B") == (("B", 2L, 6.0, 0.6, 1.0)))
  }

  test("fkContainment: containment fractions, verdicts, null exclusion") {
    val parent = Seq(1, 2, 3, 4).toDF("pk")
    val full = Seq(Some(1), Some(2), Some(2), Some(3), None).toDF("ck")
    val partial = Seq(1, 5, 5).toDF("ck") // 5 ∉ parent
    val got = Profiling.fkContainment(Seq(
      ("full", full, "ck", parent, "pk"),
      ("partial", partial, "ck", parent, "pk")))
      .collect().map(r => r.getString(0) -> r).toMap
    val f = got("full") // null dropped, dup collapsed: domain {1,2,3}
    assert(f.getLong(1) == 3L && f.getLong(2) == 4L && f.getLong(3) == 3L)
    assert(f.getDouble(4) == 1.0 && f.getInt(5) == 1)
    val p = got("partial") // domain {1,5}: only 1 contained
    assert(p.getLong(1) == 2L && p.getLong(2) == 4L && p.getLong(3) == 1L)
    assert(p.getDouble(4) == 0.5 && p.getInt(5) == 0)
  }

  test("normalTailP2: A&S polynomial hits the textbook values") {
    import spark.implicits._
    val got = Seq(0.0, 1.959964, 2.575829).toDF("z")
      .select(col("z"),
        graft.operators.Drift.normalTailP2(col("z")).as("p"))
      .as[(Double, Double)].collect().toMap
    assert(math.abs(got(0.0) - 1.0) < 2e-7)
    assert(math.abs(got(1.959964) - 0.05) < 2e-7)
    assert(math.abs(got(2.575829) - 0.01) < 2e-7)
  }

  test("bhFdr: step-up rejects BELOW the max passing rank, even past a gap") {
    import spark.implicits._
    // m=3, alpha=0.1, crits 0.0333/0.0667/0.1: r2 fails its own crit but
    // r3 passes, so the STEP-UP rule rejects all three (the property a
    // naive per-rank filter gets wrong)
    val df = Seq(("a", 0.001), ("b", 0.07), ("c", 0.071)).toDF("k", "p")
    val got = graft.operators.Drift.bhFdr(df, "k", "p", 0.1)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(got == Map("a" -> true, "b" -> true, "c" -> true))
    // nothing passes -> nothing rejected (kmax null path)
    val none = graft.operators.Drift.bhFdr(
      Seq(("a", 0.5), ("b", 0.9)).toDF("k", "p"), "k", "p", 0.1)
      .collect().map(_.getBoolean(5))
    assert(none.forall(!_))
  }

  test("combinePvalues: Fisher's chi-square survival and Stouffer's Z " +
    "land hand values; an all-null family reads p = 1 exactly") {
    import spark.implicits._
    // group a: p = {0.05, 0.2} -> X = -2 ln(0.01), so e^{-X/2} = 0.01
    // and P(chi2_4 > X) = 0.01 * (1 + X/2); z = {2, 1} -> 3/sqrt(2)
    val df = Seq(("a", "t1", 0.05, 2.0), ("a", "t2", 0.2, 1.0),
      ("b", "t3", 1.0, 0.0)).toDF("g", "k", "p", "z")
    val got = graft.operators.Drift.combinePvalues(df, "g", "p", "z")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 2L, s"family size: $a")
    assert(math.abs(a.getDouble(2) - 3.0 / math.sqrt(2.0)) < 1e-5,
      s"stouffer 3/sqrt(2): $a")
    assert(math.abs(a.getDouble(3) - 9.210340) < 1e-5, s"X = -2ln(.01): $a")
    assert(math.abs(a.getDouble(4) -
      0.01 * (1.0 + 9.210340372 / 2.0)) < 1e-5,
      s"chi2_4 survival 0.0560517: $a")
    val b = got("b")
    assert(b.getDouble(2) == 0.0 && b.getDouble(3) == 0.0 &&
      b.getDouble(4) == 1.0,
      s"a p=1 singleton pools to exactly no evidence: $b")
  }

  test("ebBetaBinomial: hand MoM prior alpha=beta=1/4 shrinks small-n " +
    "rates, a zero-variance family refuses") {
    import spark.implicits._
    // rates .5, 0, .5, 1 -> m = 1/2, v = 1/6, K = 1/2, alpha = beta = 1/4
    val rows = Seq(("a", true), ("a", false), ("b", false), ("b", false),
      ("c", true), ("c", false), ("d", true), ("d", true))
    val got = graft.operators.Drift.ebBetaBinomial(
      rows.toDF("k", "hit"), "k", col("hit"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getDouble(4) == 0.25 && got("a").getDouble(5) == 0.25,
      s"prior: ${got("a")}")
    assert(got("a").getDouble(6) == 0.5, s"center stays put: ${got("a")}")
    assert(got("b").getDouble(6) == 0.1 && got("d").getDouble(6) == 0.9,
      s"extremes shrink inward: ${got("b")} ${got("d")}")
    // all keys identical -> v = 0 -> no prior to learn
    val flat = Seq(("x", true), ("x", false), ("y", true), ("y", false),
      ("z", true), ("z", false))
    val f = graft.operators.Drift.ebBetaBinomial(
      flat.toDF("k", "hit"), "k", col("hit"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(f("x").isNullAt(6) && f("x").getDouble(3) == 0.5,
      s"zero cross-key variance refuses the shrink: ${f("x")}")
  }

  test("andersonDarling: census-coefficient collapse equals the direct " +
    "rank loop on a tied sample; degenerate keys drop") {
    import spark.implicits._
    val vs = Seq(1L, 2L, 2L, 3L, 3L, 3L, 4L, 4L, 5L, 9L)
    val df = (vs.map(("g", _)) ++ Seq.fill(9)(("flat", 7L)) ++
      Seq(("s", 1L), ("s", 2L))).toDF("k", "v")
    val got = graft.operators.Drift.andersonDarling(df, "k", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("flat"), "zero variance drops")
    assert(!got.contains("s"), "keys under 8 rows drop")
    // independent reference: the direct (2i-1) rank loop over the
    // sorted raw sample with the same A&S polynomial
    def phi(z: Double): Double = {
      val az = math.abs(z)
      val t = 1.0 / (1.0 + 0.2316419 * az)
      val poly = ((((1.330274429 * t - 1.821255978) * t +
        1.781477937) * t - 0.356563782) * t + 0.319381530) * t
      val p2 = 2.0 * 0.3989422804014327 * math.exp(-az * az / 2.0) * poly
      if (z >= 0) 1.0 - p2 / 2.0 else p2 / 2.0
    }
    val n = vs.length
    val mu = vs.sum.toDouble / n
    val sd = math.sqrt(vs.map(v => (v - mu) * (v - mu)).sum / (n - 1.0))
    val z = vs.sorted.map(v => (v - mu) / sd)
    val s = (1 to n).map { i =>
      (2 * i - 1).toDouble *
        (math.log(phi(z(i - 1))) + math.log(1.0 - phi(z(n - i))))
    }.sum
    val ref = -n - s / n
    val g = got("g")
    assert(math.abs(g.getDouble(2) - ref) < 1e-4,
      s"census A2 ${g.getDouble(2)} vs rank-loop $ref")
    assert(g.getDouble(3) > g.getDouble(2),
      s"small-sample modification inflates: $g")
  }

  test("mannKendall: hand-counted S with ties, continuity-corrected Z") {
    import spark.implicits._
    // series 1,2,2,3 -> S = 5 (one tied pair), tsum = 18,
    // Var = (4*3*13 - 18)/18 = 138/18
    val df = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 2L), ("k", 4L, 3L),
      ("short", 1L, 9L), ("short", 2L, 1L)).toDF("g", "t", "v")
    val got = graft.operators.Trend.mannKendall(df, "g", "t", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    val varS = 138.0 / 18.0
    assert(got("k")._1 == 4L && got("k")._2 == 5L)
    assert(got("k")._3 == math.rint(varS * 1e6) / 1e6)
    assert(got("k")._4 == math.rint((5.0 - 1.0) / math.sqrt(varS) * 1e6) / 1e6)
    assert(!got.contains("short"), "n < 3 keys drop")
  }

  test("icc: hand two-group case, ratio and ICC exact") {
    import spark.implicits._
    // A=[1,2], B=[5,6]: SSB=16, SSW=1 -> MSB/MSW=32, n0=2,
    // ICC = 15.5/16.5
    val df = Seq(("A", 1L), ("A", 2L), ("B", 5L), ("B", 6L)).toDF("g", "v")
    val r = graft.operators.Drift.icc(df, "v", "g").head()
    assert((r.getLong(0), r.getLong(1)) == ((2L, 4L)))
    assert(r.getDouble(2) == 32.0 && r.getDouble(3) == 2.0)
    assert(r.getDouble(4) == math.rint(15.5 / 16.5 * 1e6) / 1e6)
  }

  test("entropyProfile: uniform column normalizes to 1, constant to NULL") {
    import spark.implicits._
    val df = Seq(("a", "k"), ("a", "k"), ("b", "k"), ("b", "k"))
      .toDF("u", "c")
    val got = graft.operators.Profiling.entropyProfile(df, Seq("u", "c"))
      .collect().map(r => r.getString(0) -> r).toMap
    val u = got("u")
    assert(u.getLong(1) == 4L && u.getLong(2) == 2L)
    assert(u.getDouble(3) == 0.693147 && u.getDouble(4) == 1.0)
    val c = got("c")
    assert(c.getDouble(3) == 0.0 && c.isNullAt(4))
  }

  test("bartlett: equal variances read T = 0 exactly; spread inflates T") {
    import spark.implicits._
    // two groups of [1,2,3]: S² = 1 each → Sp² = 1, ln = 0, Σ(n−1)lnS² = 0
    val eq = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 1L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val r = graft.operators.Drift.bartlett(eq, "g", "v").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0)
    assert(r.getLong(4) == 1L)
    // b's variance 100× a's: T must move well off zero
    val ne = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 10L), ("b", 20L), ("b", 30L)).toDF("g", "v")
    assert(graft.operators.Drift.bartlett(ne, "g", "v")
      .head().getDouble(3) > 3.0)
  }

  test("propEffects: hand 2x2 lands RD/RR/OR/h; degenerate cells NULL") {
    import spark.implicits._
    def df(convA: Int, convB: Int) =
      ((1 to 10).map(i => (true, if (i <= convA) 1L else 0L)) ++
        (1 to 10).map(i => (false, if (i <= convB) 1L else 0L)))
        .toDF("a", "conv")
    // a: 4/10, b: 2/10 → RD 0.2, RR 2, OR (4·8)/(6·2) = 8/3
    val r = graft.operators.Drift.propEffects(df(4, 2), col("a"),
      col("conv")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 10L, 4L, 2L)))
    assert(r.getDouble(6) == 0.2 && r.getDouble(7) == 2.0)
    assert(r.getDouble(10) == math.rint(8.0 / 3.0 * 1e6) / 1e6)
    val h = 2.0 * (math.asin(math.sqrt(0.4)) - math.asin(math.sqrt(0.2)))
    assert(r.getDouble(13) == math.rint(h * 1e6) / 1e6)
    // the CI orders hold and straddle sanely
    assert(r.getDouble(8) < 2.0 && 2.0 < r.getDouble(9))
    assert(r.getDouble(11) < 8.0 / 3.0 && 8.0 / 3.0 < r.getDouble(12))
    // zero conversions in b → no ratio/odds family, h still defined
    val z = graft.operators.Drift.propEffects(df(4, 0), col("a"),
      col("conv")).head()
    Seq(7, 8, 9, 10, 11, 12).foreach(i => assert(z.isNullAt(i)))
    assert(!z.isNullAt(13))
    // a fully converted → odds family NULL, risk ratio still defined
    val f = graft.operators.Drift.propEffects(df(10, 2), col("a"),
      col("conv")).head()
    assert(!f.isNullAt(7) && f.isNullAt(10))
  }

  test("categoricalDistances: hand mixes land TVD/Hellinger/BC exactly") {
    import spark.implicits._
    // A = {x:.5, y:.5}, B = {x:1}, C ≡ A
    val df = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("A", "y"),
      ("B", "x"), ("B", "x"), ("B", "x"), ("B", "x"),
      ("C", "x"), ("C", "x"), ("C", "y"), ("C", "y")).toDF("g", "c")
    val got = graft.operators.Drift.categoricalDistances(df, "g", "c")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.size == 3)
    val ab = got(("A", "B"))
    assert(ab.getLong(2) == 2L && ab.getDouble(3) == 0.5)
    val hell = math.sqrt((math.pow(math.sqrt(0.5) - 1.0, 2) + 0.5) / 2.0)
    assert(ab.getDouble(4) == math.rint(hell * 1e6) / 1e6)
    assert(ab.getDouble(5) == math.rint(math.sqrt(0.5) * 1e6) / 1e6)
    // BC sums the 1e-9-pinned terms: -ln runs on the pinned mass
    assert(ab.getDouble(6) ==
      math.rint(-math.log(0.707106781) * 1e6) / 1e6)
    // identical mixes: all distances 0, overlap mass 1
    val ac = got(("A", "C"))
    assert(ac.getDouble(3) == 0.0 && ac.getDouble(4) == 0.0)
    assert(ac.getDouble(5) == 1.0 && ac.getDouble(6) == 0.0)
  }

  test("chao1: singleton/doubleton balance extrapolates richness") {
    import spark.implicits._
    // abundances a:1 b:1 c:2 d:3 → S=4, n=7, f1=2, f2=1
    // chao1 = 4 + 2·1/(2·2) = 4.5; coverage = 1 − 2/7
    val df = (Seq("a", "b", "c", "c") ++ Seq.fill(3)("d"))
      .map(("g", _)).toDF("g", "sp")
    val r = graft.operators.Profiling.chao1(df, "g", "sp").head()
    assert(r.getLong(1) == 7L && r.getLong(2) == 4L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 1L)
    assert(r.getDouble(5) == 4.5)
    assert(r.getDouble(6) == math.rint(5.0 / 7.0 * 1e6) / 1e6)
    // no singletons → nothing unseen: chao1 = S_obs, coverage 1
    val sat = Seq("a", "a", "b", "b").map(("g", _)).toDF("g", "sp")
    val s = graft.operators.Profiling.chao1(sat, "g", "sp").head()
    assert(s.getDouble(5) == 2.0 && s.getDouble(6) == 1.0)
  }

  test("hillNumbers: uniform reads its richness at every q, skew drops") {
    import spark.implicits._
    val uni = Seq(("g", "u1"), ("g", "u2")).toDF("g", "u")
    val u = graft.operators.Profiling.hillNumbers(uni, "g", "u").head()
    assert(u.getLong(1) == 2L && u.getLong(2) == 2L)
    assert(u.getDouble(3) == 2.0 && u.getDouble(4) == 2.0 &&
      u.getDouble(5) == 1.0)
    // u1:3 u2:1 → hill2 = 16/10 = 1.6; hill1 from the pinned 3·ln3 term
    val skew = (Seq.fill(3)("u1") ++ Seq("u2")).map(("g", _)).toDF("g", "u")
    val s = graft.operators.Profiling.hillNumbers(skew, "g", "u").head()
    assert(s.getDouble(4) == 1.6)
    val h1 = math.exp(math.log(4.0) - 3.295836866 / 4.0)
    assert(s.getDouble(3) == math.rint(h1 * 1e6) / 1e6)
    assert(s.getDouble(3) < 2.0 && s.getDouble(4) < s.getDouble(3))
  }

  test("brierDecomposition: constant-per-bin forecasts make the " +
    "identity exact") {
    import spark.implicits._
    // 0.1→{0,0}, 0.9→{1,1}: Brier = 0.01; REL = 0.01, RES = 0.25,
    // UNC = 0.25 → REL − RES + UNC = 0.01 exactly (p̄_k is constant)
    val df = Seq((0.1, 0L), (0.1, 0L), (0.9, 1L), (0.9, 1L))
      .toDF("p0", "o")
      .select(col("p0").cast(org.apache.spark.sql.types
        .DataTypes.createDecimalType(12, 6)).as("p"), col("o"))
    val r = graft.operators.Drift.brierDecomposition(df, col("p"),
      col("o")).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.01 && r.getDouble(3) == 0.01)
    assert(r.getDouble(4) == 0.25 && r.getDouble(5) == 0.25)
    assert(r.getDouble(6) == 0.01)
    // a resolution-free forecaster: same score everywhere → RES 0,
    // REL = (p̄−ō)², brier_decomp still ties out
    val flat = Seq((0.5, 1L), (0.5, 0L), (0.5, 0L), (0.5, 0L))
      .toDF("p0", "o")
      .select(col("p0").cast(org.apache.spark.sql.types
        .DataTypes.createDecimalType(12, 6)).as("p"), col("o"))
    val f = graft.operators.Drift.brierDecomposition(flat, col("p"),
      col("o")).head()
    assert(f.getDouble(4) == 0.0)
    assert(f.getDouble(3) == 0.0625 && f.getDouble(5) == 0.1875)
    assert(f.getDouble(2) == 0.25 && f.getDouble(6) == 0.25)
  }

  test("fisherExact: hypergeometric tails land the textbook 2x2") {
    import spark.implicits._
    // a=1 b=9 / c=9 d=1: support k=0..10 of hypergeom(20,10,10).
    // p_less = 101/C(20,10), p_two = 202/C(20,10) (symmetric mirror).
    val df = ((1 to 10).map(i => (true, if (i <= 1) 1L else 0L)) ++
      (1 to 10).map(i => (false, if (i <= 9) 1L else 0L)))
      .toDF("isa", "cv")
    val r = graft.operators.Drift.fisherExact(df, col("isa"), col("cv"))
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 9L, 9L, 1L)))
    assert(r.getDouble(4) == math.rint(1.0 / 81.0 * 1e6) / 1e6)
    val c2010 = 184756.0
    assert(math.abs(r.getDouble(5) - 101.0 / c2010) < 1e-8, "p_less")
    assert(math.abs(r.getDouble(6) - (1.0 - 1.0 / c2010)) < 1e-8,
      "p_greater")
    assert(math.abs(r.getDouble(7) - 202.0 / c2010) < 1e-8, "p_two")
    // a perfectly balanced table is as likely as every mirror: p_two 1
    val bal = ((1 to 10).map(i => (true, if (i <= 5) 1L else 0L)) ++
      (1 to 10).map(i => (false, if (i <= 5) 1L else 0L)))
      .toDF("isa", "cv")
    assert(graft.operators.Drift.fisherExact(bal, col("isa"), col("cv"))
      .head().getDouble(7) == 1.0)
  }

  test("incidenceRates: exposure enters the rate, counts the CI") {
    import spark.implicits._
    // base 'v': 4 events / 2 hours (rate 2); 'g': 6/3 (rate 2 → IRR 1,
    // z 0); 'x': 8/2 (rate 4 → IRR 2, z = ln2/√(1/8+1/4))
    val rows = (1 to 4).map(i => ("v", (i % 2).toLong)) ++
      (1 to 6).map(i => ("g", (i % 3 + 10).toLong)) ++
      (1 to 8).map(i => ("x", (i % 2 + 20).toLong))
    val got = graft.operators.Drift.incidenceRates(
      rows.toDF("g", "hr"), "g", "hr", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("g", "x"), "baseline row is the reference")
    val g = got("g")
    assert(g.getLong(1) == 6L && g.getLong(2) == 3L)
    assert(g.getDouble(3) == 2.0 && g.getDouble(4) == 1.0 &&
      g.getDouble(7) == 0.0)
    val x = got("x")
    assert(x.getDouble(3) == 4.0 && x.getDouble(4) == 2.0)
    val lirr = math.rint(math.log(2.0) * 1e9) / 1e9
    val se = math.rint(math.sqrt(1.0 / 8 + 1.0 / 4) * 1e9) / 1e9
    assert(x.getDouble(7) == math.rint(lirr / se * 1e6) / 1e6)
    assert(x.getDouble(5) < 2.0 && 2.0 < x.getDouble(6),
      "the CI straddles the point estimate")
  }

  test("stuartMaxwell: hand 3x3 lands chi2 = 16/7; k != 3 NULLs") {
    import spark.implicits._
    // (a,b)×5 (b,a)×2 (a,a)×3 (c,c)×4 (b,c)×1: d=(3,−2),
    // V = [[7,−7],[−7,8]], det 7 → χ² = (72 − 84 + 28)/7
    val pairs = Seq.fill(5)(("a", "b")) ++ Seq.fill(2)(("b", "a")) ++
      Seq.fill(3)(("a", "a")) ++ Seq.fill(4)(("c", "c")) ++ Seq(("b", "c"))
    val r = graft.operators.Drift.stuartMaxwell(
      pairs.toDF("bf", "af"), col("bf"), col("af")).head()
    assert(r.getLong(0) == 15L && r.getLong(1) == 3L)
    assert(r.getString(2) == "a" && r.getString(3) == "b")
    assert(r.getLong(4) == 3L && r.getLong(5) == -2L)
    assert(r.getDouble(6) == math.rint(16.0 / 7.0 * 1e6) / 1e6)
    // two categories: the k=3 closed form refuses, not mis-answers
    val two = Seq(("a", "b"), ("b", "a"), ("a", "a")).toDF("bf", "af")
    assert(graft.operators.Drift.stuartMaxwell(two, col("bf"), col("af"))
      .head().isNullAt(6))
  }

  test("bowker: pair flows land chi2 = 9/7 + 1; all-diagonal reads 0") {
    import spark.implicits._
    // (a,b) 5 vs (b,a) 2 → 9/7; (b,c) 1 vs 0 → 1; (a,c) never flowed
    val pairs = Seq.fill(5)(("a", "b")) ++ Seq.fill(2)(("b", "a")) ++
      Seq.fill(3)(("a", "a")) ++ Seq.fill(4)(("c", "c")) ++ Seq(("b", "c"))
    val r = graft.operators.Drift.bowker(pairs.toDF("bf", "af"),
      col("bf"), col("af")).head()
    assert(r.getLong(0) == 15L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getDouble(3) ==
      math.rint((math.rint(9.0 / 7.0 * 1e9) / 1e9 + 1.0) * 1e6) / 1e6)
    val diag = Seq(("a", "a"), ("b", "b")).toDF("bf", "af")
    val d = graft.operators.Drift.bowker(diag, col("bf"), col("af")).head()
    assert(d.getLong(2) == 0L && d.getDouble(3) == 0.0)
  }

  test("weightedKappa: a 2-step miss on a 3-point scale charges whole") {
    import spark.implicits._
    // (0,0)×2 (2,2)×2 (0,2)×1: O = 1, E = 13/n → κ = 1 − 5/13
    val df = (Seq.fill(2)((0L, 0L)) ++ Seq.fill(2)((2L, 2L)) ++
      Seq((0L, 2L))).toDF("r1", "r2")
    val r = graft.operators.Drift.weightedKappa(df, col("r1"), col("r2"),
      k = 3).head()
    assert(r.getLong(0) == 5L && r.getDouble(2) == 0.8)
    assert(r.getDouble(3) == math.rint(8.0 / 13.0 * 1e6) / 1e6)
    assert(r.getDouble(4) == math.rint(8.0 / 13.0 * 1e6) / 1e6)
    // perfect agreement reads 1 under both weightings
    val perfect = Seq((0L, 0L), (1L, 1L)).toDF("r1", "r2")
    val p = graft.operators.Drift.weightedKappa(perfect, col("r1"),
      col("r2"), k = 3).head()
    assert(p.getDouble(3) == 1.0 && p.getDouble(4) == 1.0)
  }

  test("pChart: the spike day breaches its binomial limit, quiet days " +
    "don't; LCL clamps at 0") {
    import spark.implicits._
    def day(b: Long, n: Int, bad: Int) =
      (1 to n).map(i => (b, if (i <= bad) 1L else 0L))
    val df = (day(0L, 10, 1) ++ day(1L, 10, 1) ++ day(2L, 10, 9))
      .toDF("b", "x")
    val got = graft.operators.Drift.pChart(df, col("b"), col("x"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val pbar = 11.0 / 30.0
    assert(got(0L).getDouble(4) == math.rint(pbar * 1e6) / 1e6)
    assert(got(0L).getDouble(5) == 0.0, "negative LCL clamps to 0")
    assert(!got(0L).getBoolean(7) && !got(1L).getBoolean(7))
    assert(got(2L).getBoolean(7), "the 90% day must breach")
    val sig = math.sqrt(pbar * (1 - pbar) / 10.0)
    assert(got(2L).getDouble(6) == math.rint(
      math.min(1.0, pbar + 3 * sig) * 1e6) / 1e6)
  }

  test("anovaEffects: separated groups land eta2 = 6/7 and f = sqrt(6)") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 5L), ("b", 6L), ("b", 7L)).toDF("g", "v")
    val r = graft.operators.Drift.anovaEffects(df, "g", col("v")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == math.rint(6.0 / 7.0 * 1e6) / 1e6)
    assert(r.getDouble(3) == math.rint(23.0 / 29.0 * 1e6) / 1e6)
    assert(r.getDouble(4) == math.rint(23.0 / 28.0 * 1e6) / 1e6)
    assert(r.getDouble(5) == math.rint(math.sqrt(6.0) * 1e6) / 1e6)
  }

  test("hosmerLemeshow: hand bins land HL; saturated bins counted out") {
    import spark.implicits._
    def dec(x: Double) = col("p0").cast(org.apache.spark.sql.types
      .DataTypes.createDecimalType(12, 6)).as("p")
    // bins: 0.25 (perfect), 0.55 (term 0.04/0.99), 0.75 (term 4/0.75),
    // and a saturated 1.0 bin that must drop
    val rows = Seq.fill(3)((0.25, 0L)) ++ Seq((0.25, 1L)) ++
      (Seq.fill(2)((0.55, 1L)) ++ Seq.fill(2)((0.55, 0L))) ++
      (Seq((0.75, 1L)) ++ Seq.fill(3)((0.75, 0L))) ++
      Seq.fill(2)((1.0, 1L))
    val df = rows.toDF("p0", "o").select(dec(0), col("o"))
    val r = graft.operators.Drift.hosmerLemeshow(df, col("p"), col("o"))
      .head()
    assert(r.getLong(0) == 14L && r.getLong(1) == 3L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 1L)
    val expect = (math.rint(4.0 / 0.75 * 1e9) / 1e9) +
      (math.rint(0.04 / 0.99 * 1e9) / 1e9)
    assert(r.getDouble(4) == math.rint(expect * 1e6) / 1e6)
  }

  test("poissonGof: the pinned pmf ladder replays; a tiny grid ties out") {
    import spark.implicits._
    // users {1,2} × days {0,1}: counts 2,1,1 and one structural zero
    val df = Seq((1L, 0L), (1L, 0L), (1L, 1L), (2L, 0L)).toDF("u", "d")
    val r = graft.operators.Drift.poissonGof(df, col("u"), col("d"))
      .head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 1.0)
    // replay the operator's ladder: pinned pmf, expected, chi2
    def rnd(x: Double, s: Int) = java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue
    val pmf = new Array[Double](31)
    pmf(0) = rnd(math.exp(-1.0), 12)
    (1 to 30).foreach(k => pmf(k) = rnd(pmf(k - 1) / k, 12))
    val mass = pmf.foldLeft(java.math.BigDecimal.ZERO)((a, p) =>
      a.add(java.math.BigDecimal.valueOf(p).setScale(12,
        java.math.RoundingMode.HALF_UP)))
    val tail = math.max(0.0,
      java.math.BigDecimal.ONE.subtract(mass).doubleValue)
    val e = (0 to 30).map(k => rnd(4.0 * pmf(k), 12)) :+ rnd(4.0 * tail, 12)
    val obs = Map(0 -> 1L, 1 -> 2L, 2 -> 1L).withDefaultValue(0L)
    val chi2 = e.zipWithIndex.filter(_._1 > 0.0).foldLeft(
      java.math.BigDecimal.ZERO) { case (acc, (ek, k)) =>
      acc.add(java.math.BigDecimal.valueOf(
        rnd((obs(k) - ek) * (obs(k) - ek) / ek, 9)).setScale(9,
        java.math.RoundingMode.HALF_UP))
    }
    assert(r.getDouble(5) == rnd(chi2.doubleValue, 6))
  }

  test("tostEquivalence: a hair's difference proves equivalent inside " +
    "a wide margin, a real gap doesn't") {
    import spark.implicits._
    def arm(isa: Boolean, n: Int, c: Int) =
      (1 to n).map(i => (isa, if (i <= c) 1L else 0L))
    // .1 vs .101 inside ±.05 → both one-sided z's clear 1.645
    val close = (arm(true, 1000, 100) ++ arm(false, 1000, 101))
      .toDF("isa", "cv")
    val r = graft.operators.Drift.tostEquivalence(close, col("isa"),
      col("cv"), delta = 0.05).head()
    val se = math.sqrt(0.1 * 0.9 / 1000 + 0.101 * 0.899 / 1000)
    assert(r.getDouble(4) == math.rint(-0.001 * 1e6) / 1e6)
    assert(r.getDouble(6) ==
      math.rint((-0.001 + 0.05) / se * 1e6) / 1e6)
    assert(r.getBoolean(8), "0.1pp inside a 5pp margin is equivalence")
    // .1 vs .2: the 90% CI pokes far outside ±.05
    val far = (arm(true, 1000, 100) ++ arm(false, 1000, 200))
      .toDF("isa", "cv")
    assert(!graft.operators.Drift.tostEquivalence(far, col("isa"),
      col("cv"), delta = 0.05).head().getBoolean(8))
  }

  test("overlapCoefficient: half-shared bins read OVL = 0.5") {
    import spark.implicits._
    // A in bins {0,1}, B in bins {1,2}, each half-and-half
    val rows = Seq((0.05, true), (0.05, true), (0.15, true), (0.15, true),
      (0.15, false), (0.15, false), (0.25, false), (0.25, false))
    val df = rows.toDF("p0", "isa")
      .select(col("p0").cast(org.apache.spark.sql.types
        .DataTypes.createDecimalType(12, 6)).as("p"), col("isa"))
    val r = graft.operators.Drift.overlapCoefficient(df, col("p"),
      col("isa")).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getDouble(3) == 0.5)
  }

  test("kpiBridge: rate moves and mix moves land in their own columns " +
    "and sum to the KPI change") {
    import spark.implicits._
    def seg(s: String, base: Boolean, n: Int, e: Int) =
      (1 to n).map(i => (s, base, if (i <= e) 1L else 0L))
    // pure rate move: A worsens .1 → .3 at constant mix
    val rateMove = (seg("A", true, 100, 10) ++ seg("A", false, 100, 30) ++
      seg("B", true, 100, 10) ++ seg("B", false, 100, 10))
      .toDF("s", "isb", "e")
    val r = graft.operators.Drift.kpiBridge(rateMove, col("s"),
      col("isb"), col("e"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("A").getDouble(7) == 0.1 && r("A").getDouble(8) == 0.0)
    assert(r("B").getDouble(7) == 0.0 && r("B").getDouble(8) == 0.0)
    // pure mix move: traffic shifts toward the clean segment
    val mixMove = (seg("A", true, 100, 10) ++ seg("A", false, 150, 15) ++
      seg("B", true, 100, 30) ++ seg("B", false, 50, 15))
      .toDF("s", "isb", "e")
    val m = graft.operators.Drift.kpiBridge(mixMove, col("s"),
      col("isb"), col("e"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(m("A").getDouble(7) == 0.0 && m("A").getDouble(8) == 0.025)
    assert(m("B").getDouble(8) == -0.075)
    assert(m("A").getDouble(9) == 0.0 && m("B").getDouble(9) == 0.0)
  }

  test("markovEntropyRate: deterministic chains read 0, a fair branch " +
    "reads its share of ln 2") {
    import spark.implicits._
    // a,b,a,c,a,b,a,c,a: from 'a' the walk branches 50/50, from b/c
    // it is deterministic → H = (4/8)·ln2
    val seq1 = Seq("a", "b", "a", "c", "a", "b", "a", "c", "a")
    val rows = seq1.zipWithIndex.map { case (st, i) => (1L, i.toLong, st) }
    val r = graft.operators.Drift.markovEntropyRate(
      rows.toDF("u", "o", "st"), col("u"), col("o"), col("st")).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == math.rint(0.5 * math.log(2.0) * 1e6) / 1e6)
    assert(r.getDouble(3) ==
      math.rint(0.5 * math.log(2.0) / math.log(3.0) * 1e6) / 1e6)
    // a pure cycle carries zero new information per step
    val cyc = Seq("a", "b", "a", "b", "a").zipWithIndex
      .map { case (st, i) => (1L, i.toLong, st) }
    assert(graft.operators.Drift.markovEntropyRate(
      cyc.toDF("u", "o", "st"), col("u"), col("o"), col("st"))
      .head().getDouble(2) == 0.0)
    // a state seen ONLY as a source (the walk's first step) still
    // counts toward the alphabet k
    val src = Seq("z", "a", "b", "a", "b").zipWithIndex
      .map { case (st, i) => (1L, i.toLong, st) }
    assert(graft.operators.Drift.markovEntropyRate(
      src.toDF("u", "o", "st"), col("u"), col("o"), col("st"))
      .head().getLong(1) == 3L)
  }

  test("kendallW: unanimous leaderboards read 1, opposed rankings 0") {
    import spark.implicits._
    def rater(r: Long, scores: Seq[(String, Long)]) =
      scores.map { case (it, s) => (r, it, s) }
    val agree = (rater(1L, Seq("a" -> 1L, "b" -> 2L, "c" -> 3L)) ++
      rater(2L, Seq("a" -> 1L, "b" -> 2L, "c" -> 3L)) ++
      rater(3L, Seq("a" -> 1L, "b" -> 2L, "c" -> 3L)))
      .toDF("r", "it", "s")
    val w = graft.operators.Drift.kendallW(agree, col("r"), col("it"),
      col("s")).head()
    assert(w.getLong(0) == 3L && w.getLong(1) == 3L)
    assert(w.getDouble(2) == 1.0 && w.getDouble(3) == 6.0)
    val oppose = (rater(1L, Seq("a" -> 1L, "b" -> 2L)) ++
      rater(2L, Seq("a" -> 2L, "b" -> 1L))).toDF("r", "it", "s")
    assert(graft.operators.Drift.kendallW(oppose, col("r"), col("it"),
      col("s")).head().getDouble(2) == 0.0)
  }

  test("disproportionality: the loaded cell signals at PRR 3, its " +
    "mirror stays quiet") {
    import spark.implicits._
    def blk(s: String, o: String, n: Int) = (1 to n).map(_ => (s, o))
    val df = (blk("X", "o1", 30) ++ blk("X", "o2", 10) ++
      blk("Y", "o1", 10) ++ blk("Y", "o2", 30)).toDF("s", "o")
    val got = graft.operators.Drift.disproportionality(df, col("s"),
      col("o")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val x1 = got(("X", "o1"))
    assert(x1.getLong(2) == 30L && x1.getDouble(5) == 3.0)
    assert(x1.getDouble(6) == 9.0)
    assert(x1.getDouble(7) > 1.0 && x1.getBoolean(9))
    val x2 = got(("X", "o2"))
    assert(x2.getDouble(5) == math.rint(1.0 / 3.0 * 1e6) / 1e6)
    assert(!x2.getBoolean(9))
  }

  test("breslowDay: shared odds ratios read 0, opposed strata pay " +
    "their full deviation") {
    import spark.implicits._
    def cell(st: Long, ex: Boolean, oc: Boolean, n: Int) =
      (1 to n).map(_ => (st, ex, oc))
    // both strata OR = 1 at different sizes → homogeneous, BD = 0
    val homo = (cell(1, true, true, 10) ++ cell(1, true, false, 10) ++
      cell(1, false, true, 10) ++ cell(1, false, false, 10) ++
      cell(2, true, true, 20) ++ cell(2, true, false, 20) ++
      cell(2, false, true, 20) ++ cell(2, false, false, 20))
      .toDF("st", "ex", "oc")
    val h = graft.operators.Drift.breslowDay(homo, "st", col("ex"),
      col("oc")).head()
    assert(h.getLong(0) == 2L && h.getLong(1) == 2L)
    assert(h.getDouble(2) == 1.0 && h.getLong(3) == 1L)
    assert(h.getDouble(4) == 0.0)
    // OR 9 vs OR 1/9 pooling to 1: each stratum owes (10)²·0.2 = 20
    val het = (cell(1, true, true, 30) ++ cell(1, true, false, 10) ++
      cell(1, false, true, 10) ++ cell(1, false, false, 30) ++
      cell(2, true, true, 10) ++ cell(2, true, false, 30) ++
      cell(2, false, true, 30) ++ cell(2, false, false, 10))
      .toDF("st", "ex", "oc")
    val x = graft.operators.Drift.breslowDay(het, "st", col("ex"),
      col("oc")).head()
    assert(x.getDouble(2) == 1.0 && x.getDouble(4) == 40.0)
  }

  test("processCapability: a centered process reads Pp = Ppk = 1, " +
    "off-center pays in Ppk only") {
    import spark.implicits._
    val df = (Seq(90L, 100L, 110L).map(("c", _)) ++
      Seq(100L, 110L, 120L).map(("o", _))).toDF("g", "v")
    val got = graft.operators.Drift.processCapability(df, col("g"),
      col("v"), lsl = 70L, usl = 130L)
      .collect().map(r => r.getString(0) -> r).toMap
    val c = got("c")
    assert(c.getDouble(2) == 100.0 && c.getDouble(3) == 10.0)
    assert(c.getDouble(4) == 1.0 && c.getDouble(5) == 1.0)
    assert(c.getDouble(6) == 0.0)
    val o = got("o")
    assert(o.getDouble(4) == 1.0)
    assert(o.getDouble(5) == math.rint(2.0 / 3.0 * 1e6) / 1e6)
  }

  test("directStandardization: identical stratum rates standardize " +
    "equal despite opposite mixes") {
    import spark.implicits._
    // A: 10@s0 (rate .1) + 90@s1 (rate .5); B: 90@s0 (.1) + 10@s1 (.5)
    // crude .46 vs .14 — the Simpson gap; standardized both 0.3, SMR 1
    def block(g: String, s: Long, n: Int, ev: Int) =
      (1 to n).map(i => (g, s, if (i <= ev) 1L else 0L))
    val df = (block("A", 0L, 10, 1) ++ block("A", 1L, 90, 45) ++
      block("B", 0L, 90, 9) ++ block("B", 1L, 10, 5)).toDF("g", "s", "e")
    val got = graft.operators.Drift.directStandardization(df,
      col("g"), col("s"), col("e"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("A"); val b = got("B")
    assert(a.getDouble(3) == 0.46 && b.getDouble(3) == 0.14)
    assert(a.getDouble(4) == 0.3 && b.getDouble(4) == 0.3)
    assert(a.getDouble(5) == 1.0 && b.getDouble(5) == 1.0)
  }

  test("diffInDiff: the level gap and the common shock both cancel; " +
    "an empty cell NULLs the estimate") {
    import spark.implicits._
    def cell(tr: Boolean, po: Boolean, n: Int, ev: Int) =
      (1 to n).map(i => (tr, po, if (i <= ev) 1L else 0L))
    // treat jumps .25 -> .5 while control holds .25: did = .25
    val df = (cell(true, false, 4, 1) ++ cell(true, true, 4, 2) ++
      cell(false, false, 4, 1) ++ cell(false, true, 4, 1))
      .toDF("tr", "po", "y")
    val r = graft.operators.Drift.diffInDiff(df, col("tr"), col("po"),
      col("y")).head()
    assert(r.getLong(0) == 4L && r.getLong(3) == 4L)
    assert(r.getDouble(4) == 0.25 && r.getDouble(5) == 0.5)
    assert(r.getDouble(8) == 0.25)
    val se = math.sqrt(0.5 * 0.5 / 4.0 + 0.25 * 0.75 / 4.0 +
      0.25 * 0.75 / 4.0 + 0.25 * 0.75 / 4.0)
    assert(r.getDouble(9) == math.rint(se * 1e6) / 1e6)
    assert(r.getDouble(10) == math.rint(0.25 / se * 1e6) / 1e6)
    val empty = graft.operators.Drift.diffInDiff(
      (cell(true, true, 4, 2) ++ cell(false, true, 4, 1) ++
        cell(false, false, 4, 1)).toDF("tr", "po", "y"),
      col("tr"), col("po"), col("y")).head()
    assert(empty.isNullAt(8) && empty.isNullAt(10))
  }

  test("ivWald: the Wald ratio recovers the complier effect the naive " +
    "diff confounds; a weak first stage NULLs") {
    import spark.implicits._
    // 8 encouraged (z): 4 comply (x=1) and those 4 convert; 8 controls:
    // none treated, none convert. ITT = 0.5, FS = 0.5 -> wald = 1.0
    val rows = (1 to 16).map { i =>
      val z = i <= 8
      val x = if (z && i <= 4) 1L else 0L
      (z, x, x) // y == x: only the treated convert
    }
    val r = graft.operators.Drift.ivWald(rows.toDF("z", "x", "y"),
      col("z"), col("x"), col("y")).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 8L)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 0.5)
    assert(r.getDouble(4) == 1.0)
    assert(r.getDouble(5) == 1.0) // here naive happens to agree
    // no exposure difference: wald refuses
    val weak = (1 to 16).map(i => (i <= 8, 0L, if (i % 4 == 0) 1L else 0L))
    val w = graft.operators.Drift.ivWald(weak.toDF("z", "x", "y"),
      col("z"), col("x"), col("y")).head()
    assert(w.isNullAt(4), s"zero first stage must NULL the ratio: $w")
  }

  test("regressionDiscontinuity: a planted jump at the cutoff is " +
    "recovered with its slopes") {
    import spark.implicits._
    // below: y = 0 everywhere; above: y = 1 everywhere (slope 0 both
    // sides, gap exactly 1... with noise so variances exist)
    val below = (-10 to -1).map(v => (v.toLong, if (v == -5) 1L else 0L))
    val above = (0 to 9).map(v => (v.toLong, if (v == 5) 0L else 1L))
    val r = graft.operators.Drift.regressionDiscontinuity(
      (below ++ above).toDF("run", "y"), col("run"), col("y"),
      cutoff = 0L, bandwidth = 10L).head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 10L)
    assert(r.getDouble(6) > 0.7 && r.getDouble(6) < 1.1,
      s"the jump is ~0.8-1: $r")
    assert(r.getDouble(8) > 2.0, s"and clearly nonzero: $r")
  }

  test("mediation: a pure chain x -> m -> y reads full mediation") {
    import spark.implicits._
    // m = 2x + tiny alternation, y = 3m + tiny alternation: indirect
    // carries (almost) everything, direct ~ 0
    val rows = (0 until 40).map { i =>
      val x = (i % 2).toLong
      val m = 2L * x + (if (i % 4 < 2) 0L else 1L)
      val y = 3L * m + (if (i % 8 < 4) 0L else 1L)
      (x, m, y)
    }
    val r = graft.operators.Drift.mediation(rows.toDF("x", "m", "y"),
      col("x"), col("m"), col("y")).head()
    assert(r.getLong(0) == 40L)
    assert(math.abs(r.getDouble(1) - 2.0) < 0.2) // a
    assert(math.abs(r.getDouble(2) - 3.0) < 0.2) // b
    assert(r.getDouble(6) > 0.9,
      s"nearly all of the effect travels through m: $r")
    assert(r.getDouble(7) > 3.0, s"Sobel confirms: $r")
  }
}
