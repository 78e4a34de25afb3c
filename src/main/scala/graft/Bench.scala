package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark: SparkSession = GraftSession.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // consume through queryExecution.toRdd: every output column is actually
    // computed. A count() action would let Catalyst prune all projections
    // and eliminate sorts, timing a bare scan for map-only queries.
    def consume(name: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd
          .foreach(_ => ())
        true
      } catch { case e: Throwable => Failure.report("bench", name, e); false }

    // dev aid: SPARK_GRAFT_ONLY=q23,q35 restricts the run to matching keys
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // streaming drains run LAST: their state-store residue (see
    // SparkEntry.streamingQueries) must never precede a batch timing
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
      .sortBy(SparkEntry.streamingQueries.contains)
    // The r10 lesson: at 600+ queries, 3 full board passes (global
    // warm-up + 2 measured) outgrew the driver's wall-clock budget —
    // a bench that times out records nothing. Budget-adaptive scheme:
    // a short warm-up over the headline batch subset primes shared
    // infra (parquet reader, shuffle, codegen pipeline), then every
    // query runs once and only SUB-SECOND queries take a second pass
    // (min-of-2 absorbs first-run codegen compile where it is the
    // dominant share of the timing; for multi-second queries the
    // compile share is noise and a re-run would double the board's
    // wall-clock for nothing).
    // METHODOLOGY NOTE (r11 ADVICE): boards from r10 and earlier were
    // min-of-2 over a fully-warmed 3-pass run; since r11, multi-second
    // queries get one measured pass whose sample includes first-run
    // codegen. Cross-round comparisons of multi-second queries carry
    // that skew — set SPARK_GRAFT_RERUN_BELOW high to reproduce the old
    // scheme for an apples-to-apples run.
    val warm = Seq("q07_agg_full", "q08_filter_pushdown",
      "q09_join_broadcast", "q10_join_multiway", "q11_window",
      "q14_events_hourly", "q18_quantiles", "q21_dedup_exact",
      "q31_token_count", "q42_explode_words", "q85_tfidf")
      .filter(SparkEntry.queries.contains)
    warm.foreach(consume)
    def once(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = consume(name)
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val rerunBelow =
      sys.env.getOrElse("SPARK_GRAFT_RERUN_BELOW", "1.0").toDouble
    val results = names.map { name =>
      val (t1, ok1) = once(name)
      if (ok1 && t1 < rerunBelow) {
        val (t2, ok2) = once(name)
        (name, math.min(t1, t2), ok1 && ok2)
      } else (name, t1, ok1)
    }
    val out = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum

    // sf1 section: time a batch headline subset on a 10×-replica of
    // sf0.1 — the above-sf0.1 exercise of the 2× gate. The replica is
    // staged by ScaleUp.replica when missing or partial (the r9 verdict's
    // evidence gap: a silently-skipped stage left the sf1 ratios
    // uncommitted), so the committed bench artifact always carries an
    // "sf1" key — either numbers or an explicit skip marker.
    // SPARK_GRAFT_SF1=0 disables (dev runs); a dev SPARK_GRAFT_ONLY run
    // skips unless SPARK_GRAFT_SF1=1 forces. One warm-up + one measured
    // pass (wall-time bound). Errors degrade to a marker, never break
    // the main JSON line.
    val sf1Json: String = {
      val srcDir = "/root/testdata/sf0.1"
      val disabled = sys.env.get("SPARK_GRAFT_SF1").contains("0")
      val forced = sys.env.get("SPARK_GRAFT_SF1").contains("1")
      if (disabled || (only.nonEmpty && !forced))
        s""","sf1":{"skipped":"${if (disabled) "SPARK_GRAFT_SF1=0" else "dev SPARK_GRAFT_ONLY run"}"}"""
      else try {
        val sf1Dir = ScaleUp.replica(spark, srcDir, 10)
        // headline: the 18 batch queries + the TxLake-mutation trio and
        // two streaming stores — the families whose scale behavior the
        // batch subset alone can't witness (streaming last: state-store
        // residue must never precede a batch timing)
        val headline = Seq(
          "q07_agg_full", "q08_filter_pushdown", "q09_join_broadcast",
          "q10_join_multiway", "q11_window", "q13_distinct_topk",
          "q14_events_hourly", "q15_sessionize", "q18_quantiles",
          "q19_skew_salted_agg", "q21_dedup_exact", "q22_dedup_minhash",
          "q31_token_count", "q42_explode_words", "q85_tfidf",
          "q100_pagerank", "q138_seq_packing", "q156_vocab_build",
          "q78_merge_upsert", "q97_incremental_agg", "q98_time_travel",
          "q200_stream_bitmap", "q486_stream_benford")
        def consume1(name: String): Boolean =
          try {
            SparkEntry.queries(name)(spark, sf1Dir).queryExecution.toRdd
              .foreach(_ => ())
            true
          } catch { case e: Throwable => Failure.report("bench", name, e); false }
        headline.foreach(consume1)
        val r1 = headline.map { name =>
          val t0 = System.nanoTime()
          val ok = consume1(name)
          (name, (System.nanoTime() - t0) / 1e9, ok)
        }
        val q1 = r1.map { case (k, v, _) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val f1 = r1.collect { case (k, _, false) => s"\"" + k + "\"" }
          .mkString("[", ",", "]")
        s""","sf1":{"value":${r1.map(_._2).sum},"queries":$q1,"failed":$f1,"dir":"$sf1Dir"}"""
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replace("\\", "/").replace("\"", "'")
            .replace("\n", " ").replace("\r", " ").take(200)
          s""","sf1":{"skipped":"$msg"}"""
      }
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$out,"failed":$failed,"sf":"$sfDir"$sf1Json}"""
    println(line)
    // Persist the full line: every driver BENCH artifact truncates the
    // stdout tail (parsed: null), so the per-query record must survive on
    // disk for the round to commit (r10/r11 verdict item).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/target/bench_last.json"), line)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
