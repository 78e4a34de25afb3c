package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

class ProfileSpec extends SparkSuite {

  private def seq(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]
  private def field(v: Any, k: String): Any = v.asInstanceOf[Map[String, Any]](k)

  test("one record per query: samples, jobs, plan, stream batches, " +
    "finisher branches, written as JSON lines") {
    val recs = Profile.run(spark, sf, Seq("q07", "q53", "q320"), Seq(1))
    assert(recs.map(_("query")) ==
      Seq("q07_agg_full", "q53_stream_hourly", "q320_theil_sen"))
    assert(recs.forall(_("error") == null), recs.map(_("error")))
    val Seq(q07, q53, q320) = recs
    assert(seq(q07("wall_s")).size == Profile.Runs)
    assert(seq(q07("SparkEntry.build_s")).size == Profile.Runs)
    assert(seq(q07("jobs")).nonEmpty)
    assert(seq(q07("jobs")).forall(j => field(j, "site").toString.contains(" at ")))
    assert(q07("plan").asInstanceOf[String].contains("HashAggregate"))
    assert(seq(q53("streaming.batches")).exists(b =>
      field(b, "durationMs").asInstanceOf[Map[String, Long]].contains("addBatch")))
    assert(seq(q320("finishers")).exists(f => field(f, "op") == "theilSenPerKey"))

    val lines = Profile.jsonl(recs).split("\n").toSeq
      .map(new ObjectMapper().readTree(_))
    assert(lines.map(_.get("query").asText) == recs.map(_("query")))
    assert(lines.head.get("wall_s").elements.asScala.size == Profile.Runs)
  }

  test("two factors give a slope record whose range holds the exponent; " +
    "a drain on the 2x replica streams twice the rows") {
    val recs = Profile.run(spark, sf, Seq("q53"), Seq(1, 2))
    assert(recs.map(_.get("factor")) == Seq(Some(1), Some(2), None))
    def streamed(r: Map[String, Any]) = seq(r("streaming.batches"))
      .map(b => field(b, "rows").asInstanceOf[Long]).sum
    val Seq(x1, x2, s) = recs
    assert(streamed(x1) > 0 && streamed(x2) == 2 * streamed(x1))
    assert(s("factors") == Seq(1, 2))
    val slope = s("slope").asInstanceOf[Double]
    val Seq(lo, hi) = seq(s("slope_range")).map(_.asInstanceOf[Double])
    assert(!slope.isNaN && lo <= slope && slope <= hi, s)
  }

  test("a directory without tables gives every query a record with its " +
    "root cause, and the run goes on") {
    val empty = Files.createTempDirectory("graft_profile_empty").toString
    val recs = Profile.run(spark, empty, Seq("q07", "q53", "q320"), Seq(1))
    assert(recs.size == 3)
    recs.foreach { r =>
      val error = r("error").asInstanceOf[String]
      assert(error != null && error.contains("(cause "), r("query"))
      assert(seq(r("wall_s")).isEmpty)
    }
    assert(spark.streams.active.isEmpty)
  }
}
