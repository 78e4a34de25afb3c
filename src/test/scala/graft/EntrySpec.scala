package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.queries.{Oracle, Query}

class EntrySpec extends SparkSuite {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every §2 query has an implementation and returns rows at sf0.001") {
    // onQueryStarted reaches session listeners synchronously inside
    // start(), so the count read after each builder is exact
    val started = new AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val failures = try SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        started.set(0)
        val rows =
          try {
            if (fn(spark, sf).count() > 0) None else Some(s"$name: 0 rows")
          } catch {
            case e: Throwable => Some(s"$name: ${e.getMessage}")
          }
        val flagged = SparkEntry.streamingQueries.contains(name)
        val flag =
          if ((started.get > 0) == flagged) None
          else Some(s"$name: started ${started.get} streams but streaming = $flagged")
        rows ++ flag
    } finally spark.streams.removeListener(listener)
    assert(failures.isEmpty, failures.mkString("; "))
  }

  private val unused: (SparkSession, String) => DataFrame =
    (_, _) => throw new UnsupportedOperationException

  test("the registry rejects a query declared twice") {
    val q = Query("q1_twice", unused, Oracle.RowsOnly, streaming = false)
    val e = intercept[IllegalArgumentException](
      Query.checked(Seq(q, q.copy(oracle = Oracle.Sql("SELECT 1")))))
    assert(e.getMessage.contains("q1_twice"))
  }

  test("the registry rejects an oracle alias without a SQL target") {
    val target = Query("q2_target", unused, Oracle.RowsOnly, streaming = false)
    val alias = Query("q3_alias", unused, Oracle.SameAs("q2_target"), streaming = true)
    for (qs <- Seq(Seq(alias), Seq(target, alias))) {
      val e = intercept[IllegalArgumentException](Query.checked(qs))
      assert(e.getMessage.contains("q3_alias -> q2_target"))
    }
    val ok = target.copy(oracle = Oracle.Sql("SELECT 1"))
    assert(Query.oracleSql(Query.checked(Seq(ok, alias))) ==
      Map("q2_target" -> "SELECT 1", "q3_alias" -> "SELECT 1"))
  }

  test("exactly the three approximate-sketch queries have no oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q37_approx_distinct", "q112_approx_quantile", "q119_hll_rollup"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("resolve takes an exact name or an exact qNNN id, nothing else") {
    assert(SparkEntry.resolve("q530_stream_repeated_spans") == "q530_stream_repeated_spans")
    assert(SparkEntry.resolve("q53") == "q53_stream_hourly")
    assert(SparkEntry.resolve("q530") == "q530_stream_repeated_spans")
    for (bad <- Seq("q5", "q53_stream", "nope"))
      intercept[NoSuchElementException](SparkEntry.resolve(bad))
  }

  test("approx distinct tracks exact within HLL++ error bounds") {
    val rows = SparkEntry.queries("q37_approx_distinct")(spark, sf).collect()
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact < 0.15, s"approx $approx vs exact $exact")
    }
  }
}
