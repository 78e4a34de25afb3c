package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions.col

import graft.sources.Tables

class ScaleUpSpec extends SparkSuite {

  test("a 2x replica doubles every shifted table, keeps the dimensions and " +
    "the foreign keys, a second call rewrites nothing, stream drains leave " +
    "it as it is and a same-named source is refused") {
    val root = Files.createTempDirectory("graft_scaleup").toString
    val dir = ScaleUp.replica(spark, sf, 2, root)
    assert(dir == s"$root/sf0.001_x2")
    def load(d: String, t: String) = Tables.load(spark, d, t)
    Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { t =>
      assert(load(dir, t).count() == 2 * load(sf, t).count(), t)
    }
    Seq("region", "nation").foreach { t =>
      val (got, src) = (load(dir, t), load(sf, t))
      assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty, t)
    }
    val orders = load(dir, "orders")
    assert(orders.join(load(dir, "customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").isEmpty)
    assert(load(dir, "lineitem").join(orders,
      col("l_orderkey") === col("o_orderkey"), "left_anti").isEmpty)

    val pinned = FileTime.fromMillis(1000000L)
    val marks = Tables.all.map(t => Paths.get(s"$dir/$t.parquet/_SUCCESS"))
    marks.foreach(Files.setLastModifiedTime(_, pinned))
    assert(ScaleUp.replica(spark, sf, 2, root) == dir)
    assert(marks.forall(Files.getLastModifiedTime(_) == pinned))

    // a stream drain on the replica stages its extra files (q92's
    // sentinels) in scratch, never in the replica's own table
    val events = load(sf, "events").count()
    assert(SparkEntry.queries("q92_stream_outer_join")(spark, dir).count() > 0)
    assert(load(dir, "events").count() == 2 * events)

    // another directory of the same name is not handed this replica
    val twin = Files.createDirectories(
      Files.createTempDirectory("graft_scaleup_twin").resolve("sf0.001"))
    val refused = intercept[IllegalArgumentException](
      ScaleUp.replica(spark, twin.toString, 2, root))
    assert(refused.getMessage.contains("not of " + twin))
  }
}
