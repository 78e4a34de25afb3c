package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single session for all suites (one JVM under Test/fork). */
object SparkSuite {
  lazy val session: SparkSession = GraftSession.builder("graft-test", 4)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.session
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** `body` with every driver-finisher decision forced to `branch`. */
  def forced[T](branch: graft.operators.DriverFinisher.Branch)(body: => T): T =
    graft.operators.DriverFinisher.observe(Some(branch))(body)._1

  /** `body` with every driver finisher forced to its distributed loop. */
  def distributed[T](body: => T): T =
    forced(graft.operators.DriverFinisher.Distributed)(body)
}
