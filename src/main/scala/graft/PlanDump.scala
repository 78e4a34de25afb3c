package graft

import java.nio.file.{Files, Paths}

/** Optimization-round helper: dump `.explain("formatted")` and time a
  * query set in isolation.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q07,q100,...
  *
  * For each named query this writes `<outDir>/<name>_<suffix>.txt` with the
  * formatted physical plan and prints a timing line measured through the
  * noop sink (guide §1.4: computes every column of every row, discards the
  * result, never pays a collect or a real write). Timing methodology is
  * intentionally the same spirit as graft.Bench (fresh plan per run, shared
  * session), so numbers are comparable to board entries; the bench itself
  * stays the contract artifact.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-plandump", cpus)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val passes = sys.env.getOrElse("SPARK_GRAFT_PLAN_PASSES", "2").toInt
    names.foreach { name =>
      val full = SparkEntry.resolve(name)
      spark.sparkContext.setJobDescription(full)
      try {
        val df = SparkEntry.queries(full)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${full}_$suffix.txt"), plan)
        val ts = (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(full)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[plandump] $full%-40s ${ts.map(t => f"$t%.2f").mkString(" ")} s")
      } catch {
        case e: Throwable => Failure.report("plandump", full, e)
      } finally spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
