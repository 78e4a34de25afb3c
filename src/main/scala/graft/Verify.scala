package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (dev use)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // one session factory for library users, verify and bench — hand-rolled
    // builders here had already drifted (missing nanosAsLong/extensions)
    val spark: SparkSession = GraftSession.local("graft-verify", cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Hang watchdog (r10/r11 verdict): one stuck query must degrade to
    // ONE failed row, not an empty artifact. Each query still runs
    // SERIALLY (temp views and streaming settle are session-scoped — see
    // the r11 parallelization revert), but on a watchdog thread whose
    // job group the main thread can cancel after the timeout.
    val timeoutMs = sys.env
      .getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "900").toLong * 1000L
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val worker = new Thread(() => {
        spark.sparkContext
          .setJobGroup(s"verify-$name", name, interruptOnCancel = true)
        try {
          // which branch each driver finisher took (ROADMAP aim 4)
          val (_, taken) = graft.operators.DriverFinisher.observe(None) {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          }
          if (taken.nonEmpty) System.err.println(s"[verify] $name finishers: " +
            taken.map { case (op, b) => s"$op=$b" }.mkString(","))
        } catch { case e: Throwable => Failure.report("verify", name, e) }
        finally spark.sparkContext.clearJobGroup()
      }, s"verify-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutMs)
      if (worker.isAlive) {
        System.err.println(
          s"[verify] $name failed: timed out after ${timeoutMs / 1000}s")
        spark.sparkContext.cancelJobGroup(s"verify-$name")
        // a timed-out streaming query must not leave active streams —
        // StreamVerify.settle asserts none session-wide
        spark.streams.active.foreach(sq =>
          try sq.stop() catch { case _: Throwable => () })
        worker.join(30000L)
        if (worker.isAlive) worker.interrupt()
        // remove any partial dump so the driver records a missing row,
        // not a half-written parquet dir that reads as garbage
        try {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(new java.io.File(s"$outDir/$name"))
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
