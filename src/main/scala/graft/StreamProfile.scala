package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Optimization-round helper: per-micro-batch duration breakdown for the
  * streaming drains. Attaches a StreamingQueryListener that prints each
  * progress event's durationMs map (triggerExecution, queryPlanning,
  * walCommit, commitOffsets, addBatch, getBatch, latestOffset), then runs
  * the named queries once.
  *
  * Usage: runMain graft.StreamProfile <sfDir> q312,q200,...
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-streamprofile", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"  [stream ${e.name}] started")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        println(s"  [batch ${p.batchId}] rows=${p.numInputRows} " +
          s"trigger=${d.get("triggerExecution")}ms " +
          s"plan=${d.get("queryPlanning")} wal=${d.get("walCommit")} " +
          s"offsets=${d.get("commitOffsets")} add=${d.get("addBatch")} " +
          s"get=${d.get("getBatch")} latest=${d.get("latestOffset")}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    names.foreach { name =>
      val full = SparkEntry.resolve(name)
      val t0 = System.nanoTime()
      SparkEntry.queries(full)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      println(f"== $full: ${(System.nanoTime() - t0) / 1e9}%.2f s total")
      Thread.sleep(500)
    }
    spark.stop()
  }
}
