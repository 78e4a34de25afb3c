package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.DriverFinisher

/** Per-query profile of registry queries: one JSONL record per (query,
  * scale factor) with
  * - `wall_s`, `SparkEntry.build_s` (the builder call), `operators.jobs`
  *   and `operators.driver_gap_s` (wall time outside every Spark job),
  *   one sample per measured run;
  * - `jobs`: each job's id, seconds and call site (for a job adaptive
  *   execution submits, its result stage's operators, e.g. `Exchange,
  *   WholeStageCodegen (2) at CompletableFuture.java:1768`);
  * - `streaming.batches`: each micro-batch's `durationMs` phases;
  * - `finishers`: the branch each driver finisher took;
  * - `plan`: the final formatted physical plan;
  * - `error`: the failure and its root cause, when the query threw.
  * The lists after the first four describe the last measured run.
  *
  * Each (query, factor) runs once to warm up, then [[Runs]] times
  * measured, consumed as graft.Bench consumes a query. A factor above 1
  * runs on `ScaleUp.replica` of `sfDir`. With two or more factors each
  * query also gets a record with its `slope`: the exponent of its median
  * time between the smallest and the largest factor, and the exponent's
  * range from the fastest and slowest samples.
  *
  * Usage: runMain graft.Profile <sfDir> <out.jsonl> <q,…> [factors=1]
  */
object Profile {

  /** Measured runs per (query, factor). */
  val Runs = 3

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local("graft-profile", cpus)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val factors = args.lift(3).fold(Seq(1))(_.split(",").toSeq.map(_.trim.toInt))
      val records = run(spark, args(0), args(2).split(",").toSeq, factors)
      Files.writeString(Paths.get(args(1)), jsonl(records))
    } finally spark.stop()
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** The records as JSON lines. */
  def jsonl(records: Seq[ListMap[String, Any]]): String =
    records.map(json.writeValueAsString).mkString("", "\n", "\n")

  /** The records of `names` (ids or full names) at each factor, in order;
    * a query that throws still gets its record, and the run goes on. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      factors: Seq[Int]): Seq[ListMap[String, Any]] = {
    require(factors.nonEmpty && factors.forall(_ >= 1) && factors.distinct == factors,
      s"factors must be distinct and at least 1: ${factors.mkString(",")}")
    val queries = names.map(SparkEntry.resolve)
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.streams.addListener(rec.streams)
    try queries.flatMap { name =>
      val profiled = factors.map(f => f -> profile(spark, rec, name, sfDir, f))
      profiled.map(_._2.record) ++ slope(name, profiled)
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      spark.streams.removeListener(rec.streams)
    }
  }

  private final case class Job(id: Int, start: Long, end: Long, site: String)

  private final case class Sample(wall: Double, build: Double, gap: Double,
      jobs: Seq[Job], batches: Seq[ListMap[String, Any]],
      finishers: Seq[(String, DriverFinisher.Branch)], df: DataFrame)

  private final case class Profiled(query: String, factor: Int,
      samples: Seq[Sample], error: Option[String]) {
    def record: ListMap[String, Any] = {
      val last = samples.lastOption
      ListMap(
        "query" -> query,
        "factor" -> factor,
        "wall_s" -> samples.map(_.wall),
        "SparkEntry.build_s" -> samples.map(_.build),
        "operators.jobs" -> samples.map(_.jobs.size),
        "operators.driver_gap_s" -> samples.map(_.gap),
        "jobs" -> last.fold(Seq.empty[Any])(_.jobs.map(j => ListMap(
          "id" -> j.id, "s" -> (j.end - j.start) / 1e3, "site" -> j.site))),
        "streaming.batches" -> last.fold(Seq.empty[Any])(_.batches),
        "finishers" -> last.fold(Seq.empty[Any])(_.finishers.map {
          case (op, b) => ListMap("op" -> op, "branch" -> b.toString)
        }),
        "plan" -> last.map(_.df.queryExecution.explainString(FormattedMode)).orNull,
        "error" -> error.orNull)
    }
  }

  private def profile(spark: SparkSession, rec: Recorder, query: String,
      sfDir: String, factor: Int): Profiled = {
    val samples = ArrayBuffer.empty[Sample]
    val error =
      try {
        val dir = if (factor == 1) sfDir else ScaleUp.replica(spark, sfDir, factor)
        measure(spark, rec, query, dir)
        for (_ <- 1 to Runs) samples += measure(spark, rec, query, dir)
        None
      } catch { case e: Throwable => Some(Failure.describe(e)) }
    Profiled(query, factor, samples.toSeq, error)
  }

  private def measure(spark: SparkSession, rec: Recorder, query: String,
      dir: String): Sample = {
    rec.take()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ((df, build), finishers) = DriverFinisher.observe(None) {
      val df = SparkEntry.queries(query)(spark, dir)
      val build = (System.nanoTime() - t0) / 1e9
      df.queryExecution.toRdd.foreach(_ => ())
      (df, build)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val end = System.currentTimeMillis()
    val (jobs, batches) = rec.take()
    // wall time not covered by the union of the run's job intervals
    var covered = 0L
    var reach = start
    jobs.sortBy(_.start).foreach { j =>
      val (s, e) = (math.max(j.start, reach), math.min(j.end, end))
      if (e > s) { covered += e - s; reach = e }
    }
    Sample(wall, build, math.max(0.0, wall - covered / 1e3), jobs, batches,
      finishers, df)
  }

  private def slope(query: String,
      profiled: Seq[(Int, Profiled)]): Option[ListMap[String, Any]] = {
    val (f1, p1) = profiled.minBy(_._1)
    val (f2, p2) = profiled.maxBy(_._1)
    if (f1 == f2 || p1.error.isDefined || p2.error.isDefined) None
    else {
      val (t1, t2) = (p1.samples.map(_.wall), p2.samples.map(_.wall))
      def exponent(a: Double, b: Double) = math.log(b / a) / math.log(f2.toDouble / f1)
      def median(ts: Seq[Double]) = ts.sorted.apply(ts.size / 2)
      Some(ListMap(
        "query" -> query,
        "factors" -> Seq(f1, f2),
        "slope" -> exponent(median(t1), median(t2)),
        "slope_range" -> Seq(exponent(t1.max, t2.min), exponent(t1.min, t2.max))))
    }
  }

  /** The jobs and micro-batches the listener bus delivered since the last
    * `take`; `take` first waits until every posted event is delivered. */
  private final class Recorder(spark: SparkSession) extends SparkListener {
    private val started = mutable.Map.empty[Int, (Long, String)]
    private val jobs = ArrayBuffer.empty[Job]
    private val batches = ArrayBuffer.empty[ListMap[String, Any]]

    // a job's call site is the name of its result stage, the stage it
    // created last
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started(e.jobId) = (e.time, e.stageInfos.maxByOption(_.stageId).fold("")(site))
    }

    /** A stage's call site; a stage that adaptive execution submits from
      * its own thread pool names only that pool's frame there, so it is
      * named by its operators, the scopes of its RDDs, instead. */
    private def site(stage: StageInfo): String =
      if (!stage.name.contains("withThreadLocalCaptured")) stage.name
      else {
        val ops = stage.rddInfos.sortBy(_.id).flatMap(GraftListenerBridge.scope).map(_.trim).distinct
        val at = stage.name.lastIndexOf(" at ")
        if (ops.isEmpty || at < 0) stage.name else ops.mkString(", ") + stage.name.substring(at)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t, site) =>
        jobs += Job(e.jobId, t, e.time, site)
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = ListMap(p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.longValue }: _*)
        Recorder.this.synchronized {
          batches += ListMap("batch" -> p.batchId, "rows" -> p.numInputRows,
            "durationMs" -> phases)
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def take(): (Seq[Job], Seq[ListMap[String, Any]]) = {
      GraftListenerBridge.drain(spark.sparkContext)
      synchronized {
        val out = (jobs.toList, batches.toList)
        jobs.clear()
        batches.clear()
        out
      }
    }
  }
}
