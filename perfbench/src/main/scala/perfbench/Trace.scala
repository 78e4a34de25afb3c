package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans, recorded only by the benchmark's own code around each
  * call into a layer of the program. All spans come from the one client
  * thread, so the stack needs no locking. While off, `span` only runs its
  * body.
  */
final class Tracer {
  var on = false
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[Map[String, Any]]()
  private var stack: List[Long] = Nil
  private var nextId = 0L
  /** Unit id stamped on every span; -1 outside a unit (set-up). */
  var unit: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(-1L)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "unit" -> unit, "name" -> name,
          "start_s" -> (start - t0) / 1e9, "end_s" -> (end - t0) / 1e9)
      }
    }

  def writeJsonl(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, spans.map(Tracer.json.writeValueAsString).mkString("", "\n", "\n"))
}

object Tracer {
  /** Writes the benchmark's records (Scala maps, sequences and options) as JSON. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}

/** Plan-shape counts taken from a frame's final physical plan, adaptive
  * query stages and subqueries included. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Int] = Map(
    "exchanges" -> collectWithSubqueries(plan) { case e: Exchange => e }.size,
    "smj" -> collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.size,
    "bhj" -> collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }.size,
    "global_windows" -> collectWithSubqueries(plan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.size)
}

/** Counters fed by a SparkListener, a StreamingQueryListener and a
  * QueryExecutionListener, attached only during traced passes. Listener events
  * arrive on Spark's listener bus thread; `take` drains the bus first, then
  * returns and resets everything seen since the previous `take`.
  */
final class Probe(spark: SparkSession) {
  private val lock = new Object
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobs = ArrayBuffer[(Long, Long)]()
  private val c = mutable.Map[String, Long]().withDefaultValue(0L)
  private val streamStarts = mutable.Map[String, Long]()
  private val streams = mutable.LinkedHashMap[String, ArrayBuffer[Map[String, Any]]]()

  private def add(k: String, v: Long): Unit = c(k) += v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs += ((jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized(add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        c("peak_exec_mem_bytes") = math.max(c("peak_exec_mem_bytes"), m.peakExecutionMemory)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized {
        streamStarts(e.runId.toString) = java.time.Instant.parse(e.timestamp).toEpochMilli
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        val d = p.durationMs
        def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
        streams.getOrElseUpdate(p.runId.toString, ArrayBuffer()) += Map(
          "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> dur("triggerExecution"),
          "add_batch_ms" -> dur("addBatch"),
          "wal_commit_ms" -> dur("walCommit"),
          "commit_offsets_ms" -> dur("commitOffsets"),
          "planning_ms" -> dur("queryPlanning"),
          "latest_offset_ms" -> dur("latestOffset"),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val metrics = writeCommands(qe.executedPlan).map(_.cmd.metrics)
      lock.synchronized(metrics.foreach { m =>
        def v(k: String): Long = m.get(k).map(_.value).getOrElse(0L)
        add("files_written", v("numFiles"))
        add("bytes_written", v("numOutputBytes"))
        add("partitions_written", v("numParts"))
      })
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def writeCommands(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case r: CommandResultExec => writeCommands(r.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
    case other => other.children.flatMap(writeCommands)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(writeListener)
  }

  /** Everything recorded since the last call: job intervals (epoch ms),
    * summed task counters, write stats and streaming progress per run. */
  def take(): Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      val out = Map[String, Any](
        "jobs" -> jobs.map { case (s, e) => Seq(s, e) }.toSeq,
        "counters" -> c.toMap,
        "streams" -> streams.toSeq.map { case (run, ps) =>
          Map("started_ms" -> streamStarts.getOrElse(run, -1L), "progress" -> ps.toSeq)
        })
      jobs.clear(); c.clear(); streams.clear(); streamStarts.clear()
      out
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(writeListener)
  }
}
