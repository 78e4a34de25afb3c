package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One benchmark run in its own JVM: set-up, warm-up passes and a measured
  * window of whole passes; with tracing half the window's passes are traced.
  * Every pass starts from a fully collected heap. Writes
  * `raw.json` (and `spans.jsonl` when traced) to the output directory;
  * `run.py` turns them into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <data dir> <out dir> <cores>
  */
object Main {

  /** Each unit's wall time limit; a unit past it counts as failed and ends
    * the run's measuring. */
  val UnitTimeoutS = 60L

  /** Batch registry queries, in an order the seed permutes, then one
    * streaming drain. The drain runs last in every pass, as in the
    * program's own bench, so no batch query follows a drain's state-store
    * work inside a pass. */
  val BatchQueries = Seq("q07_agg_full", "q22_dedup_minhash", "q40_ann_ivf", "q320_theil_sen",
    "q106_compact_base")
  val StreamDrains = Seq("q53_stream_hourly")
  /** Passes run before measuring, by workload. The first pass in a JVM
    * pays class loading, code generation and most JIT work; later passes
    * still speed up a little, which medians over the measured passes absorb.
    * The medallion set-up already runs every step of a refresh over its
    * history of days, so that workload needs no warm-up pass. A traced run
    * warms up one pass more, since its overhead estimate compares the first
    * measured pass with later ones. */
  val WarmupPasses = Map("medallion_refresh" -> 0, "batch_mix" -> 1)
  /** Fewest measured passes. Passes still speed up after the warm-up, so a
    * run's medians depend on how many passes it measured; with the run
    * length below three passes' time, every run measures three. */
  val MeasuredPasses = 3
  /** Passes of a traced window, in the order untraced, traced, traced,
    * untraced: both medians sit at the same point of the warm-up curve, so
    * their difference is the tracing overhead. A traced window runs whole
    * groups of four. */
  val TracedWindowPasses = 4
  /** Medallion refreshes in one pass. */
  val RefreshesPerPass = 4

  /** One unit: `run` is timed, `after` is bookkeeping outside the timing. */
  final case class Work(name: String, run: () => Unit, after: () => Unit = () => ())

  /** A workload: the units of each pass, in order, with their inputs made
    * outside any timing. */
  trait Workload {
    def pass(): Seq[Work]
  }

  final class QueryMix(spark: SparkSession, names: Seq[String], dir: String, tracer: Tracer)
      extends Workload {
    val lastFrame = mutable.Map[String, DataFrame]()
    val shapes = mutable.Map[String, Map[String, Int]]()

    def pass(): Seq[Work] = names.map { name =>
      Work(name, () => {
        val build = tracer.span("SparkEntry.lookup")(SparkEntry.queries(name))
        val df = tracer.span("SparkEntry.build")(build(spark, dir))
        tracer.span("plans.plan") {
          df.queryExecution.optimizedPlan
          df.queryExecution.executedPlan
        }
        tracer.span("operators.exec")(df.queryExecution.toRdd.foreach(_ => ()))
        lastFrame(name) = df
        if (tracer.on) shapes(name) = PlanShape(df.queryExecution.executedPlan)
      })
    }
  }

  final class Refreshes(m: MedallionRefresh) extends Workload {
    def pass(): Seq[Work] = m.nextPass(RefreshesPerPass)
  }

  def describe(e: Throwable): String = {
    var root = e
    while (root.getCause != null && root.getCause != root) root = root.getCause
    val top = s"${e.getClass.getName}: ${e.getMessage}"
    if (root eq e) top else s"$top (cause ${root.getClass.getName}: ${root.getMessage})"
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private val ClockTicksPerS = 100.0

  /** CPU time of the process, threads that have ended included, less that
    * of the JIT compiler's threads, whose backlog after a short warm-up would
    * otherwise add noise unrelated to the work measured. run.py starts the
    * JVM with a fixed set of compiler threads, so none of them ends and
    * takes its time out of the subtraction. Read from /proc, so it is exact
    * to a clock tick. */
  private def processCpuS: Double = {
    def ticks(stat: String): Long = {
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
      f(11).toLong + f(12).toLong // utime, stime
    }
    val s = Files.list(Paths.get("/proc/self/task"))
    val compiler =
      try s.iterator().asScala.filter { t =>
        try Files.readString(t.resolve("comm")).contains("CompilerThre")
        catch { case _: java.io.IOException => false } // the thread ended meanwhile
      }.map(t => ticks(Files.readString(t.resolve("stat")))).sum
      finally s.close()
    (ticks(Files.readString(Paths.get("/proc/self/stat"))) - compiler) / ClockTicksPerS
  }

  /** Heap in use after a full collection: what the program keeps live. */
  private def liveHeapMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, dataDir, outDir, coresArg) = args
    val (seed, seconds, trace, cores) =
      (seedArg.toLong, secondsArg.toDouble, traceArg == "1", coresArg.toInt)
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val mainEntryMs = System.currentTimeMillis()
    val jvmBootS =
      (mainEntryMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer
    tracer.on = trace
    val client = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }
    def onClient[T](timeoutS: Long)(f: => T): T = {
      val fut = client.submit(() => f)
      try fut.get(timeoutS, TimeUnit.SECONDS)
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

    val t0 = System.nanoTime()
    val spark = onClient(120)(tracer.span("GraftSession.start")(
      GraftSession.local("perfbench", cores)))
    val sessionS = (System.nanoTime() - t0) / 1e9
    tracer.on = false
    spark.sparkContext.setLogLevel("ERROR")

    val i0 = System.nanoTime()
    val medallion =
      if (workload == "medallion_refresh")
        Some(onClient(60)(new MedallionRefresh(spark, seed, s"$dataDir/lake", cores, tracer)))
      else None
    val inputsS = (System.nanoTime() - i0) / 1e9
    val order = new scala.util.Random(seed)
    val w: Workload = workload match {
      case "medallion_refresh" => new Refreshes(medallion.get)
      case "batch_mix" =>
        new QueryMix(spark, order.shuffle(BatchQueries) ++ StreamDrains, dataDir, tracer)
    }

    var nextUnit = 0L
    var aborted = false
    val failures = ArrayBuffer[Map[String, Any]]()

    final class Window {
      val units = ArrayBuffer[Map[String, Any]]()
      val passes = ArrayBuffer[Map[String, Any]]()
    }

    /** Runs whole passes until `seconds` have passed and at least `minPasses`
      * have run. With a probe, passes alternate in pairs between untraced
      * and traced; returns (untraced, traced). */
    def window(phase: String, seconds: Double, minPasses: Int, probe: Option[Probe])
        : (Window, Window) = {
      val (plain, traced) = (new Window, new Window)
      val start = System.nanoTime()
      var p = 0
      while (!aborted && (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds ||
          (probe.isDefined && p % 4 != 0))) {
        val traceThis = probe.isDefined && (p % 4 == 1 || p % 4 == 2)
        val into = if (traceThis) traced else plain
        if (traceThis) { tracer.on = true; onClient(60)(probe.get.attach()) }
        val work = w.pass()
        val cpu0 = processCpuS
        val p0 = System.nanoTime()
        work.foreach { case Work(name, run, after) =>
          if (!aborted) {
            nextUnit += 1
            val id = nextUnit
            val startMs = System.currentTimeMillis()
            val u0 = System.nanoTime()
            val error: Option[String] =
              try {
                onClient(UnitTimeoutS) {
                  tracer.unit = id
                  spark.sparkContext.setJobGroup(s"perfbench-$id", name, interruptOnCancel = true)
                  try tracer.span(s"unit:$name")(run())
                  finally {
                    spark.sparkContext.clearJobGroup()
                    tracer.unit = -1L
                  }
                }
                None
              } catch {
                case e: TimeoutException =>
                  aborted = true
                  spark.sparkContext.cancelJobGroup(s"perfbench-$id")
                  spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
                  Some(s"java.util.concurrent.TimeoutException: unit ran past ${UnitTimeoutS}s")
                case e: Throwable => Some(describe(e))
              }
            val wall = (System.nanoTime() - u0) / 1e9
            val endMs = System.currentTimeMillis()
            if (error.isEmpty) onClient(60)(after())
            val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "name" -> name, "phase" -> phase,
              "pass" -> p, "wall_s" -> wall, "start_ms" -> startMs, "end_ms" -> endMs,
              "error" -> error)
            if (traceThis) {
              rec ++= onClient(60)(probe.get.take())
              w match {
                case q: QueryMix => q.shapes.get(name).foreach(s => rec("plan") = s)
                case _ =>
              }
            }
            error.foreach(e => failures += Map("phase" -> phase, "name" -> name, "error" -> e))
            into.units += rec.toMap
          }
        }
        val (wall, cpu) = ((System.nanoTime() - p0) / 1e9, processCpuS - cpu0) // before the GC below
        into.passes += Map("wall_s" -> wall, "cpu_s" -> cpu, "units" -> work.size,
          "heap_live_mb" -> liveHeapMb)
        if (traceThis) { onClient(60)(probe.get.detach()); tracer.on = false }
        p += 1
      }
      (plain, traced)
    }

    val warm0 = System.nanoTime()
    val (warm, _) = window("warmup", 0, WarmupPasses(workload) + (if (trace) 1 else 0), None)
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val probe = if (trace) Some(new Probe(spark)) else None
    val (measured, traced) =
      window("measure", seconds,
        if (trace) TracedWindowPasses else MeasuredPasses, probe)
    val peakRss = peakRssMb

    val (inputBytes, diskBytes) = medallion match {
      case Some(m) => (m.inputBytes, m.lakeBytes)
      case None =>
        (treeBytes(Paths.get(dataDir)), treeBytes(Paths.get(sys.props("perfbench.scratch"))))
    }
    val checkErrors: Seq[String] = w match {
      case _: Refreshes if !aborted => onClient(120)(medallion.get.check())
      case q: QueryMix if !aborted =>
        onClient(120) {
          q.lastFrame.foreach { case (name, df) =>
            df.coalesce(1).write.mode("overwrite").parquet(out.resolve("dumps").resolve(name).toString)
          }
        }
        val oracle = SparkEntry.oracleSql
        Files.writeString(out.resolve("oracle_sql.json"), Tracer.json.writeValueAsString(
          q.lastFrame.keys.toSeq.sorted.flatMap(n => oracle.get(n).map(n -> _)).toMap))
        Nil
      case _ => Seq("run aborted before the output check")
    }

    val jvm = Map(
      "gc_s" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1000.0,
      "jit_s" -> java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime / 1000.0)
    val raw = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> Map("jvm_boot_s" -> jvmBootS, "session_s" -> sessionS, "inputs_s" -> inputsS,
        "warmup_s" -> warmupS),
      "warmup_units" -> warm.units, "units" -> measured.units, "passes" -> measured.passes,
      "peak_rss_mb" -> peakRss, "input_bytes" -> inputBytes, "disk_bytes" -> diskBytes,
      "failures" -> failures.toSeq, "check_errors" -> checkErrors, "jvm" -> jvm,
      "aborted" -> aborted)
    if (trace) { raw("traced_units") = traced.units; raw("traced_passes") = traced.passes }
    if (trace) tracer.writeJsonl(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("raw.json"), Tracer.json.writeValueAsString(raw))
    try onClient(60)(spark.stop()) catch { case _: Throwable => () }
    client.shutdownNow()
    System.exit(0)
  }
}
