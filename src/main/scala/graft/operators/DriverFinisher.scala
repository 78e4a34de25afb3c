package graft.operators

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.DynamicVariable

import org.apache.spark.FutureAction
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.LongType

/** Driver finishers: the one place that decides whether a guarded
  * operator finishes on the driver, and the one place that collects a
  * frame's long columns onto it.
  *
  * A driver finisher is a fast path. When an operator's input is small
  * enough, it collects the input and replays the distributed loop's exact
  * arithmetic on the driver; otherwise the distributed loop runs. The
  * policy:
  *
  *  - '''Eligibility''' is the operator's own test (long keys, no nulls,
  *    id types) and is never bypassed: an ineligible input always takes
  *    the distributed loop.
  *  - '''Budget''': an eligible input finishes on the driver when its size
  *    is at most the operator's budget below. The size is computed only
  *    when it decides something, by the same Spark job the operator needs
  *    anyway (the count of a checkpointed frame, or the one bounded
  *    collect of [[collectWithin]] and [[partitionsWithin]]).
  *  - '''The distributed loop is never removed''': it is the only path for
  *    input above the budget.
  *  - '''Both branches are parity-tested''': tests force each branch with
  *    [[observe]] and check equal results and the branch that ran.
  *
  * There is no option, conf or env var: the budgets are the policy.
  */
object DriverFinisher {

  sealed trait Branch
  case object Driver extends Branch
  case object Distributed extends Branch

  /** Edges for the graph finishers (pageRank, eigenCentrality,
    * personalizedPageRank, katz, bfsHops, multiSourceHarmonic, kCore,
    * shortestPaths, hits, kTruss). */
  val GraphEdges = 8000000L
  /** Edges for minimumSpanningForest's Kruskal and labelPropagation. */
  val SmallGraphEdges = 4000000L
  /** Pair and node rows for dupClusters; edge and state rows for
    * updateClustersDelta. */
  val DedupRows = 4000000L
  /** Corpus rows × dims for kmeansCentroids and pqTrain. */
  val LloydElems = 4000000L
  /** Value-census rows for Learn's 1-D Lloyd core. */
  val LloydCensus = 4000000L
  /** Input rows, then slope pairs, for theilSenPerKey. */
  val TheilSenRows = 2000000L
  val TheilSenPairs = 32000000L
  /** Value-census rows for hlFromCensus's order-statistic search. */
  val HlCensus = 2000000L
  /** Preference-spine rows for stableMatch. */
  val MatchRows = 4000000L
  /** UnsafeRow bytes of a frame that lakeWrite (PartitionedLake's writes)
    * and jdbcLoad (JdbcSink.load) write from the driver, skipping Spark's
    * write job. */
  val SmallWriteBytes = 2L << 20

  private final class Scope(val force: Option[Branch]) {
    val taken = mutable.ArrayBuffer.empty[(String, Branch)]
  }
  // thread-scoped, so concurrent sessions never see each other's scope;
  // threads started inside a scope (a stream's micro-batches) inherit it
  private val scope = new DynamicVariable[Scope](null)

  /** Test seam: run `body` with every decision inside it forced to
    * `force` (None decides by budget), and return the `(op, branch)`
    * pairs it took, in order. */
  private[graft] def observe[T](force: Option[Branch])(
      body: => T): (T, Seq[(String, Branch)]) = {
    val s = new Scope(force)
    val out = scope.withValue(s)(body)
    (out, s.taken.synchronized(s.taken.toList))
  }

  private def decide(op: String, eligible: Boolean)(
      byBudget: => Boolean): Boolean = {
    val s = scope.value
    val b =
      if (!eligible) Distributed
      else if (s != null && s.force.isDefined) s.force.get
      else if (byBudget) Driver
      else Distributed
    if (s != null) s.taken.synchronized { s.taken += (op -> b) }
    b == Driver
  }

  /** Does `op` finish on the driver? `size` runs only when the decision
    * needs it. */
  def fits(op: String, budget: Long, eligible: Boolean = true)(
      size: => Long): Boolean =
    decide(op, eligible)(size <= budget)

  /** A decision on eligibility alone, for a test that needs the input
    * the budget decision already collected. */
  def accepts(op: String, eligible: Boolean): Boolean =
    decide(op, eligible)(true)

  /** The guard that collects: the rows of every frame when each has at
    * most `budget` rows (one bounded job per frame, stopping at the first
    * frame over it), else None. */
  def collectWithin(op: String, budget: Long, eligible: Boolean = true)(
      frames: DataFrame*): Option[Seq[Array[Row]]] =
    gather(op, budget, eligible, _ => 1L)(frames).map(_.zip(frames).map { case (parts, f) =>
      val toRow = ExpressionEncoder(f.schema).resolveAndBind().createDeserializer()
      parts.flatMap(_.map(toRow))
    })

  /** The guard that collects a frame to write it from the driver: its
    * rows, by input partition, when their UnsafeRow bytes total at most
    * `budget` (one bounded job), else None. */
  def partitionsWithin(op: String, budget: Long, eligible: Boolean = true)(
      df: DataFrame): Option[Array[Array[UnsafeRow]]] =
    gather(op, budget, eligible, _.getSizeInBytes.toLong)(Seq(df)).map(_.head)

  private def gather(op: String, budget: Long, eligible: Boolean, weight: UnsafeRow => Long)(
      frames: Seq[DataFrame]): Option[Seq[Array[Array[UnsafeRow]]]] = {
    val got = mutable.ArrayBuffer.empty[Array[Array[UnsafeRow]]]
    val driver = decide(op, eligible) {
      frames.forall { f =>
        val parts = bounded(f, budget, weight)
        got ++= parts
        parts.isDefined
      }
    }
    if (!driver) None
    else if (got.length == frames.length) Some(got.toSeq)
    else Some(frames.map(bounded(_, Long.MaxValue, weight).get)) // forced: no bounded probe ran
  }

  /** The rows of `df`, by input partition, when their total `weight` is at
    * most `budget`, else None. One job and no `limit` scale-up jobs: each
    * task copies its rows until its own weight passes the budget, and the
    * driver cancels the job once the total does. */
  private def bounded(df: DataFrame, budget: Long, weight: UnsafeRow => Long)
      : Option[Array[Array[UnsafeRow]]] = {
    val rdd = df.queryExecution.toRdd
    val schema = df.queryExecution.executedPlan.schema
    val parts = new Array[Array[UnsafeRow]](rdd.getNumPartitions)
    var total = 0L
    val over = new AtomicBoolean(false)
    val job = new AtomicReference[FutureAction[Unit]]()
    def cancel(): Unit = Option(job.get).foreach(_.cancel())
    val take = (it: Iterator[InternalRow]) => {
      lazy val toUnsafe = UnsafeProjection.create(schema)
      val out = mutable.ArrayBuilder.make[UnsafeRow]
      var w = 0L
      while (w <= budget && it.hasNext) {
        val r = it.next() match {
          case u: UnsafeRow => u.copy()
          case g => toUnsafe(g).copy()
        }
        w += weight(r)
        out += r
      }
      (out.result(), w)
    }
    // the handler runs one task result at a time
    job.set(df.sparkSession.sparkContext.submitJob(rdd, take, parts.indices,
      (i: Int, res: (Array[UnsafeRow], Long)) => {
        parts(i) = res._1
        total += res._2
        if (total > budget && !over.getAndSet(true)) cancel()
      }, ()))
    if (over.get) cancel()
    Await.ready(job.get, Duration.Inf)
    if (over.get) None
    else { job.get.value.get.get; Some(parts) }
  }

  /** Collect every column of an all-long, null-free frame onto the
    * driver: one job, one primitive array per column, no boxed Rows. */
  def collectLongs(df: DataFrame): Array[Array[Long]] = {
    require(df.schema.forall(_.dataType == LongType),
      s"collectLongs needs long columns: ${df.schema.simpleString}")
    val k = df.schema.length
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val cols = Array.fill(k)(mutable.ArrayBuilder.make[Long])
      it.foreach { r =>
        var c = 0
        while (c < k) {
          if (r.isNullAt(c))
            throw new NullPointerException(s"null in long column $c")
          cols(c) += r.getLong(c)
          c += 1
        }
      }
      Iterator(cols.map(_.result()))
    }.collect()
    Array.tabulate(k)(c => Array.concat(parts.map(_(c)).toIndexedSeq: _*))
  }

  /** Dense ids for long keys, numbered from 0 in first-seen order. */
  final class Ids {
    private val index = new mutable.LongMap[Int](1 << 12)
    private val seen = mutable.ArrayBuilder.make[Long]
    def apply(v: Long): Int = index.getOrElseUpdate(v, { seen += v; index.size })
    def get(v: Long): Option[Int] = index.get(v)
    def contains(v: Long): Boolean = index.contains(v)
    def size: Int = index.size
    /** The key of every id, by id. */
    def keys: Array[Long] = seen.result()
    /** The dense ids of `cols`, interned row by row, left to right. */
    def intern(cols: Array[Long]*): Array[Array[Int]] = {
      val n = cols.headOption.map(_.length).getOrElse(0)
      val out = Array.fill(cols.length)(new Array[Int](n))
      var i = 0
      while (i < n) {
        var c = 0
        while (c < cols.length) { out(c)(i) = apply(cols(c)(i)); c += 1 }
        i += 1
      }
      out
    }
  }
}
