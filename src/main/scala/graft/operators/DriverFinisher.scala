package graft.operators

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}
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
  *    anyway (the count of a checkpointed frame, or the bounded
  *    `limit(budget + 1).collect` of [[collectWithin]]).
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
    * most `budget` rows (one bounded `limit(budget + 1)` job per frame,
    * stopping at the first frame over it), else None. */
  def collectWithin(op: String, budget: Long, eligible: Boolean = true)(
      frames: DataFrame*): Option[Seq[Array[Row]]] = {
    val lim = math.min(budget + 1, Int.MaxValue.toLong - 1).toInt
    val got = mutable.ArrayBuffer.empty[Array[Row]]
    val driver = decide(op, eligible) {
      frames.forall { f =>
        val rows = f.limit(lim).collect()
        got += rows
        rows.length <= budget
      }
    }
    if (!driver) None
    else if (got.length == frames.length) Some(got.toSeq)
    else Some(frames.map(_.collect())) // forced: no bounded probe ran
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
