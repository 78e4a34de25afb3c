package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over edge-list DataFrames.
  *
  * Complements the connected-components operator ([[Dedup.components]])
  * with weighted propagation: PageRank is the standard importance score
  * for entity graphs mined out of a corpus (citation/link graphs,
  * customer-supplier networks). Each iteration is ONE equi-join shuffle of
  * the edge list against the current rank table plus one aggregation —
  * the plan a 1000-executor cluster wants, no driver-side graph state.
  */
object Graph {

  /** PageRank over a directed edge list `(src, dst)`.
    *
    * Callers modelling an undirected graph pass both edge directions (then
    * every node has out-degree >= 1, so no dangling-mass correction is
    * needed — the usual trick for bipartite entity graphs).
    *
    * Determinism across engines and partition orders: each contribution
    * `pr/deg * damping` is a fixed-order double expression cast onto a
    * 1e-9 decimal grid BEFORE the per-destination sum, so the aggregate is
    * order-independent; the grid sits ~7 orders of magnitude above the
    * double ulp of these O(1..100) scores, and the decimal sum's scaled
    * integer stays far below 2^53 so the final double cast is exactly
    * rounded in any engine. Rank tables are localCheckpoint'd per round —
    * chaining lineage would re-execute every prior iteration.
    *
    * Returns `(node, pr)` with `pr` rounded to 6 decimals.
    */
  /** Transitive root-and-depth closure of a forest given as `(id, parent)`
    * rows (`parent` null marks a root): returns `(id, root, depth)`.
    *
    * Pointer jumping — each round rewires every node to its ancestor's
    * ancestor and adds the depths, so a depth-D hierarchy closes in
    * ⌈log₂ D⌉ rounds (roots self-loop at depth 0, making the jump
    * idempotent at the fixpoint). Each round is ONE self-equi-join plus a
    * change-count — the same O(log D)-shuffle shape as
    * [[Dedup.components]], with no driver-side recursion. A recursive
    * per-row walk would be O(D) sequential joins; this is the form that
    * closes a billion-row org/BOM hierarchy in single-digit rounds.
    */
  /** Stats firewall for iterative SELF-joins: localCheckpoint cuts
    * LINEAGE but carries the child plan's size ESTIMATE into the new
    * LogicalRDD, and a loop that joins a frame with itself (pointer
    * jumping) then SQUARES that estimate every hop — after k hops the
    * BigInteger statistic has 2^k digits and the PLANNER, not the job,
    * becomes the bottleneck (measured in-round: q367 at sf0.1 spent
    * 20+ minutes inside Toom-Cook BigInteger multiplies in
    * SizeInBytesOnlyStatsPlanVisitor before any task ran). Rebuilding
    * from the checkpointed RDD resets the statistic to the session
    * default; the frames cycled here are component/pointer tables, so
    * the extra row conversion is noise.
    */
  private def fresh(df: DataFrame): DataFrame = {
    val d = df.localCheckpoint(true)
    d.sparkSession.createDataFrame(d.rdd, d.schema)
  }

  /** Broadcast a known-small delta frame; fall back to a shuffle join
    * when the row count says it would not fit comfortably. */
  private def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows < 2000000L) broadcast(df) else df

  /** Driver finishers intern node ids as primitive longs; non-long node
    * columns (e.g. textrank's word nodes) keep the distributed loop. */
  private def longKeyed(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType ==
      org.apache.spark.sql.types.LongType)

  /** The graph finishers' decision: the edge count against
    * [[DriverFinisher.GraphEdges]]. */
  private def onDriver(op: String, edges: DataFrame, eligible: Boolean) =
    DriverFinisher.fits(op, DriverFinisher.GraphEdges, eligible)(edges.count())

  def rootClosure(nodes: DataFrame, maxRounds: Int = 20): DataFrame = {
    var state = fresh(nodes
      .select(col("id"),
        coalesce(col("parent"), col("id")).as("anc"),
        when(col("parent").isNull, 0L).otherwise(1L).as("depth")))
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val hop = state.select(col("id").as("h_id"), col("anc").as("h_anc"),
        col("depth").as("h_depth"))
      val next = fresh(state.join(hop, state("anc") === hop("h_id"))
        .select(col("id"), col("h_anc").as("anc"),
          (col("depth") + col("h_depth")).as("depth")))
      changed = next.join(
          state.select(col("id").as("p_id"), col("depth").as("p_depth")),
          next("id") === col("p_id"))
        .filter(col("depth") =!= col("p_depth")).count()
      state = next
      round += 1
    }
    require(changed == 0, s"hierarchy did not close within $maxRounds rounds")
    state.select(col("id"), col("anc").as("root"), col("depth"))
  }

  def pageRank(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // DRIVER-SIDE POWER LOOP when the edge list is collectable.
    // Bit-exactness is replayable off-engine because every per-round step
    // is deterministic JVM library arithmetic, identical on driver and
    // executor: the contribution is
    // Spark's double→DECIMAL(28,9) cast = BigDecimal.valueOf(d) (the
    // canonical Double.toString form) setScale(9, HALF_UP); the gather
    // sum is exact decimal addition (order-free); the teleport add is
    // one IEEE double add of Decimal.toDouble = BigDecimal.doubleValue.
    // The final round(…, 6) stays a DISTRIBUTED expression over the
    // rebuilt frame.
    if (onDriver("pageRank", e, longKeyed(e, "src", "dst"))) {
      val spark = e.sparkSession
      val idx = new DriverFinisher.Ids
      val Array(es, ed) = idx.intern(DriverFinisher.collectLongs(e): _*)
      val m = es.length
      val n = idx.size
      val degA = new Array[Long](n)
      var i = 0
      while (i < m) { degA(es(i)) += 1; i += 1 }
      // ranked set = nodes with out-degree, exactly the deg table below
      val prA = new Array[Double](n)
      i = 0; while (i < n) { prA(i) = 1.0; i += 1 }
      val floor = 1.0 - damping
      val rm = java.math.RoundingMode.HALF_UP
      val contrib = new Array[java.math.BigDecimal](n)
      for (_ <- 1 to iters) {
        // the cast contribution is per SOURCE NODE — hoist it out of the
        // edge scan (valueOf goes through Double.toString; per-edge it
        // dominated the loop)
        i = 0
        while (i < n) {
          if (degA(i) > 0L)
            contrib(i) = java.math.BigDecimal
              .valueOf(prA(i) / degA(i) * damping).setScale(9, rm)
          i += 1
        }
        val sums = new Array[java.math.BigDecimal](n)
        i = 0
        while (i < m) {
          val d = ed(i)
          if (degA(d) > 0L) { // only ranked nodes receive (the left join)
            val c = contrib(es(i))
            sums(d) = if (sums(d) == null) c else sums(d).add(c)
          }
          i += 1
        }
        i = 0
        while (i < n) {
          if (degA(i) > 0L)
            prA(i) = floor +
              (if (sums(i) == null) 0.0 else sums(i).doubleValue())
          i += 1
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      val allIds = idx.keys
      i = 0
      while (i < n) {
        if (degA(i) > 0L)
          rows.add(org.apache.spark.sql.Row(allIds(i), prA(i)))
        i += 1
      }
      val rebuilt = spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("pr",
            org.apache.spark.sql.types.DoubleType))))
      return rebuilt.select(col("node"), round(col("pr"), 6).as("pr"))
    }
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var pr = deg.select(col("src").as("node"), col("deg"), lit(1.0).as("pr"))
      .localCheckpoint(true)
    // localCheckpoint resets the rank table's size statistic to the
    // session default, so the per-iteration edge⋈rank join silently
    // loses auto-broadcast and re-SHUFFLES the whole edge list every
    // round. The rank table is node-sized (~40 B/row) — broadcast it
    // explicitly while it fits, and the edge list never moves; above
    // the guard (a 100M+-node graph) the shuffle join is the right
    // plan anyway.
    val bcastPr = pr.count() <= 2000000L
    def ranks = if (bcastPr) broadcast(pr) else pr
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks, e("src") === pr("node"))
        .select(col("dst"),
          (col("pr") / col("deg") * lit(damping)).cast(DecimalType(28, 9)).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("c_sum"))
      // LEFT join: a node with no incoming edges this round must keep the
      // (1 - damping) teleport floor, not vanish (an inner join would
      // silently drop it — and its outgoing mass — on directed graphs)
      pr = pr.select(col("node"), col("deg"))
        .join(contrib, pr("node") === contrib("dst"), "left")
        .select(col("node"), col("deg"),
          (lit(1.0 - damping) +
            coalesce(col("c_sum").cast("double"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
    }
    pr.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** EIGENVECTOR CENTRALITY by LAZY power iteration — influence as the
    * fixed point "you matter as much as the sum of your neighbors'
    * mattering": the Perron eigenvector of the adjacency matrix, the
    * undirected answer beside [[pageRank]]'s random-surfer rank (which
    * dilutes a hub's vote by its out-degree; eigen centrality does not
    * — one well-connected neighbor outweighs many isolated ones) and
    * [[hits]]'s directed hub/authority split. Iterates x ← (x + Ax)/m
    * (A+I, the LAZY walk): same eigenvectors as A, but the +I shift
    * breaks the ±λ₁ symmetry of BIPARTITE graphs — co-purchase graphs
    * are bipartite by construction and plain power iteration would
    * oscillate between the two sides forever instead of converging.
    * Max-normalization keeps the top node at exactly 1.0 and needs no
    * division by a sum that loses precision.
    *
    * Exactness is the [[pageRank]] discipline: per-edge contributions
    * cast to DECIMAL(28,9) so the gather sum is FP-order-free, the
    * per-round max is an exact decimal, and the one double division per
    * node divides identical bits in both engines. Score tables are
    * node-sized and broadcast while they fit (≤ 2M nodes) so the edge
    * list never re-shuffles; localCheckpoint per round cuts lineage.
    * Caller supplies symmetric (both-direction) edges for an undirected
    * reading. O(iters × |E|) work, O(|V|) state.
    */
  def eigenCentrality(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val d289 = DecimalType(28, 9)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // DRIVER-SIDE LAZY POWER LOOP when the edge list is collectable —
    // the pageRank-finisher discipline: every step is deterministic JVM
    // library arithmetic identical on driver and executor (double→
    // DECIMAL(28,9) cast = BigDecimal.valueOf setScale(9, HALF_UP);
    // exact decimal adds and max; one double division of
    // BigDecimal.doubleValue quotients). Final round(…, 6) stays a
    // distributed expression.
    if (onDriver("eigenCentrality", e, longKeyed(e, "src", "dst"))) {
      val spark = e.sparkSession
      val idx = new DriverFinisher.Ids
      val Array(es, ed) = idx.intern(DriverFinisher.collectLongs(e): _*)
      val m = es.length
      val n = idx.size
      val inX = new Array[Boolean](n)
      var i = 0
      while (i < m) { inX(es(i)) = true; i += 1 }
      val xv = new Array[Double](n)
      i = 0; while (i < n) { xv(i) = 1.0; i += 1 }
      val rm = java.math.RoundingMode.HALF_UP
      val castX = new Array[java.math.BigDecimal](n)
      for (_ <- 1 to iters) {
        // the cast score is per SOURCE NODE — hoist it out of the edge
        // scan (valueOf goes through Double.toString; per-edge it
        // dominates the loop)
        i = 0
        while (i < n) {
          if (inX(i))
            castX(i) = java.math.BigDecimal.valueOf(xv(i)).setScale(9, rm)
          i += 1
        }
        // gather: c_sum(dst) = Σ over edges with src ∈ x of cast(x(src))
        val sums = new Array[java.math.BigDecimal](n)
        i = 0
        while (i < m) {
          if (inX(es(i))) {
            val c = castX(es(i))
            val d = ed(i)
            sums(d) = if (sums(d) == null) c else sums(d).add(c)
          }
          i += 1
        }
        // lazy add + max over dsts that are BOTH gathered and in x
        // (the inner gathered⋈scores join)
        var mx: java.math.BigDecimal = null
        val c2 = new Array[java.math.BigDecimal](n)
        i = 0
        while (i < n) {
          if (sums(i) != null && inX(i)) {
            val v = sums(i).add(castX(i))
            c2(i) = v
            if (mx == null || v.compareTo(mx) > 0) mx = v
          }
          i += 1
        }
        i = 0
        while (i < n) {
          if (c2(i) != null) {
            inX(i) = true
            xv(i) = c2(i).doubleValue() / mx.doubleValue()
          } else inX(i) = false
          i += 1
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      val allIds = idx.keys
      i = 0
      while (i < n) {
        if (inX(i)) rows.add(org.apache.spark.sql.Row(allIds(i), xv(i)))
        i += 1
      }
      val rebuilt = spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("x",
            org.apache.spark.sql.types.DoubleType))))
      return rebuilt.select(col("node"), round(col("x"), 6).as("score"))
    }
    var x = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("x"))
      .localCheckpoint(true)
    val bcastX = x.count() <= 2000000L
    def scores = if (bcastX) broadcast(x) else x
    for (_ <- 1 to iters) {
      val gathered = e.join(scores, e("src") === x("node"))
        .select(col("dst"), col("x").cast(d289).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("c_sum"))
      val lazyC = gathered.join(scores, gathered("dst") === x("node"))
        .select(col("dst").as("n2"),
          (col("c_sum") + col("x").cast(d289)).as("c2"))
      val m = lazyC.agg(max(col("c2")).as("m"))
      x = lazyC.crossJoin(broadcast(m))
        .select(col("n2").as("node"),
          (col("c2").cast("double") / col("m").cast("double")).as("x"))
        .localCheckpoint(true)
    }
    x.select(col("node"), round(col("x"), 6).as("score"))
  }

  /** PERSONALIZED PageRank — importance RELATIVE to a source set: the
    * teleport floor (1−d) lands only on the sources, so mass
    * concentrates in their neighborhood and the ranking answers "what
    * matters to THESE customers", the recommender/expansion query
    * [[pageRank]]'s global ranking can't ([[pageRank]] answers "what
    * matters overall"). Same iteration shape as [[pageRank]]: one
    * edge↔rank join + one aggregation per round, contributions on the
    * 1e-9 decimal grid (order-independent sums, oracle-replayable),
    * lineage cut per round. Contract: nodes are ranked if they have
    * out-degree (pass both directions for undirected graphs).
    */
  def personalizedPageRank(
      edges: DataFrame,
      sources: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // DRIVER-SIDE loop under the [[pageRank]] finisher discipline (see
    // there for the exact-replication argument; the only delta is the
    // teleport floor landing on sources only: floor·is_src is the same
    // one IEEE multiply-add as the expression below).
    if (onDriver("personalizedPageRank", e, longKeyed(e, "src", "dst") &&
        longKeyed(sources.select(col("node")), "node"))) {
      val spark = e.sparkSession
      val idx = new DriverFinisher.Ids
      val Array(es, ed) = idx.intern(DriverFinisher.collectLongs(e): _*)
      val m = es.length
      val n = idx.size
      val degA = new Array[Long](n)
      var i = 0
      while (i < m) { degA(es(i)) += 1; i += 1 }
      val isSrc = new Array[Boolean](n)
      sources.select(col("node").cast("long")).distinct().collect()
        .foreach { r => idx.get(r.getLong(0)).foreach(j => isSrc(j) = true) }
      val prA = new Array[Double](n)
      i = 0
      while (i < n) {
        if (degA(i) > 0L) prA(i) = if (isSrc(i)) 1.0 else 0.0
        i += 1
      }
      val floor = 1.0 - damping
      val rm = java.math.RoundingMode.HALF_UP
      val contrib = new Array[java.math.BigDecimal](n)
      for (_ <- 1 to iters) {
        i = 0
        while (i < n) {
          if (degA(i) > 0L)
            contrib(i) = java.math.BigDecimal
              .valueOf(prA(i) / degA(i) * damping).setScale(9, rm)
          i += 1
        }
        val sums = new Array[java.math.BigDecimal](n)
        i = 0
        while (i < m) {
          val d = ed(i)
          if (degA(d) > 0L) {
            val c = contrib(es(i))
            sums(d) = if (sums(d) == null) c else sums(d).add(c)
          }
          i += 1
        }
        i = 0
        while (i < n) {
          if (degA(i) > 0L)
            prA(i) = floor * (if (isSrc(i)) 1.0 else 0.0) +
              (if (sums(i) == null) 0.0 else sums(i).doubleValue())
          i += 1
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      val allIds = idx.keys
      i = 0
      while (i < n) {
        if (degA(i) > 0L)
          rows.add(org.apache.spark.sql.Row(allIds(i), isSrc(i), prA(i)))
        i += 1
      }
      val rebuilt = spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("is_source",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("ppr",
            org.apache.spark.sql.types.DoubleType))))
      return rebuilt.select(col("node"), col("is_source"),
        round(col("ppr"), 6).as("ppr"))
    }
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val srcSet = sources.select(col("node")).distinct()
      .withColumn("__s", lit(1L))
    var pr = deg.select(col("src").as("node"), col("deg"))
      .join(srcSet, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("__s"), lit(0L)).as("is_src"))
      .withColumn("pr", col("is_src").cast("double"))
      .localCheckpoint(true)
    // same broadcast-while-small posture as [[pageRank]] — the
    // checkpointed rank table's default size stat would otherwise cost
    // a full edge shuffle per iteration
    val bcastPr = pr.count() <= 2000000L
    def ranks = if (bcastPr) broadcast(pr) else pr
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks, e("src") === pr("node"))
        .select(col("dst"),
          (col("pr") / col("deg") * lit(damping)).cast(DecimalType(28, 9)).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("c_sum"))
      pr = pr.select(col("node"), col("deg"), col("is_src"))
        .join(contrib, pr("node") === contrib("dst"), "left")
        .select(col("node"), col("deg"), col("is_src"),
          (lit(1.0 - damping) * col("is_src").cast("double") +
            coalesce(col("c_sum").cast("double"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
    }
    pr.select(col("node"), (col("is_src") === 1L).as("is_source"),
      round(col("pr"), 6).as("ppr"))
  }

  /** Multi-source BFS hop distance over a directed edge list `(src,
    * dst)`: every node reachable from the source set within `maxHops`
    * hops, with `hops` = length of the shortest path (sources are hop 0;
    * callers modelling an undirected graph pass both edge directions).
    *
    * Level-synchronous frontier expansion — the textbook distributed BFS:
    * each round is ONE equi-join of the current frontier against the edge
    * list plus an anti-join against the visited set, so a D-hop ball
    * costs D shuffle rounds sized by the frontier, never by the graph.
    * First discovery IS the minimum hop count (frontiers expand in hop
    * order), so no min-aggregation over paths is ever materialized — the
    * property that separates this from the recursive-CTE formulation,
    * which enumerates every (node, depth) pair it can prove. Frontiers
    * are localCheckpoint'd per round (lineage cut, like [[pageRank]]).
    */
  /** KATZ CENTRALITY — influence that counts EVERY walk, attenuated by
    * length: x = Σ_t α^t A^t·1, here as the fixed-point iteration
    * x ← 1 + α·Aᵀx truncated at `iters`. The member of the centrality
    * shelf that gives every node a floor ([[pageRank]] divides
    * influence among out-edges, so a hub's endorsement dilutes; Katz
    * lets it count fully at α-discount, which is why it's the standard
    * score on bounded-degree interaction graphs where PageRank's
    * drain-to-hubs is unwanted). Contract: α must be under 1/λ_max for
    * the untruncated series to converge — callers pick α against a
    * degree bound (α·max_deg < 1 is the safe envelope). Same plan
    * shape and determinism discipline as [[pageRank]]: one edge↔score
    * equi-join + one aggregation per round, contributions land on the
    * 1e-9 decimal grid (order-independent sums → oracle-replayable),
    * lineage cut per round. Ranks every node that appears on either
    * edge side.
    */
  def katz(edges: DataFrame, iters: Int, alpha: Double): DataFrame = {
    require(iters >= 1 && alpha > 0.0 && alpha < 1.0)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // DRIVER-SIDE loop under the [[pageRank]] finisher discipline: the
    // attenuated contribution x·α casts per SOURCE node, sums are exact
    // decimal adds, the refresh is 1.0 + sum.doubleValue — each one the
    // same JVM library call the expressions below make.
    if (onDriver("katz", e, longKeyed(e, "src", "dst"))) {
      val spark = e.sparkSession
      val idx = new DriverFinisher.Ids
      val Array(es, ed) = idx.intern(DriverFinisher.collectLongs(e): _*)
      val m = es.length
      val n = idx.size
      val xv = new Array[Double](n)
      var i = 0
      while (i < n) { xv(i) = 1.0; i += 1 }
      val rm = java.math.RoundingMode.HALF_UP
      val castX = new Array[java.math.BigDecimal](n)
      for (_ <- 1 to iters) {
        i = 0
        while (i < n) {
          castX(i) = java.math.BigDecimal
            .valueOf(xv(i) * alpha).setScale(9, rm)
          i += 1
        }
        val sums = new Array[java.math.BigDecimal](n)
        i = 0
        while (i < m) {
          val d = ed(i)
          val c = castX(es(i))
          sums(d) = if (sums(d) == null) c else sums(d).add(c)
          i += 1
        }
        i = 0
        while (i < n) {
          xv(i) = 1.0 + (if (sums(i) == null) 0.0 else sums(i).doubleValue())
          i += 1
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      val allIds = idx.keys
      i = 0
      while (i < n) {
        rows.add(org.apache.spark.sql.Row(allIds(i), xv(i)))
        i += 1
      }
      val rebuilt = spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("katz",
            org.apache.spark.sql.types.DoubleType))))
      return rebuilt.select(col("node"), round(col("katz"), 6).as("katz"))
    }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var x = nodes.withColumn("katz", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = e.join(x, e("src") === x("node"))
        .select(col("dst"),
          (col("katz") * lit(alpha)).cast(DecimalType(28, 9)).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c_sum"))
      x = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(1.0) + coalesce(col("c_sum").cast("double"), lit(0.0)))
            .as("katz"))
        .localCheckpoint(true)
    }
    x.select(col("node"), round(col("katz"), 6).as("katz"))
  }

  /** Collect a (src, dst) edge frame into a CSR over interned node ids —
    * the driver-finisher front half shared by [[bfsHops]],
    * [[multiSourceHarmonic]] and [[kCore]]. Returns (node ids, CSR
    * offsets, CSR neighbor indices). */
  private def collectCsr(e: DataFrame): (DriverFinisher.Ids, Array[Int],
      Array[Int]) = {
    val idx = new DriverFinisher.Ids
    val Array(es, ed) = idx.intern(DriverFinisher.collectLongs(e): _*)
    val m = es.length
    val n = idx.size
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(es(i)) += 1; i += 1 }
    val aoff = new Array[Int](n + 1)
    i = 0
    while (i < n) { aoff(i + 1) = aoff(i) + deg(i); i += 1 }
    val anbr = new Array[Int](m)
    val acur = java.util.Arrays.copyOf(aoff, n)
    i = 0
    while (i < m) { anbr(acur(es(i))) = ed(i); acur(es(i)) += 1; i += 1 }
    (idx, aoff, anbr)
  }

  private val hopsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("hops",
      org.apache.spark.sql.types.LongType)))

  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    // DRIVER-SIDE BFS when the distinct edge list is collectable: hop
    // levels are pure integers, so the collected flat-queue BFS is the
    // same frontier expansion as the per-hop join+anti-join+checkpoint
    // loop below (~5 jobs per hop) in one collect.
    if (onDriver("bfsHops", e, longKeyed(e, "src", "dst") &&
        longKeyed(sources.select(col("node")), "node"))) {
      val spark = e.sparkSession
      val (idx, aoff, anbr) = collectCsr(e)
      val ids = idx.keys
      val srcIds = sources.select(col("node").cast("long")).distinct()
        .collect().map(_.getLong(0))
      // sources absent from the edge list still emit a hops=0 row
      val extra = srcIds.filterNot(idx.contains)
      val n = idx.size
      val hops = Array.fill(n)(-1L)
      val queue = new Array[Int](n)
      var qh = 0; var qt = 0
      srcIds.foreach { s =>
        idx.get(s).foreach { i =>
          if (hops(i) < 0) { hops(i) = 0L; queue(qt) = i; qt += 1 }
        }
      }
      while (qh < qt) {
        val u = queue(qh); qh += 1
        if (hops(u) < maxHops) {
          var p = aoff(u)
          while (p < aoff(u + 1)) {
            val v = anbr(p)
            if (hops(v) < 0) { hops(v) = hops(u) + 1; queue(qt) = v; qt += 1 }
            p += 1
          }
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      var j = 0
      while (j < n) {
        if (hops(j) >= 0) rows.add(org.apache.spark.sql.Row(ids(j), hops(j)))
        j += 1
      }
      extra.foreach(s => rows.add(org.apache.spark.sql.Row(s, 0L)))
      return spark.createDataFrame(rows, hopsSchema)
    }
    var known = sources.select(col("node"), lit(0L).as("hops"))
      .distinct().localCheckpoint(true)
    var frontier = known
    var fCnt = frontier.count()
    var hop = 0L
    while (hop < maxHops && fCnt > 0) {
      hop += 1
      // the frontier is the small side and its checkpoint lost the size
      // stats — broadcast it while it fits so the edge list never
      // re-shuffles per hop (the pageRank posture)
      val f = if (fCnt <= 2000000L) broadcast(frontier) else frontier
      val next = f
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(known.select(col("node").as("__k")), col("node") === col("__k"), "left_anti")
        .select(col("node"), lit(hop).as("hops"))
        .localCheckpoint(true)
      known = known.unionByName(next).localCheckpoint(true)
      frontier = next
      fCnt = frontier.count()
    }
    known
  }

  /** Bounded-depth HARMONIC CENTRALITY for a PANEL of source nodes —
    * per source s: Σ_{v reached, d(s,v) ≥ 1} 1/d(s,v) within `maxHops`,
    * the bounded form large-graph centrality actually ships (exact
    * closeness needs all-pairs distances; harmonic truncates gracefully
    * and handles disconnection for free). [[bfsHops]] generalized to
    * carry the source id: frontier rows are (src, node), so k panel
    * sources run as k BFS lattices SHARING each round's edge join — one
    * shuffle per hop total, never one BFS pass per source. Dedup is the
    * same known-set anti-join, per (src, node). The 1/d terms land once
    * on the 1e-9 grid and decimal-sum. Panel size is the caller's
    * contract (the q431 fixed-panel posture); per-round lineage cuts.
    */
  def multiSourceHarmonic(
      edges: DataFrame,
      sources: DataFrame,
      maxHops: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxHops >= 1)
    val e = edges.select(col("src").as("__es"), col("dst").as("__ed"))
      .distinct().localCheckpoint(true)
    // DRIVER-SIDE panel BFS when the edge list is collectable (see
    // [[bfsHops]]): one flat BFS per panel source over the shared CSR
    // replaces maxHops×(join+distinct+anti-join+2 checkpoints) jobs.
    // The harmonic 1/d decimal aggregation stays DISTRIBUTED over the
    // rebuilt (src, node, hops) frame, so the rounding/decimal-sum
    // semantics are Spark's own, bit-identical to the loop below.
    if (onDriver("multiSourceHarmonic", e, longKeyed(e, "__es", "__ed") &&
        longKeyed(sources.select(col("node")), "node"))) {
      val spark = e.sparkSession
      val (idx, aoff, anbr) = collectCsr(e)
      val ids = idx.keys
      val srcIds = sources.select(col("node").cast("long")).distinct()
        .collect().map(_.getLong(0))
      val n = idx.size
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      val hops = new Array[Long](n)
      val queue = new Array[Int](n)
      srcIds.foreach { s =>
        java.util.Arrays.fill(hops, -1L)
        var qh = 0; var qt = 0
        idx.get(s).foreach { i => hops(i) = 0L; queue(qt) = i; qt += 1 }
        while (qh < qt) {
          val u = queue(qh); qh += 1
          if (hops(u) < maxHops) {
            var p = aoff(u)
            while (p < aoff(u + 1)) {
              val v = anbr(p)
              if (hops(v) < 0) { hops(v) = hops(u) + 1; queue(qt) = v; qt += 1 }
              p += 1
            }
          }
        }
        var j = 0
        while (j < n) {
          if (hops(j) >= 1L)
            rows.add(org.apache.spark.sql.Row(s, ids(j), hops(j)))
          j += 1
        }
      }
      val lattice = spark.createDataFrame(
        spark.sparkContext.parallelize(
          scala.jdk.CollectionConverters.ListHasAsScala(rows).asScala.toSeq,
          math.max(1, spark.sparkContext.defaultParallelism)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("src",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("hops",
            org.apache.spark.sql.types.LongType))))
      return lattice
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_reached"), max(col("hops")).as("max_hop"),
          sum(round(lit(1.0) / col("hops").cast("double"), 9)
            .cast(DecimalType(18, 9))).as("__h"))
        .select(col("src"), col("n_reached"), col("max_hop"),
          round(col("__h").cast("double"), 6).as("harmonic"))
    }
    var known = sources.select(col("node").as("src"), col("node"),
      lit(0L).as("hops")).distinct().localCheckpoint(true)
    var frontier = known
    var fCnt = frontier.count()
    var hop = 0L
    while (hop < maxHops && fCnt > 0) {
      hop += 1
      // broadcast the (src, node) frontier lattice while it fits — the
      // edge list must not re-shuffle per hop (the pageRank posture)
      val f = if (fCnt <= 2000000L) broadcast(frontier) else frontier
      val next = f
        .join(e, col("node") === col("__es"))
        .select(col("src"), col("__ed").as("node")).distinct()
        .join(known.select(col("src").as("__ks"), col("node").as("__kn")),
          col("src") === col("__ks") && col("node") === col("__kn"),
          "left_anti")
        .select(col("src"), col("node"), lit(hop).as("hops"))
        .localCheckpoint(true)
      known = known.unionByName(next).localCheckpoint(true)
      frontier = next
      fCnt = frontier.count()
    }
    known.filter(col("hops") >= 1L)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_reached"), max(col("hops")).as("max_hop"),
        sum(round(lit(1.0) / col("hops").cast("double"), 9)
          .cast(DecimalType(18, 9))).as("__h"))
      .select(col("src"), col("n_reached"), col("max_hop"),
        round(col("__h").cast("double"), 6).as("harmonic"))
  }

  /** Per-node triangle counts over an undirected edge list (`src`, `dst`).
    *
    * The classic degree-ordered orientation: every edge points from its
    * lower to its higher endpoint under the TOTAL order (degree, id), so
    * each triangle is generated exactly once — as a wedge at its
    * lowest-ordered vertex closed by one oriented edge — and the wedge
    * fan-out per vertex is bounded by its oriented OUT-degree, which
    * degree-ordering caps near the graph's arboricity (√m for the worst
    * vertex) instead of the raw degree. That is the difference between a
    * hub with 10M neighbors exploding into 10¹⁴ wedges and staying at ~m.
    * Three shuffles total (degree join, wedge self-join, closing-edge
    * join); no global rank table — the order is compared tuple-wise, so
    * nothing needs a single-partition window.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // materialize the canonical edge list ONCE: it feeds the degree count
    // (twice, via the union), the orientation join, and — through
    // `oriented` — both wedge sides; without the cut, the caller's whole
    // edge-construction pipeline (often a self-join) re-executes per
    // reference (measured 19s → 3s on the co-occurrence graph at sf0.1)
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val lowFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst"),
        when(lowFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint(true) // reused by both wedge sides and the probe
    val wedges = oriented.select(col("src"), col("dst").as("u"),
        col("ddeg").as("du"))
      .join(oriented.select(col("src"), col("dst").as("v"),
        col("ddeg").as("dv")), Seq("src"))
      // (deg, id) ordering makes the closing edge's direction knowable:
      // it can only be oriented u -> v
      .filter(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
    val triangles = wedges
      .join(oriented.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"))
      .select(col("src"), col("u"), col("v"))
    triangles.select(col("src").as("node"))
      .unionAll(triangles.select(col("u").as("node")))
      .unionAll(triangles.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient: 2·triangles / (deg·(deg−1)) —
    * the community-density metric (how close a node's neighborhood is to
    * a clique). Triangle counting rides the degree-ordered orientation of
    * [[triangleCounts]] (arboricity-bounded wedge fan-out, the 100 TB
    * property); degrees are one combine over the canonical edge list.
    * Degree-1 nodes report 0 by convention.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(und.select(col("a").as("src"), col("b").as("dst")))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff", when(col("degree") >= 2,
        round(lit(2.0) * col("n_triangles").cast("double") /
          (col("degree").cast("double") *
            (col("degree").cast("double") - lit(1.0))), 6))
        .otherwise(lit(0.0)))
  }

  /** k-core: the maximal subgraph in which every node keeps degree >= k,
    * found by iterative peeling — drop all nodes below k, recompute
    * degrees on the surviving edges, repeat to the fixpoint. Returns the
    * surviving `(node, core_deg)` rows (degree within the core).
    *
    * Each round is one map-side-combined degree aggregation plus two
    * semi-joins of the edge list against the keep set — shuffles sized by
    * the SHRINKING edge list, never more than the input. Peeling is
    * monotone (nodes only leave), so rounds beyond the fixpoint are
    * no-ops — the property the oracle's unrolled replay relies on — and
    * convergence is detected by edge count, one count per round.
    * Edge tables are localCheckpoint'd per round (lineage cut, like
    * [[pageRank]]); undirected input is canonicalized first.
    */
  /** ATTRIBUTE MODULARITY — Newman's Q for a GIVEN node partition (an
    * attribute like brand/nation/language, or a community assignment):
    * Q = Σ_c [ e_c/m − (d_c/2m)² ], the excess of within-community edge
    * mass over the degree-preserving random expectation. Q near 0 means
    * the attribute does NOT explain the graph's wiring; Q ≫ 0 means it
    * does — the quantitative check on any "communities = X" claim (the
    * measured-not-assumed meter for the q238 label-prop shelf, usable on
    * any labeling). One degree census + one both-endpoints-labeled edge
    * pass; communities are a bounded domain, every per-community term is
    * an O(1) ratio on the 1e-9 grid. Input contract: undirected edge
    * list, each edge once; `labels` maps node → community (nodes missing
    * a label are dropped from both masses, reported via n_unlabeled).
    */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dbl(c: Column): Column = c.cast("double")
    val e = pairs.select(col("id_a"), col("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
      .localCheckpoint(true) // degree census + labeled-edge pass
    val lab = labels.select(col("node"), col("community"))
    val deg = e.select(col("id_a").as("node"))
      .unionAll(e.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val labeledDeg = deg.join(lab, Seq("node"), "left")
      .localCheckpoint(true) // node census, two readers
    val m = e.count().toDouble
    require(m > 0.0, "modularity needs at least one edge")
    val ec = e
      .join(lab.select(col("node").as("id_a"), col("community").as("ca")),
        Seq("id_a"))
      .join(lab.select(col("node").as("id_b"), col("community").as("cb")),
        Seq("id_b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val dc = labeledDeg.filter(col("community").isNotNull)
      .groupBy(col("community")).agg(sum(col("deg")).as("d_c"))
    val perC = dc.join(ec, Seq("community"), "left")
      .select(col("community"), coalesce(col("e_in"), lit(0L)).as("e_in"),
        col("d_c"),
        round(dbl(coalesce(col("e_in"), lit(0L))) / lit(m) -
          (dbl(col("d_c")) / (lit(2.0) * lit(m))) *
            (dbl(col("d_c")) / (lit(2.0) * lit(m))), 9)
          .cast(DecimalType(18, 9)).as("term"))
      .localCheckpoint(true) // community-domain frame, two readers
    val unlabeled = labeledDeg.filter(col("community").isNull).count()
    perC.agg(count(lit(1)).as("n_communities"),
        sum(col("e_in")).as("within_edges"),
        sum(col("term")).as("__q"))
      .select(col("n_communities"), col("within_edges"),
        lit(m.toLong).as("n_edges"), lit(unlabeled).as("n_unlabeled"),
        round(col("__q").cast("double"), 9).as("q"))
  }

  /** RICH-CLUB coefficient — for each degree threshold k, the realized
    * edge density among the nodes with degree > k:
    * φ(k) = 2·E_k / (N_k·(N_k − 1)). A rising φ(k) means the hubs
    * preferentially wire to each other (the supplier-oligopoly /
    * power-user-clique structure q452's global assortativity averages
    * away); a flat φ is degree mixing at random. Input contract:
    * undirected edge list, each edge once (id_a ≠ id_b after dedup).
    * One degree census, then the threshold sweep rides a broadcast
    * k-spine over the node census and the degree-joined edges — the
    * edge table is scanned once per sweep, never self-joined.
    */
  def richClub(pairs: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.distinct.size == ks.size, "distinct thresholds")
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = pairs.select(col("id_a"), col("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
      .localCheckpoint(true) // two readers: degree census and club edges
    val deg = e.select(col("id_a").as("n"))
      .unionAll(e.select(col("id_b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // node census, three readers
    val spine = broadcast(ks.map(_.toLong).toDF("k"))
    val nk = deg.crossJoin(spine).filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_club"))
    val ek = e
      .join(deg.select(col("n").as("id_a"), col("deg").as("da")), Seq("id_a"))
      .join(deg.select(col("n").as("id_b"), col("deg").as("db")), Seq("id_b"))
      .crossJoin(spine).filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_club"))
    spine.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_club"), lit(0L)).as("n_club"),
        coalesce(col("e_club"), lit(0L)).as("e_club"),
        when(coalesce(col("n_club"), lit(0L)) >= 2L,
          round(lit(2.0) * coalesce(col("e_club"), lit(0L)).cast("double") /
            (col("n_club").cast("double") *
              (col("n_club").cast("double") - lit(1.0))), 6)).as("phi"))
      .orderBy(col("k"))
  }

  def kCore(edges: DataFrame, k: Long, maxRounds: Int = 40): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    var e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    var nEdges = e.count()
    // DRIVER-SIDE PEEL when the canonical edge list is collectable: the
    // round-synchronized degree prune is pure
    // integer arithmetic, and peeling to the fixpoint removes exactly
    // the same edges whatever the round split — the k-core is the
    // unique maximal subgraph with min-degree ≥ k. The distributed
    // loop's maxRounds bound only guards divergence; the driver cascade
    // always reaches the fixpoint.
    if (DriverFinisher.fits("kCore", DriverFinisher.GraphEdges,
        longKeyed(e, "a", "b"))(nEdges)) {
      val spark = e.sparkSession
      val (idx, aoff, anbr) = collectCsr(e.select(col("a"), col("b"))
        .unionAll(e.select(col("b"), col("a"))))
      val ids = idx.keys
      val n = ids.length
      val deg = new Array[Int](n)
      var i = 0
      while (i < n) { deg(i) = aoff(i + 1) - aoff(i); i += 1 }
      val alive = Array.fill(n)(true)
      val queue = new Array[Int](n)
      var qt = 0
      i = 0
      while (i < n) {
        if (deg(i) < k) { alive(i) = false; queue(qt) = i; qt += 1 }
        i += 1
      }
      var qh = 0
      while (qh < qt) {
        val u = queue(qh); qh += 1
        var p = aoff(u)
        while (p < aoff(u + 1)) {
          val v = anbr(p)
          if (alive(v)) {
            deg(v) -= 1
            if (deg(v) < k) { alive(v) = false; queue(qt) = v; qt += 1 }
          }
          p += 1
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      i = 0
      while (i < n) {
        if (alive(i)) rows.add(org.apache.spark.sql.Row(ids(i), deg(i).toLong))
        i += 1
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("core_deg",
            org.apache.spark.sql.types.LongType))))
    }
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      val pruned = e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .localCheckpoint(true)
      val nNext = pruned.count()
      converged = nNext == nEdges
      e = pruned
      nEdges = nNext
      round += 1
    }
    require(converged, s"k-core did not stabilize within $maxRounds rounds")
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** LABEL PROPAGATION communities over a symmetric edge list `(src,
    * dst)`: every node starts labelled by its own id, and each
    * synchronous round relabels a node with the label most common among
    * its neighbors, ties to the smallest label. A fixed `rounds` is what
    * an oracle can replay as unrolled CTEs. A node is labelled in a
    * round when one of its out-neighbors was labelled in the round
    * before (round 0 labels every node with an out-edge), so on a
    * symmetric graph every node keeps a label. Returns `(node, label)`.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // DRIVER-SIDE propagation when the edge list is collectable: each
    // round's winner is pure integer arithmetic — neighbor-label counts,
    // max count then min label — identical to the min-struct below.
    if (DriverFinisher.fits("labelPropagation", DriverFinisher.SmallGraphEdges,
        longKeyed(e, "src", "dst"))(e.count())) {
      import scala.collection.mutable
      val spark = e.sparkSession
      val idx = new DriverFinisher.Ids
      val Array(es, ed) = idx.intern(DriverFinisher.collectLongs(e): _*)
      val m = es.length
      val allIds = idx.keys
      val n = allIds.length
      var has = new Array[Boolean](n)
      es.foreach(has(_) = true)
      var lab = allIds.clone() // round 0: every node labels itself
      for (_ <- 1 to rounds) {
        val cnts = Array.fill(n)(new mutable.LongMap[Long](8))
        var i = 0
        while (i < m) {
          if (has(ed(i))) {
            val c = cnts(es(i))
            val l = lab(ed(i))
            c.update(l, c.getOrElse(l, 0L) + 1L)
          }
          i += 1
        }
        val next = new Array[Long](n)
        i = 0
        while (i < n) {
          var bestC = -1L; var bestL = 0L
          cnts(i).foreach { case (l, c) =>
            if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
          }
          next(i) = bestL
          i += 1
        }
        lab = next
        has = cnts.map(_.nonEmpty)
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      var i = 0
      while (i < n) {
        if (has(i)) rows.add(org.apache.spark.sql.Row(allIds(i), lab(i)))
        i += 1
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType))))
    }
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      // labels are node-sized: broadcast (a checkpointed table's default
      // size stat would shuffle the edge list every round), and take the
      // per-node winner as one map-side-combinable min-struct — (max c,
      // then min label) is exactly the oracle window's (c desc, label asc)
      // for a label of any orderable type
      val cnt = e.join(broadcast(labels), e("dst") === labels("node"))
        .groupBy(e("src").as("n2"), col("label"))
        .agg(count(lit(1)).as("c"))
      labels = cnt
        .groupBy(col("n2"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("s"))
        .select(col("n2").as("node"), col("s.label").as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** FULL ancestor closure of a parent-pointer tree/forest `(id, parent)`:
    * every (id, ancestor, depth) pair including (id, id, 0) — the general
    * form of [[rootClosure]] (which keeps only the terminal ancestor).
    *
    * Pointer-doubling: each round joins the closure with itself, so depth
    * coverage DOUBLES per round — a depth-d hierarchy closes in ⌈log₂ d⌉
    * joins, not d (the difference between 4 and 40 shuffles on a deep
    * product taxonomy). In a forest each (id, anc) pair has exactly one
    * path, so `distinct()` on the triple is exact deduplication.
    * Convergence = fixpoint of the pair count, checkpointed per round.
    */
  def ancestorClosure(nodes: DataFrame, maxRounds: Int = 20): DataFrame = {
    var closure = nodes
      .select(col("id"), col("id").as("anc"), lit(0L).as("depth"))
      .unionAll(nodes.filter(col("parent").isNotNull)
        .select(col("id"), col("parent").as("anc"), lit(1L).as("depth")))
      .distinct()
      .localCheckpoint(true)
    var n = closure.count()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val hop = closure.select(col("id").as("h_id"), col("anc").as("h_anc"),
        col("depth").as("h_depth"))
      val next = closure
        .unionAll(closure.join(hop, closure("anc") === hop("h_id"))
          .select(col("id"), col("h_anc").as("anc"),
            (col("depth") + col("h_depth")).as("depth")))
        .distinct()
        .localCheckpoint(true)
      val nNext = next.count()
      converged = nNext == n
      closure = next
      n = nNext
      round += 1
    }
    require(converged, s"closure did not fix within $maxRounds rounds")
    closure
  }

  /** Hierarchical subtree rollup: for every node, the exact-decimal total
    * and row count of `valueCol` over its entire subtree (self included) —
    * the OLAP "aggregate up the taxonomy" primitive.
    *
    * Shape: the closure join fans each fact row out to its O(depth)
    * ancestors — at 100 TB that multiplier is the tree depth (single
    * digits for real taxonomies), then one aggregation on the ancestor
    * key. No iteration touches the fact table; only the metadata-sized
    * node table iterates (inside [[ancestorClosure]]).
    */
  def subtreeRollup(
      nodes: DataFrame,
      values: DataFrame,
      idCol: String,
      valueCol: String): DataFrame = {
    val closure = ancestorClosure(nodes)
    values.select(col(idCol).as("id"),
        col(valueCol).cast(DecimalType(18, 2)).as("__v"))
      .join(closure, Seq("id"))
      .groupBy(col("anc").as("node"))
      .agg(count(lit(1)).as("n_nodes"),
        max(col("depth")).as("subtree_depth"),
        sum(col("__v")).cast("double").as("subtree_total"))
  }

  /** Bounded-round single-source shortest paths over a weighted edge list
    * (`src`, `dst`, `w` — integer weights): distributed Bellman-Ford.
    *
    * Each round relaxes EVERY tentative distance through every edge in one
    * equi-join on `src` and folds the result with a min-aggregate — the
    * set-oriented formulation (no per-vertex priority queue, which cannot
    * be distributed). After `rounds` rounds the distances are exact for all
    * nodes reachable within that many hops, which is the standard bounded
    * variant for batch graphs whose diameter is known small (bipartite
    * entity graphs like customer↔supplier are 2–6 hops wide).
    *
    * Per-round cost: one shuffle of |frontier ⋈ edges| + one min-combine;
    * `localCheckpoint` cuts the lineage so round N's plan does not replay
    * rounds 1..N-1 — the same discipline as [[bfsHops]]/[[kCore]]. At
    * 1000 executors each round is a plain shuffled join, the 100 TB shape.
    */
  def shortestPaths(
      edges: DataFrame,
      sources: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0)
    val e = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .localCheckpoint(true)
    // DRIVER-SIDE BELLMAN–FORD when the edge list is collectable: every
    // relaxation is exact long arithmetic, so the collected loop is the
    // same min-plus fold as the per-round join+min below without
    // rounds×3 jobs — with the free fixpoint early-exit (min-plus is
    // idempotent: once no distance changes, further rounds are identity).
    if (onDriver("shortestPaths", e, longKeyed(e, "src", "dst") &&
        longKeyed(sources.select(col("node")), "node"))) {
      val spark = e.sparkSession
      val Array(xs, xd, ew) = DriverFinisher.collectLongs(e)
      val idx = new DriverFinisher.Ids
      val Array(es, ed) = idx.intern(xs, xd)
      val m = es.length
      val srcIds = sources.select(col("node").cast("long")).distinct()
        .collect().map(_.getLong(0))
      srcIds.foreach(idx(_)) // sources unseen in edges still get a row
      val n = idx.size
      val dist = Array.fill(n)(Long.MaxValue)
      val reached = new Array[Boolean](n)
      srcIds.foreach { s => val i = idx(s); dist(i) = 0L; reached(i) = true }
      var round = 0
      var changed = true
      while (round < rounds && changed) {
        changed = false
        // two-phase (gather then commit) = the synchronized round below:
        // a relaxation sees only LAST round's distances
        val next = dist.clone()
        var i = 0
        while (i < m) {
          if (reached(es(i))) {
            // unreached next(j) is the MaxValue sentinel, so `cand <`
            // covers both first-touch and improvement
            val cand = dist(es(i)) + ew(i)
            if (cand < next(ed(i))) { next(ed(i)) = cand; changed = true }
          }
          i += 1
        }
        var j = 0
        while (j < n) {
          if (next(j) != Long.MaxValue) reached(j) = true
          dist(j) = next(j); j += 1
        }
        round += 1
      }
      val allIds = idx.keys
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      var j = 0
      while (j < n) {
        if (reached(j)) rows.add(org.apache.spark.sql.Row(allIds(j), dist(j)))
        j += 1
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dist",
            org.apache.spark.sql.types.LongType))))
    }
    var dist = sources.select(col("node"), lit(0L).as("dist"))
      .distinct().localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // dist is node-bounded and its checkpoint lost the size stats —
      // broadcast while it fits so the edge list never re-shuffles
      val d = if (dist.count() <= 2000000L) broadcast(dist) else dist
      val relaxed = d.join(e, dist("node") === e("src"))
        .select(e("dst").as("node"), (dist("dist") + e("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Sum-product weighted closure over a DAG — the BOM EXPLOSION: for an
    * edge list `(src, dst, qty)` ("one src needs qty dsts"), the total
    * quantity of every transitive component per ancestor, i.e.
    * Σ over all src→dst paths of the PRODUCT of edge quantities.
    *
    * Unlike min-plus ([[shortestPaths]]), the sum-product semiring is not
    * idempotent, so pointer doubling would double-count a path's split
    * decompositions; the unique-prefix recursion S₁ = A,
    * Sᵢ₊₁ = A + A·Sᵢ (first hop ∘ rest-of-path — every path decomposes
    * exactly once) stays exact in `rounds` linear rounds, covering all
    * paths up to `rounds` hops — the bounded-depth contract every BOM
    * system imposes anyway. Quantities accumulate in DECIMAL(38,0): path
    * products grow multiplicatively and must not wrap a long silently.
    *
    * Per-round cost: one equi-join of the closure against the edge list
    * on the first hop + one sum-combine; `localCheckpoint` cuts lineage.
    * Cycles make the closure diverge by definition (a part cannot contain
    * itself) — feed DAGs only.
    */
  def weightedClosure(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val dec = DecimalType(38, 0)
    val e = edges.select(col("src"), col("dst"), col("qty").cast(dec).as("qty"))
      .localCheckpoint(true)
    var closure = e.select(col("src"), col("dst"), col("qty").as("total_qty"))
    for (_ <- 2 to rounds) {
      val extended = e.as("a")
        .join(closure.as("s"), col("a.dst") === col("s.src"))
        .select(col("a.src").as("src"), col("s.dst").as("dst"),
          (col("a.qty") * col("s.total_qty")).cast(dec).as("total_qty"))
      closure = e.select(col("src"), col("dst"), col("qty").as("total_qty"))
        .unionByName(extended)
        .groupBy(col("src"), col("dst"))
        .agg(sum(col("total_qty")).cast(dec).as("total_qty"))
        .localCheckpoint(true)
    }
    closure
  }

  /** BORŮVKA minimum spanning forest — the BULK-PARALLEL MST algorithm
    * (Kruskal needs a global edge sort + sequential union-find; Prim
    * grows one frontier at a time; Borůvka lets EVERY component pick its
    * cheapest outgoing edge simultaneously, halving the component count
    * per round → O(log n) rounds of joins/aggregations, the only MST
    * shape that survives 1000 executors). Weights MUST be distinct
    * (hash-derive them) — with distinct weights the MSF is unique, the
    * simultaneous picks can't close a cycle longer than 2, and the one
    * 2-cycle case (two components choosing each other) is broken by
    * rooting at the smaller component id. Component merging is
    * [[rootClosure]] pointer jumping over the COMPONENT-level pointer
    * graph (component-domain-sized, never edges).
    *
    * `edges`: (src, dst, w) undirected, one row per edge. Returns the
    * forest's (src, dst, w) rows in the input orientation.
    */
  def minimumSpanningForest(
      edges: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(true)
    // DRIVER-SIDE KRUSKAL while the edge list is collectable: Borůvka's
    // log-n synchronized rounds each pay several Spark jobs PLUS a nested
    // pointer-jumping loop — tens of fixed-overhead round-trips on a
    // component table that is tiny from round one. Sort-once union-find gives
    // the same forest: with distinct weights the MSF is unique; with
    // ties both paths are deterministic ((w, src, dst) order here, the
    // lexicographic struct min below) but may differ — callers needing
    // cross-path identity supply distinct weights (as q367 does).
    if (DriverFinisher.fits("minimumSpanningForest",
        DriverFinisher.SmallGraphEdges)(e0.count())) {
      import scala.collection.mutable
      val spark = e0.sparkSession
      val Array(xs, xd, xw) = DriverFinisher.collectLongs(e0)
      val all = Array.tabulate(xs.length)(i => (xw(i), xs(i), xd(i)))
      java.util.Arrays.sort(all, implicitly[Ordering[(Long, Long, Long)]])
      val parent = new mutable.LongMap[Long](1 << 16)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent.update(c, r); c = nxt
        }
        r
      }
      val picked = mutable.ArrayBuffer.empty[(Long, Long, Long)]
      all.foreach { case (w, s, d) =>
        val rs = find(s); val rd = find(d)
        if (rs != rd) { parent.update(rs, rd); picked += ((s, d, w)) }
      }
      import spark.implicits._
      return spark.sparkContext
        .parallelize(picked.toSeq, math.max(1, picked.length / 500000 + 1))
        .toDF("src", "dst", "w")
    }
    val nodes = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id"))).distinct()
    var comp = nodes.select(col("id"), col("id").as("c")).localCheckpoint(true)
    var forest = e0.limit(0).localCheckpoint(true)
    var round = 0
    var active = 1L
    while (active > 0 && round < maxRounds) {
      val cs = comp.select(col("id").as("src"), col("c").as("cs"))
      val cd = comp.select(col("id").as("dst"), col("c").as("cd"))
      val e2 = fresh(e0.join(cs, "src").join(cd, "dst")
        .filter(col("cs") =!= col("cd")))
      active = e2.count()
      if (active > 0) {
        // every inter-component edge is OUTGOING for both endpoints
        val cand = e2.select(col("cs").as("c"),
            struct(col("w"), col("src"), col("dst"), col("cd").as("o")).as("e"))
          .unionByName(e2.select(col("cd").as("c"),
            struct(col("w"), col("src"), col("dst"), col("cs").as("o")).as("e")))
        // struct min is lexicographic and w leads: distinct weights make
        // the per-component pick unique and engine-independent
        val minE = fresh(cand.groupBy(col("c")).agg(min(col("e")).as("e")))
        forest = fresh(forest.unionByName(
            minE.select(col("e.src").as("src"), col("e.dst").as("dst"),
              col("e.w").as("w")).distinct()))
        // component pointer graph c -> other; mutual picks (the only
        // possible cycles) root at the smaller id, giving a forest
        val ptr0 = minE.select(col("c"), col("e.o").as("p"))
        val back = ptr0.select(col("c").as("c2"), col("p").as("p2"))
        val ptr = ptr0.join(back,
            ptr0("c") === col("p2") && ptr0("p") === col("c2"), "left")
          .select(ptr0("c").as("id"),
            when(col("c2").isNotNull && ptr0("c") < ptr0("p"),
              lit(null).cast("long")).otherwise(ptr0("p")).as("parent"))
        val rootMap = rootClosure(ptr, maxRounds)
          .select(col("id").as("cOld"), col("root").as("cNew"))
        comp = fresh(comp.join(rootMap, comp("c") === col("cOld"), "left")
          .select(col("id"), coalesce(col("cNew"), col("c")).as("c")))
      }
      round += 1
    }
    require(active == 0, s"Borůvka did not converge within $maxRounds rounds")
    forest
  }

  /** LONGEST PATH (critical path) through a weighted DAG by
    * layer-synchronous relaxation: start every root (in-degree 0) at 0,
    * and each round relax dist(v) = max(dist(v), max over incoming
    * edges of dist(p) + w). In a DAG the relaxation converges in
    * longest-path-length rounds — each round ONE equi-join shuffle of
    * the edge list against the current frontier plus one max-aggregate,
    * the bulk-parallel schedule-analysis shape (project CPM, pipeline
    * latency, dependency build times). Negative weights are fine (max
    * relaxation, no cycles by contract); `maxRounds` bounds runaway
    * input that is not actually acyclic — convergence before the bound
    * is REQUIRED, so a cycle fails loudly instead of silently capping.
    */
  def longestPathDag(edges: DataFrame, maxRounds: Int): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(true)
    val nodes = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id"))).distinct()
    val dsts = e0.select(col("dst").as("id")).distinct()
    var dist = nodes.join(dsts, Seq("id"), "left_anti")
      .select(col("id"), lit(0L).as("d")).localCheckpoint(true)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val relaxed = dist.join(e0, dist("id") === e0("src"))
        .select(col("dst").as("id"), (col("d") + col("w")).as("d"))
        .unionByName(dist)
        .groupBy(col("id")).agg(max(col("d")).as("d"))
        .localCheckpoint(true)
      changed = relaxed.as("n").join(dist.as("o"), Seq("id"), "left")
        .filter(col("o.d").isNull || col("n.d") =!= col("o.d")).count()
      dist = relaxed
      round += 1
    }
    require(changed == 0,
      s"longestPathDag did not converge within $maxRounds rounds — cycle?")
    dist
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a bipartite edge
    * list `(hub, auth)`: alternating power iteration — authority =
    * Σ hub scores pointing at it, hub = Σ authority scores it points
    * at. Every round is ONE edge equi-join + aggregate per direction
    * (the [[pageRank]] schedule). Scores stay EXACT INTEGERS in
    * DECIMAL(38,0): normalization is monotone, so the RANKING is
    * identical to the normalized fixed point and the whole iteration
    * replays with zero floating point anywhere — callers report
    * relative scores by integer division (the q364 exact-arithmetic
    * posture). Magnitudes grow by ~(avg in-degree × avg out-degree)
    * per round: `rounds` × log₁₀(degree product) must stay under 38 —
    * at 8 rounds that allows degree products of 50,000 per round,
    * far past any real catalog. Fixed `rounds` — power iteration
    * converges geometrically and a fixed count is what an oracle can
    * replay (the q224/q388 unroll pattern).
    */
  def hits(
      edges: DataFrame,
      hubCol: String,
      authCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1)
    val d38 = DecimalType(38, 0)
    val e = edges.select(col(hubCol).cast("long").as("h"),
      col(authCol).cast("long").as("a")).distinct().localCheckpoint(true)
    val mEdges = e.count()
    // DRIVER-SIDE POWER LOOP when the distinct edge list is collectable:
    // the alternating hub/auth updates are EXACT INTEGER sums
    // (DECIMAL(38,0) adds of integers), so a BigInteger gather over a
    // collected CSR is the same arithmetic with none of the 2×rounds
    // join+aggregate+checkpoint jobs. The edge BUILD (scan/join/distinct)
    // stays distributed.
    if (DriverFinisher.fits("hits", DriverFinisher.GraphEdges)(mEdges)) {
      val spark = e.sparkSession
      val Array(xh, xa) = DriverFinisher.collectLongs(e)
      val hubIdx = new DriverFinisher.Ids
      val authIdx = new DriverFinisher.Ids
      val Array(eh) = hubIdx.intern(xh)
      val Array(ea) = authIdx.intern(xa)
      val m = eh.length
      val nH = hubIdx.size; val nA = authIdx.size
      var hubS = Array.fill(nH)(java.math.BigInteger.ONE)
      var authS: Array[java.math.BigInteger] = null
      val zero = java.math.BigInteger.ZERO
      for (_ <- 1 to rounds) {
        authS = Array.fill(nA)(zero)
        var i = 0
        while (i < m) { authS(ea(i)) = authS(ea(i)).add(hubS(eh(i))); i += 1 }
        hubS = Array.fill(nH)(zero)
        i = 0
        while (i < m) { hubS(eh(i)) = hubS(eh(i)).add(authS(ea(i))); i += 1 }
      }
      val hubArr = hubIdx.keys; val authArr = authIdx.keys
      def frame(ids: Array[Long], ss: Array[java.math.BigInteger],
          idName: String, sName: String): DataFrame = {
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
        var i = 0
        while (i < ids.length) {
          rows.add(org.apache.spark.sql.Row(
            ids(i), new java.math.BigDecimal(ss(i))))
          i += 1
        }
        spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idName,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(sName, d38))))
      }
      return (frame(hubArr, hubS, "h", "hs"), frame(authArr, authS, "a", "asc"))
    }
    var hub = e.select(col("h")).distinct()
      .select(col("h"), lit(1L).cast(d38).as("hs"))
      .localCheckpoint(true)
    // localCheckpoint resets the score tables' size statistics, so the
    // per-round edge⋈score joins would silently lose auto-broadcast and
    // re-shuffle the whole edge list 2×rounds times. The score tables
    // are node-sized — broadcast them explicitly while they fit; above
    // the guard the shuffle join is the right plan anyway (the
    // pageRank posture). Guarded by the edge count, which bounds both
    // node sets.
    val bcastScores = mEdges <= 1000000L
    def maybeB(d: DataFrame): DataFrame = if (bcastScores) broadcast(d) else d
    var auth: DataFrame = null
    for (_ <- 1 to rounds) {
      auth = e.join(maybeB(hub), Seq("h")).groupBy(col("a"))
        .agg(sum(col("hs")).as("asc")).localCheckpoint(true)
      hub = e.join(maybeB(auth), Seq("a")).groupBy(col("h"))
        .agg(sum(col("asc")).as("hs")).localCheckpoint(true)
    }
    (hub, auth)
  }

  /** BUTTERFLY (4-cycle) counts in a bipartite graph — the bipartite
    * analog of [[triangleCounts]]: a butterfly is two nodes sharing TWO
    * connectors, the smallest unit of bipartite clustering (co-purchase
    * redundancy, spam-ring structure). Exact count without enumerating
    * 4-cycles: per node pair with s shared connectors, C(s,2)
    * butterflies — so the whole census rides the same per-connector
    * pair join as [[adamicAdar]] (cost Σdeg², never node²), then pure
    * integer arithmetic s(s−1)/2. Returns the topN participating node
    * pairs with the global total on every row.
    */
  def butterflyCounts(
      df: DataFrame,
      nodeCol: String,
      viaCol: String,
      topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 1)
    val nv = df.select(col(nodeCol).cast("long").as("n"),
      col(viaCol).cast("long").as("v")).distinct()
    // pairs via ONE sorted per-connector array + row-local unroll (the
    // basketPairRows shape) instead of the incidence self-join: the
    // degree filter reads off the array size, and the join that re-keyed
    // both incidence branches is gone. A connector's array is
    // degree-sized — strictly cheaper than the deg² pair rows the same
    // connector emits right after (pair multiset identical: sorted i<j
    // ≡ a.n < b.n over the same distinct incidence rows).
    val pairs = nv.groupBy(col("v"))
      .agg(array_sort(collect_list(col("n"))).as("ns"))
      .filter(size(col("ns")) >= 2)
      .select(explode(flatten(transform(col("ns"), (x, i) =>
        transform(slice(col("ns"), i + lit(2), size(col("ns"))), y =>
          struct(x.as("n1"), y.as("n2")))))).as("__p"))
      .groupBy(col("__p.n1").as("n1"), col("__p.n2").as("n2"))
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= 2)
      .withColumn("bf", expr("(s * (s - 1)) div 2"))
    val tot = Window.partitionBy()
    pairs
      .withColumn("total_butterflies",
        sum(col("bf").cast(DecimalType(38, 0))).over(tot).cast("long"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("bf").desc, col("n1"), col("n2"))))
      .filter(col("rn") <= topN)
      .select(col("rn").cast("long").as("rank"), col("n1"), col("n2"),
        col("s").as("n_shared"), col("bf").as("butterflies"),
        col("total_butterflies"))
  }

  /** ADAMIC–ADAR link prediction over a bipartite incidence list
    * `(node, via)`: score(n1, n2) = Σ over shared connectors of
    * 1/ln(degree(via)) — common neighbors, discounted by how promiscuous
    * each connector is (two parts sharing a 2-part order is signal; a
    * 50-part order says almost nothing). Pairs materialize ONLY per
    * connector (a self-join inside the via key), so the cost is
    * Σ deg(via)², never node²; connectors with degree > `maxDegree`
    * are dropped outright — the LSH-band-cap posture: at 100 TB a single
    * hub via would otherwise emit billions of pairs that each carry a
    * near-zero 1/ln(d) anyway. Degree-1 connectors contribute no pairs
    * (and would divide by ln 1 = 0), so they're filtered with the same
    * predicate. Per-connector weights land on the 1e-9 decimal grid and
    * sum exactly; pairs below `minShared` shared connectors are noise
    * and are dropped to keep the output answer-sized.
    */
  def adamicAdar(
      df: DataFrame,
      nodeCol: String,
      viaCol: String,
      minShared: Int,
      maxDegree: Int): DataFrame = {
    require(minShared >= 1 && maxDegree >= 2)
    val nv = df.select(col(nodeCol).cast("long").as("n"),
      col(viaCol).cast("long").as("v")).distinct()
    // per-connector sorted array + row-local pair unroll (the
    // basketPairRows shape): degree and weight read off the array size,
    // and the deg-join + incidence self-join are gone — one shuffle to
    // group, one to aggregate pairs. Pair multiset and per-pair weights
    // identical (sorted i<j ≡ a.n < b.n; w is a function of the
    // connector's degree; decimal sums are order-independent). A
    // connector buffers degree-many longs in one row — bounded by the
    // same hub contract as the adjacency-array operators, and strictly
    // below the deg² pair rows it emits next.
    val d = size(col("ns"))
    nv.groupBy(col("v"))
      .agg(array_sort(collect_list(col("n"))).as("ns"))
      .filter(d >= 2 && d <= maxDegree)
      .withColumn("w",
        round(lit(1.0) / log(d.cast("long").cast("double")), 9)
          .cast(DecimalType(18, 9)))
      .select(col("w"), explode(flatten(transform(col("ns"), (x, i) =>
        transform(slice(col("ns"), i + lit(2), size(col("ns"))), y =>
          struct(x.as("n1"), y.as("n2")))))).as("__p"))
      .groupBy(col("__p.n1").as("n1"), col("__p.n2").as("n2"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("w")).as("__s"))
      .filter(col("n_shared") >= minShared)
      .select(col("n1"), col("n2"), col("n_shared"),
        col("__s").cast("double").as("aa_score"))
  }

  /** k-truss: the maximal subgraph in which every EDGE sits in at least
    * k−2 triangles — the edge-level strengthening of [[kCore]] (every
    * k-truss is contained in the (k−1)-core, but the truss demands the
    * triangles that make a neighborhood an actual community, not merely
    * a dense one).
    *
    * Peeling loop: each round computes every surviving edge's support as
    * its COMMON-NEIGHBOR count, |N(a) ∩ N(b)|, via sorted adjacency
    * arrays and a codegen `array_intersect` — the per-round cost is
    * Σ_edges (deg(a)+deg(b)) hash probes INSIDE whole-stage codegen,
    * with no intermediate wedge rows at all (the previous wedge-join
    * formulation shuffled Σ deg² candidate rows per round — measured
    * 135s → ~8s at sf0.1 on the dense co-purchase graph, whose 1.2M
    * edges close 1.9M triangles). Edges below support k−2 drop; support
    * is monotone non-increasing under edge deletion, so peeling
    * converges and rounds past the fixpoint are no-ops — the property
    * the oracle's fixed unroll relies on. Convergence is detected by
    * edge count (one count per round); cycled frames pass through
    * [[fresh]] so plan-size estimates never compound across rounds.
    * Memory contract: a node's adjacency array is degree-sized — the
    * hub-bounded shape every adjacency-array operator here shares.
    *
    * Returns surviving canonical edges `(a, b, support)` with support
    * measured inside the truss.
    */
  def kTruss(
      edges: DataFrame,
      k: Long,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 3 && maxRounds >= 1, "k-truss needs k >= 3")
    val e0 = fresh(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // the CANONICAL edge count sizes both the driver decision and the
    // cascade's broadcast below
    val mEdges = e0.count()
    // DRIVER-SIDE SCORE + PEEL when the edge list is collectable: the
    // edge BUILD — table scan, basket explode, distinct — stays
    // distributed, but once the canonical edge list fits the driver, both the support scan and
    // the cascade run there. Support comes from a DEGREE-ORDERED ORIENTED
    // triangle scan: orient each edge toward its higher-(degree, id)
    // endpoint, sort forward lists, and merge-intersect N+(u) ∩ N+(v)
    // per edge — each triangle is discovered exactly once and credits all
    // THREE of its edges, so per-edge cost is Σ min(fdeg), bounded by the
    // graph's arboricity instead of Σ(deg(a)+deg(b)). Measured at sf0.1
    // (1.2M edges, 1.9M triangles): 2.3 s on the driver vs ~8.5 s for
    // the distributed adjacency build + array_intersect pass + its
    // checkpoint, bit-identical support sums. The CASCADE then charges
    // each destroyed triangle at its first PROCESSED edge, decrementing
    // the other two IF not yet processed — the same once-per-triangle
    // accounting as the synchronized rounds below, so survivor supports
    // are identical (and the survivor SET is the unique maximal k-truss
    // regardless of removal order).
    if (DriverFinisher.fits("kTruss", DriverFinisher.GraphEdges,
        longKeyed(e0, "a", "b"))(mEdges)) {
      val spark = e0.sparkSession
      // phase timing for the optimization rounds: stderr-only, off unless
      // SPARK_GRAFT_TIMING=1 — zero cost in normal runs
      val timing = sys.env.get("SPARK_GRAFT_TIMING").contains("1")
      var tPrev = System.nanoTime()
      def tmark(phase: String): Unit = if (timing) {
        val now = System.nanoTime()
        System.err.println(f"[ktruss] $phase: ${(now - tPrev) / 1e9}%.2f s")
        tPrev = now
      }
      tmark("count")
      val Array(ea, eb) = DriverFinisher.collectLongs(e0)
      val nodeIdx = new DriverFinisher.Ids
      val Array(endA, endB) = nodeIdx.intern(ea, eb)
      val m = endA.length
      val sup = new Array[Long](m); val loss = new Array[Long](m)
      def pack(i: Int, j: Int): Long =
        if (i < j) (i.toLong << 32) | j.toLong else (j.toLong << 32) | i.toLong
      // edge lookup (packed endpoint pair -> eid) as an OPEN-ADDRESSED
      // primitive table: the cascade probes it once per wedge — measured
      // 5.6 s at sf0.1 through mutable.LongMap (boxed values + an Option
      // per hit), 10x less with two flat arrays and linear probing
      val ecap = Integer.highestOneBit(math.max(16, m * 4 - 1)) << 1
      val emask = ecap - 1
      val ekeys = new Array[Long](ecap)
      val evals = new Array[Int](ecap)
      java.util.Arrays.fill(evals, -1)
      def epos(kk: Long): Int = {
        var h = (scala.util.hashing.byteswap64(kk) & emask).toInt
        while (evals(h) != -1 && ekeys(h) != kk) h = (h + 1) & emask
        h
      }
      var eid = 0
      while (eid < m) {
        val h = epos(pack(endA(eid), endB(eid)))
        ekeys(h) = pack(endA(eid), endB(eid)); evals(h) = eid
        eid += 1
      }
      val nN = nodeIdx.size
      // full adjacency as CSR over edge ids (2m primitive cells) — the
      // boxed ArrayBuffer-per-node build was ~1.5 s of the sf0.1 run
      val degFull = new Array[Int](nN)
      var di = 0
      while (di < m) {
        degFull(endA(di)) += 1; degFull(endB(di)) += 1; di += 1
      }
      val aoff = new Array[Int](nN + 1)
      di = 0
      while (di < nN) { aoff(di + 1) = aoff(di) + degFull(di); di += 1 }
      val aedge = new Array[Int](2 * m)
      val acur = java.util.Arrays.copyOf(aoff, nN)
      di = 0
      while (di < m) {
        aedge(acur(endA(di))) = di; acur(endA(di)) += 1
        aedge(acur(endB(di))) = di; acur(endB(di)) += 1
        di += 1
      }
      tmark("collect+index")
      // oriented scoring: forward CSR sorted by neighbor id, one packed
      // (nbr << 32 | eid) long per oriented edge so a single Arrays.sort
      // orders both in tandem
      def fwd(u: Int, v: Int): Boolean = {
        val du = degFull(u); val dv = degFull(v)
        du < dv || (du == dv && u < v)
      }
      val off = new Array[Int](nN + 1)
      var i = 0
      while (i < m) {
        off((if (fwd(endA(i), endB(i))) endA(i) else endB(i)) + 1) += 1
        i += 1
      }
      i = 0
      while (i < nN) { off(i + 1) += off(i); i += 1 }
      val fcsr = new Array[Long](m)
      val cur = java.util.Arrays.copyOf(off, nN)
      i = 0
      while (i < m) {
        val u = if (fwd(endA(i), endB(i))) endA(i) else endB(i)
        val v = if (endA(i) == u) endB(i) else endA(i)
        fcsr(cur(u)) = (v.toLong << 32) | i.toLong
        cur(u) += 1; i += 1
      }
      // the scoring scan is embarrassingly parallel and the driver has
      // the whole executor pool's cores idle while it runs: per-node
      // sorts split by node range, the merge-intersections by edge
      // range, with supports accumulated in an AtomicLongArray (integer
      // increments commute — the counts are EXACT whatever the
      // interleaving, so the cascade sees bit-identical inputs; ~5.7M
      // atomic adds at sf0.1, negligible contention). Measured 1.05 s
      // single-threaded at sf0.1, ~0.2 s at 16 threads.
      def parChunks(n: Int)(body: (Int, Int) => Unit): Unit = {
        val nT = math.max(1, math.min(
          Runtime.getRuntime.availableProcessors(), 16))
        if (n < 4096 || nT == 1) { body(0, n); return }
        val ts = (0 until nT).map { t =>
          val lo = (t.toLong * n / nT).toInt
          val hi = ((t + 1).toLong * n / nT).toInt
          val th = new Thread(() => body(lo, hi))
          th.setDaemon(true); th.start(); th
        }
        ts.foreach(_.join())
      }
      parChunks(nN) { (lo0, hi0) =>
        var i = lo0
        while (i < hi0) {
          if (off(i + 1) - off(i) > 1)
            java.util.Arrays.sort(fcsr, off(i), off(i + 1))
          i += 1
        }
      }
      val supA = new java.util.concurrent.atomic.AtomicLongArray(m)
      parChunks(m) { (lo0, hi0) =>
        var i = lo0
        while (i < hi0) {
          val u = if (fwd(endA(i), endB(i))) endA(i) else endB(i)
          val v = if (endA(i) == u) endB(i) else endA(i)
          var p = off(u); var q = off(v)
          val pe = off(u + 1); val qe = off(v + 1)
          while (p < pe && q < qe) {
            val a = (fcsr(p) >>> 32).toInt; val b = (fcsr(q) >>> 32).toInt
            if (a == b) {
              supA.getAndIncrement(i)
              supA.getAndIncrement(fcsr(p).toInt)
              supA.getAndIncrement(fcsr(q).toInt)
              p += 1; q += 1
            } else if (a < b) p += 1 else q += 1
          }
          i += 1
        }
      }
      i = 0
      while (i < m) { sup(i) = supA.get(i); i += 1 }
      // processed = removed; a triangle is charged when its FIRST edge
      // is processed, so flanks still in the queue DO get decremented
      tmark("score")
      val processed = new Array[Boolean](m)
      val queued = new Array[Boolean](m)
      // every edge enqueues at most once (queued gate), so a flat int
      // array is the whole FIFO — the boxed ArrayDeque[Integer] plus a
      // 2-element temp array per wedge was the cascade's dominant cost
      val queue = new Array[Int](m)
      var qh = 0; var qt = 0
      i = 0
      while (i < m) {
        if (sup(i) < k - 2) { queued(i) = true; queue(qt) = i; qt += 1 }
        i += 1
      }
      while (qh < qt) {
        val e = queue(qh); qh += 1
        processed(e) = true
        val ia = endA(e); val ib = endB(e)
        val scan = if (degFull(ia) <= degFull(ib)) ia else ib
        val other = if (scan == ia) ib else ia
        var ap = aoff(scan); val ape = aoff(scan + 1)
        while (ap < ape) {
          val e2 = aedge(ap)
          if (e2 != e && !processed(e2)) {
            val c = if (endA(e2) == scan) endB(e2) else endA(e2)
            val h = epos(pack(c, other))
            val e3 = evals(h)
            if (e3 >= 0 && !processed(e3)) {
              loss(e2) += 1L
              if (!queued(e2) && sup(e2) - loss(e2) < k - 2) {
                queued(e2) = true; queue(qt) = e2; qt += 1
              }
              loss(e3) += 1L
              if (!queued(e3) && sup(e3) - loss(e3) < k - 2) {
                queued(e3) = true; queue(qt) = e3; qt += 1
              }
            }
          }
          ap += 1
        }
      }
      tmark("cascade")
      // survivors ship back whole — support now lives only on the
      // driver, so there is no distributed frame to delta-join against,
      // and the row volume is bounded by the budget the collect was
      // (≤ budget edges × 3 longs, the symmetric trip). Shipped as ONE
      // torrent broadcast of primitive arrays that tasks slice by range:
      // parallelize of a boxed tuple Seq re-serialized ~300 MB of tuples
      // through the closure path and measured 4 s of the sf0.1 run.
      import spark.implicits._
      var nSurv = 0
      i = 0
      while (i < m) { if (!processed(i)) nSurv += 1; i += 1 }
      val sa = new Array[Long](nSurv)
      val sb = new Array[Long](nSurv)
      val ss = new Array[Long](nSurv)
      var w = 0
      i = 0
      while (i < m) {
        if (!processed(i)) {
          sa(w) = ea(i); sb(w) = eb(i); ss(w) = sup(i) - loss(i); w += 1
        }
        i += 1
      }
      tmark("survivors")
      val bc = spark.sparkContext.broadcast((sa, sb, ss))
      val nSlices = math.max(1, nSurv / 500000 + 1)
      return spark.sparkContext.parallelize(0 until nSlices, nSlices)
        .flatMap { s =>
          val (xa, xb, xs) = bc.value
          val lo = (s.toLong * xa.length / nSlices).toInt
          val hi = ((s + 1).toLong * xa.length / nSlices).toInt
          Iterator.range(lo, hi).map(j => (xa(j), xb(j), xs(j)))
        }
        .toDF("a", "b", "support")
    }
    // DISTRIBUTED cascade above the budget. Support is intersected ONCE,
    // over the original adjacency; every later round is DECREMENT-DRIVEN
    // (r11 verdict item — the previous full-recompute loop paid the
    // Σ(deg(a)+deg(b)) intersect bill and two full-edge shuffles EVERY
    // round, ~31 s at sf0.1 over 8 rounds of which the last five removed
    // < 0.1% of edges each). The delta is k-bounded: a removed edge has
    // support < k−2, so it closes < k−2 live triangles — each destroyed
    // triangle decrements its two other edges by exactly one. Rounds
    // after the first therefore touch O(k·|removed|) rows, not O(m).
    //
    // Exactness: a triangle is charged at the round its FIRST edge dies
    // — commons are taken in the ORIGINAL graph and a candidate third
    // vertex c of dying edge (a,b) is kept only while both (a,c) and
    // (b,c) were alive entering the round (anti-join against deaths from
    // strictly earlier rounds); two edges of one triangle dying in the
    // SAME round both emit the triangle, deduplicated by its (edge,
    // third-vertex) identity. So each destroyed triangle subtracts 1
    // from each surviving edge exactly once, per-round death sets match
    // the synchronized full recompute bit-for-bit, and a survivor's
    // final support is support_init − triangles lost = its support
    // measured inside the truss.
    val adj = e0.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e0.select(col("b").as("node"), col("a").as("nbr")))
      .groupBy(col("node"))
      .agg(collect_list(col("nbr")).as("ns"))
      .localCheckpoint(true) // every endpoint join reads it
    // Adjacency totals one array cell per directed edge instance, so its
    // bytes are known EXACTLY from the materialized edge count — when the
    // whole table fits a broadcast comfortably (≤ ~64 MB), ship it to
    // every task once and both the scoring pass and every cascade round
    // become single-stage map-side joins (no 2×m array-carrying
    // shuffles). Above that, fall back to shuffle joins.
    val bcastAdj = mEdges * 20L < 64L * 1024 * 1024
    def adjA = {
      val d = adj.select(col("node").as("a"), col("ns").as("__na"))
      if (bcastAdj) broadcast(d) else d
    }
    def adjB = {
      val d = adj.select(col("node").as("b"), col("ns").as("__nb"))
      if (bcastAdj) broadcast(d) else d
    }
    val scored = fresh(e0
      .join(adjA, Seq("a"))
      .join(adjB, Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__na"), col("__nb"))).cast("long")
          .as("support")))
    // One state frame, re-checkpointed per round: every edge whose
    // support ever dropped, with its running loss and death flags.
    // justDied marks the round's frontier (processed next round); dead
    // spans all rounds. No per-round full-edge materialization, no
    // growing union chains.
    var hurt = fresh(scored.filter(col("support") < k - 2)
      .select(col("a"), col("b"), col("support").as("sinit"),
        lit(0L).as("loss"), lit(true).as("dead"),
        lit(true).as("justDied")))
    var nJust = hurt.count()
    var round = 1
    while (nJust > 0 && round < maxRounds) {
      val rPrev = hurt.filter(col("justDied")).select(col("a"), col("b"))
      val rStar = hurt.filter(col("dead") && !col("justDied"))
        .select(col("a"), col("b"))
      // triangles the dying edges close, w.r.t. the ORIGINAL adjacency,
      // filtered down to thirds whose two flank edges entered the round
      // alive; delta-sized joins AQE broadcasts when small
      val tri = rPrev
        .join(adjA, Seq("a"))
        .join(adjB, Seq("b"))
        .select(col("a"), col("b"),
          explode(array_intersect(col("__na"), col("__nb"))).as("c"))
        .select(col("a"), col("b"), col("c"),
          least(col("a"), col("c")).as("x1"),
          greatest(col("a"), col("c")).as("y1"),
          least(col("b"), col("c")).as("x2"),
          greatest(col("b"), col("c")).as("y2"))
      val alive = tri
        .join(rStar.select(col("a").as("x1"), col("b").as("y1"),
          lit(true).as("__d1")), Seq("x1", "y1"), "left")
        .join(rStar.select(col("a").as("x2"), col("b").as("y2"),
          lit(true).as("__d2")), Seq("x2", "y2"), "left")
        .filter(col("__d1").isNull && col("__d2").isNull)
      // one decrement per destroyed triangle per flank edge; the
      // (edge, third) distinct collapses same-round double kills.
      // Materialized once — it feeds both the first-hurt lookup and the
      // loss fold, and recomputing the triangle scan twice per round
      // measured slower than the checkpoint round-trip.
      val dec = fresh(alive
        .select(col("x1").as("a"), col("y1").as("b"), col("b").as("third"))
        .unionAll(alive
          .select(col("x2").as("a"), col("y2").as("b"),
            col("a").as("third")))
        .distinct()
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("dloss")))
      // pull support_init for first-time-hurt edges (one probe scan of
      // the scored base), fold this round's losses + flag flips in
      val fetched = scored
        .join(dec.select(col("a"), col("b"))
          .join(hurt.select(col("a"), col("b")), Seq("a", "b"),
            "left_anti"), Seq("a", "b"), "left_semi")
        .select(col("a"), col("b"), col("support").as("sinit"),
          lit(0L).as("loss"), lit(false).as("dead"),
          lit(false).as("justDied"))
      val loss2 = col("loss") + coalesce(col("__dl"), lit(0L))
      val newlyDead = !col("dead") && coalesce(col("__dl"), lit(0L)) > 0L &&
        col("sinit") - loss2 < k - 2
      hurt = fresh(hurt.unionByName(fetched)
        .join(dec.withColumnRenamed("dloss", "__dl"), Seq("a", "b"), "left")
        .select(col("a"), col("b"), col("sinit"), loss2.as("loss"),
          (col("dead") || newlyDead).as("dead"), newlyDead.as("justDied")))
      nJust = hurt.filter(col("justDied")).count()
      round += 1
    }
    require(nJust == 0,
      s"k-truss did not stabilize within $maxRounds rounds")
    scored
      .join(hurt.filter(col("dead")).select(col("a"), col("b")),
        Seq("a", "b"), "left_anti")
      .join(hurt.select(col("a"), col("b"), col("loss")), Seq("a", "b"),
        "left")
      .select(col("a"), col("b"),
        (col("support") - coalesce(col("loss"), lit(0L))).as("support"))
  }

  /** DEGREE ASSORTATIVITY — the one-number answer to "do hubs connect
    * to hubs": Pearson correlation of endpoint degrees over every
    * directed edge instance (each undirected edge counted both ways —
    * the standard Newman definition). Positive = hub-to-hub mixing
    * (social shape), negative = hub-to-leaf (infrastructure / star
    * shape) — the structural health check beside [[clusteringCoefficient]]
    * (local density) and [[kCore]] (peeling depth).
    *
    * One degree aggregate, two broadcast-joinable lookups onto the edge
    * list, exact DECIMAL(38,0) moment sums (degrees are integers), one
    * pinned-double correlation. Edge-linear, degree-domain state.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val pairs = und
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    val m = pairs.agg(count(lit(1)).as("m"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("y") * col("y")).cast(d38)).as("syy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val num = dbl(col("m")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val den = sqrt(dbl(col("m")) * dbl(col("sxx")) -
        dbl(col("sx")) * dbl(col("sx"))) *
      sqrt(dbl(col("m")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
    m.crossJoin(broadcast(nodes))
      .select(col("n_nodes"), expr("m div 2").as("n_edges"),
        round(when(den =!= lit(0.0), num / den), 6).as("assortativity"))
  }

  /** BIPARTITENESS / ODD-CYCLE audit — per component: can the graph be
    * 2-colored (user↔item, buyer↔seller), or does an odd cycle prove an
    * identity-resolution graph has merged two sides it shouldn't? The
    * whole per-node state is ONE encoded long `root·64 + dist`
    * (component-min root, shortest-hop distance), so min-propagation is
    * literally `min(state, min(neighbor state) + 1)` — the +1 advances
    * the distance while the dominant root bits make the min pick the
    * smallest root first, then the shortest path to it. After `rounds`
    * rounds (caller contract: ≥ the component diameter, < 64 so the
    * distance bits never carry), a component is bipartite iff NO edge
    * joins two nodes of equal shortest-path parity.
    *
    * Shape: one edge↔state join + one aggregation per round, lineage cut
    * per round (the q59/q100 discipline); the verdict join is
    * edge-sized, everything else node-sized.
    */
  def bipartiteCheck(edges: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds < 63, s"rounds=$rounds must stay below the 6 distance bits")
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    var state = sym.select(col("u").as("node")).distinct()
      .select(col("node"), (col("node") * 64L).as("st"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val neigh = sym
        .join(state.select(col("node").as("__vn"), col("st").as("__vs")),
          col("v") === col("__vn"))
        .groupBy(col("u")).agg(min(col("__vs") + 1L).as("cand"))
      state = state
        .join(neigh, col("node") === col("u"), "left")
        .select(col("node"),
          least(col("st"), coalesce(col("cand"), col("st"))).as("st"))
        .localCheckpoint(true)
    }
    val lab = state.select(col("node"), expr("st div 64").as("root"),
      (col("st") % 64L % 2L).as("par"))
    val ej = und
      .join(lab.select(col("node").as("a"), col("root"), col("par").as("pa")),
        Seq("a"))
      .join(lab.select(col("node").as("b"), col("par").as("pb")), Seq("b"))
    val perComp = lab.groupBy(col("root")).agg(count(lit(1)).as("n_nodes"))
    val eStats = ej.groupBy(col("root").as("__r"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("pa") === col("pb"), 1L).otherwise(0L)).as("odd_edges"))
    perComp.join(eStats, col("root") === col("__r"), "left")
      .select(col("root"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("odd_edges"), lit(0L)).as("odd_edges"))
      .withColumn("is_bipartite", col("odd_edges") === 0L)
  }
}
