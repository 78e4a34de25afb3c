package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Graph, Profiling, Relational}

class GraphSpec extends SparkSuite {

  private def edgeFrame(pairs: (Long, Long)*) = {
    val schema = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType)))
    // undirected: both directions
    val rows = pairs.flatMap(p => Seq(Row(p._1, p._2), Row(p._2, p._1)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  test("pageRank: teleport invariant, symmetry, and centrality on a path graph") {
    // path 1 - 2 - 3: ends are symmetric, the middle is most central
    val pr = Graph.pageRank(edgeFrame((1L, 2L), (2L, 3L)), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(1L, 2L, 3L))
    // total rank is conserved at n (no dangling nodes in an undirected graph)
    assert(math.abs(pr.values.sum - 3.0) < 1e-4)
    assert(pr(1L) == pr(3L), "symmetric ends must score identically")
    assert(pr(2L) > pr(1L), "the centre of a path out-ranks its ends")
  }

  test("pageRank matches the hand-unrolled first iteration") {
    // star: hub 10 connected to 11, 12, 13. deg(hub)=3, deg(leaf)=1.
    // it1: hub <- 3 * 0.85*(1/1) = 2.55 -> pr 2.70; leaf <- 0.85/3 -> pr ~0.433
    val pr = Graph.pageRank(edgeFrame((10L, 11L), (10L, 12L), (10L, 13L)), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(10L) - 2.7) < 1e-6)
    assert(math.abs(pr(11L) - (0.15 + 0.85 / 3)) < 1e-6)
  }

  test("pageRank on a DIRECTED edge list keeps sourceless nodes alive") {
    // 1 -> 2 -> 3 directed: node 1 never receives mass, so after round 1
    // it must keep the (1 - damping) teleport floor — an inner contribution
    // join would silently drop it (and node 2's inflow with it in round 2).
    // Only sources carry out-degree; 3 is a pure sink and has no pr row.
    val schema = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType)))
    val directed = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 2L), Row(2L, 3L)), schema)
    val pr = Graph.pageRank(directed, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(1L, 2L), s"ranked nodes: ${pr.keySet}")
    assert(math.abs(pr(1L) - 0.15) < 1e-6,
      "a sourceless node must hold the teleport floor, not vanish")
    // round 2 inflow to 2 is 0.85 * pr1(1)/deg(1) = 0.85 * 0.15
    assert(math.abs(pr(2L) - (0.15 + 0.85 * 0.15)) < 1e-6)
  }

  test("trailingDistinct counts entities over the trailing window only") {
    val schema = StructType(Seq(
      StructField("b", LongType), StructField("e", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "u1"), Row(1L, "u2"), Row(2L, "u1"), Row(5L, "u3")), schema)
    val out = Relational.trailingDistinct(df, "b", "e", windowBuckets = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bucket 5 is > 3 buckets after 1/2: only u3 is in its window;
    // bucket 2 sees u1+u2 (from bucket 1) plus its own u1
    assert(out == Map(1L -> 2L, 2L -> 2L, 5L -> 1L))
  }

  test("rootClosure: pointer jumping closes a multi-tree forest with depths") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("parent", LongType)))
    // two trees: 1 <- 2 <- 3 <- 4 <- 5 (chain, depth 4) and 9 <- 10
    val rows = Seq(Row(1L, null), Row(2L, 1L), Row(3L, 2L), Row(4L, 3L),
      Row(5L, 4L), Row(9L, null), Row(10L, 9L))
    val out = Graph.rootClosure(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((1L, 0L)), 2L -> ((1L, 1L)), 3L -> ((1L, 2L)), 4L -> ((1L, 3L)),
      5L -> ((1L, 4L)), 9L -> ((9L, 0L)), 10L -> ((9L, 1L))))
  }

  test("weightedMean: exact-decimal UDAF is repartition-invariant") {
    val schema = StructType(Seq(
      StructField("x", DoubleType), StructField("w", DoubleType)))
    val rows = (1 to 100).map(i => Row(i * 1.01, (i % 7 + 1).toDouble))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def mean(parts: Int) = df.repartition(parts)
      .agg(graft.functions.Aggregators.weightedMean(col("x"), col("w")))
      .head().getDouble(0)
    val m = mean(1)
    assert(m == mean(7) && m == mean(32), "partition order must not change the mean")
    // sanity: weighted mean sits inside the value range
    assert(m > 1.0 && m < 102.0)
  }

  test("topK aggregator is repartition-invariant and matches the window answer") {
    import graft.functions.Aggregators
    import spark.implicits._
    val rows = (1L to 100L).map(i => ((i % 7).toString, (i % 13).toDouble, i))
    def run(parts: Int) = rows.toDF("g", "v", "id").repartition(parts)
      .groupBy(col("g"))
      .agg(Aggregators.topK(3)(col("v"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("g"), col("i"), col("p._1").as("v"), col("p._2").as("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val expected = rows.toDF("g", "v", "id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
          .orderBy(col("v").desc, col("id"))))
      .filter(col("rn") <= 3)
      .select(col("g"), (col("rn") - 1).cast("int").as("i"), col("v"), col("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(run(1) == expected && run(17) == expected,
      "map-side pruning must not change the exact top-k under any partitioning")
  }

  test("kAnonymize suppresses small classes cell-wise, keeps payload columns") {
    import graft.operators.Quality
    import spark.implicits._
    val df = Seq(
      (1L, "DE", "A", 10.0), (2L, "DE", "A", 20.0),   // class of 2: published
      (3L, "FR", "B", 30.0)                           // class of 1: suppressed
    ).toDF("id", "country", "seg", "v")
    val out = Quality.kAnonymize(df, Seq("country", "seg"), k = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("country_anon"), r.getAs[String]("seg_anon"),
          r.getAs[Boolean]("suppressed"), r.getAs[Double]("v")))).toMap
    assert(out(1L) == (("DE", "A", false, 10.0)))
    assert(out(2L) == (("DE", "A", false, 20.0)))
    assert(out(3L) == (("*", "*", true, 30.0)),
      "a singleton class must be masked but keep its payload")
  }

  test("quarantineSplit routes by per-row verdict with three-valued logic") {
    import graft.operators.Quality
    import spark.implicits._
    val df = Seq(
      (1L, Some(5.0), Some("ok")),   // passes both
      (2L, Some(-1.0), Some("ok")),  // fails price
      (3L, Some(5.0), None),         // fails status (null)
      (4L, None, None)               // null price (3VL fail) + null status
    ).toDF("id", "price", "status")
    val (clean, quar) = Quality.quarantineSplit(df, Seq(
      "price_positive" -> (col("price") > 0),
      "status_present" -> col("status").isNotNull))
    assert(clean.select(col("id")).collect().map(_.getLong(0)).toSet == Set(1L))
    val reasons = quar.select(col("id"), col("reasons")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons == Map(
      2L -> "price_positive",
      3L -> "status_present",
      4L -> "price_positive,status_present"))
  }

  test("psiBins: identical distributions yield near-zero psi terms") {
    val schema = StructType(Seq(
      StructField("v", DoubleType), StructField("is_act", BooleanType)))
    val rows = (0 until 200).map(i => Row((i % 100).toDouble, i >= 100))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val out = graft.operators.Drift.psiBins(df, "v", col("is_act"), bins = 5).collect()
    assert(out.length == 5)
    assert(out.forall(r => math.abs(r.getDouble(5)) < 1e-9),
      "equal slices must contribute ~0 psi per bin")
  }

  test("weightedClosure: path products sum without double-counting") {
    import spark.implicits._
    // diamond: 1→2 (×2), 1→3 (×3), 2→4 (×5), 3→4 (×7), plus direct 1→4 (×1)
    val edges = Seq((1L, 2L, 2L), (1L, 3L, 3L), (2L, 4L, 5L), (3L, 4L, 7L),
      (1L, 4L, 1L)).toDF("src", "dst", "qty")
    val got = graft.operators.Graph.weightedClosure(edges, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getDecimal(2).longValueExact()).toMap
    // 1→4: direct 1 + 2·5 + 3·7 = 32 — each path counted exactly once
    assert(got((1L, 4L)) == 32L)
    assert(got((1L, 2L)) == 2L && got((1L, 3L)) == 3L)
    assert(got((2L, 4L)) == 5L && got((3L, 4L)) == 7L)
    assert(got.size == 5)
  }

  test("ksBinned: disjoint samples reach D=1, identical samples D=0") {
    import spark.implicits._
    // sample A in [0,10), sample B in [20,30) → ECDFs never overlap: D=1
    val disjoint = ((0 until 50).map(i => (i % 10 * 1.0, true)) ++
      (0 until 50).map(i => (20.0 + i % 10, false))).toDF("v", "isa")
    val d1 = graft.operators.Drift.ksBinned(disjoint, "v", col("isa"), bins = 10)
      .select("d_stat").distinct().collect()
    assert(d1.length == 1 && d1(0).getDouble(0) == 1.0)
    // identical samples → every ECDF diff is exactly 0
    val same = ((0 until 40).map(i => (i % 8 * 1.0, true)) ++
      (0 until 40).map(i => (i % 8 * 1.0, false))).toDF("v", "isa")
    val d0 = graft.operators.Drift.ksBinned(same, "v", col("isa"), bins = 8)
      .select("d_stat").distinct().collect()
    assert(d0.length == 1 && d0(0).getDouble(0) == 0.0)
  }

  test("mutualInfo: identity is ln 2 for uniform binary, independence is 0") {
    import spark.implicits._
    // x == y over two uniform symbols → MI = ln 2; the per-cell terms are
    // each 0.5·ln 2 on the 9-decimal grid
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")).toDF("s", "p")
    val depOut = graft.operators.Drift.mutualInfo(dep, "s", "p").collect()
    assert(depOut.length == 2)
    assert(depOut.forall(r => math.abs(r.getDouble(6) - math.log(2.0)) < 1e-6))
    // full independence (all four cells equally filled) → every term 0
    val ind = Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")).toDF("s", "p")
    val indOut = graft.operators.Drift.mutualInfo(ind, "s", "p").collect()
    assert(indOut.length == 4)
    assert(indOut.forall(r => math.abs(r.getDouble(6)) < 1e-9))
  }

  test("triangleCounts: K4 minus an edge, degree-ordered orientation") {
    // K4 on {1,2,3,4} without edge (1,4): triangles {1,2,3} and {2,3,4};
    // nodes 2 and 3 sit in both, 1 and 4 in one each
    val edges = edgeFrame((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts: a triangle-free path graph yields no rows") {
    val edges = edgeFrame((1L, 2L), (2L, 3L), (3L, 4L))
    assert(Graph.triangleCounts(edges).isEmpty)
  }

  test("bfsHops: shortest hop wins on a graph with a long and a short path") {
    // 1-2-5 (2 hops) and 1-3-4-5 (3 hops): node 5 must report 2;
    // node 9 is disconnected and must not appear
    val edges = edgeFrame((1L, 2L), (2L, 5L), (1L, 3L), (3L, 4L), (4L, 5L),
      (8L, 9L))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L)),
      StructType(Seq(StructField("node", LongType))))
    val out = Graph.bfsHops(edges, src, maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 5L -> 2L, 4L -> 2L))
  }

  test("bfsHops: maxHops caps the frontier expansion") {
    val edges = edgeFrame((1L, 2L), (2L, 3L), (3L, 4L))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L)),
      StructType(Seq(StructField("node", LongType))))
    val out = Graph.bfsHops(edges, src, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), "node 4 is 3 hops out")
  }

  test("kCore peels cascades to the stable core") {
    import spark.implicits._
    // triangle 1-2-3 with a pendant chain 3-4-5: for k=2 the chain peels
    // in two cascading rounds (5 leaves, then 4 becomes a leaf) and the
    // triangle survives with every in-core degree exactly 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val out = Graph.kCore(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree empties the graph — and still converges
    assert(Graph.kCore(edges, k = 4).count() == 0)
  }

  test("eigenCentrality: a star's hub reads 1 and its leaves 1/sqrt(n), " +
    "and the lazy walk converges on the bipartite star at all") {
    import spark.implicits._
    // K1,4: eigenvector is (1, 1/2, 1/2, 1/2, 1/2) — and a star is
    // bipartite, so the PLAIN power iteration would oscillate between
    // hub-heavy and leaf-heavy profiles forever; the +I shift is what
    // makes this converge
    val pairs = (1L to 4L).map(l => (0L, l))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val out = Graph.eigenCentrality(edges, iters = 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(0L) == 1.0, s"hub is the max-normalized 1: $out")
    val leaves = (1L to 4L).map(out)
    assert(leaves.distinct.size == 1, s"symmetric leaves tie exactly: $out")
    assert(math.abs(leaves.head - 0.5) < 0.01,
      s"leaf score converges to 1/sqrt(n) = 0.5: $out")
  }

  test("kTruss: pendant triangle peels, the 4-clique survives with support 2") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every edge closes 2 triangles) with a pendant
    // triangle {4,5,6} (each of its edges closes only 1)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val out = Graph.kTruss(edges, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(out.values.forall(_ == 2L), "support measured inside the truss")
    // k above every support empties the graph — and still converges
    assert(Graph.kTruss(edges, k = 5).count() == 0)
  }

  test("kTruss: driver peel and distributed cascade agree edge-for-edge " +
    "on a cascading random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph dense enough to cascade:
    // 40 nodes, edges picked by a multiplicative hash
    val edges = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      if ((a * 2654435761L + b * 40503L) % 97L) < 30L
    } yield (a, b)).toDF("src", "dst")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaDriver = canon(Graph.kTruss(edges, k = 4))
    val viaRounds = distributed(canon(Graph.kTruss(edges, k = 4)))
    assert(viaDriver.nonEmpty, "the test graph must keep a 4-truss")
    assert(viaDriver == viaRounds,
      s"paths disagree: ${viaDriver.size} vs ${viaRounds.size} edges")
  }

  test("profile: null and distinct accounting per column") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "a"), Row(2L, null), Row(2L, "a"), Row(null, "b")), schema)
    val rows = Profiling.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val k = rows("k")
    assert(k.getLong(1) == 4 && k.getLong(2) == 3 && k.getLong(3) == 2)
    assert(k.getDouble(4) == 1.0 && k.getDouble(5) == 2.0)
    val s = rows("s")
    assert(s.getLong(2) == 3 && s.getLong(3) == 2 && s.isNullAt(4) && s.isNullAt(5))
  }

  test("ancestorClosure emits every (id, ancestor, depth) pair of a 3-level tree") {
    import spark.implicits._
    // 1 → {10..12} → {100..102 under 10}: digit tree, parent = id div 10
    val ids = Seq(1L, 10L, 11L, 12L, 100L, 101L, 102L)
    val nodes = ids.map(i => (i, if (i >= 10) Some(i / 10) else None))
      .toDF("id", "parent")
    val got = Graph.ancestorClosure(nodes)
      .as[(Long, Long, Long)].collect().toSet
    val exp = ids.flatMap { i =>
      Iterator.iterate(i)(_ / 10).takeWhile(_ >= 1).zipWithIndex
        .map { case (a, d) => (i, a, d.toLong) }
    }.toSet
    assert(got == exp)
  }

  test("subtreeRollup aggregates values up every ancestor exactly once") {
    import spark.implicits._
    val ids = Seq(1L, 10L, 11L, 100L, 101L)
    val nodes = ids.map(i => (i, if (i >= 10) Some(i / 10) else None))
      .toDF("id", "parent")
    val values = ids.map(i => (i, i.toDouble)).toDF("nid", "v")
    val got = Graph.subtreeRollup(nodes, values, "nid", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((5L, 2L, 223.0)), "root: all five nodes, depth 2")
    assert(got(10L) == ((3L, 1L, 211.0)), "10 + 100 + 101")
    assert(got(11L) == ((1L, 0L, 11.0)))
    assert(got(100L) == ((1L, 0L, 100.0)))
  }

  test("shortestPaths: cheaper multi-hop beats the direct edge; rounds bound respected") {
    import spark.implicits._
    // 1→4 direct costs 100; 1→2→3→4 costs 3. Node 5 is 5 hops out.
    val edges = Seq((1L, 4L, 100L), (1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L), (4L, 6L, 1L), (6L, 7L, 1L), (7L, 8L, 1L), (8L, 5L, 1L))
      .toDF("src", "dst", "w")
    val sources = Seq(1L).toDF("node")
    val d3 = operators.Graph.shortestPaths(edges, sources, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d3(4L) == 3L, "min-plus relaxation, not hop count")
    assert(d3(1L) == 0L)
    assert(!d3.contains(5L), "node beyond the round bound stays absent")
    val d5 = operators.Graph.shortestPaths(edges, sources, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(d5(5L) == 7L, "1→2→3→4→6→7→8→5 via the cheap chain")
  }

  test("clusteringCoefficient: triangle + pendant, hand-checked") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4 hanging off 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val got = operators.Graph.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 1L, 0.333333)), "deg 3, one closed wedge of three")
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((2L, 1L, 1.0)))
    assert(got(4L) == ((1L, 0L, 0.0)), "pendant reports 0 by convention")
  }

  /** Sequential Kruskal with union-find — the in-test referee for the
    * bulk-parallel Borůvka (two unrelated algorithms; distinct weights
    * make the answer unique, so they must agree edge-for-edge).
    */
  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.sortBy(_._3).flatMap { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(ra) = rb; Some((a, b, w)) }
    }.toSet
  }

  test("minimumSpanningForest matches Kruskal on a random graph, incl. forests") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // two islands (1..30 and 101..120) -> a FOREST, not a tree
    def island(lo: Long, hi: Long): Seq[(Long, Long)] = {
      val chain = (lo until hi).map(i => (i, i + 1))
      val extra = (0 until 40).map { _ =>
        val a = lo + rnd.nextInt((hi - lo).toInt)
        val b = lo + rnd.nextInt((hi - lo).toInt)
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2)
      (chain ++ extra).distinct
    }
    val pairs = island(1L, 30L) ++ island(101L, 120L)
    // distinct weights by construction: a permutation of indices
    val weights = rnd.shuffle(pairs.indices.toList)
    val edges = pairs.zip(weights).map { case ((a, b), w) => (a, b, w.toLong) }
    val got = Graph.minimumSpanningForest(edges.toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == kruskal(edges), "unique MSF: Boruvka must equal Kruskal")
    assert(got.size == (29 + 19), "n-1 edges per island")
    // distinct weights: the distributed Boruvka rounds (forced past the
    // driver Kruskal) land the identical unique forest
    val viaRounds = distributed(Graph.minimumSpanningForest(
      edges.toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet)
    assert(viaRounds == got, "both paths produce the unique MSF")
  }

  test("minimumSpanningForest: the mutual-pick 2-cycle resolves cleanly") {
    import spark.implicits._
    // components {1,2} both pick the same cheapest bridge in round 1
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 50L), (2L, 4L, 60L),
      (3L, 4L, 70L)).toDF("src", "dst", "w")
    val got = Graph.minimumSpanningForest(edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 5L), (1L, 3L, 50L), (2L, 4L, 60L)))
  }

  test("hits: exact integer iteration, hand-stepped two rounds") {
    import spark.implicits._
    // hub 1 → {10, 20}, hub 2 → {10}: with h0 = (1,1),
    // round 1: a = (2, 1), h = (3, 2); round 2: a = (5, 3), h = (8, 5)
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("h", "a")
    val (hub2, auth2) = Graph.hits(e, "h", "a", rounds = 2)
    val as = auth2.collect().map(r =>
      r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    val hs = hub2.collect().map(r =>
      r.getLong(0) -> r.getDecimal(1).longValueExact()).toMap
    assert(as == Map(10L -> 5L, 20L -> 3L))
    assert(hs == Map(1L -> 8L, 2L -> 5L))
    // ranking is stable at more rounds (authority of 10 stays on top)
    val (_, auth8) = Graph.hits(e, "h", "a", rounds = 8)
    val a8 = auth8.collect().map(r =>
      r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(a8(10L) > a8(20L))
  }

  test("butterflyCounts: C(shared,2) per pair, exact total") {
    import spark.implicits._
    // (1,2) share 3 connectors -> 3 butterflies; (2,3) share 2 -> 1
    val inc = Seq((1L, 10L), (2L, 10L), (1L, 20L), (2L, 20L),
      (1L, 30L), (2L, 30L), (3L, 30L), (2L, 40L), (3L, 40L))
      .toDF("n", "v")
    val got = Graph.butterflyCounts(inc, "n", "v", topN = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 2L, 3L, 3L, 4L),
      (2L, 2L, 3L, 2L, 1L, 4L)))
  }

  test("longestPathDag: diamond relaxation, multi-root, cycle detection") {
    import spark.implicits._
    // diamond 1→2(5), 1→3(1), 2→4(1), 3→4(10): dist 4 = max(6, 11) = 11
    val d = Seq((1L, 2L, 5L), (1L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 10L))
    val got = Graph.longestPathDag(d.toDF("src", "dst", "w"), 10)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 1L, 4L -> 11L))
    // second root 10→4(100) dominates
    val got2 = Graph.longestPathDag(
      (d :+ ((10L, 4L, 100L))).toDF("src", "dst", "w"), 10)
      .as[(Long, Long)].collect().toMap
    assert(got2(4L) == 100L && got2(10L) == 0L)
    // a cycle must fail loudly, not silently cap
    intercept[IllegalArgumentException] {
      Graph.longestPathDag(
        Seq((1L, 2L, 1L), (2L, 1L, 1L), (9L, 1L, 1L)).toDF("src", "dst", "w"),
        5).collect()
    }
  }

  test("adamicAdar: discounted common neighbors, degree cap, minShared") {
    import spark.implicits._
    // via 10 & 40 connect {1,2} (deg 2), via 20 connects {1,2,3} (deg 3),
    // via 30 touches only node 1 (deg 1: no pairs, would divide by ln 1)
    val inc = Seq((1L, 10L), (2L, 10L), (1L, 20L), (2L, 20L), (3L, 20L),
      (1L, 30L), (1L, 40L), (2L, 40L), (2L, 40L)).toDF("n", "v")
    // grid weights sum as DECIMALS in the engine: replicate exactly
    def g9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val got = Graph.adamicAdar(inc, "n", "v", minShared = 2, maxDegree = 8)
      .as[(Long, Long, Long, Double)].collect()
    // only (1,2) reaches two shared connectors; duplicate rows collapse
    assert(got.toSeq == Seq((1L, 2L, 3L,
      (g9(1.0 / math.log(2.0)) * 2 + g9(1.0 / math.log(3.0))).toDouble)))
    // capping at degree 2 drops via 20 entirely
    val capped = Graph.adamicAdar(inc, "n", "v", minShared = 2, maxDegree = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(capped.toSeq == Seq((1L, 2L, 2L,
      (g9(1.0 / math.log(2.0)) * 2).toDouble)))
  }
  test("degreeAssortativity: a star is perfectly disassortative (r = -1)") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val r = Graph.degreeAssortativity(star).head()
    assert((r.getLong(0), r.getLong(1)) == ((4L, 3L)))
    assert(r.getDouble(2) == -1.0)
    // a regular graph (cycle) has zero degree variance -> NULL, not 0/0
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(Graph.degreeAssortativity(cyc).head().isNullAt(2))
  }

  test("multiSourceHarmonic: path graph hand case, shared lattice, panel") {
    import spark.implicits._
    // undirected path 1-2-3-4; sources {1, 3}, 2 hops:
    //   from 1: d(2)=1, d(3)=2          -> 1 + 1/2   = 1.5
    //   from 3: d(2)=d(4)=1, d(1)=2     -> 1 + 1 + 1/2 = 2.5
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val sources = Seq(1L, 3L).toDF("node")
    val out = Graph.multiSourceHarmonic(edges, sources, maxHops = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(1L -> ((2L, 2L, 1.5)), 3L -> ((3L, 2L, 2.5))))
  }

  test("personalizedPageRank: mass stays near the source, hand-stepped") {
    import spark.implicits._
    // path A(1)-B(2)-C(3), undirected, source {1}; 2 iterations:
    // pr1 = (0.15, 0.85, 0); pr2 = (0.15+0.36125, 0.1275, 0.36125)
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val src = Seq(1L).toDF("node")
    val got = graft.operators.Graph.personalizedPageRank(edges, src, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getDouble(2))))
      .toMap
    assert(got(1L) == ((true, 0.51125)))
    assert(got(2L) == ((false, 0.1275)))
    assert(got(3L) == ((false, 0.36125)))
  }

  test("bipartiteCheck: odd cycle flags, even cycle and tree pass") {
    import spark.implicits._
    // C5 on 1..5 (odd), C4 on 10..13 (even), path 20-21-22 (tree)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L)) ++
      Seq((20L, 21L), (21L, 22L))).toDF("src", "dst")
    val got = graft.operators.Graph.bipartiteCheck(edges, rounds = 6)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(got(1L) == ((5L, 5L, 1L, false)), "C5 has exactly one odd edge")
    assert(got(10L) == ((4L, 4L, 0L, true)))
    assert(got(20L) == ((3L, 2L, 0L, true)))
  }

  test("richClub: triangle hubs wire to each other, pendant diluted") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 1-4: degrees 3,2,2,1
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
      .toDF("id_a", "id_b")
    val got = graft.operators.Graph.richClub(pairs, Seq(1, 2))
      .collect().map(r => r.getLong(0) -> r).toMap
    // k=1: club {1,2,3}, all 3 edges realized -> phi = 1.0
    assert(got(1L).getLong(1) == 3L && got(1L).getLong(2) == 3L)
    assert(got(1L).getDouble(3) == 1.0)
    // k=2: club {1} alone -> density undefined (NULL, not 0)
    assert(got(2L).getLong(1) == 1L && got(2L).getLong(2) == 0L)
    assert(got(2L).isNullAt(3))
  }

  test("modularity: two bridged triangles under their true vs trivial labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val good = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("node", "community")
    val r = graft.operators.Graph.modularity(pairs, good).head()
    // m = 7, e_A = e_B = 3, d_A = d_B = 7:
    // Q = 2 * round(3/7 - (7/14)^2, 9) = 0.357142858
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L && r.getLong(2) == 7L)
    assert(r.getLong(3) == 0L)
    assert(r.getDouble(4) == 0.357142858)
    // one community explains nothing: Q = 1 - 1 = 0 exactly
    val trivial = good.select(col("node"), lit("Z").as("community"))
    assert(graft.operators.Graph.modularity(pairs, trivial)
      .head().getDouble(4) == 0.0)
  }

  test("katz: walks count at alpha-discount, every node keeps the floor") {
    import spark.implicits._
    // chain 1→2→3, α=0.5, 2 rounds: x(1)=1 (no in-edges), x(2)=1.5,
    // x(3)=1+0.5·x(2)=1.75 — the length-2 walk arrives in round 2
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = graft.operators.Graph.katz(chain, iters = 2, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.5, 3L -> 1.75))
    // a hub fed by two spokes gets both contributions whole — no
    // per-out-degree dilution (the PageRank contrast)
    val star = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val s = graft.operators.Graph.katz(star, iters = 2, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s == Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.0))
  }

  test("driver finishers match the distributed loops bit-for-bit") {
    import spark.implicits._
    // small-but-irregular graph: a hub, a chain, a 2-cycle, a dangler
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L),
      (2L, 5L), (5L, 2L), (6L, 1L)).toDF("src", "dst")
    val sym = e.unionByName(e.select($"dst".as("src"), $"src".as("dst")))
    val srcs = Seq(1L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // the default takes the driver finisher; the seam forces the
    // distributed loop — results must be identical (same rounding path)
    def same(run: => org.apache.spark.sql.DataFrame) =
      assert(rows(run) === distributed(rows(run)))
    same(Graph.pageRank(e, 4))
    same(Graph.eigenCentrality(sym, 4))
    same(Graph.personalizedPageRank(e, srcs, 4))
    same(Graph.katz(e, 4, 0.3))
    same(Graph.bfsHops(e, srcs, 3))
    same(Graph.multiSourceHarmonic(sym, srcs, 3))
    val we = e.withColumn("w", $"dst" % 3 + 1)
    same(Graph.shortestPaths(we, srcs, 4))
    same(Graph.kCore(sym, 2))
    same(Graph.hits(e, "src", "dst", 3)._1)
    same(Graph.hits(e, "src", "dst", 3)._2)
  }
}
