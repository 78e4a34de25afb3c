package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Drift, DriverFinisher, Graph, Learn, Sharding,
  Similarity, Trend}
import graft.operators.DriverFinisher.{Branch, Distributed, Driver}
import graft.sources.{JdbcSink, PartitionedLake}

/** Parity of every driver finisher: each property runs an operator with
  * the seam forced to [[Driver]] and to [[Distributed]] over generated
  * inputs (ties, duplicate keys, empty inputs, string keys, nulls, −0.0
  * and NaN where the input type admits them), and checks equal results
  * and that the forced branch is the one that ran.
  */
class DriverFinisherSpec extends SparkSuite {

  /** Check `check` on `n` generated inputs; a fixed seed keeps the
    * suite deterministic and no shrinking bounds its Spark jobs. */
  private def property[A](n: Int, gen: Gen[A])(check: A => Unit): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(n).withWorkers(1)
        .withInitialSeed(Seed(20261019L)),
      Prop.forAllNoShrink(gen) { a => check(a); true })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Run `run` under both forced branches: equal results, and the
    * decisions named `ops` took the forced branch. Forcing Driver keeps
    * an operator's eligibility test, so an ineligible input records
    * `underDriver` = Distributed (or both, when a later test fails). */
  private def parity[T](ops: Set[String],
      underDriver: Set[Branch] = Set(Driver))(run: => T): T = {
    val (d, dTaken) = DriverFinisher.observe(Some(Driver))(run)
    val (x, xTaken) = DriverFinisher.observe(Some(Distributed))(run)
    assert(d == x, s"driver $d != distributed $x")
    def branches(taken: Seq[(String, Branch)]) =
      taken.filter(t => ops(t._1)).map(_._2).toSet
    assert(branches(dTaken) == underDriver, s"forced Driver took $dTaken")
    assert(branches(xTaken) == Set(Distributed), s"forced Distributed took $xTaken")
    d
  }

  private val longEdges = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  private def edgeDf(es: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      es.map { case (a, b) => Row(a, b) }: _*), longEdges)

  private def nodeDf(ns: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ns.map(Row(_)): _*),
      StructType(Seq(StructField("node", LongType))))

  /** Small node domains force ties, duplicate edges, self-loops and
    * cycles; the empty list is generated explicitly. */
  private val genEdges: Gen[Seq[(Long, Long)]] = Gen.frequency(
    1 -> Gen.const(Seq.empty),
    5 -> Gen.choose(1, 28).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 10L), Gen.choose(0L, 10L)))))

  private def symmetric(es: Seq[(Long, Long)]) = es ++ es.map(_.swap)

  test("graph power loops: pageRank, eigenCentrality, personalizedPageRank, " +
    "katz and hits agree under both branches") {
    property(5, Gen.zip(genEdges, Gen.someOf(0L to 12L))) { case (es, ss) =>
      val e = edgeDf(es)
      val sym = edgeDf(symmetric(es))
      val srcs = nodeDf(ss.toSeq)
      parity(Set("pageRank"))(rows(Graph.pageRank(e, 3)))
      parity(Set("eigenCentrality"))(rows(Graph.eigenCentrality(sym, 3)))
      parity(Set("personalizedPageRank"))(
        rows(Graph.personalizedPageRank(e, srcs, 3)))
      parity(Set("katz"))(rows(Graph.katz(e, 3, 0.3)))
      parity(Set("hits")) {
        val (h, a) = Graph.hits(e, "src", "dst", 3)
        (rows(h), rows(a))
      }
    }
  }

  test("graph traversals: bfsHops, multiSourceHarmonic, shortestPaths, " +
    "kCore, kTruss and labelPropagation agree under both branches") {
    property(5, Gen.zip(genEdges, Gen.someOf(0L to 12L))) { case (es, ss) =>
      val e = edgeDf(es)
      val sym = edgeDf(symmetric(es))
      val srcs = nodeDf(ss.toSeq)
      parity(Set("bfsHops"))(rows(Graph.bfsHops(e, srcs, 3)))
      if (ss.nonEmpty) parity(Set("multiSourceHarmonic"))(
        rows(Graph.multiSourceHarmonic(sym, srcs, 3)))
      val we = e.withColumn("w", (e("src") * 7 + e("dst")) % 4 + 1)
      parity(Set("shortestPaths"))(rows(Graph.shortestPaths(we, srcs, 4)))
      parity(Set("kCore"))(rows(Graph.kCore(sym, 2)))
      parity(Set("kTruss"))(rows(Graph.kTruss(e, 3)))
      parity(Set("labelPropagation"))(rows(Graph.labelPropagation(sym, 3)))
      parity(Set("labelPropagation"))(rows(Graph.labelPropagation(e, 2)))
    }
  }

  test("graph finishers keep string-keyed edges on the distributed loop") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    val srcs = Seq("a").toDF("node")
    parity(Set("pageRank"), Set(Distributed))(rows(Graph.pageRank(e, 2)))
    parity(Set("bfsHops"), Set(Distributed))(rows(Graph.bfsHops(e, srcs, 2)))
    // round 1 breaks d's three-way tie to the smallest label; in round 2
    // d's label count (d twice, a once) beats the smaller label
    val sym = Seq(("b", "d"), ("c", "d"), ("a", "e"), ("e", "d"))
      .flatMap(p => Seq(p, p.swap)).toDF("src", "dst")
    assert(parity(Set("labelPropagation"), Set(Distributed))(
      rows(Graph.labelPropagation(sym, 1))) ==
      Seq("[a,e]", "[b,d]", "[c,d]", "[d,b]", "[e,a]"))
    assert(parity(Set("labelPropagation"), Set(Distributed))(
      rows(Graph.labelPropagation(sym, 2))) ==
      Seq("[a,a]", "[b,b]", "[c,b]", "[d,d]", "[e,b]"))
  }

  test("minimumSpanningForest: Kruskal and Boruvka give the unique forest " +
    "for distinct weights") {
    property(5, genEdges) { es =>
      val ws = new scala.util.Random(es.length).shuffle(es.indices.toList)
      val e = spark.createDataFrame(java.util.Arrays.asList(
        es.zip(ws).map { case ((a, b), w) => Row(a, b, w.toLong) }: _*),
        StructType(longEdges.fields :+ StructField("w", LongType)))
      parity(Set("minimumSpanningForest"))(
        rows(Graph.minimumSpanningForest(e)))
    }
  }

  /** Pairs over a 0..18 domain: some endpoints are outside the node set
    * and some are null. */
  private val genPairs: Gen[Seq[(Option[Long], Option[Long])]] = {
    val end = Gen.frequency(8 -> Gen.choose(0L, 18L).map(Some(_)),
      1 -> Gen.const(None))
    Gen.choose(0, 16).flatMap(n => Gen.listOfN(n, Gen.zip(end, end)))
  }

  private def pairDf(ps: Seq[(Option[Long], Option[Long])],
      key: Long => Any, dt: DataType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ps.map { case (a, b) =>
      Row(a.map(key).orNull, b.map(key).orNull) }: _*),
      StructType(Seq(StructField("id_a", dt), StructField("id_b", dt))))

  // string keys: "n10" < "n9" under Spark's byte order, unlike the numbers
  private val keyings: Seq[(Long => Any, DataType)] =
    Seq((identity[Long] _, LongType), ((v: Long) => s"n$v", StringType))

  test("dupClusters: union-find equals min-label propagation, " +
    "long and string keys") {
    property(4, Gen.zip(Gen.someOf(0L to 15L), genPairs)) { case (ns, ps) =>
      keyings.foreach { case (key, dt) =>
        val nodes = spark.createDataFrame(java.util.Arrays.asList(
          ns.toSeq.map(v => Row(key(v))): _*),
          StructType(Seq(StructField("id", dt))))
        parity(Set("dupClusters"))(
          rows(Dedup.dupClusters(nodes, "id", pairDf(ps, key, dt))))
      }
    }
  }

  test("updateClustersDelta: driver delta equals the distributed delta, " +
    "long and string keys, null endpoints") {
    // a standing assignment: nodes 0..11 in up to 5 clusters, each
    // represented by its minimum member
    val genComp = Gen.listOfN(12, Gen.option(Gen.choose(0, 4))).map { cs =>
      val members = (0L until 12L).zip(cs).collect { case (n, Some(c)) => (n, c) }
      val rep = members.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).min }
      members.map { case (n, c) => (n, rep(c)) }
    }
    property(4, Gen.zip(genComp, genPairs)) { case (comp, ps) =>
      keyings.foreach { case (key, dt) =>
        val state = spark.createDataFrame(java.util.Arrays.asList(
          comp.map { case (n, r) => Row(key(n), key(r)) }: _*),
          StructType(Seq(StructField("node", dt), StructField("cluster_rep", dt))))
        parity(Set("updateClustersDelta"))(
          rows(Dedup.updateClustersDelta(state, pairDf(ps, key, dt))))
      }
    }
  }

  /** Corpora of one vector width: ties, −0.0 and all-zero vectors (a NaN
    * cosine) in every corpus; NaN and null elements in some. The empty
    * corpus is generated too. */
  private def genCorpus(dims: Int): Gen[Seq[(Long, Seq[java.lang.Double])]] = {
    val finite = Gen.oneOf(-1.0, -0.0, 0.0, 0.5, 1.0, 2.0)
    val any = Gen.frequency(12 -> finite, 1 -> Gen.const(Double.NaN))
      .map(java.lang.Double.valueOf)
    val elem = Gen.frequency(12 -> any, 1 -> Gen.const(null: java.lang.Double))
    val vec = (x: Gen[java.lang.Double]) => Gen.listOfN(dims, x)
    Gen.frequency(
      1 -> Gen.const(Seq.empty),
      3 -> Gen.choose(0, 14).flatMap(n =>
        Gen.listOfN(n, vec(finite.map(java.lang.Double.valueOf)))),
      2 -> Gen.choose(1, 14).flatMap(n => Gen.listOfN(n, vec(elem))))
      .map(vs => vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
  }

  private def corpusDf(c: Seq[(Long, Seq[java.lang.Double])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      c.map { case (i, v) => Row(i, v) }: _*),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(DoubleType)))))

  /** Only finite, present vector elements are replayed on the driver. */
  private def lloydBranches(c: Seq[(Long, Seq[java.lang.Double])]) =
    if (c.forall(_._2.forall(x => x != null && !x.isNaN))) Set[Branch](Driver)
    else Set[Branch](Driver, Distributed)

  test("kmeansCentroids: driver Lloyd equals the distributed loop, " +
    "cosine and l2") {
    property(6, genCorpus(3)) { c =>
      Seq("cosine", "l2").foreach { metric =>
        parity(Set("kmeansCentroids", "kmeansCentroids.values"),
            lloydBranches(c))(rows(Similarity.kmeansCentroids(
          corpusDf(c), "id", "vec", k = 3, iters = 2, metric = metric)))
      }
    }
  }

  test("kmeansCentroids and pqTrain initialise past a null vector") {
    val c = Seq[Seq[java.lang.Double]](Seq(1.0, 0.0, 0.0, 2.0),
      Seq(0.0, 1.0, 0.5, 0.0), Seq(1.0, 1.0, 0.0, -1.0), Seq(0.5, 2.0, 1.0, 1.0),
      Seq(2.0, 0.0, 1.0, 0.5)).zipWithIndex.map { case (v, i) => (i + 1L, v) }
    val withNull = corpusDf((0L, null) +: c)
    Seq(Driver, Distributed).foreach { b =>
      def both(df: DataFrame) = forced(b)((
        rows(Similarity.kmeansCentroids(df, "id", "vec", k = 3, iters = 2)),
        rows(Similarity.pqTrain(df, "id", "vec", dims = 4, subspaces = 2,
          codebookSize = 3))))
      assert(both(withNull) == both(corpusDf(c)), s"forced $b")
    }
  }

  test("pqTrain: driver Lloyd equals the distributed loop") {
    property(6, genCorpus(4)) { c =>
      parity(Set("pqTrain", "pqTrain.values"), lloydBranches(c))(
        rows(Similarity.pqTrain(corpusDf(c), "id", "vec", dims = 4,
          subspaces = 2, codebookSize = 3)))
    }
  }

  test("theilSenPerKey: driver selection equals the pair window; " +
    "null rows fall through to the window") {
    val v = Gen.choose(0L, 5L)
    val genRows = Gen.choose(0, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf("a", "b", "c"), v, v)))
    property(5, Gen.zip(genRows, Gen.oneOf(false, true))) { case (rs, nulls) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rs.zipWithIndex
        .map { case ((k, x, y), i) =>
          if (nulls && i % 4 == 1) Row(k, null, y)
          else if (nulls && i % 4 == 3) Row(null, x, y)
          else Row(k, x, y) }: _*),
        StructType(Seq(StructField("k", StringType),
          StructField("x", LongType), StructField("y", LongType))))
      // rows with a null field skip the pair budget
      val anyNull = nulls && rs.length > 1
      parity(Set("theilSenPerKey", "theilSenPerKey.pairs"),
          if (anyNull) Set(Driver, Distributed) else Set(Driver))(
        rows(Trend.theilSenPerKey(df, "k", "x", "y")))
    }
  }

  test("hlFromCensus: driver search equals the batched distributed probes") {
    val genCensus = Gen.choose(1, 14).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(-6L, 6L), Gen.choose(0L, 3L), Gen.choose(0L, 3L))))
    property(5, genCensus) { cen =>
      val df = spark.createDataFrame(java.util.Arrays.asList(
        cen.map { case (v, a, b) => Row(v, a, b) }: _*),
        StructType(Seq(StructField("v", LongType), StructField("ta", LongType),
          StructField("tb", LongType))))
      val both = cen.exists(_._2 > 0) && cen.exists(_._3 > 0)
      if (both) parity(Set("hlFromCensus"))(rows(Drift.hlFromCensus(df)))
      else assert(rows(Drift.hlFromCensus(df)) ==
        distributed(rows(Drift.hlFromCensus(df))))
    }
  }

  test("lloydCore (through kMeans1D): driver rounds equal the census loop") {
    val genValues = Gen.choose(4, 30).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(6 -> Gen.choose(-20L, 20L),
        1 -> Gen.choose(1000L, 1010L))))
    property(4, Gen.zip(genValues, Gen.choose(2, 4))) { case (vs, k) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(
        vs.map(Row(_)): _*), StructType(Seq(StructField("v", LongType))))
      parity(Set("lloydCore"))(rows(Learn.kMeans1D(df, "v", k, 3)))
    }
  }

  test("stableMatch: sequential deferred acceptance equals the " +
    "synchronized rounds; string targets stay distributed") {
    // agents 0..6 rank a shuffled subset of targets 0..3 (1-based ranks,
    // sometimes with a gap); targets score agents with ties
    val genPrefs = Gen.listOfN(7, Gen.zip(Gen.someOf(0L to 3L),
      Gen.listOfN(4, Gen.choose(0L, 2L)), Gen.oneOf(0, 0, 1)))
      .map(_.zipWithIndex.flatMap { case ((ts, scores, gap), a) =>
        new scala.util.Random(a * 31 + ts.size).shuffle(ts.toList)
          .zipWithIndex.map { case (t, r) =>
            (a.toLong, t, (r + 1 + (if (r > 0) gap else 0)).toLong,
              scores(t.toInt)) }
      })
    property(4, Gen.zip(genPrefs, Gen.choose(1, 2))) { case (ps, cap) =>
      def prefs(target: Long => Any, dt: DataType) = spark.createDataFrame(
        java.util.Arrays.asList(ps.map { case (a, t, r, s) =>
          Row(a, target(t), r, s) }: _*),
        StructType(Seq(StructField("agent", LongType),
          StructField("target", dt), StructField("a_rank", LongType),
          StructField("t_score", LongType))))
      parity(Set("stableMatch"))(
        rows(Sharding.stableMatch(prefs(identity, LongType), cap)))
      parity(Set("stableMatch"), Set(Distributed))(
        rows(Sharding.stableMatch(prefs(t => s"t$t", StringType), cap)))
    }
  }

  test("the seam is thread-scoped: another thread's decisions are neither " +
    "forced nor recorded") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      // the worker thread starts outside any scope
      pool.submit(new Runnable { def run(): Unit = () }).get()
      val (_, taken) = DriverFinisher.observe(Some(Distributed)) {
        pool.submit(new java.util.concurrent.Callable[Array[Row]] {
          def call(): Array[Row] = Graph.pageRank(e, 1).collect()
        }).get()
        Graph.pageRank(e, 1).collect()
      }
      assert(taken == Seq("pageRank" -> Distributed))
    } finally pool.shutdown()
  }

  /** Everything a lake write leaves under `dir`: the tree of paths with
    * each write job's uuid masked, the footer schema and key-value
    * metadata of every parquet file by directory, and the rows
    * `spark.read.parquet` gives. */
  private def lakeState(dir: String): (Seq[String], Seq[String], Seq[String]) = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    val paths = try walk.iterator().asScala.toList finally walk.close()
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val tree = paths.map(p => uuid.replaceAllIn(root.relativize(p).toString, "U")).sorted
    assert(!tree.exists(_.contains(".spark-staging")), s"staging left in $tree")
    val files = paths.filter(p => p.getFileName.toString.endsWith(".parquet"))
    val footers = files.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), spark.sparkContext.hadoopConfiguration))
      val meta = try r.getFooter.getFileMetaData finally r.close()
      s"${root.relativize(p.getParent)} ${meta.getSchema} " +
        meta.getKeyValueMetaData.asScala.toSeq.sorted.mkString(",")
    }.sorted
    (tree, footers, if (files.isEmpty) Nil else rows(spark.read.parquet(dir)))
  }

  private def lake(seed: DataFrame, partCols: Seq[String])(
      write: String => Unit): (Seq[String], Seq[String], Seq[String]) = {
    val dir = Files.createTempDirectory("graft_finisher_lake").toString + "/t"
    distributed(PartitionedLake.writeAll(seed, dir, partCols))
    write(dir)
    lakeState(dir)
  }

  test("lakeWrite: writeAll, deleteInsert, compact and mergeUpsert leave the " +
    "same rows, directories, files and footers under both branches") {
    import spark.implicits._
    val days = Seq(("2024-01-01", "a", 1, 1.5), ("2024-01-02", "b", 2, -0.5),
      ("2024-01-02", "c", 3, 0.0), ("2024-01-03", "a:b c", 4, 2.0))
      .toDF("day", "s", "n", "x")
    val typed = days.select(col("day").cast("date").as("date_id"), col("s"), col("n"),
      col("day").cast("timestamp").as("ts"), col("x"))
    // string values: escaped, null and empty (both land in the default partition)
    val strings = Seq[(String, java.lang.Long)](("a:b c", 1L), ("x/y=z", 2L), (null, 3L),
      ("", 4L), ("plain", null)).toDF("s", "v")
    val lakeWrite = Set("lakeWrite")
    // date, string, int and timestamp partition columns, one and two levels
    Seq(Seq("date_id"), Seq("s"), Seq("n"), Seq("ts"), Seq("date_id", "s")).foreach { parts =>
      parity(lakeWrite)(lake(typed, parts)(PartitionedLake.writeAll(typed.repartition(3), _, parts)))
      parity(lakeWrite)(lake(typed, parts)(dir =>
        PartitionedLake.deleteInsert(typed.filter(col("n") > 1).withColumn("x", col("x") * 10), dir, parts)))
    }
    parity(lakeWrite)(lake(strings, Seq("s"))(PartitionedLake.writeAll(strings.coalesce(2), _, Seq("s"))))
    parity(lakeWrite)(lake(strings, Seq("s"))(PartitionedLake.deleteInsert(
      strings.filter(col("v").isNotNull).withColumn("v", col("v") + 1), _, Seq("s"))))
    // empty frames
    parity(lakeWrite)(lake(typed, Seq("date_id"))(PartitionedLake.writeAll(typed.limit(0), _, Seq("date_id"))))
    parity(lakeWrite)(lake(typed, Seq("date_id"))(PartitionedLake.deleteInsert(typed.limit(0), _, Seq("date_id"))))
    // a refresh computed from the lake it replaces
    parity(lakeWrite)(lake(typed, Seq("date_id"))(dir => PartitionedLake.deleteInsert(
      PartitionedLake.read(spark, dir).filter(col("n") >= 3).withColumn("n", col("n") + 100),
      dir, Seq("date_id"))))
    // compact and mergeUpsert write through deleteInsert
    val many = spark.range(60).selectExpr("id", "CAST(id % 3 AS INT) AS p", "id * 0.5 AS x").repartition(4)
    parity(lakeWrite)(lake(many, Seq("p"))(dir =>
      PartitionedLake.compact(spark, dir, "p", Seq("0", "2"), filesPerPartition = 2)))
    parity(lakeWrite)(lake(typed, Seq("date_id"))(dir => PartitionedLake.mergeUpsert(spark, dir,
      typed.filter(col("n") =!= 1).withColumn("x", lit(9.0)).unionByName(typed.filter(col("n") === 4)
        .withColumn("s", lit("new"))), Seq("date_id", "s"), Seq("date_id"))))
  }

  test("lakeWrite: a frame cached over the lake sees the rows either branch wrote") {
    import spark.implicits._
    Seq(Driver, Distributed).foreach { b =>
      val dir = Files.createTempDirectory("graft_finisher_cache").toString
      PartitionedLake.writeAll(Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("date_id", "v"),
        dir, Seq("date_id"))
      val cached = PartitionedLake.read(spark, dir).cache()
      try {
        assert(cached.count() == 2)
        val (_, taken) = DriverFinisher.observe(Some(b))(PartitionedLake.deleteInsert(
          Seq(("2024-01-02", 20L), ("2024-01-02", 21L), ("2024-01-03", 3L)).toDF("date_id", "v"),
          dir, Seq("date_id")))
        assert(taken == Seq("lakeWrite" -> b))
        assert(rows(cached.select(col("date_id").cast("string"), col("v"))) ==
          Seq("[2024-01-01,1]", "[2024-01-02,20]", "[2024-01-02,21]", "[2024-01-03,3]"), s"forced $b")
      } finally cached.unpersist()
    }
  }

  test("jdbcLoad: the keyed delete and insert leave the same table under both branches") {
    val schema = StructType(Seq(StructField("date_id", StringType), StructField("city", StringType),
      StructField("n", IntegerType), StructField("big", LongType), StructField("temp", DoubleType),
      StructField("ok", BooleanType), StructField("amount", DecimalType(10, 2)),
      StructField("day", DateType), StructField("at", TimestampType)))
    def frame(rs: Row*) = spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    val d = java.sql.Date.valueOf("2024-01-05")
    val t = java.sql.Timestamp.valueOf("2024-01-05 06:07:08.123456")
    val seed = frame(Row("2024-01-01", "old", 1, 10L, 1.0, true, BigDecimal("1.25").bigDecimal, d, t),
      Row("2024-01-02", "keep", 2, 20L, -0.0, false, null, null, null))
    val refresh = frame(Row("2024-01-01", "new", 3, null, 9.5, null, BigDecimal("-3.10").bigDecimal, d, t),
      Row("2024-01-01", null, null, 40L, null, true, null, null, t)).repartition(2)
    var db = 0
    /** A fresh database seeded with `seed`, then each load in turn (each
      * step builds its frame from the database's url); the table after. */
    def load(steps: (String => DataFrame, String)*): Seq[String] = {
      db += 1
      val url = s"jdbc:derby:memory:graft_finisher_$db;create=true"
      val props = new java.util.Properties()
      seed.write.mode("overwrite")
        .option("createTableColumnTypes", "date_id VARCHAR(10), city VARCHAR(8)")
        .jdbc(url, "gold.t", props)
      steps.foreach { case (df, key) =>
        JdbcSink.load(df(url), url, "gold", "t", "date_id", key, props, numPartitions = 1)
      }
      val c = java.sql.DriverManager.getConnection(url, props)
      try {
        val rs = c.createStatement().executeQuery("SELECT * FROM gold.t")
        val out = Iterator.continually(rs.next()).takeWhile(identity).map(_ =>
          (1 to schema.size).map(i => String.valueOf(rs.getObject(i))).mkString("|")).toList
        val stages = c.createStatement().executeQuery(
          "SELECT COUNT(*) FROM SYS.SYSTABLES WHERE UPPER(TABLENAME) LIKE '%STAGE%'")
        stages.next()
        assert(stages.getInt(1) == 0)
        out.sorted
      } finally c.close()
    }
    val jdbcLoad = Set("jdbcLoad")
    parity(jdbcLoad)(load((_ => refresh, "2024-01-01")))
    // a key with no rows yet, then an empty refresh that clears a key
    parity(jdbcLoad)(load((_ => refresh, "2024-01-03"), (_ => refresh.limit(0), "2024-01-02")))
    // a refresh read from the table it replaces
    parity(jdbcLoad)(load((_ => refresh, "2024-01-01"), (url =>
      spark.read.jdbc(url, "gold.t", new java.util.Properties())
        .filter(col("date_id") === "2024-01-01").withColumn("n", lit(7)), "2024-01-01")))
  }
}
