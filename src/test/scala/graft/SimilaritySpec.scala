package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("same"),
      VectorFunctions.cosine(col("a"), col("c")).as("orth")).head()
    assert(math.abs(r.getAs[Double]("same") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("orth")) < 1e-12)
  }

  test("randomProjectionAudit: one-hot pair distances match the " +
    "plane-weight reference loop; coincident vectors read NULL ratio") {
    // a = e0, b = e1 (8 dims, k = 4): d2_orig = 2 and d2_proj =
    // sum_j ((s_j(0) - s_j(1))/2)^2 over the SAME plane family the
    // operator uses — recomputed here independently
    val dims = 8
    val k = 4
    def oneHot(d: Int) =
      Array.tabulate(dims)(i => if (i == d) 1.0f else 0.0f)
    val df = Seq((1L, oneHot(0)), (2L, oneHot(1)), (3L, oneHot(1)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProjectionAudit(
      df, "vec_id", "embedding", dims, projDims = k, buckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val ref = (0 until k).map { j =>
      val w = VectorFunctions.planeWeights(1000 + j, dims)
      val d = (w(0) - w(1)) / math.sqrt(k.toDouble)
      d * d
    }.sum
    val ab = got((1L, 2L))
    assert(ab.getDouble(2) == 2.0, s"original one-hot distance: $ab")
    assert(math.abs(ab.getDouble(3) - ref) < 1e-5,
      s"projected ${ab.getDouble(3)} vs reference $ref")
    assert(math.abs(ab.getDouble(4) - ref / 2.0) < 1e-5, s"ratio: $ab")
    val dup = got((2L, 3L))
    assert(dup.getDouble(2) == 0.0 && dup.isNullAt(4),
      s"coincident pair refuses the ratio: $dup")
  }

  test("knnBrute: a planted duplicate vector is its query's top neighbor") {
    val emb = Tables.load(spark, sf, "embeddings")
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    val top = Similarity.knnBrute(corpus, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", 1).head()
    assert(top.getAs[Long]("nid") == 100000L)
  }

  test("annRecall: per-query overlap over the exact denominator") {
    val exact = Seq((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 20L), (2L, 2, 21L))
      .toDF("qid", "rnk", "nid")
    val approx = Seq((1L, 1, 11L), (1L, 2, 99L), (2L, 1, 20L), (2L, 2, 21L))
      .toDF("qid", "rnk", "nid")
    val r = Similarity.annRecall(approx, exact)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getDouble(3)))).toMap
    assert(r(1L) == ((2L, 1L, 0.5)), "one of two exact hits found")
    assert(r(2L) == ((2L, 2L, 1.0)), "full recall; approx extras don't inflate")
  }

  test("annLsh finds the planted duplicate (same LSH buckets by construction)") {
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    val out = Similarity.annLsh(corpus, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", 64, 1)
    assert(out.head().getAs[Long]("nid") == 100000L)
  }

  test("annIvf finds the planted duplicate (same cell by construction)") {
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    val out = Similarity.annIvf(corpus, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", nCentroids = 8, nProbe = 1, k = 1)
    assert(out.head().getAs[Long]("nid") == 100000L)
  }

  test("annIvf is deterministic run-to-run (decimal centroid accumulation)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    def run() = Similarity.annIvf(emb, q, "vec_id", "embedding", nCentroids = 8)
      .collect().map(_.toSeq).toSeq
    assert(run() == run())
  }

  test("annPq: a planted duplicate shares codes with its query and tops the ranking") {
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    val out = Similarity.annPq(corpus, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", 64, k = 3).collect()
    // identical vectors quantize to identical codes, so the duplicate's
    // reconstruction scores the maximum cosine for this query (ties with
    // any code-colliding vector are possible, so assert on the score)
    val top = out.head.getAs[Double]("cos_r")
    val dup = out.find(_.getAs[Long]("nid") == 100000L)
    assert(dup.isDefined && dup.get.getAs[Double]("cos_r") == top)
  }

  test("annPq is deterministic run-to-run (decimal codebooks, L2 assignment)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    def run() = Similarity.annPq(emb, q, "vec_id", "embedding", 64)
      .collect().map(_.toSeq).toSeq
    assert(run() == run())
  }

  test("persisted PQ index reproduces annPq bit-for-bit; append encodes without retraining") {
    val emb = Tables.load(spark, sf, "embeddings").limit(300)
    val q = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/idx"
    Similarity.buildPqIndex(emb, "vec_id", "embedding", 64, idx)
    val direct = Similarity.annPq(emb, q, "vec_id", "embedding", 64)
      .collect().map(_.toSeq).toSeq
    val viaIndex = Similarity.queryPqIndex(spark, idx, q, "vec_id", "embedding")
      .collect().map(_.toSeq).toSeq
    assert(direct == viaIndex, "the index path must be bit-equal to build-and-query")
    // append a planted duplicate of vector 0: identical subvectors encode
    // to identical codes against the existing codebooks, so it ties the
    // query's top reconstruction score
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    Similarity.appendToPqIndex(spark, idx, planted, "vec_id", "embedding", 64)
    val out = Similarity.queryPqIndex(spark, idx,
      emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3).collect()
    val top = out.head.getAs[Double]("cos_r")
    val dup = out.find(_.getAs[Long]("nid") == 100000L)
    assert(dup.isDefined && dup.get.getAs[Double]("cos_r") == top)
  }

  test("a zero vector (NaN cosine) never outranks real neighbors") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings").limit(50)
    val zero = Seq((200000L, Array.fill(64)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val corpus = emb.unionByName(zero)
    val top = Similarity.knnBrute(corpus, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", 5)
    assert(!top.select("nid").as[Long].collect().contains(200000L))
  }

  test("appendToIvfIndex: appended vectors are queryable without re-clustering") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_append").toString + "/ivf"
    val emb = Tables.load(spark, sf, "embeddings").limit(80)
    // plant a batch copy of vector 0 under a new id
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", 8, idx)
    val centroidsBefore = spark.read.parquet(s"$idx/centroids")
      .orderBy(col("cid")).collect().toSeq
    Similarity.appendToIvfIndex(spark, idx, planted, "vec_id", "embedding")
    // centroids untouched — append must not re-cluster
    assert(spark.read.parquet(s"$idx/centroids")
      .orderBy(col("cid")).collect().toSeq == centroidsBefore)
    // the appended duplicate lands in vector 0's own cell, so the probe
    // finds it as the top neighbor at cosine 1
    val top = Similarity.queryIvfIndex(
      spark, idx, emb.filter(col("vec_id") === 0), "vec_id", "embedding")
      .head()
    assert(top.getAs[Long]("nid") == 100000L)
    assert(top.getAs[Double]("cos_r") == 1.0)
  }

  test("embeddingNearDupPairs surfaces the planted duplicate with cos 1") {
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val out = Similarity.embeddingNearDupPairs(
      emb.unionByName(planted), "vec_id", "embedding", 64, topK = 5)
    val top = out.head()
    assert(top.getAs[Long]("id_a") == 0L && top.getAs[Long]("id_b") == 100000L)
    assert(top.getAs[Double]("cos_r") == 1.0)
  }

  test("mmrRerank diversifies: the near-duplicate of pick 1 is demoted") {
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val corpus = Seq(
      (1L, Array(1.0f, 0.01f)),   // rel ~1.0
      (2L, Array(1.0f, 0.011f)),  // near-duplicate of 1, rel ~1.0
      (3L, Array(0.6f, 0.8f))     // different direction, rel 0.6
    ).toDF("id", "vec")
    // diversity must outweigh relevance to sink a near-duplicate whose
    // redundancy (sim to pick 1 ≈ 1) exceeds the alternative's (≈ its
    // own relevance, since pick 1 sits at the query direction):
    // step2 scores  2: .3·1 − .7·1 = −.40   3: .3·.6 − .7·.608 = −.25
    val got = Similarity.mmrRerank(corpus, q, "id", "vec",
        m = 3, k = 3, lamRel = 0.3, lamDiv = 0.7)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)),
      s"expected diversified order 1,3,2; got ${got.mkString(",")}")
  }

  test("mmrRerank tie-breaks: identical candidates pick the lowest id first") {
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val corpus = Seq(
      (7L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),
      (5L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val got = Similarity.mmrRerank(corpus, q, "id", "vec",
        m = 3, k = 3, lamRel = 0.7, lamDiv = 0.3)
      .collect().map(_.getLong(2)).toSeq
    assert(got == Seq(3L, 5L, 7L), s"ties must resolve by ascending id: $got")
  }

  test("rankingMetrics: hand MRR/AP/NDCG, R=0 queries emit NULLs") {
    // query 0 (label 1): ranks are 1→id1(rel, cos 1), then the 0.7071
    // tie id2/id4 broken by id, 4→id3(rel, cos 0); R = 2 (ids 1, 3).
    // MRR = 1, AP = (1/1 + 2/4)/2 = 0.75, DCG = 1 + 0.430676558073,
    // IDCG = cum[2] = 1.630929753571.
    // query 4's label is unique in the corpus → R = 0 → NULL metrics.
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(2.0f, 0.0f), 1),
      (2L, Array(1.0f, 1.0f), 0), (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.5f, 0.5f), 9)).toDF("id", "vec", "lab")
    val got = Similarity.rankingMetrics(corpus,
        corpus.filter($"id" === 0L || $"id" === 4L), "id", "vec", "lab")
      .collect().map(r => r.getLong(0) -> r).toMap
    val q0 = got(0L)
    assert((q0.getLong(2), q0.getLong(3)) == ((2L, 2L)))
    assert(q0.getDouble(4) == 1.0 && q0.getDouble(5) == 0.75)
    assert(q0.getDouble(6) ==
      math.rint((1.0 + 0.430676558073) / 1.630929753571 * 1e6) / 1e6)
    val q4 = got(4L)
    assert(q4.getLong(2) == 0L)
    assert(q4.isNullAt(4) && q4.isNullAt(5) && q4.isNullAt(6))
  }
  test("truncationFidelity: a truncation-flipped pair halves the RBO") {
    // full ranking c2 > c1; first-2-dims ranking c1 > c2 (ties by id):
    // X_1 = 0, X_2 = 2 -> RBO = 0.09; both still overlap at k
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(1.0f, 0.1f, 0.0f))).toDF("id", "vec")
    val r = Similarity.truncationFidelity(corpus,
      corpus.filter($"id" === 0L), "id", "vec", dims = 2, k = 2).head()
    assert(r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.09)
  }

  test("labelNoiseAudit: mislabeled vector lands in the other cluster") {
    import spark.implicits._
    // label 0: two (1,0) vectors plus ONE (0,1) mislabeled; label 1: two
    // (0,1). The mislabeled row must assign to centroid 1.
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 0),
      (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNoiseAudit(df, "vec_id", "embedding", "label")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got((0L, 0L)) == ((2L, 0.666667)))
    assert(got((0L, 1L)) == ((1L, 0.333333)))
    assert(got((1L, 1L)) == ((2L, 1.0)))
    assert(!got.contains((1L, 0L)), "clean label never leaks")
  }


  test("kmeansCentroids: driver-local Lloyd equals the distributed loop " +
    "bit-for-bit (each branch forced through the seam)") {
    import graft.operators.DriverFinisher.{Distributed, Driver}
    val emb = graft.sources.Tables.load(spark, sf, "embeddings").limit(120)
    def cents() =
      Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8)
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1))
        .toMap
    val driver = forced(Driver)(cents())
    val distributed = forced(Distributed)(cents())
    assert(driver.keySet == distributed.keySet)
    driver.keySet.foreach { k =>
      assert(driver(k) == distributed(k), s"centroid mismatch at $k")
    }
  }

  test("pqTrain: driver-local Lloyd equals the distributed loop " +
    "bit-for-bit (each branch forced through the seam)") {
    import graft.operators.DriverFinisher.{Distributed, Driver}
    val emb = graft.sources.Tables.load(spark, sf, "embeddings").limit(120)
    def cb() =
      Similarity.pqTrain(emb, "vec_id", "embedding", 64, 4, 16)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2))
        .toMap
    val driver = forced(Driver)(cb())
    val distributed = forced(Distributed)(cb())
    assert(driver.keySet == distributed.keySet)
    driver.keySet.foreach { k =>
      assert(driver(k) == distributed(k), s"codebook mismatch at $k")
    }
  }
}
