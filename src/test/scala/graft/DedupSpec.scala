package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "the quick brown fox jumps over the lazy dog near the river edge"),
    (4L, "completely different text about spark catalyst optimizer rules engine"),
    (5L, "another unrelated sentence mentioning parquet columnar storage formats"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 4)
    val dup = out.filter(col("n_copies") === 2).head()
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash assigns identical docs the same representative") {
    val out = Dedup.minhashAssign(docs, "doc_id", "text")
      .select("doc_id", "rep_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out(1L) == 1L)
    assert(out.size == 5)
  }

  test("minhash near-dup pairs finds the duplicate and near-duplicate") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash of identical docs is identical; near pairs at hamming 0") {
    val sim = Dedup.simhashes(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sim(1L) == sim(2L))
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("dupClusters propagates the min id across a chain of pairs") {
    // chain 1-2, 2-3 and isolated pair 4-5... use explicit edges
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(4L) == 4L && out(5L) == 4L)
  }

  test("dupClusters converges on a chain far longer than maxIter (pointer jumping)") {
    // a 60-node chain needs 59 plain-propagation rounds; pointer jumping
    // must finish (and hit the convergence check) within maxIter=10
    val nodes = (1L to 60L).toDF("id")
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // 60 ids fit the driver union-find: force the propagation loop this
    // test is about, and check that it is what ran
    val (out, taken) = graft.operators.DriverFinisher.observe(
        Some(graft.operators.DriverFinisher.Distributed)) {
      Dedup.dupClusters(nodes, "id", pairs, maxIter = 10)
        .as[(Long, Long)].collect().toMap
    }
    assert(taken == Seq("dupClusters" -> graft.operators.DriverFinisher.Distributed))
    assert((1L to 60L).forall(out(_) == 1L))
  }

  test("updateClusters merges standing clusters through the contracted root graph") {
    // standing: {1,2}→1, {5,6}→5, {9}→9; delta: 2-5 bridges the first two
    // clusters, 10-11 arrives as an entirely new component
    val comp = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("node", "cluster_rep")
    val delta = Seq((2L, 5L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.updateClusters(comp, delta)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 9L,
      10L -> 10L, 11L -> 10L))
    // an intra-cluster delta edge contracts to a self-loop: no-op
    val same = Dedup.updateClusters(comp, Seq((1L, 2L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(same == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("repeatedSpans finds maximal repeated passages, never unique k-context") {
    // doc 1 and doc 2 share a 10-word paragraph (k=4 => positions whose
    // every 4-shingle repeats span the whole paragraph); doc 3 is unique
    // apart from its OWN internal repetition of a 5-word phrase; doc 4 is
    // entirely unique and must emit nothing
    val para = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val docs = Seq(
      (1L, s"unique one two three $para tail1 tailx"),
      (2L, s"$para other words entirely here"),
      (3L, "pre red green blue white black mid red green blue white black post"),
      (4L, "nothing here repeats at all ever truly once only"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", k = 4, minOcc = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc1: para at tokens 4..13; doc2: 0..9; doc3: the 5-word phrase at
    // 1..5 and 7..11 (k=4: matched shingle starts 1,2 and 7,8)
    assert(out == Set(
      (1L, 4L, 13L, 10L),
      (2L, 0L, 9L, 10L),
      (3L, 1L, 5L, 5L),
      (3L, 7L, 11L, 5L)))
  }

  test("updateClustersDelta emits ONLY changed rows; untouched clusters absent") {
    // standing: {1,2}→1, {5,6}→5, and a 3-member cluster {20,21,22}→20
    // the batch never touches; delta: 2-5 merges the first two clusters,
    // 10-11 arrives new
    val comp = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L),
      (20L, 20L), (21L, 20L), (22L, 20L)).toDF("node", "cluster_rep")
    val edges = Seq((2L, 5L), (10L, 11L)).toDF("id_a", "id_b")
    val delta = Dedup.updateClustersDelta(comp, edges)
      .as[(Long, Long)].collect().toMap
    // exactly the relabeled members of the merged cluster + the new pair:
    // the untouched {20,21,22} MUST NOT appear — this is the per-batch
    // commit bound (O(batch + touched-cluster members), never O(state))
    assert(delta == Map(5L -> 1L, 6L -> 1L, 10L -> 10L, 11L -> 10L))
    // an intra-cluster edge contracts to a self-loop: empty delta
    assert(Dedup.updateClustersDelta(comp,
      Seq((1L, 2L)).toDF("id_a", "id_b")).isEmpty)
    // isolated new nodes only: delta is just the fresh self-roots
    assert(Dedup.updateClustersDelta(comp,
      Seq((30L, 31L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap == Map(30L -> 30L, 31L -> 30L))
  }

  test("updateClustersDelta driver fast path == distributed loop, long and string keys") {
    // merge two standing clusters, chain a fresh component onto a standing
    // one, add an isolated fresh pair, and an intra-cluster no-op edge —
    // every branch of the delta in one graph
    val comp = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L),
      (20L, 20L), (21L, 20L)).toDF("node", "cluster_rep")
    val edges = Seq((2L, 5L), (6L, 30L), (30L, 31L), (40L, 41L), (20L, 21L))
      .toDF("id_a", "id_b")
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sorted.toSeq
    val driver = bag(Dedup.updateClustersDelta(comp, edges))
    val dist = distributed(bag(Dedup.updateClustersDelta(comp, edges)))
    assert(driver == dist, s"driver=$driver dist=$dist")
    // node 2's root was already 1, so it must NOT re-emit; {20,21} untouched
    assert(driver.toMap == Map(5L -> 1L, 6L -> 1L, 30L -> 1L, 31L -> 1L,
      40L -> 40L, 41L -> 40L))
    // string keys take the UTF8 byte order for the component minimum
    val compS = Seq(("b", "a"), ("a", "a"), ("x", "x")).toDF("node", "cluster_rep")
    val edgesS = Seq(("b", "x"), ("m", "z")).toDF("id_a", "id_b")
    def bagS(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().sorted.toSeq
    val dS = bagS(Dedup.updateClustersDelta(compS, edgesS))
    val xS = distributed(bagS(Dedup.updateClustersDelta(compS, edgesS)))
    assert(dS == xS, s"driver=$dS dist=$xS")
    assert(dS.toMap == Map("x" -> "a", "m" -> "m", "z" -> "m"))
  }

  test("updateCanonical re-picks only touched clusters; ties to min id") {
    // standing: cluster {1,2} keeps 2 (weight 9 > 5); singleton {8} keeps 8.
    // batch: node 3 (weight 9) joins {1,2} — tie with 2 → keep goes to 2
    // (min id); node 10 arrives isolated → keeps itself; {8} untouched.
    val state = Seq(
      (1L, 1L, 0, 5L), (2L, 1L, 1, 9L), (8L, 8L, 1, 3L))
      .toDF("node", "cluster_rep", "keep", "weight")
    val newNodes = Seq((3L, 9L), (10L, 1L)).toDF("node", "weight")
    val edges = Seq((2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.updateCanonical(state, newNodes, edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out(1L) == ((1L, 0, 5L)))
    assert(out(2L) == ((1L, 1, 9L)), "weight tie must break to the min id")
    assert(out(3L) == ((1L, 0, 9L)))
    assert(out(8L) == ((8L, 1, 3L)), "an untouched cluster rides through")
    assert(out(10L) == ((10L, 1, 1L)), "an isolated new node keeps itself")
  }

  test("ngram jaccard ranks the exact duplicate pair first") {
    val top = Dedup.ngramJaccardTopPairs(docs, "doc_id", "text", topK = 10).head()
    assert(top.getAs[Long]("id_a") == 1L)
    assert(top.getAs[Long]("id_b") == 2L)
    assert(top.getAs[Double]("jaccard") == 1.0)
  }

  test("persisted LSH index probe finds corpus near-dups at batch cost") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_lshidx").toString + "/idx"
    // corpus = docs 1,3,4; batch = 2 (dup of 1), 5 (unrelated)
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id").isin(1L, 3L, 4L)), "doc_id", "text", idx)
    // the index is laid out for band-pruned probes
    assert(new java.io.File(idx).listFiles()
      .exists(_.getName.startsWith("band_idx=")))
    val hits = Dedup.probeMinhashIndex(
      spark, idx, docs.filter(col("doc_id").isin(2L, 5L)),
      "doc_id", "text", threshold = 0.5)
      .select("batch_id", "corpus_id", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    assert(hits.exists(h => h._1 == 2L && h._2 == 1L && h._3 == 1.0),
      "the exact duplicate must surface with full signature agreement")
    assert(!hits.exists(_._1 == 5L), "unrelated batch doc must not match")
  }

  test("probing an index with a different numHashes fails loudly") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_lshidx_mismatch").toString + "/idx"
    Dedup.writeMinhashIndex(docs, "doc_id", "text", idx, numHashes = 32)
    val e = intercept[IllegalArgumentException] {
      Dedup.probeMinhashIndex(spark, idx, docs, "doc_id", "text",
        numHashes = 64)
    }
    assert(e.getMessage.contains("numHashes=32"),
      "a band-misaligned probe silently misses near-dups; it must error")
  }

  test("content-defined chunks tile each document exactly") {
    val real = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val out = Dedup.contentChunks(real, "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(sum(col("chunk_len")).as("tot"), count(lit(1)).as("nc"),
        min(col("chunk_start")).as("first"))
      .join(real.select(col("doc_id"), length(col("text")).as("n")), "doc_id")
      .collect()
    assert(out.length == 50)
    out.foreach { r =>
      assert(r.getAs[Long]("tot") == r.getAs[Int]("n").toLong,
        s"doc ${r.getAs[Long]("doc_id")}: chunks must cover every character")
      assert(r.getAs[Long]("first") == 1L)
    }
  }

  test("content-defined cuts survive a prefix insertion (the CDC property)") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === 0).select(col("text")).as[String].head()
    val both = Seq((0L, base), (1L, "INSERTED PREFIX " + base))
      .toDF("doc_id", "text")
    val chunks = Dedup.contentChunks(both, "doc_id", "text")
      .select(col("doc_id"), col("chunk_hash")).as[(Long, String)]
      .collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val orig = chunks(0L)
    assert(orig.size >= 3, "doc 0 must produce several chunks for this test")
    // every original chunk except the first starts AT a content cut and
    // ends at one: the insertion shifts offsets but not the cut windows,
    // so those chunks must reappear verbatim in the modified document
    val tail = Dedup.contentChunks(both.filter(col("doc_id") === 0), "doc_id", "text")
      .filter(col("chunk_idx") >= 1)
      .select(col("chunk_hash")).as[String].collect().toSet
    assert(tail.subsetOf(chunks(1L)),
      "fixed-width chunking breaks here; content-defined must not")
  }

  test("documents shorter than the window are a single whole chunk") {
    import spark.implicits._
    val out = Dedup.contentChunks(
      Seq((7L, "abc")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((0L, 1L, 3L)))
  }

  test("setSimilarityJoin: prefix filtering is lossless vs brute force") {
    // docs engineered so some qualifying pairs share ONLY common (non-rare)
    // tokens — the case a naive rare-token-only index would miss
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),    // J(1,2) = 4/6 = 0.667
      (3L, "alpha beta gamma delta epsilon"), // J(1,3) = 1.0
      (4L, "omega psi chi phi upsilon"),
      (5L, "omega psi chi phi upsilon tau"),  // J(4,5) = 5/6 = 0.833
      (6L, "unrelated words entirely here")).toDF("doc_id", "text")
    def brute(t: Double) = {
      val rows = corpus.collect().map(r =>
        r.getLong(0) -> r.getString(1).split(" ").toSet)
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= t
      } yield (ia, ib)).toSet
    }
    for (t <- Seq(0.5, 0.66, 0.9)) {
      val got = Dedup.setSimilarityJoin(corpus, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(t), s"threshold $t")
    }
  }

  test("canonicalPerCluster keeps exactly the best-weighted doc per cluster") {
    val weighted = docs.withColumn("w",
      // doc 2 outweighs its duplicate 1: the canonical pick must be 2
      when(col("doc_id") === 2L, 10L).otherwise(col("doc_id")))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalPerCluster(weighted, "doc_id", pairs, "w")
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, 0)) && out(2L) == ((1L, 1)) && out(3L) == ((1L, 0)),
      "cluster {1,2,3} keeps only the heaviest member 2")
    assert(out(4L) == ((4L, 1)) && out(5L) == ((5L, 1)),
      "singleton docs keep themselves")
  }
  test("dupSizeProfile: hand histogram with shares and removable counts") {
    import spark.implicits._
    val docs = Seq("a", "a", "a", "b", "b", "c").toDF("text")
    val got = Dedup.dupSizeProfile(docs, "text")
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, 1L, 0.166667, 0L)))
    assert(got(2L) == ((2L, 1L, 2L, 0.333333, 1L)))
    assert(got(3L) == ((3L, 1L, 3L, 0.5, 2L)))
  }

  test("lshDesignTable: more bands buy recall and pay in false " +
    "candidates; one wide band does the reverse") {
    import spark.implicits._
    val pairs = (Seq.fill(10)(0.95) ++ Seq.fill(10)(0.05)).toDF("sim")
    val got = graft.operators.Dedup.lshDesignTable(pairs, "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got.size == 6)
    assert(got.values.forall(_.getLong(2) == 20L))
    val manyBands = got((32L, 1L))
    val oneBand = got((1L, 32L))
    assert(manyBands.getDouble(5) > 0.99,
      s"32 bands of 1 row catch everything similar: $manyBands")
    assert(manyBands.getDouble(6) > 0.4,
      "and drown in sub-threshold candidates")
    assert(oneBand.getDouble(5) < 0.5,
      s"one 32-row band misses near-dups: $oneBand")
    assert(oneBand.getDouble(6) < 0.01,
      "but admits almost no false candidates")
  }
}
