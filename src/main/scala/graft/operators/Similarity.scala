package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - `knnBrute`: exact top-k — the query set is broadcast, the corpus is
  *   scanned once, a per-query window keeps the top k. At 100 TB this is one
  *   full scan with no shuffle of the corpus (the window shuffles only
  *   |corpus| × |queries| score rows — keep the query set small or pre-top-k
  *   per partition before the window).
  * - `annLsh`: the scale path — random-hyperplane LSH buckets corpus and
  *   queries; only same-bucket candidates are scored, so cost is
  *   O(candidates) instead of O(corpus × queries).
  */
object Similarity {

  /** Cosine score safe for ranking: a zero-norm vector yields NaN, and
    * Spark orders NaN ABOVE every double — a single garbage zero vector
    * would otherwise become the rank-1 neighbor of every query. NaN is
    * mapped to null, which `desc` ordering places last.
    */
  private def rankableCosine(a: Column, b: Column): Column = {
    val c = cosine(a, b)
    when(isnan(c), lit(null).cast("double")).otherwise(c)
  }

  /** Int8 scalar quantization + top-k: the standard 4× vector-memory
    * compression for ANN at scale. Corpus-global [min, max] maps every
    * component onto the 0..255 grid; neighbors are then ranked by cosine
    * over the QUANTIZED vectors (stored as float — 0..255 is exact in
    * float, which keeps the codegen [[graft.plans.VecCosine]] path).
    *
    * Cross-engine determinism is total here, not just probable: quantized
    * components are small integers, so every dot/norm accumulation in the
    * cosine is an EXACT double (products ≤ 255², sums far below 2^53,
    * order-independent) — two candidates either tie exactly (broken by
    * id) or differ reproducibly.
    */
  def quantizedKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10): DataFrame = {
    val bounds = corpus.agg(
      min(array_min(col(vecCol))).cast("double").as("mn"),
      max(array_max(col(vecCol))).cast("double").as("mx")).head()
    val mn = bounds.getDouble(0)
    val mx = bounds.getDouble(1)
    require(mx > mn, s"degenerate embedding range [$mn, $mx]")
    val scale = 255.0 / (mx - mn)
    // clamp: the grid is derived from the CORPUS, so a query component
    // outside [mn, mx] would otherwise map outside 0..255 and void the
    // exact-in-double argument (and the int8 framing)
    def quant(df: DataFrame) = df.withColumn(vecCol,
      transform(col(vecCol), v =>
        least(greatest(round((v.cast("double") - lit(mn)) * lit(scale)),
          lit(0.0)), lit(255.0)).cast("int").cast("float")))
    knnBrute(quant(corpus), quant(queries), idCol, vecCol, k)
  }

  /** Exact brute-force cosine top-k per query vector. */
  def knnBrute(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val scored = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), rankableCosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Bucketed ANN: 2 bands × 8 random-hyperplane bits; candidates share at
    * least one band with the query, then exact cosine ranks the top k.
    */
  def annLsh(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 5): DataFrame = {
    def banded(df: DataFrame, id: String, v: String): DataFrame =
      df.select(
        col(idCol).as(id), col(vecCol).as(v),
        lshSignature(col(vecCol), 0, 8, dims).as("b0"),
        lshSignature(col(vecCol), 8, 8, dims).as("b1"))
        .select(
          col(id), col(v),
          posexplode(array(col("b0"), col("b1"))).as(Seq("band_idx", "band_val")))
    // vectors ride along through the band explode, so candidates are scored
    // in place; same-pair matches from both bands collapse in the groupBy
    val scored = banded(queries, "qid", "qv")
      .join(banded(corpus, "nid", "nv"), Seq("band_idx", "band_val"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(rankableCosine(col("qv"), col("nv")), 4).as("cos_r"))
      .groupBy(col("qid"), col("nid"))
      .agg(max(col("cos_r")).as("cos_r"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("nid"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cos_r"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** ANN evaluation harness — recall@k of an approximate top-k result
    * against the exact ground truth, both in the `(qid, rnk, nid)` shape
    * every search operator here emits. The metric that decides whether an
    * index's speed/recall trade is shippable (tune bands/probes until the
    * measured recall holds). One broadcast-sized join on the k×queries
    * result rows — evaluation cost never touches the corpus.
    */
  def annRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("qid"), col("nid"))
    val ap = approx.select(col("qid"), col("nid"), lit(1L).as("__hit"))
    ex.join(ap, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall"))
  }

  /** K-means coarse quantizer: deterministic init (first `k` vectors by
    * id), fixed Lloyd iterations. Each iteration is one corpus scan
    * (centroids broadcast into the assignment) + one shuffle for the
    * recompute — the shape that holds at 100 TB, where the centroid set
    * (k × dims) stays tiny by definition while the corpus scales out.
    *
    * Two deliberate choices:
    * - Centroid means accumulate in DECIMAL and divide as exact
    *   sum/count doubles — a raw double `avg` depends on shuffle-arrival
    *   order, making the whole index nondeterministic run-to-run.
    * - Each iteration's centroids are COLLECTED to the driver and rebuilt
    *   as a literal DataFrame (the standard k-means driver pattern): the
    *   alternative — chaining iteration i+1's plan onto iteration i's —
    *   grows the lineage exponentially and re-executes every prior
    *   iteration inside each reference. Collecting k×dims values is O(kB)
    *   at any corpus size.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      metric: String = "cosine"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = corpus.sparkSession
    val schema = StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("cvec", ArrayType(DoubleType, containsNull = false))))
    def literal(rows: Seq[(Int, Seq[Double])]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    // init = the first k non-null vectors by id (the recompute below
    // ignores a null vector too: its posexplode yields no rows)
    var cur: Seq[(Int, Seq[Double])] =
      corpus.filter(col(vecCol).isNotNull).orderBy(col(idCol)).limit(k)
        .select(transform(col(vecCol), x => x.cast("double")).as("v"))
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](0)) }
    // DRIVER-LOCAL Lloyd rounds when the corpus vectors are collectable
    // (the size is total ELEMENTS — rows×dims — since memory is what the
    // collect spends). Every replayed step is
    // the same JVM arithmetic the expressions run: the [[graft.plans
    // .VecCosine]]/[[graft.plans.VecL2Sq]] left-to-right double folds,
    // the assign() argmin ordering (score +0.0 so −0.0 ties like Spark,
    // NaN greatest, lowest cid on ties), and the mean's
    // double→DECIMAL(30,12) HALF_UP cast, exact decimal sum, and
    // doubleValue/count division. The previous loop paid (assign +
    // recompute-collect) jobs per round for every trainer in the
    // ANN/IVF/PQ family.
    val dims0 = cur.headOption.map(_._2.length.toLong).getOrElse(0L)
    val driverVecs =
      if (DriverFinisher.fits("kmeansCentroids", DriverFinisher.LloydElems)(
          corpus.count() * math.max(dims0, 1L)))
        replayableVectors("kmeansCentroids", corpus, vecCol, dims0)
      else None
    if (driverVecs.isDefined) {
      val vecs = driverVecs.get
      val rm = java.math.RoundingMode.HALF_UP
      // a corpus smaller than k yields fewer init centroids — size to it
      val kk = cur.length
      for (_ <- 0 until iters) {
        val cents = cur.map(_._2.toArray).toArray
        val sums = Array.fill(kk, dims0.toInt)(java.math.BigDecimal.ZERO)
        val cnts = new Array[Long](kk)
        vecs.foreach { v =>
          var best = -1; var bestScore = 0.0
          var j = 0
          while (j < kk) {
            val c = cents(j)
            val n = math.min(v.length, c.length)
            var score =
              if (metric == "cosine") {
                var dot = 0.0; var na = 0.0; var nb = 0.0
                var i = 0
                while (i < n) {
                  dot += v(i) * c(i); na += v(i) * v(i); nb += c(i) * c(i)
                  i += 1
                }
                val cos = dot / (math.sqrt(na) * math.sqrt(nb))
                if (cos.isNaN) Double.PositiveInfinity else -cos
              } else {
                var s = 0.0; var i = 0
                while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
                s
              }
            score = score + 0.0 // −0.0 compares equal, like Spark
            if (best < 0 || java.lang.Double.compare(score, bestScore) < 0) {
              best = j; bestScore = score
            }
            j += 1
          }
          cnts(best) += 1L
          var p = 0
          while (p < v.length) {
            sums(best)(p) = sums(best)(p).add(
              java.math.BigDecimal.valueOf(v(p)).setScale(12, rm))
            p += 1
          }
        }
        cur = cur.map { case (cid, cvec) =>
          if (cnts(cid) == 0L) (cid, cvec)
          else (cid, cvec.indices.map(p =>
            sums(cid)(p).doubleValue() / cnts(cid).toDouble))
        }
      }
      return literal(cur)
    }
    for (_ <- 0 until iters) {
      val assigned = assign(corpus, literal(cur), idCol, vecCol, metric)
      val recomputed = corpus
        .join(assigned, Seq(idCol))
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("x").cast("double").cast(DecimalType(30, 12))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("m")).as("nvec"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toMap
      // a cluster that attracted zero points vanishes from the recompute
      // groupBy — carry its previous centroid forward so the caller always
      // gets exactly k cells (annIvf's nProbe math assumes that)
      cur = cur.map { case (cid, cvec) => (cid, recomputed.getOrElse(cid, cvec)) }
    }
    literal(cur)
  }

  /** The corpus vectors as doubles when the driver Lloyd can replay them:
    * every vector present and `dims` wide, every element finite. The
    * distributed mean casts NaN and ±Inf to a null decimal that its sum
    * skips but its count keeps, which the driver sums do not model, so
    * such corpora take the distributed loop. */
  private def replayableVectors(op: String, corpus: DataFrame,
      vecCol: String, dims: Long): Option[Array[Array[Double]]] = {
    val vs = corpus
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0))
    val ok = vs.forall(v => v != null && v.length == dims && v.forall {
      case d: Double => !d.isNaN && !d.isInfinite
      case _ => false
    })
    if (DriverFinisher.accepts(s"$op.values", ok))
      Some(vs.map(_.map(_.asInstanceOf[Double]).toArray))
    else None
  }

  /** Nearest-centroid assignment: (idCol, cid). `metric` is "cosine"
    * (similarity, descending — the IVF family's spherical convention) or
    * "l2" (squared Euclidean, ascending — the PQ/Lloyd-optimal pairing
    * with the mean-recompute step). Ties break to the lowest cid in both.
    */
  private def assign(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      metric: String = "cosine"): DataFrame = {
    val sim = metric match {
      case "cosine" => rankableCosine(col("__v"), col("cvec"))
      case "l2" => -graft.functions.VectorFunctions.l2sq(col("__v"), col("cvec"))
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }
    // argmin as a partial-aggregating min(struct) instead of a sort window:
    // the window shuffled and SORTED all n·k candidate rows, the aggregate
    // map-side-combines to one row per id before the exchange. Ordering is
    // identical: (__sim desc, cid asc) rank 1 == min(struct(-__sim, cid)),
    // with a +Inf sentinel reproducing the window's NULLS-LAST placement
    // for the null a NaN cosine maps to (ties on the sentinel still break
    // to the lowest cid, exactly like the window's tiebreaker).
    corpus.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(broadcast(centroids))
      .select(col(idCol),
        struct(coalesce(-sim, lit(Double.PositiveInfinity)).as("__no"),
          col("cid")).as("__sc"))
      .groupBy(col(idCol))
      .agg(min(col("__sc")).as("__m"))
      .select(col(idCol), col("__m").getField("cid").as("cid"))
  }

  /** Build-once IVF index persisted to a lake: centroids as one tiny
    * table, the assigned corpus partitioned BY CELL — so a query probe
    * reads only its probed cells' directories (partition pruning), which
    * is the property that makes vector search viable at 100 TB: index
    * construction is amortized across every later query batch instead of
    * re-clustering per query ([[annIvf]]'s shape).
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      indexPath: String): Unit = {
    val centroids = kmeansCentroids(corpus, idCol, vecCol, nCentroids)
    centroids.write.mode("overwrite").parquet(s"$indexPath/centroids")
    assign(corpus, centroids, idCol, vecCol)
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol).as("nid"), col(vecCol).as("nv"), col("cid"))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$indexPath/cells")
  }

  /** Incrementally add a batch to a persisted IVF index: the batch is
    * assigned against the EXISTING centroids (no re-clustering) and its
    * rows append into the matching cell directories. This is how a
    * production vector index actually grows — re-running k-means over
    * 100 TB of embeddings per ingest batch is exactly what an inverted
    * file structure exists to avoid. Centroids drift from the true
    * current-data optimum as batches accumulate; periodic [[buildIvfIndex]]
    * re-builds are the rebalance, not per-batch recompute.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Unit = {
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    assign(batch, centroids, idCol, vecCol)
      .join(batch.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol).as("nid"), col(vecCol).as("nv"), col("cid"))
      .write.mode("append").partitionBy("cid")
      .parquet(s"$indexPath/cells")
  }

  /** Query a persisted IVF index: same probe/rank arithmetic as
    * [[annIvf]], so results are identical to the build-and-query path —
    * the equality the oracle gate hashes.
    */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int = 2,
      k: Int = 5): DataFrame = {
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val cells = spark.read.parquet(s"$indexPath/cells")
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("__sim").desc, col("cid"))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("cid"),
        rankableCosine(col("qv"), col("cvec")).as("__sim"))
      .withColumn("__rnk", row_number().over(wq))
      .filter(col("__rnk") <= nProbe)
      .select(col("qid"), col("cid"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("nid"))
    probes
      .join(cells, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")), Seq("qid"))
      .select(col("qid"), col("nid"),
        round(rankableCosine(col("qv"), col("nv")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cos_r"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** IVF ANN: coarse-quantize the corpus into `nCentroids` cells, probe the
    * `nProbe` cells nearest each query, exact-rank only those candidates.
    * Complements [[annLsh]]: IVF adapts to the data distribution where LSH
    * is data-independent.
    */
  def annIvf(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int = 16,
      nProbe: Int = 2,
      k: Int = 5): DataFrame = {
    val centroids = kmeansCentroids(corpus, idCol, vecCol, nCentroids)
    val corpusCells = assign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("nid"), col("cid"))
    ivfRank(corpus, queries, centroids, corpusCells, idCol, vecCol, nProbe, k)
  }

  /** The probe/rank half of [[annIvf]] against an already-built
    * (centroids, cells) pair — shared with [[recallSweep]] so a probe
    * sweep clusters ONCE and varies only the probe arithmetic. */
  private def ivfRank(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      corpusCells: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int,
      k: Int): DataFrame = {
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("__sim").desc, col("cid"))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("cid"), rankableCosine(col("qv"), col("cvec")).as("__sim"))
      .withColumn("__rnk", row_number().over(wq))
      .filter(col("__rnk") <= nProbe)
      .select(col("qid"), col("cid"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("nid"))
    probes
      .join(corpusCells, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")), Seq("qid"))
      .join(corpus.select(col(idCol).as("nid"), col(vecCol).as("nv")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(rankableCosine(col("qv"), col("nv")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cos_r"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** ANN RECALL SWEEP — the index-quality decision table the whole
    * approximate-search shelf rests on: brute-force exact top-k on a
    * SAMPLED query set is the ground truth; each approximate method
    * (2-band LSH, IVF at every probe count in `probes`) is scored by
    * corpus-wide recall@k against it. This turns "the LSH/IVF indexes
    * are good enough" from an assumption into a measured number, and the
    * probe sweep shows exactly where recall saturates — the knob a
    * production deployment tunes before committing probe cost.
    *
    * Scale shape: ground truth is brute force over QUERIES × corpus with
    * the query side sampled and broadcast (q26's posture — never
    * all-pairs); the IVF clustering runs ONCE and every probe level
    * reuses the same cells (the sweep costs one extra probe/rank pass
    * per level, not one clustering); all recall joins live on k×queries
    * rows. Recall ratios are exact integer hit counts divided once.
    */
  def recallSweep(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 10,
      nCentroids: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1), "probes must be >= 1")
    val exact = knnBrute(corpus, queries, idCol, vecCol, k)
      .localCheckpoint(true) // reused by every method's recall join
    val centroids = kmeansCentroids(corpus, idCol, vecCol, nCentroids)
    val cells = assign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("nid"), col("cid"))
      .localCheckpoint(true) // clustered once, probed per level
    // ONE candidate/scoring pass at max(probes) instead of an independent
    // ivfRank re-rank per probe level: every nid lives in exactly one
    // cell, so its candidacy level for a query is that cell's probe rank
    // __rnk — level p's candidate set is exactly `__rnk <= p`, and the
    // rounded cosine per (qid, nid) is level-independent. Each level then
    // re-ranks the pre-scored slice (k×queries-ish rows), which drops two
    // of the three corpus-joined cosine passes and their job trains. The
    // per-level (candidate set, cos_r, rank order) triples are identical
    // to ivfRank's by construction.
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("__sim").desc, col("cid"))
    val maxP = probes.max
    val probeRanks = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("cid"),
        rankableCosine(col("qv"), col("cvec")).as("__sim"))
      .withColumn("__rnk", row_number().over(wq))
      .filter(col("__rnk") <= maxP)
      .select(col("qid"), col("cid"), col("__rnk"))
    val cand = probeRanks
      .join(cells, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")),
        Seq("qid"))
      .join(corpus.select(col(idCol).as("nid"), col(vecCol).as("nv")),
        Seq("nid"))
      .select(col("qid"), col("nid"), col("__rnk"),
        round(rankableCosine(col("qv"), col("nv")), 4).as("cos_r"))
      .localCheckpoint(true) // scored once, sliced per probe level
    def ivfAt(p: Int): DataFrame = {
      val wr = Window.partitionBy(col("qid"))
        .orderBy(col("cos_r").desc, col("nid"))
      cand.filter(col("__rnk") <= p)
        .withColumn("rnk", row_number().over(wr))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("rnk"), col("nid"), col("cos_r"))
    }
    val perMethod =
      Seq(("lsh_2band",
        annRecall(annLsh(corpus, queries, idCol, vecCol, dims, k), exact))) ++
      probes.map(p => (f"ivf_p$p%02d", annRecall(ivfAt(p), exact)))
    perMethod.map { case (m, r) =>
      r.agg(count(lit(1)).as("n_queries"),
          sum(col("n_exact")).as("n_exact"),
          sum(col("n_hit")).as("n_hit"))
        .select(lit(m).as("method"), col("n_queries"), col("n_exact"),
          col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6)
            .as("recall"))
    }.reduce(_.unionByName(_)).orderBy(col("method"))
  }

  /** Product-quantization ANN: the memory-compression path beyond int8
    * scalar quantization ([[quantizedKnn]]). The vector space is split
    * into `subspaces` contiguous slices; each subspace trains its own
    * `codebookSize`-entry codebook (independent L2 k-means — Lloyd's
    * mean-recompute step is exactly optimal for squared Euclidean, hence
    * the "l2" metric here vs the IVF family's spherical cosine). A corpus
    * vector is then stored as `subspaces` small codes (here 4 × 4 bits =
    * 2 bytes instead of 256 — a 128× compression), and queries are scored
    * asymmetrically: the RAW query against each candidate's RECONSTRUCTED
    * vector (codewords concatenated back in subspace order), which is the
    * ADC formulation from Jégou et al.'s PQ paper.
    *
    * Scale shape: codebooks are `subspaces × codebookSize` rows — always
    * broadcastable. Encoding is ONE corpus pass (posexplode into
    * subvectors → broadcast-join all codebooks → per-(id, subspace)
    * argmin), never one scan per subspace. Training cost is bounded by
    * [[kmeansCentroids]]'s per-iteration scan; production would train on
    * a sample — the encode path is the part that must scale.
    *
    * Determinism: L2 assignment compares left-to-right double folds
    * (exact same association as the oracle's list_reduce), ties to the
    * lowest cid; reconstruction concatenates decimal-exact centroid
    * means; final cosine is rounded to 4 decimals before ranking, ties to
    * the lowest neighbor id.
    */
  def annPq(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      subspaces: Int = 4,
      codebookSize: Int = 16,
      k: Int = 5): DataFrame = {
    val codebook = pqTrain(corpus, idCol, vecCol, dims, subspaces, codebookSize)
    val recon = pqRecon(
      pqEncode(corpus, codebook, idCol, vecCol, dims, subspaces), codebook)
    pqAdcRank(recon, queries, idCol, vecCol, k)
  }

  /** Train the `subspaces` independent L2 codebooks: (sub_idx, cid, cvec),
    * `subspaces × codebookSize` rows — always broadcastable.
    */
  private[graft] def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      subspaces: Int,
      codebookSize: Int,
      iters: Int = 2): DataFrame = {
    require(dims % subspaces == 0, s"$dims dims not divisible into $subspaces subspaces")
    val sub = dims / subspaces
    val spark = corpus.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // ALL subspaces train in one keyed Lloyd loop: the previous
    // per-subspace kmeansCentroids calls paid (init collect + iters
    // recompute collects) × subspaces Spark jobs over the same corpus —
    // measured as most of q207's 67-job board entry. One exploded
    // (id, sub_idx, subvector) frame drives every subspace's assignment
    // and mean-recompute together; per-(sub_idx, cid) arithmetic —
    // L2 argmin with lowest-cid ties, decimal-exact means, emptied
    // clusters carrying their previous centroid — is the per-subspace
    // computation verbatim, so codebooks are bit-identical.
    val schema = StructType(Seq(
      StructField("sub_idx", IntegerType, nullable = false),
      StructField("cid", IntegerType, nullable = false),
      StructField("cvec", ArrayType(DoubleType, containsNull = false))))
    def literal(rows: Seq[(Int, Int, Seq[Double])]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), schema)
    // init = first codebookSize non-null vectors by id, sliced per
    // subspace (the same rows each per-subspace init selected)
    val initVecs = corpus.filter(col(vecCol).isNotNull).orderBy(col(idCol))
      .limit(codebookSize)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().toSeq.zipWithIndex
    var cur: Seq[(Int, Int, Seq[Double])] =
      for { m <- 0 until subspaces; (r, i) <- initVecs }
        yield (m, i, r.getSeq[Double](0).slice(m * sub, (m + 1) * sub))
    // DRIVER-LOCAL Lloyd rounds when the corpus vectors are collectable —
    // the identical size and arithmetic as [[kmeansCentroids]] above. Every
    // replayed step is the same JVM arithmetic the distributed expressions
    // run: the [[graft.plans.VecL2Sq]] left-to-right fold over the slice
    // bounds the old slice+l2sq pair produced, min(struct(d, cid)) argmin
    // (+0.0 so −0.0 ties like Spark, NaN greatest, lowest cid on ties),
    // per-(sub, cid, pos) exact DECIMAL(30,12) sums (HALF_UP cast of each
    // double) and the doubleValue/count division. The distributed loop
    // paid (assign-groupBy + explode-recompute-collect) jobs per round.
    val dims0 = initVecs.headOption
      .map(_._1.getSeq[Double](0).length.toLong).getOrElse(0L)
    val driverVecs =
      if (DriverFinisher.fits("pqTrain", DriverFinisher.LloydElems)(
          corpus.count() * math.max(dims0, 1L)))
        replayableVectors("pqTrain", corpus, vecCol, dims0)
      else None
    if (driverVecs.isDefined) {
      val vecs = driverVecs.get
      // a corpus smaller than codebookSize yields fewer init codewords
      val kk = initVecs.length
      val rm = java.math.RoundingMode.HALF_UP
      for (_ <- 0 until iters) {
        val cents: Map[(Int, Int), Array[Double]] =
          cur.map { case (m, cid, cv) => (m, cid) -> cv.toArray }.toMap
        val sums = scala.collection.mutable.Map
          .empty[(Int, Int), Array[java.math.BigDecimal]]
        val cnts = scala.collection.mutable.Map.empty[(Int, Int), Array[Long]]
        vecs.foreach { v =>
          var m = 0
          while (m < subspaces) {
            val base = m * sub
            val avail = math.max(v.length - base, 0)
            var best = -1; var bestScore = 0.0
            var cid = 0
            while (cid < kk) {
              val c = cents((m, cid))
              val n = math.min(math.min(sub, avail), c.length)
              var s = 0.0; var i = 0
              while (i < n) { val d = v(base + i) - c(i); s += d * d; i += 1 }
              val score = s + 0.0
              if (best < 0 || java.lang.Double.compare(score, bestScore) < 0) {
                best = cid; bestScore = score
              }
              cid += 1
            }
            val sliceLen = math.min(sub, avail)
            val sm = sums.getOrElseUpdate((m, best),
              Array.fill(sub)(java.math.BigDecimal.ZERO))
            val cn = cnts.getOrElseUpdate((m, best), new Array[Long](sub))
            var p = 0
            while (p < sliceLen) {
              sm(p) = sm(p).add(
                java.math.BigDecimal.valueOf(v(base + p)).setScale(12, rm))
              cn(p) += 1L
              p += 1
            }
            m += 1
          }
        }
        cur = cur.map { case (m, cid, cvec) =>
          cnts.get((m, cid)) match {
            case None => (m, cid, cvec) // emptied cluster keeps its centroid
            case Some(cn) =>
              val sm = sums((m, cid))
              val upTo = cn.lastIndexWhere(_ > 0L) + 1
              if (upTo == 0) (m, cid, cvec)
              else (m, cid, (0 until upTo).map(p =>
                sm(p).doubleValue() / cn(p).toDouble))
          }
        }
      }
      return literal(cur).localCheckpoint(true)
    }
    val sliced = corpus.select(
      col(idCol).as("__id"),
      posexplode(array((0 until subspaces).map(m =>
        slice(col(vecCol), m * sub + 1, sub)): _*)).as(Seq("sub_idx", "__sv")))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val assigned = sliced.join(broadcast(literal(cur)), Seq("sub_idx"))
        .select(col("__id"), col("sub_idx"), col("__sv"),
          struct(graft.functions.VectorFunctions.l2sq(col("__sv"), col("cvec"))
            .as("__d"), col("cid")).as("__sc"))
        .groupBy(col("__id"), col("sub_idx"), col("__sv"))
        .agg(min(col("__sc")).getField("cid").as("cid"))
      val recomputed = assigned
        .select(col("sub_idx"), col("cid"),
          posexplode(col("__sv")).as(Seq("pos", "x")))
        .groupBy(col("sub_idx"), col("cid"), col("pos"))
        .agg((sum(col("x").cast("double").cast(DecimalType(30, 12))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("sub_idx"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("sub_idx"), col("cid"),
          transform(col("ps"), p => p.getField("m")).as("nvec"))
        .collect().toSeq
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2)))
        .toMap
      cur = cur.map { case (m, cid, cvec) =>
        (m, cid, recomputed.getOrElse((m, cid), cvec))
      }
    }
    literal(cur).localCheckpoint(true)
  }

  /** ONE corpus pass: each vector → its nearest codeword per subspace via
    * the codegen [[graft.plans.VecPqEncode]] argmin loop (one Project +
    * posexplode of the codes array). The codebook — subspaces ×
    * codebookSize tiny rows, the same thing the previous plan broadcast —
    * rides as a plan constant; the expression replicates the old
    * slice → l2sq → min(struct(dist, cid)) arithmetic exactly (left-to-
    * right double fold, lowest-cid ties, NaN greatest), so codes are
    * bit-identical.
    */
  private def pqEncode(
      df: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      subspaces: Int): DataFrame = {
    val sub = dims / subspaces
    val entries = codebook.select(col("sub_idx"), col("cid"), col("cvec"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2)))
      .toSeq
    val codebookSize = entries.length / subspaces
    df.select(
      col(idCol).as("nid"),
      posexplode(graft.plans.PqExpressions.pqEncodeCodes(
        col(vecCol), entries, subspaces, codebookSize, sub))
        .as(Seq("sub_idx", "cid")))
  }

  /** Reconstruction: codes → codeword vectors concatenated in subspace
    * order, (nid, rv).
    */
  private def pqRecon(codes: DataFrame, codebook: DataFrame): DataFrame =
    codes.join(broadcast(codebook), Seq("sub_idx", "cid"))
      .groupBy(col("nid"))
      .agg(array_sort(collect_list(struct(col("sub_idx"), col("cvec")))).as("ps"))
      .select(col("nid"),
        flatten(transform(col("ps"), p => p.getField("cvec"))).as("rv"))

  /** Asymmetric (ADC) ranking: raw queries against reconstructions. */
  private def pqAdcRank(
      recon: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("nid"))
    recon.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(rankableCosine(col("qv"), col("rv")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cos_r"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Persisted PQ index: the codebook (subspaces × k tiny rows) and the
    * CODES (subspaces small ints per vector — the 128×-compressed form;
    * this is what a PQ index stores, never the reconstructions) land as
    * two parquet tables. Queries re-derive reconstructions by joining
    * codes to the broadcast codebook — storage stays compressed, and
    * results are bit-equal to the build-and-query [[annPq]] path (the
    * shared-oracle contract, like the IVF index q150).
    */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      indexPath: String,
      subspaces: Int = 4,
      codebookSize: Int = 16): Unit = {
    val codebook = pqTrain(corpus, idCol, vecCol, dims, subspaces, codebookSize)
    codebook.write.mode("overwrite").parquet(s"$indexPath/codebook")
    pqEncode(corpus, codebook, idCol, vecCol, dims, subspaces)
      .write.mode("overwrite").parquet(s"$indexPath/codes")
  }

  /** Incrementally add a batch: encode against the EXISTING codebooks
    * (no re-training — the codebook drifts from the data optimum as
    * batches accumulate, and periodic [[buildPqIndex]] rebuilds are the
    * rebalance, exactly like [[appendToIvfIndex]]) and append the codes.
    */
  def appendToPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      subspaces: Int = 4): Unit = {
    val codebook = spark.read.parquet(s"$indexPath/codebook")
    pqEncode(batch, codebook, idCol, vecCol, dims, subspaces)
      .write.mode("append").parquet(s"$indexPath/codes")
  }

  /** Query the persisted PQ index (ADC over code-derived
    * reconstructions).
    */
  def queryPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5): DataFrame = {
    val codebook = spark.read.parquet(s"$indexPath/codebook")
    val codes = spark.read.parquet(s"$indexPath/codes")
    pqAdcRank(pqRecon(codes, codebook), queries, idCol, vecCol, k)
  }

  /** IVF-PQ composite ANN — the production pairing (Jégou et al.'s
    * IVFADC): the IVF coarse quantizer prunes the SEARCH (only `nProbe`
    * cells' candidates are considered), while PQ compresses the STORAGE
    * (candidates are scored against their reconstructed vectors, so the
    * raw corpus vectors are never touched at query time). Training = one
    * spherical k-means for the cells + `subspaces` L2 k-means for the
    * codebooks; query cost = |probed cells| × PQ-reconstruction cosine.
    * Every stage reuses the exact arithmetic of [[annIvf]] and [[annPq]],
    * which is what lets the oracle replay the whole composite.
    */
  def annIvfPq(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      nCentroids: Int = 16,
      nProbe: Int = 2,
      subspaces: Int = 4,
      codebookSize: Int = 16,
      k: Int = 5): DataFrame = {
    require(dims % subspaces == 0)
    // coarse cells (spherical, like annIvf)
    val coarse = kmeansCentroids(corpus, idCol, vecCol, nCentroids)
    val corpusCells = assign(corpus, coarse, idCol, vecCol)
      .select(col(idCol).as("nid"), col("cid"))
    // PQ codebooks + codes + reconstruction (L2, like annPq)
    val codebook = pqTrain(corpus, idCol, vecCol, dims, subspaces, codebookSize)
    val recon = pqRecon(
      pqEncode(corpus, codebook, idCol, vecCol, dims, subspaces), codebook)
    // probe + ADC rank
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("__sim").desc, col("cid"))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(broadcast(coarse))
      .select(col("qid"), col("cid"),
        rankableCosine(col("qv"), col("cvec")).as("__sim"))
      .withColumn("__rnk", row_number().over(wq))
      .filter(col("__rnk") <= nProbe)
      .select(col("qid"), col("cid"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("nid"))
    probes
      .join(corpusCells, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")), Seq("qid"))
      .join(recon, Seq("nid"))
      .select(col("qid"), col("nid"),
        round(rankableCosine(col("qv"), col("rv")), 4).as("cos_r"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cos_r"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Embedding-cosine near-dup candidate pairs inside LSH buckets, top pairs
    * by cosine. The near-dup variant of `annLsh` (corpus against itself).
    */
  def embeddingNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      topK: Int = 100): DataFrame = {
    val sig = corpus.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      lshSignature(col(vecCol), 0, 8, dims).as("b0"),
      lshSignature(col(vecCol), 8, 8, dims).as("b1"))
    val exploded = sig.select(
      col("id"),
      posexplode(array(col("b0"), col("b1"))).as(Seq("band_idx", "band_val")))
    val pairs = exploded.as("a")
      .join(exploded.as("b"), Seq("band_idx", "band_val"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(sig.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(rankableCosine(col("v_a"), col("v_b")), 4).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

  /** EMBEDDING-DISTRIBUTION drift between two corpus slices — the audit a
    * re-embedding run (new model version, new preprocessing) needs before
    * its vectors are trusted: per dimension, both slice means and the
    * shift; plus the cosine between the two MEAN vectors (1.0 = no
    * directional drift). One explode + one (dim)-keyed aggregate — the
    * frame after that is dim-domain-sized, so the cosine windows are
    * aggregate-scale by construction. Components are rounded to the 1e-6
    * grid and summed in DECIMAL (order-independent, float→double widening
    * exact); cross-dim products for the cosine take the same
    * decimal-grid treatment (the q256 discipline), so every number
    * replays cross-engine.
    */
  /** JOHNSON–LINDENSTRAUSS RANDOM-PROJECTION AUDIT — the measured
    * answer to "can we serve k dims instead of 64": project every
    * embedding through a deterministic ±1/√k sign matrix (the
    * [[graft.functions.VectorFunctions.planeWeights]] family, plane ids
    * offset so the LSH planes stay untouched) and report, for a
    * hash-bucketed pair sample, the original vs projected squared
    * distance and their ratio — JL says the ratio concentrates near 1,
    * this shows the actual spread on YOUR corpus, the audit beside
    * q467's truncation-fidelity (truncation keeps prefix dims; a sign
    * projection mixes all of them and keeps distances, not rankings).
    *
    * Pairs form only INSIDE md5 buckets (n²/buckets, never all-pairs —
    * the q25 LSH posture); projected components are pinned to the 1e-6
    * grid so both engines difference identical values; distances are
    * the codegen left-to-right [[graft.plans.VecL2Sq]] fold the oracle
    * replays with an ordered list_reduce. Coincident originals read a
    * NULL ratio. O(pairs-in-buckets) rows out.
    */
  def randomProjectionAudit(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      projDims: Int = 16,
      buckets: Int = 41): DataFrame = {
    require(projDims >= 2 && dims >= projDims && buckets >= 1)
    val scale = math.sqrt(projDims.toDouble)
    import graft.functions.{VectorFunctions => VF}
    def proj(v: Column): Column = array((0 until projDims).map { j =>
      round(VF.dot(v,
        array(VF.planeWeights(1000 + j, dims).map(lit): _*)) / lit(scale),
        6)
    }: _*)
    val base = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("y", proj(col("v")))
      .withColumn("bkt", pmod(conv(substring(md5(concat(lit("jl:"),
        col("id").cast("string"))), 1, 13), 16, 10).cast("long"),
        lit(buckets.toLong)))
    base.as("a").join(base.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        VF.l2sq(col("a.v"), col("b.v")).as("d2o"),
        VF.l2sq(col("a.y"), col("b.y")).as("d2p"))
      .select(col("id_a"), col("id_b"),
        round(col("d2o"), 6).as("d2_orig"),
        round(col("d2p"), 6).as("d2_proj"),
        when(col("d2o") > 0.0, round(col("d2p") / col("d2o"), 6))
          .as("ratio"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def embeddingDrift(
      df: DataFrame,
      vecCol: String,
      sliceACol: Column): DataFrame = {
    val comp = round(col("__x").cast("double"), 6).cast(DecimalType(18, 6))
    val byDim = df
      .select(sliceACol.as("__a"), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col("dim"))
      .agg(
        sum(when(col("__a"), comp)).as("sa"),
        sum(when(col("__a"), lit(1L)).otherwise(0L)).as("na"),
        sum(when(!col("__a"), comp)).as("sb"),
        sum(when(!col("__a"), lit(1L)).otherwise(0L)).as("nb"))
    val ma = col("sa").cast("double") / col("na").cast("double")
    val mb = col("sb").cast("double") / col("nb").cast("double")
    val d12 = DecimalType(30, 12)
    val w = Window.partitionBy()
    byDim
      .withColumn("mean_a", ma)
      .withColumn("mean_b", mb)
      .withColumn("__ab", round(ma * mb, 12).cast(d12))
      .withColumn("__aa", round(ma * ma, 12).cast(d12))
      .withColumn("__bb", round(mb * mb, 12).cast(d12))
      .withColumn("mean_cosine", round(
        sum(col("__ab")).over(w).cast("double") /
          (sqrt(sum(col("__aa")).over(w).cast("double")) *
            sqrt(sum(col("__bb")).over(w).cast("double"))), 6))
      .select(col("dim"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        round(ma - mb, 6).as("shift"),
        col("mean_cosine"))
  }

  /** LABEL-NOISE audit by CENTROID PURITY — the confident-learning-style
    * screen run before labels are trusted for training: per label an
    * exact centroid (1e-6-grid components, decimal sums), every vector
    * re-assigned to its nearest centroid by cosine, and the
    * label × assigned confusion with per-label shares read off. A heavy
    * off-diagonal cell is a candidate mislabeled slice (or a label whose
    * cluster structure is genuinely mixed — either way, the rows a
    * labeling pass re-examines first). Bounded-label contract: the score
    * join is corpus × dims × |labels| with the label-domain centroid
    * table BROADCAST — labels are a bounded domain (classes, languages,
    * sources), never corpus-scaled. Dot terms and norms ride the
    * q328 1e-12 product grid so both engines fold identical decimals;
    * assignment ties break to the smaller label.
    */
  def labelNoiseAudit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val comp = round(col("__x").cast("double"), 6).cast(DecimalType(18, 6))
    val vx = df.select(col(idCol).as("vid"),
        col(labelCol).cast("long").as("lt"),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col("vid"), col("lt"), col("dim").cast("long").as("dim"),
        comp.as("xc"))
    val cd = vx.groupBy(col("lt").as("cl"), col("dim"))
      .agg((sum(col("xc")).cast("double") /
        count(lit(1)).cast("double")).as("m"))
      .localCheckpoint(true) // label×dim frame, two readers below
    val d12 = DecimalType(30, 12)
    val nrm = cd.groupBy(col("cl"))
      .agg(sqrt(sum(round(col("m") * col("m"), 12).cast(d12))
        .cast("double")).as("nc"))
    // per-(vector, centroid) dot as ONE codegen loop
    // ([[graft.plans.VecDotRound12]]: Σ round(xᵢ·mᵢ, 12) in exact
    // DECIMAL(30,12), cast double) over a corpus × labels crossJoin —
    // replaces the corpus×dims explode, its broadcast-join fan-out of
    // centroids×dims rows per vector and the hash aggregate back down.
    // The m-array is dim-ordered, matching the old dim-keyed join; the
    // x-array re-derives the identical round(x, 6) grid values the
    // decimal xc round-tripped through.
    val cdA = cd.groupBy(col("cl"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ps"))
      .select(col("cl"), transform(col("ps"), p => p.getField("m")).as("mv"))
      .join(nrm, Seq("cl"))
    val xArr = transform(col(vecCol), x => round(x.cast("double"), 6))
    val sc = df.select(col(idCol).as("vid"),
        col(labelCol).cast("long").as("lt"), xArr.as("xv"))
      .crossJoin(broadcast(cdA))
      .select(col("vid"), col("lt"), col("cl"),
        round(graft.plans.LinalgExpressions.vecDotRound12(col("xv"), col("mv")) /
          col("nc"), 6).as("score"))
    // argmax via partial-aggregating max(struct): max score, ties to the
    // lowest cl — the same (score desc, cl asc) order the previous rank-1
    // window used, without its single-key shuffle+sort
    val best = sc.groupBy(col("vid"), col("lt"))
      .agg(max(struct(col("score"), (-col("cl")).as("ncl"))).as("__b"))
      .select(col("lt"), (-col("__b").getField("ncl")).as("cl"))
    val lw = Window.partitionBy(col("label"))
    best
      .groupBy(col("lt").as("label"), col("cl").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") /
        sum(col("n")).over(lw).cast("double"), 6))
  }

  /** MMR (Maximal Marginal Relevance) DIVERSIFIED re-ranking: from each
    * query's top-`m` cosine candidates, greedily select `k` — step t
    * picks argmax of `lamRel·rel(c) − lamDiv·max_{s∈S} cos(c, s)` over
    * the not-yet-selected, so near-duplicates of an already-chosen hit
    * are penalized out and the shelf shows VARIETY, not five paraphrases
    * of rank 1 (the redundancy fix relevance-only ranking — q26/q209 —
    * cannot express). Ties break on the earliest candidate id, first
    * pick ≡ argmax rel (empty-set penalty is 0).
    *
    * Scale shape: the corpus appears ONLY in the brute top-m prefilter
    * (one scan, query set broadcast — swap in the IVF/PQ shelf for the
    * prefilter at 100 TB); the sequential greedy loop runs entirely
    * inside ONE ROW per query over the m-candidate array (the q353
    * nested-HOF-fold pattern), m·k·d work per query, no shuffle, no
    * driver state. Scores stay on the 4-decimal grid — [[graft.plans.VecCosine]]
    * and the oracle's pcos macro accumulate in the identical
    * left-to-right double order, so the grid values are bit-equal and
    * the selection replays as a recursive CTE carrying the selected
    * list.
    */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      lamRel: Double,
      lamDiv: Double): DataFrame = {
    require(m >= 1 && k >= 1 && k <= m, s"need 1 <= k <= m, got k=$k m=$m")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val scored = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), col("nv"),
        round(rankableCosine(col("qv"), col("nv")), 4).as("rel"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("nid"))
    val packed = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= m)
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("nid"), col("rel"), col("nv"))))
        .as("cs"))
    val mm = size(col("cs"))
    val sel = aggregate(
      sequence(lit(1), lit(k)),
      array().cast("array<int>"),
      (selAcc, _) => {
        val best = aggregate(
          sequence(lit(1), mm),
          struct(lit(Double.MinValue).as("s"), lit(0).as("j")),
          (bst, jj0) => {
            val jj = jj0.cast("int")
            val cj = element_at(col("cs"), jj)
            val ms = when(size(selAcc) === 0, lit(0.0))
              .otherwise(aggregate(
                transform(selAcc, si =>
                  round(cosine(cj.getField("nv"),
                    element_at(col("cs"), si).getField("nv")), 4)),
                lit(-1.0), (m1, m2) => greatest(m1, m2)))
            val score = lit(lamRel) * cj.getField("rel") - lit(lamDiv) * ms
            when(array_contains(selAcc, jj) || score <= bst.getField("s"), bst)
              .otherwise(struct(score.as("s"), jj.as("j")))
          })
        concat(selAcc, array(best.getField("j")))
      })
    packed
      .select(col("qid"), col("cs"), posexplode(sel).as(Seq("pos", "j")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("step"),
        element_at(col("cs"), col("j")).getField("nid").as("nid"))
      .orderBy(col("qid"), col("step"))
  }

  /** EMBEDDING-TRUNCATION FIDELITY — "can I serve the first `dims`
    * dimensions and keep my rankings": per query, RBO@k between the
    * full-vector cosine top-k and the truncated-vector top-k (the
    * matryoshka/cost-cut decision table). Two [[knnBrute]]-shaped
    * scans (full + sliced vectors), one full-outer rank join per query,
    * the max-rank census trick, and the pinned 0.9-power RBO weights
    * ([[Relational.RboW09]]); per-depth terms on the 1e-9 grid.
    */
  def truncationFidelity(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 10): DataFrame = {
    require(dims >= 1 && k >= 1 && k <= Relational.RboW09.size)
    val d189 = DecimalType(18, 9)
    def dbl(c: Column): Column = c.cast("double")
    val wArr = array(Relational.RboW09.map(lit): _*)
    def topk(vec: Column => Column): DataFrame = {
      val q = queries.select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"))
      val scored = corpus.select(col(idCol).as("nid"),
          vec(col(vecCol)).as("nv"))
        .crossJoin(broadcast(q))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          round(rankableCosine(col("qv"), col("nv")), 4).as("score"))
      scored.withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("nid"))).cast("long"))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("nid"), col("rnk"))
    }
    val full = topk(identity)
    val trunc = topk(v => slice(v, 1, dims))
    val m = full.withColumnRenamed("rnk", "ra")
      .join(trunc.withColumnRenamed("rnk", "rb"), Seq("qid", "nid"), "full")
      .select(col("qid"), greatest(coalesce(col("ra"), lit(k + 1L)),
        coalesce(col("rb"), lit(k + 1L))).as("m"))
      .filter(col("m") <= k)
    val spine = queries.select(col(idCol).as("qid"))
      .crossJoin(broadcast(corpus.sparkSession.range(1, k + 1)
        .select(col("id").cast("long").as("d"))))
    val xd = spine.join(m, spine("qid") === m("qid") &&
        m("m") <= spine("d"), "left")
      .groupBy(spine("qid").as("qid"), col("d"))
      .agg(sum(when(m("m").isNotNull, 1L).otherwise(0L)).as("x"))
    val terms = xd.withColumn("term",
      round(element_at(wArr, col("d").cast("int")) * dbl(col("x")) /
        dbl(col("d")), 9).cast(d189))
    terms.groupBy(col("qid"))
      .agg(max(when(col("d") === k.toLong, col("x"))).as("overlap_at_k"),
        round(dbl(sum(col("term"))), 6).as("rbo"))
  }

  /** 1/log2(i+1) DCG discounts for ranks 1..10 and their prefix sums
    * (IDCG at j binary-relevant ideal hits) — PINNED 12-decimal literals
    * shared verbatim with the oracle SQL, so no libm log ever runs on
    * either engine (the q291 Benford posture).
    */
  private val DcgW = Seq(1.000000000000, 0.630929753571, 0.500000000000,
    0.430676558073, 0.386852807235, 0.356207187108, 0.333333333333,
    0.315464876786, 0.301029995664, 0.289064826318)
  private[graft] val DcgCum = Seq(0.000000000000, 1.000000000000,
    1.630929753571, 2.130929753571, 2.561606311645, 2.948459118879,
    3.304666305987, 3.637999639321, 3.953464516106, 4.254494511770,
    4.543559338088)

  /** RANKING-QUALITY METRICS (NDCG@k / MAP@k / MRR) for the vector
    * shelf — the evaluation half the retrieval operators ([[knnBrute]],
    * [[mmrRerank]], RRF) need before anyone tunes them: score each
    * query's exact cosine top-k against binary same-label relevance and
    * report the three standard figures per query.
    *
    * Scale shape = [[knnBrute]]: queries broadcast, ONE corpus scan, the
    * window shuffles only |corpus|×|queries| score rows. Exactness: DCG
    * discounts and IDCG prefix sums are pinned literals (no log on
    * either engine), precision@i and 1/first_rel are single IEEE
    * divisions of small integers (correctly rounded by both engines),
    * and per-rank AP/DCG terms are quantized to DECIMAL(18,12) before
    * the order-independent sum. R (total relevant) comes from the label
    * census minus the query itself — queries must be drawn FROM the
    * corpus; R = 0 queries emit NULL metrics rather than a 0/0.
    */
  def rankingMetrics(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 10, "discount literals are pinned through rank 10")
    val d1812 = DecimalType(18, 12)
    def dbl(c: Column): Column = c.cast("double")
    val disArr = array(DcgW.map(lit): _*)
    val cumArr = array(DcgCum.map(lit): _*)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(labelCol).as("qlabel"))
    val labCensus = corpus.groupBy(col(labelCol).as("qlabel"))
      .agg(count(lit(1)).as("n_label"))
    val scored = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("nv"),
        col(labelCol).as("nlabel"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("nid"),
        round(rankableCosine(col("qv"), col("nv")), 4).as("score"),
        when(col("nlabel") === col("qlabel"), 1L).otherwise(0L).as("rel"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    val cum = Window.partitionBy(col("qid")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val topk = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cumrel", sum(col("rel")).over(cum))
    val perQ = topk.groupBy(col("qid"), col("qlabel"))
      .agg(
        sum(col("rel")).as("n_rel_at_k"),
        min(when(col("rel") === 1L, col("rank"))).as("first_rel"),
        sum(when(col("rel") === 1L,
          round(dbl(col("cumrel")) / dbl(col("rank")), 12))
          .otherwise(lit(0.0)).cast(d1812)).as("ap_sum"),
        sum(when(col("rel") === 1L,
          round(element_at(disArr, col("rank")), 12))
          .otherwise(lit(0.0)).cast(d1812)).as("dcg"))
    perQ.join(broadcast(labCensus), Seq("qlabel"), "left")
      .withColumn("r_total", coalesce(col("n_label") - 1L, lit(0L)))
      .withColumn("eff_k", least(col("r_total"), lit(k.toLong)))
      .select(col("qid"), col("qlabel").as("label"), col("r_total"),
        col("n_rel_at_k"),
        when(col("eff_k") > 0L, round(coalesce(
          lit(1.0) / dbl(col("first_rel")), lit(0.0)), 6)).as("mrr"),
        when(col("eff_k") > 0L,
          round(dbl(col("ap_sum")) / dbl(col("eff_k")), 6)).as("ap"),
        when(col("eff_k") > 0L, round(dbl(col("dcg")) /
          element_at(cumArr, col("eff_k").cast("int") + 1), 6)).as("ndcg"))
  }
}
