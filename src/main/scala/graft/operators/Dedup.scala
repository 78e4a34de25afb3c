package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.TextHashExpressions.{xsHash, xsMix}

/** Corpus deduplication at 100 TB scale.
  *
  * Every variant avoids the O(n²) all-pairs trap: exact dedup is one hash
  * shuffle; MinHash/SimHash/n-gram variants generate candidate pairs only
  * inside LSH buckets, with a deterministic per-bucket cap so one hot bucket
  * can't explode a join (capped rows are simply not candidate sources —
  * a coverage/cost dial, not a correctness issue for near-dup removal).
  * All hashing is the codegen'd portable xorshift family
  * ([[graft.plans.XsHash]]/[[graft.plans.XsMix]]) so the DuckDB oracle can
  * replay every bucket assignment bit-for-bit.
  */
object Dedup {

  /** Seed of the portable band-key fold (golden-ratio constant). */
  val MixSeed: Long = 0x9E3779B97F4A7C15L

  /** Exact dedup: group identical normalized texts, keep the smallest id. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .select(col("text_hash"), col("n_copies"), col("keep_id"))

  /** Incremental exact dedup: the documents of `incoming` that are new
    * against BOTH the already-ingested `history` corpus and each other
    * (smallest id wins within the batch).
    *
    * This is how a production corpus actually dedups: history never gets
    * re-deduplicated — its fingerprint set (at 100 TB, a compact
    * fingerprint table maintained incrementally, not the raw corpus) is
    * anti-joined against the new batch's fingerprints. One shuffle for
    * the batch groupBy, one for the anti-join.
    */
  def incrementalNew(
      history: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val histFp = history
      .select(TextFunctions.fingerprint(col(textCol)).as("text_hash"))
      .distinct()
    incoming
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol))
      .join(histFp, Seq("text_hash"), "left_anti")
      .select(col(idCol), col("text_hash"))
  }

  /** Rotate-left on a long column via shifts+or — bitwise, so safe under
    * Spark 4's default ANSI mode (multiply/add would throw on overflow).
    */
  private def rotl(c: Column, n: Int): Column = {
    val r = ((n % 64) + 64) % 64
    if (r == 0) c
    else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
  }

  /** Order-sensitive overflow-free combine: acc' = rotl(acc, 8) xor h. */
  private def mix(acc: Column, h: Column): Column = rotl(acc, 8).bitwiseXOR(h)

  /** One row per k-shingle: (idCol, sh: long).
    *
    * Words are EXPLODED to rows, each word hashed exactly once, and shingle
    * hashes assembled with window `lead`s over (doc, position). Array-based
    * formulations of this (transform + element_at over a word-hash array)
    * get the word-hash expression inlined into every element access by the
    * optimizer — measured 30s vs 2s at sf0.1 — and a `collect`-style
    * re-aggregation would shuffle twice. Here the window's doc-id shuffle is
    * the only one, and downstream per-doc aggregations reuse its
    * partitioning.
    *
    * Docs shorter than k words emit one row combining all their words with
    * deterministic pad constants.
    */
  def shingleHashRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val rows = df.select(col(idCol),
      posexplode(TextFunctions.words(col(textCol))).as(Seq("__pos", "__w")))
      .select(col(idCol), col("__pos"), xsHash(col("__w")).as("__h"))
    val ws = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val cw = Window.partitionBy(col(idCol))
    val sh = (1 until k).foldLeft(col("__h")) { (acc, j) =>
      mix(acc, coalesce(lead(col("__h"), j).over(ws),
        lit(0x9e3779b97f4a7c15L * (j + 1))))
    }
    rows
      .withColumn("__cnt", count(lit(1)).over(cw))
      .withColumn("sh", sh)
      .filter(col("__pos") <= greatest(col("__cnt") - k, lit(0)))
      .select(col(idCol), col("sh"))
  }

  /** CORPUS-WIDE REPEATED-SPAN detection — the SUBSTRING-level exact-dedup
    * tier between document dedup ([[exact]]) and chunk dedup: every
    * maximal run of consecutive tokens, >= k long, whose every k-token
    * shingle occurs at least `minOcc` times across the whole corpus is
    * reported as a removable span (the "repeated passage" LLM-training
    * hygiene cut — boilerplate, licenses, templated paragraphs).
    *
    * Tractable Spark shape — shingle-ANCHOR grouping, never a suffix
    * array and never all-pairs:
    *   1. one explode + per-doc window pass hashes every k-token shingle
    *      with its position (the [[shingleHashRows]] plan, positions
    *      kept);
    *   2. ONE corpus-wide groupBy censuses the shingle hashes — repeated
    *      anchors are the hashes with >= minOcc occurrences (cost is the
    *      distinct-shingle domain, linear in corpus tokens);
    *   3. anchors semi-join back onto the positions (hash-partitioned
    *      equi-join, no fan-out) and ADJACENT matched positions merge
    *      into maximal spans per doc (gaps-and-islands over the per-doc
    *      window — the extension step, paid per matched position).
    *
    * A span of length L >= k is emitted iff all of its k-shingles repeat
    * — exactly the "every k-token window of the span occurs elsewhere"
    * criterion, so the cut never removes text whose k-context is unique.
    * Output: (idCol, start_tok, end_tok, span_tokens), token indices
    * 0-based inclusive.
    */
  def repeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minOcc: Int = 2): DataFrame =
    // materialized once — census and semi-join both consume the shingle
    // table, and re-executing the explode+window DAG per branch would
    // double the corpus scan
    spansFromShingles(
      shinglePositions(df, idCol, textCol, k).localCheckpoint(true),
      idCol, k, minOcc)

  /** The (idCol, pos, sh) COMPLETE-shingle position table of
    * [[repeatedSpans]] — its incrementally-buildable half: a document's
    * shingle rows are a pure function of the document and never change
    * once written, so a streaming ingest APPENDS each batch's rows to a
    * standing shingle index at O(batch tokens) per batch (the q154
    * standing-index posture applied to substring dedup) and the span
    * readout ([[spansFromShingles]]) runs over the store. Pads never
    * contribute: a doc shorter than k words has no k-token span to cut,
    * so only complete shingles are emitted.
    */
  def shinglePositions(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "degenerate shingle width")
    val rows = df.select(col(idCol),
      posexplode(TextFunctions.words(col(textCol))).as(Seq("__pos", "__w")))
      .select(col(idCol), col("__pos"), xsHash(col("__w")).as("__h"))
    val ws = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val cw = Window.partitionBy(col(idCol))
    val sh = (1 until k).foldLeft(col("__h")) { (acc, j) =>
      mix(acc, coalesce(lead(col("__h"), j).over(ws),
        lit(0x9e3779b97f4a7c15L * (j + 1))))
    }
    rows
      .withColumn("__cnt", count(lit(1)).over(cw))
      .withColumn("sh", sh)
      .filter(col("__pos") <= col("__cnt") - k)
      .select(col(idCol), col("__pos").cast("long").as("pos"), col("sh"))
  }

  /** Census + gaps-and-islands half of [[repeatedSpans]], over any
    * (idCol, pos, sh) shingle table — one-shot or a standing index read.
    */
  def spansFromShingles(
      shingles: DataFrame,
      idCol: String,
      k: Int,
      minOcc: Int): DataFrame = {
    require(k >= 2 && minOcc >= 2, "degenerate span parameters")
    val repeated = shingles.groupBy(col("sh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOcc)
      .select(col("sh"))
    val wp = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    shingles.join(repeated, Seq("sh"), "left_semi")
      .withColumn("__grp", col("pos") - row_number().over(wp))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("start_tok"), max(col("pos")).as("__last"))
      .select(col(idCol), col("start_tok"),
        (col("__last") + lit(k - 1).cast("long")).as("end_tok"),
        (col("__last") + lit(k).cast("long") - col("start_tok"))
          .as("span_tokens"))
  }

  /** Permutation i of a 64-bit hash: rotate by a per-i amount then xor a
    * per-i constant — a bijection family replacing "re-hash the shingle
    * string numHashes times" (each min-hash seed costs two bitwise ops).
    */
  private def perm(h: Column, i: Int): Column =
    rotl(h, (i * 13 + 7) % 64).bitwiseXOR(lit(i * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL))

  /** MinHash signatures as a table: (idCol, sig array<long>).
    *
    * Shape matters at scale: shingles are EXPLODED to rows, each shingle is
    * hashed once per seed against a materialized attribute, and the per-doc
    * minima come from a hash aggregation with map-side partial combine. The
    * tempting single-expression form (`array_min(transform(...))` × seeds ×
    * band references) gets duplicated by CollapseProject into O(seeds²)
    * re-evaluations of the whole shingle pipeline — measured minutes vs
    * seconds even at sf0.1.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      shingleK: Int = 3): DataFrame = {
    val sh = shingleHashRows(df, idCol, textCol, shingleK)
      .select(col(idCol), col("sh").as("__h"))
    val mins = (0 until numHashes)
      .map(i => min(perm(col("__h"), i)).as(s"__m$i"))
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** LSH band keys: portable xorshift fold of each band's signature slice
    * plus the band index (oracle-replayable, unlike xxhash64).
    */
  def bandKeys(sig: Column, bands: Int = 8, rowsPerBand: Int = 4): Column =
    array((0 until bands).map { b =>
      val rows = (0 until rowsPerBand)
        .map(r => element_at(sig, b * rowsPerBand + r + 1))
      (rows :+ lit(b.toLong)).foldLeft(lit(MixSeed): Column)(xsMix)
    }: _*)

  /** Per-document near-dup assignment: `rep_id` = smallest doc id sharing at
    * least one LSH bucket (a cheap union-find-free approximation of the dup
    * cluster representative), plus the candidate-mate count.
    */
  def minhashAssign(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withBands = minhashSignatures(df, idCol, textCol).select(
      col(idCol),
      posexplode(bandKeys(col("sig")))
        .as(Seq("band_idx", "band_hash")))
    // bucket stats via one window pass instead of a self-join on the bucket
    // (the join shape would recompute the whole signature DAG twice)
    val wb = Window.partitionBy(col("band_idx"), col("band_hash"))
    // no global orderBy here: a final sort's range-sampling pass would
    // execute the whole signature DAG a second time, and row order is not
    // part of the operator's semantics
    withBands
      .withColumn("bucket_rep", min(col(idCol)).over(wb))
      .withColumn("bucket_n", count(lit(1)).over(wb))
      .groupBy(col(idCol))
      .agg(
        min(col("bucket_rep")).as("rep_id"),
        sum(col("bucket_n") - 1).as("n_candidates"))
  }

  /** Candidate pairs from MinHash LSH with estimated Jaccard from signature
    * agreement. Buckets larger than `maxBucket` are capped deterministically.
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 32,
      maxBucket: Int = 64): DataFrame = {
    require(numHashes % 4 == 0, s"numHashes must be a multiple of 4, got $numHashes")
    val sigDf = minhashSignatures(df, idCol, textCol, numHashes)
      .select(col(idCol).as("id"), col("sig"))
    val exploded = sigDf.select(
      col("id"), col("sig"),
      posexplode(bandKeys(col("sig"), bands = numHashes / 4, rowsPerBand = 4))
        .as(Seq("band_idx", "band_hash")))
    val wb = Window.partitionBy(col("band_idx"), col("band_hash")).orderBy(col("id"))
    // materialize: the a/b self-join branches below would otherwise each
    // re-execute the whole signature DAG
    val capped = exploded
      .withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") <= maxBucket)
      .localCheckpoint(true)
    val a = capped.select(
      col("band_idx"), col("band_hash"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(
      col("band_idx"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        // codegen signature agreement (was an interpreted zip_with/aggregate
        // walk per candidate-pair occurrence — §4.1)
        (graft.plans.VectorExpressions.vecEqCount(col("sig_a"), col("sig_b")) /
          lit(numHashes.toDouble))
          .as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
  }

  /** Persist a MinHash-LSH index over `corpus`: one row per (band, bucket)
    * membership carrying the member's full signature, written partitioned
    * by `band_idx` and deterministically capped per bucket (same cap rule
    * as [[minhashNearDupPairs]] — row_number by id within the bucket).
    *
    * This turns near-dup detection from "rescan the corpus per batch" into
    * "build once, probe many": the 100 TB corpus is signed exactly once,
    * and each incoming batch only computes ITS OWN signatures and joins
    * them against the index — a shuffle sized by the batch, not the
    * corpus. The index is ~numHashes longs per (doc, band) membership,
    * orders of magnitude smaller than the text it summarizes.
    */
  def writeMinhashIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 32,
      maxBucket: Int = 64): Unit = {
    require(numHashes % 4 == 0, s"numHashes must be a multiple of 4, got $numHashes")
    val exploded = minhashSignatures(corpus, idCol, textCol, numHashes)
      .select(col(idCol).as("id"), col("sig"))
      .select(col("id"), col("sig"),
        posexplode(bandKeys(col("sig"), bands = numHashes / 4, rowsPerBand = 4))
          .as(Seq("band_idx", "band_hash")))
    val wb = Window.partitionBy(col("band_idx"), col("band_hash")).orderBy(col("id"))
    exploded
      .withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") <= maxBucket)
      .select(col("band_idx"), col("band_hash"), col("id"), col("sig"))
      .write.mode("overwrite").partitionBy("band_idx").parquet(path)
  }

  /** Probe a persisted MinHash-LSH index ([[writeMinhashIndex]]) with a new
    * batch: batch docs are signed, their band keys joined against the
    * index's buckets (the `band_idx` partitioning prunes each probe to its
    * band's directory), and every candidate scored by signature agreement.
    * Result: (batch_id, corpus_id, est_jaccard) for candidates at or above
    * `threshold`.
    */
  def probeMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 32): DataFrame = {
    require(numHashes % 4 == 0, s"numHashes must be a multiple of 4, got $numHashes")
    val index = spark.read.parquet(path).select(
      col("band_idx"), col("band_hash"),
      col("id").as("corpus_id"), col("sig").as("sig_c"))
    // the index stores no explicit metadata, so validate against its own
    // signatures: probing with a different numHashes would misalign every
    // band key and silently MISS near-dups instead of erroring
    val head = index.select(size(col("sig_c")).as("n")).limit(1).collect()
    require(head.nonEmpty, s"empty or missing MinHash index at $path")
    require(head.head.getInt(0) == numHashes,
      s"index at $path was built with numHashes=${head.head.getInt(0)}, " +
        s"probe requested $numHashes")
    val probes = minhashSignatures(batch, idCol, textCol, numHashes)
      .select(col(idCol).as("batch_id"), col("sig"))
      .select(col("batch_id"), col("sig").as("sig_b"),
        posexplode(bandKeys(col("sig"), bands = numHashes / 4, rowsPerBand = 4))
          .as(Seq("band_idx", "band_hash")))
    probes.join(index, Seq("band_idx", "band_hash"))
      .select(
        col("batch_id"), col("corpus_id"),
        // codegen signature agreement (same replacement as
        // [[minhashNearDupPairs]])
        (graft.plans.VectorExpressions.vecEqCount(col("sig_b"), col("sig_c")) /
          lit(numHashes.toDouble))
          .as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
  }

  /** Canonical-document selection: given near-dup clusters, keep exactly
    * one document per cluster — the one maximizing `weightCol` (ties to
    * the smallest id), the standard "keep the best copy" step after
    * near-dup clustering (length, quality score, recency…). Docs in no
    * cluster keep themselves. Result: (idCol, cluster_rep, keep 0|1).
    */
  def canonicalPerCluster(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weightCol: String): DataFrame = {
    val clusters = dupClusters(df, idCol, pairs)
    val wk = Window.partitionBy(col("cluster_rep"))
      .orderBy(col(weightCol).desc, col(idCol))
    clusters
      .join(df.select(col(idCol), col(weightCol)), Seq(idCol))
      .withColumn("keep",
        when(row_number().over(wk) === 1, 1).otherwise(0).cast("int"))
      .select(col(idCol), col("cluster_rep"), col("keep"))
  }

  /** "less than" under Spark's own ordering for the key types the driver
    * finishers accept: numeric order, or unsigned UTF-8 byte order for
    * strings (UTF8String.compareTo) — the exact comparator a distributed
    * `min` aggregate applies.
    */
  private def sparkLt(
      idt: org.apache.spark.sql.types.DataType): (Any, Any) => Boolean = {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    idt match {
      case StringType => (x, y) =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(x.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(y.asInstanceOf[String])) < 0
      case IntegerType => (x, y) =>
        x.asInstanceOf[Int] < y.asInstanceOf[Int]
      case _ => (x, y) => x.asInstanceOf[Long] < y.asInstanceOf[Long]
    }
  }

  /** Connected components over near-dup candidate pairs: every document gets
    * the smallest doc id reachable through the pair graph as its cluster
    * representative (iterative min-label propagation, the standard
    * large-graph CC approach — each round is one shuffle join; diameter
    * rounds needed, `maxIter` bounds pathological chains).
    *
    * `pairs` must have columns (id_a, id_b); result: (idCol, cluster_rep).
    */
  def dupClusters(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 10): DataFrame = {
    // materialize once: the loop would otherwise re-execute the entire
    // upstream candidate-pair DAG on every propagation iteration
    val rawPairs = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    // DRIVER-SIDE UNION-FIND when the pair list and the node set are
    // collectable: the distributed min-label loop below pays 4-6 Spark
    // jobs PER ITERATION, and the graphs routed here (near-dup candidate
    // pairs, contracted root graphs, word-similarity pairs) are almost
    // always metadata-sized while the corpus they came from is not. Semantics are identical by
    // construction: the representative is the component's minimum id
    // under Spark's own ordering (numeric, or unsigned UTF-8 bytes for
    // strings — UTF8String.compareTo), edges with an endpoint outside
    // `df`'s node set contribute nothing (exactly as the propagation
    // join drops them), and one output row is emitted per input row.
    // The size is the pair count, then the node count.
    val idt = df.schema(df.schema.fieldIndex(idCol)).dataType
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val driverEligible =
      idt == LongType || idt == IntegerType || idt == StringType
    lazy val nodeRows = df.select(col(idCol)).localCheckpoint(true)
    val budget = DriverFinisher.DedupRows
    if (DriverFinisher.fits("dupClusters", budget, driverEligible) {
        val nPairs = rawPairs.count()
        if (nPairs > budget) nPairs else nodeRows.count()
      }) {
      val spark = df.sparkSession
      val nodeVals: Array[Any] =
        nodeRows.collect().map(_.get(0))
      val pairRows: Array[(Any, Any)] =
        rawPairs.collect().map(r => (r.get(0), r.get(1)))
      val idx = new java.util.HashMap[Any, Integer](nodeVals.length * 2)
      var i = 0
      while (i < nodeVals.length) {
        if (!idx.containsKey(nodeVals(i))) idx.put(nodeVals(i), idx.size())
        i += 1
      }
      val n = idx.size()
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairRows.foreach { case (a, b) =>
        val ia = idx.get(a); val ib = idx.get(b)
        if (ia != null && ib != null) {
          val ra = find(ia); val rb = find(ib)
          if (ra != rb) parent(ra) = rb
        }
      }
      // component minimum under Spark's ordering
      val lt = sparkLt(idt)
      val minOf = new Array[Any](n)
      val it = idx.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val r = find(e.getValue.intValue())
        if (minOf(r) == null || lt(e.getKey, minOf(r))) minOf(r) = e.getKey
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructField, StructType}
      val outRows: Array[Row] = nodeVals.map { v =>
        Row(v, minOf(find(idx.get(v).intValue())))
      }
      val schema = StructType(Seq(
        StructField(idCol, idt), StructField("cluster_rep", idt)))
      val slices = math.max(1, outRows.length / 500000 + 1)
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(outRows),
          slices),
        schema)
    }
    val edges = rawPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(rawPairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = df.select(col(idCol).as("node"), col(idCol).as("label"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // each node adopts the min label among itself and its neighbors
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("nl")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("nl")).as("nmin"))
      val propagated = labels
        .join(neighborMin.select(col("src").as("node"), col("nmin")), Seq("node"), "left")
        .select(col("node"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jumping: follow label -> label(label) and take the smaller.
      // Neighbor propagation alone needs DIAMETER rounds (an n-node chain
      // needs n of them); the shortcut squares the reach per round, so
      // maxIter=30 covers chains past 2^30 nodes
      val updated = propagated.alias("p")
        .join(propagated.select(col("node").as("label"), col("label").as("ll")).alias("l"),
          Seq("label"), "left")
        .select(col("node"), least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(true) // truncate the lineage: iterative plans grow exponentially otherwise
      converged = updated.join(labels.withColumnRenamed("label", "old"), Seq("node"))
        .filter(col("label") =!= col("old")).isEmpty
      labels = updated
      iter += 1
    }
    // a silent non-fixpoint would return wrong cluster representatives (and
    // break oracle parity); with pointer jumping this fires only on graphs
    // beyond 2^maxIter diameter-equivalents
    require(converged, s"dupClusters did not converge within $maxIter rounds")
    labels.select(col("node").as(idCol), col("label").as("cluster_rep"))
  }

  /** INCREMENTAL connected-components maintenance: fold a batch of new
    * edges into a standing `(node, cluster_rep)` assignment WITHOUT
    * re-running propagation over the historical edge set — the standard
    * union-find batch argument, distributed:
    *
    *   1. endpoints unseen by the assignment enter as their own root;
    *   2. each new edge CONTRACTS to its endpoints' current roots
    *      (self-loops vanish — an intra-cluster edge costs nothing);
    *   3. min-label propagation runs over that contracted ROOT graph,
    *      whose size is bounded by the batch's touched clusters, never
    *      the corpus;
    *   4. members of merged clusters relabel through one root→new-root
    *      broadcast-scale join.
    *
    * Equal to a full recompute by construction: every root is already the
    * min of its sub-cluster, so the min over merged roots is the min over
    * all member nodes. This is what keeps near-dup cluster maintenance at
    * batch cost on a standing 100 TB corpus (the [[incrementalNew]] /
    * [[probeMinhashIndex]] posture, applied to the cluster graph itself).
    */
  def updateClusters(
      comp: DataFrame,
      newEdges: DataFrame,
      maxIter: Int = 10): DataFrame = {
    val known = comp.select(col("node"), col("cluster_rep"))
    val delta = updateClustersDelta(known, newEdges, maxIter)
      .localCheckpoint(true)
    known.join(delta, Seq("node"), "left_anti").unionByName(delta)
  }

  /** The DELTA of [[updateClusters]]: ONLY the rows an edge batch changes
    * — new nodes entering the assignment plus existing members of merged
    * clusters — never the untouched remainder of the standing state. This
    * is what a streaming maintenance store must COMMIT per batch: at
    * 100 TB the node table is billions of rows, and rewriting it per
    * micro-batch (the r9 q219 shape) is O(state); the delta is
    * O(batch + touched-cluster members) by construction, landed via
    * [[graft.sources.TxLake.upsertKeysDv]]'s merge-on-read commit.
    * Propagation still runs only over the batch's contracted root graph;
    * the relabel join touches members of CHANGED roots only (standing
    * rows reached through their `cluster_rep`, a broadcast-scale join
    * against the changed-root map).
    */
  /** [[updateClustersDelta]]'s driver fast path: None when ineligible
    * (non-collectable types) or past the budget — the caller then runs
    * the distributed loop.
    */
  private def driverDeltaFastPath(
      comp: DataFrame,
      e: DataFrame): Option[DataFrame] = {
    val idt = comp.schema(comp.schema.fieldIndex("node")).dataType
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val collected = DriverFinisher.collectWithin("updateClustersDelta",
      DriverFinisher.DedupRows,
      idt == LongType || idt == IntegerType || idt == StringType)(
      e, comp.select(col("node"), col("cluster_rep")))
    if (collected.isEmpty) return None
    val Seq(eRows, compRows) = collected.get
    val spark = comp.sparkSession
    val lt = sparkLt(idt)
    val rootOf = new java.util.HashMap[Any, Any](compRows.length * 2)
    compRows.foreach(r => rootOf.put(r.get(0), r.get(1)))
    // batch endpoints in first-seen order; fresh = unseen by state
    val endpoints = new java.util.LinkedHashSet[Any]()
    eRows.foreach { r => endpoints.add(r.get(0)); endpoints.add(r.get(1)) }
    val fresh = new java.util.LinkedHashSet[Any]()
    endpoints.forEach(n => if (!rootOf.containsKey(n)) { fresh.add(n); () })
    def root(n: Any): Any =
      if (rootOf.containsKey(n)) rootOf.get(n) else n
    // contracted root edges (self-loops and null-endpoint edges out)
    val contracted = new java.util.LinkedHashSet[(Any, Any)]()
    eRows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (a != null && b != null) {
        val (ra, rb) = (root(a), root(b))
        if (ra != rb) contracted.add((ra, rb))
      }
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(
      StructField("node", idt), StructField("cluster_rep", idt)))
    def toDf(rows: Seq[Row]): DataFrame = {
      val slices = math.max(1, rows.length / 500000 + 1)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema)
    }
    if (contracted.isEmpty) {
      val out = Seq.newBuilder[Row]
      fresh.forEach(n => out += Row(n, n))
      return Some(toDf(out.result()))
    }
    // union-find over touched roots, min label per component
    val idx = new java.util.HashMap[Any, Integer]()
    contracted.forEach { ab =>
      if (!idx.containsKey(ab._1)) idx.put(ab._1, idx.size())
      if (!idx.containsKey(ab._2)) idx.put(ab._2, idx.size())
    }
    val parent = Array.tabulate(idx.size())(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    contracted.forEach { ab =>
      val ra = find(idx.get(ab._1)); val rb = find(idx.get(ab._2))
      if (ra != rb) parent(ra) = rb
    }
    val minOf = new Array[Any](idx.size())
    idx.forEach { (node, i) =>
      val r = find(i)
      if (minOf(r) == null || lt(node, minOf(r))) minOf(r) = node
    }
    def newRoot(r: Any): Any = {
      val i = idx.get(r)
      if (i == null) r else minOf(find(i.intValue()))
    }
    val out = Seq.newBuilder[Row]
    // members of clusters whose root changed, per standing ROW
    compRows.foreach { r =>
      val rep = r.get(1)
      val nr = newRoot(rep)
      if (nr != rep) out += Row(r.get(0), nr)
    }
    // fresh endpoints resolve through the contracted components
    fresh.forEach(n => out += Row(n, newRoot(n)))
    Some(toDf(out.result()))
  }

  def updateClustersDelta(
      comp: DataFrame,
      newEdges: DataFrame,
      maxIter: Int = 10): DataFrame = {
    val e = newEdges.select(col("id_a"), col("id_b")).localCheckpoint(true)
    // DRIVER FAST PATH: the distributed delta below pays ~12 jobs of
    // checkpoints, semi/anti joins and the contracted-graph propagation
    // per call — and it runs once per STREAMING MICRO-BATCH in
    // componentsMaintenance. When both
    // the standing assignment and the edge batch are collectable, one
    // union-find over the collected rows produces the identical delta:
    // same batch-endpoint root lookup, same contracted-edge min-label
    // components under Spark's ordering (sparkLt), same changed-member
    // relabel, one output row per standing row whose root changed plus
    // one per distinct fresh endpoint. Edges with a NULL endpoint
    // contract to nothing (the distributed equijoin drops them) while
    // the non-null partner still enters as fresh — replicated below.
    // The guard collects (DriverFinisher.collectWithin): a state or batch
    // past the budget falls through to the distributed loop after one
    // bounded job, never a full collect.
    val fast = driverDeltaFastPath(comp, e)
    if (fast.isDefined) return fast.get
    val newNodes = e.select(col("id_a").as("node"))
      .unionAll(e.select(col("id_b").as("node"))).distinct()
    val known = comp.select(col("node"), col("cluster_rep"))
    // unseen endpoints enter as their own root; known endpoints carry
    // their standing root — only BATCH endpoints are ever looked up. One
    // materialization serves both consumers (the fresh marker rides
    // along so the anti-join never re-executes)
    val batchAssign = known.join(newNodes, Seq("node"), "left_semi")
      .withColumn("__fresh", lit(false))
      .unionByName(newNodes.join(known, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("cluster_rep"))
        .withColumn("__fresh", lit(true)))
      .localCheckpoint(true)
    val fresh = batchAssign.filter(col("__fresh"))
      .select(col("node"), col("cluster_rep"))
    val contracted = e
      .join(batchAssign.select(col("node").as("id_a"), col("cluster_rep").as("__ra")),
        Seq("id_a"))
      .join(batchAssign.select(col("node").as("id_b"), col("cluster_rep").as("__rb")),
        Seq("id_b"))
      .select(col("__ra").as("id_a"), col("__rb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      .localCheckpoint(true)
    if (contracted.isEmpty) return fresh // isolated new nodes only
    val touched = contracted.select(col("id_a").as("node"))
      .unionAll(contracted.select(col("id_b").as("node"))).distinct()
    val rootMap = dupClusters(touched, "node", contracted, maxIter)
      .select(col("node").as("__root"), col("cluster_rep").as("__newRoot"))
      .localCheckpoint(true) // touched-root-sized, two readers below
    // every member of a cluster whose root CHANGED relabels (roots are
    // already the min of their sub-cluster, so min-over-merged-roots ==
    // min-over-members: equal to a full recompute by construction)
    val changedRoots = rootMap.filter(col("__root") =!= col("__newRoot"))
    val changedExisting = known
      .join(changedRoots, known("cluster_rep") === changedRoots("__root"))
      .select(col("node"), col("__newRoot").as("cluster_rep"))
    val freshFinal = fresh.alias("f")
      .join(rootMap, col("f.cluster_rep") === rootMap("__root"), "left")
      .select(col("node"),
        coalesce(col("__newRoot"), col("f.cluster_rep")).as("cluster_rep"))
    changedExisting.unionByName(freshFinal)
  }

  /** Incremental CANONICAL-COPY maintenance — [[canonicalPerCluster]] at
    * batch cost: a standing `(node, cluster_rep, keep, weight)` state
    * absorbs a batch of new documents and new near-dup edges. The cluster
    * assignment folds in through [[updateClusters]] (contracted root
    * graph, never the historical edges), then the keep-best-copy pick
    * reruns ONLY inside clusters the batch touched — members of merged or
    * newly-formed clusters; every other row's verdict rides through
    * untouched. `newNodes` must be disjoint from the standing state (the
    * ingest contract); weight ties break to the smaller node id, exactly
    * like the one-shot operator, so incremental == from-scratch.
    */
  def updateCanonical(
      state: DataFrame,
      newNodes: DataFrame,
      newEdges: DataFrame,
      maxIter: Int = 10): DataFrame = {
    val prior = state.select(col("node"), col("cluster_rep")).localCheckpoint(true)
    val withNew = prior.unionByName(
      newNodes.select(col("node")).join(prior, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("cluster_rep")))
    val assigned = updateClusters(withNew, newEdges, maxIter).localCheckpoint(true)
    val weights = state.select(col("node"), col("weight"))
      .unionByName(newNodes.select(col("node"), col("weight")))
    // touched clusters (in the NEW rep space): any cluster holding a new
    // node, or holding a member whose rep changed (both sides of a merge
    // land here — survivors via the changed members' new rep)
    val changedReps = assigned
      .join(state.select(col("node"), col("cluster_rep").as("__old")), Seq("node"))
      .filter(col("cluster_rep") =!= col("__old"))
      .select(col("cluster_rep"))
      .unionAll(assigned.join(newNodes.select(col("node")), Seq("node"), "left_semi")
        .select(col("cluster_rep")))
      .distinct().localCheckpoint(true)
    val touched = assigned
      .join(changedReps, Seq("cluster_rep"), "left_semi")
      .join(weights, Seq("node"))
    val wk = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("weight").desc, col("node"))
    val recomputed = touched
      .withColumn("keep", when(row_number().over(wk) === 1, 1).otherwise(0).cast("int"))
      .select(col("node"), col("cluster_rep"), col("keep"), col("weight"))
    // node-level exclusion: a row is either recomputed above or carried
    state.join(recomputed.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("cluster_rep"), col("keep"), col("weight"))
      .unionByName(recomputed)
  }

  private def bitValue(j: Int): Long = 1L << j // j=63 => Long.MinValue, intended

  /** 64-bit SimHash per document: words exploded to rows, each word hashed
    * once into a materialized attribute, per-bit ONE-counts summed as
    * aggregates (map-side combinable), bits packed into a long. Same
    * expression-duplication rationale as [[minhashSignatures]].
    *
    * The counters are packed two-per-long (32-bit lanes): 64 separate sum
    * aggregates generated a >8000-bytecode method that HotSpot refuses to
    * JIT (DontCompileHugeMethods), so the whole aggregate ran interpreted —
    * measured ~5× slower. 32 branch-free lane sums keep the method under
    * the JIT limit. A lane overflows only for docs beyond 2^31 words, far
    * past any real document. Bit j of the result is set iff ones_j ≥ half
    * the doc's words (identical semantics to the ±1-sum formulation).
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df
      .select(col(idCol), explode(TextFunctions.words(col(textCol))).as("__w"))
      .select(col(idCol), xsHash(col("__w")).as("__h"))
    // lane g holds bits 2g (low 32) and 2g+1 (high 32) as 0/1 addends
    val sums = (0 until 32).map { g =>
      sum(
        shiftrightunsigned(col("__h"), 2 * g).bitwiseAND(lit(1L))
          .bitwiseOR(shiftleft(
            shiftrightunsigned(col("__h"), 2 * g + 1).bitwiseAND(lit(1L)), 32)))
        .as(s"__g$g")
    } :+ count(lit(1)).as("__n")
    val packed = (0 until 64).map { j =>
      val ones = shiftrightunsigned(col(s"__g${j / 2}"), 32 * (j % 2))
        .bitwiseAND(lit(0xffffffffL))
      // ones - (n - ones) >= 0  <=>  2*ones >= n (shift, not multiply: ANSI)
      when(shiftleft(ones, 1) >= col("__n"), lit(bitValue(j))).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    h.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-dup pairs: 4 × 16-bit bands, bucketed join, exact hamming
    * distance (bit_count of xor) filter.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 12,
      maxBucket: Int = 64): DataFrame =
    simhashNearDupPairsFromSigs(
      simhashes(df, idCol, textCol).select(col(idCol).as("id"), col("simhash")),
      maxHamming, maxBucket)

  /** Pair generation over PRECOMPUTED signatures `(id, simhash)` — callers
    * that also consume the signatures themselves should compute them once
    * (and typically `localCheckpoint`) rather than paying the 64-aggregate
    * pipeline twice.
    */
  def simhashNearDupPairsFromSigs(
      sim: DataFrame,
      maxHamming: Int = 12,
      maxBucket: Int = 64): DataFrame = {
    val exploded = sim.select(
      col("id"), col("simhash"),
      posexplode(array((0 until 4).map { b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))
      }: _*)).as(Seq("band_idx", "band_val")))
    // pairs from ONE collect_list aggregation per bucket (same shape as
    // ngramJaccardTopPairs): a bucket self-join would cost two extra
    // shuffles + a checkpoint of the exploded bands. The row_number cap
    // bounds rows BEFORE collect_list buffers them, and the groupBy reuses
    // the window's (band_idx, band_val) hash partitioning — no added
    // shuffle. The hamming filter runs before the cross-band pair dedup so
    // only qualifying pairs hit the final shuffle.
    val wb = Window.partitionBy(col("band_idx"), col("band_val")).orderBy(col("id"))
    exploded
      .withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") <= maxBucket)
      .groupBy(col("band_idx"), col("band_val"))
      .agg(array_sort(collect_list(struct(col("id"), col("simhash")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(flatten(transform(col("ds"), (d, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), e =>
          struct(
            d.getField("id").as("id_a"),
            e.getField("id").as("id_b"),
            bit_count(d.getField("simhash").bitwiseXOR(e.getField("simhash")))
              .as("hamming")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .filter(col("hamming") <= maxHamming)
      // the same pair can surface from up to 4 bands (identical hamming
      // each time) — one dedup shuffle on the pair key
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Exact n-gram-set Jaccard over LSH candidates (bucket = min shingle
    * hash), top pairs ranked by similarity. Deterministic cap + ranking.
    */
  /** EXACT set-similarity join with LOSSLESS prefix filtering (the
    * PPJoin family's core idea): every pair of documents whose distinct
    * word sets have Jaccard ≥ `threshold` — no candidate can be missed,
    * which separates this from the minhash/simhash family's probabilistic
    * recall (and the oracle proves it: a brute-force all-pairs Jaccard
    * must match row for row).
    *
    * Prefix filtering: order each doc's tokens by GLOBAL rarity (count
    * asc, token asc — rare first), and index only the first
    * `|x| − ⌈t·|x|⌉ + 1` tokens. Two sets with Jaccard ≥ t must share at
    * least one prefix token (pigeonhole on the ⌈t·|x|⌉ overlap a
    * qualifying pair needs), so the candidate join runs on prefix
    * tokens only — and because prefixes hold the RAREST tokens, the
    * per-token candidate lists are the shortest possible. Cost:
    * candidates per token ~ its prefix frequency, never |corpus|²; the
    * exact Jaccard verify touches candidates only.
    */
  def setSimilarityJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.6): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val toks0 = docs.select(col(idCol).as("id"),
      array_distinct(graft.functions.TextFunctions.words(col(textCol))).as("t0"))
    val freq = toks0.select(explode(col("t0")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // per-doc token list re-sorted rare-first (global order), with the
    // prefix length; the sort key rides as a struct so one collect_list
    // rebuilds the ordered set
    val ordered = toks0.select(col("id"), explode(col("t0")).as("tok"))
      .join(freq, Seq("tok"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("cnt"), col("tok")))).as("ps"))
      .select(col("id"), transform(col("ps"), p => p.getField("tok")).as("toks"))
      .withColumn("plen",
        (size(col("toks")) - ceil(lit(threshold) * size(col("toks"))) + 1).cast("int"))
      .localCheckpoint(true) // feeds the prefix explode AND both verify sides
    val prefixes = ordered.select(col("id"),
      explode(slice(col("toks"), lit(1), col("plen"))).as("tok"))
    val cand = prefixes.as("a").join(prefixes.as("b"), Seq("tok"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verify: the LENGTH filter is lossless (J ≥ t forces
    // t·|a| ≤ |b| ≤ |a|/t — overlap can't exceed the smaller set) and
    // runs on two ints before any array op; |union| is |a|+|b|−|inter|
    // over distinct sets, so the array_union allocation per pair goes
    // away. Same jac double from the same integer inputs.
    val na = size(col("ta")).cast("double")
    val nb = size(col("tb")).cast("double")
    val inter = size(array_intersect(col("ta"), col("tb"))).cast("double")
    cand
      .join(ordered.select(col("id").as("id_a"), col("toks").as("ta")), Seq("id_a"))
      .join(ordered.select(col("id").as("id_b"), col("toks").as("tb")), Seq("id_b"))
      .filter(nb >= lit(threshold) * na && na >= lit(threshold) * nb)
      .select(col("id_a"), col("id_b"),
        (inter / (na + nb - inter)).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def ngramJaccardTopPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      topK: Int = 200,
      maxBucket: Int = 64): DataFrame = {
    // grams as 64-bit hashes: exact Jaccard over hashed n-grams (collisions
    // are ~2^-64), and long-array set ops are far cheaper than string sets.
    // Bucket = the TWO smallest gram hashes: a pair with Jaccard j collides
    // with probability ~j², which keeps high-similarity pairs while cutting
    // bucket sizes enough that the cap below almost never bites (a single
    // min-hash bucket degenerates on small shingle vocabularies).
    val base = shingleHashRows(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("sh"))).as("grams"))
      .select(col(idCol).as("id"), col("grams"))
      .withColumn("bucket", struct(
        element_at(col("grams"), 1).as("m1"),
        element_at(col("grams"), least(lit(2), size(col("grams")))).as("m2")))
    // pairs generated inside each bucket from ONE collect_list aggregation —
    // a bucket self-join would re-execute the whole shingle DAG for each join
    // branch. The row_number cap bounds rows BEFORE collect_list buffers them
    // (hot-bucket memory safety), and the groupBy reuses the window's hash
    // partitioning on bucket, so no extra shuffle. One bucket per doc means
    // each pair arises exactly once.
    val wb = Window.partitionBy(col("bucket")).orderBy(col("id"))
    val buckets = base
      .withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") <= maxBucket)
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(col("id"), col("grams")))).as("ds"))
      .filter(size(col("ds")) >= 2)
    buckets
      .select(explode(flatten(transform(col("ds"), (d, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), e =>
          struct(
            d.getField("id").as("id_a"),
            e.getField("id").as("id_b"),
            (size(array_intersect(d.getField("grams"), e.getField("grams"))).cast("double") /
              size(array_union(d.getField("grams"), e.getField("grams"))).cast("double"))
              .as("jaccard")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

  /** ASYMMETRIC near-dup: n-gram containment `|A∩B| / |A|` in both
    * directions for bucketed candidate pairs. Jaccard misses the
    * quote/subset case — a document wholly contained in a much larger one
    * scores low on Jaccard but 1.0 on containment — and that direction is
    * exactly what training-data curation needs to kill excerpt
    * duplicates. Same candidate generation and bucket cap as
    * [[ngramJaccardTopPairs]] (two-smallest-gram bucket, pairs from one
    * collect_list aggregation, never a bucket self-join).
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      n: Int = 2,
      topK: Int = 200,
      maxBucket: Int = 64): DataFrame = {
    val base = shingleHashRows(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("sh"))).as("grams"))
      .select(col(idCol).as("id"), col("grams"))
      .withColumn("bucket", struct(
        element_at(col("grams"), 1).as("m1"),
        element_at(col("grams"), least(lit(2), size(col("grams")))).as("m2")))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("id"))
    val buckets = base
      .withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") <= maxBucket)
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(col("id"), col("grams")))).as("ds"))
      .filter(size(col("ds")) >= 2)
    buckets
      .select(explode(flatten(transform(col("ds"), (d, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), e =>
          struct(
            d.getField("id").as("id_a"),
            e.getField("id").as("id_b"),
            (size(array_intersect(d.getField("grams"), e.getField("grams"))).cast("double") /
              size(d.getField("grams")).cast("double")).as("cont_ab"),
            (size(array_intersect(d.getField("grams"), e.getField("grams"))).cast("double") /
              size(e.getField("grams")).cast("double")).as("cont_ba")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.cont_ab"), col("p.cont_ba"))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .orderBy(greatest(col("cont_ab"), col("cont_ba")).desc,
        col("id_a"), col("id_b"))
      .limit(topK)
  }

  /** Content-defined chunking: split each document at positions where the
    * hash of the trailing `w`-char shingle satisfies `hash % modulus == 0`
    * (the Rabin/FastCDC boundary rule, on the engine's portable xorshift
    * hash so the oracle replays every cut bit-for-bit). Because the cut
    * points depend on CONTENT, not offsets, inserting a sentence into a
    * document shifts only the chunks it touches — the downstream exact-hash
    * chunk dedup still matches every untouched chunk, which fixed-width
    * chunking cannot do. This is the crawl-dedup primitive for catching
    * shared boilerplate/quotes between non-identical documents.
    *
    * Everything up to the final chunk-hash aggregation is per-row
    * (sequence/transform/filter HOFs — no shuffle, no explode until chunks
    * exist); expected chunk length is `modulus` chars, so rows out ≈
    * chars/modulus.
    *
    * Returns one row per (doc, chunk): (id, chunk_idx, chunk_start 1-based,
    * chunk_len, chunk_hash).
    */
  def contentChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      modulus: Int = 64): DataFrame = {
    require(w >= 2 && modulus >= 2)
    // boundary AFTER position i when the shingle ending at i cuts; the
    // document end is always a boundary, so chunks tile the text exactly.
    // One codegen pass over the bytes (XsWindowCuts) — the equivalent
    // sequence/transform/filter HOF chain evaluates interpreted per
    // character and measured ~5× slower
    val bounds = graft.plans.TextHashExpressions
      .xsWindowCuts(col("__t"), w, modulus.toLong)
    df
      .select(col(idCol), col(textCol).as("__t"), length(col(textCol)).as("__n"))
      .filter(col("__n") >= 1)
      .withColumn("__b", bounds)
      .select(col(idCol), col("__t"), col("__b"),
        posexplode(col("__b")).as(Seq("__k", "__end")))
      .withColumn("__start",
        when(col("__k") === 0, lit(1L))
          .otherwise(element_at(col("__b"), col("__k")) + 1L))
      .select(
        col(idCol),
        col("__k").cast("long").as("chunk_idx"),
        col("__start").as("chunk_start"),
        (col("__end") - col("__start") + 1L).as("chunk_len"),
        md5(col("__t").substr(col("__start").cast("int"),
          (col("__end") - col("__start") + 1L).cast("int")).cast("binary"))
          .as("chunk_hash"))
  }

  /** DUPLICATION PROFILE — the cluster-SIZE histogram of exact
    * duplicates: "how much of this corpus is the same document repeated
    * s times", the one-table summary a data lead reads before choosing
    * a dedup policy (a corpus that is 40% size-2 clusters needs a
    * different treatment than one with a single size-10⁴ boilerplate
    * blob). One row per observed cluster size s: clusters, docs, the
    * share of the corpus those docs are, and the rows dedup-to-one
    * would delete.
    *
    * Two map-side-combined aggregations (fingerprint → size census →
    * size histogram); shares are single pinned divisions over exact
    * integers. Fingerprints are normalized-text md5 ([[exact]]'s
    * key), so the profile matches the exact-dedup operators row for
    * row.
    */
  def dupSizeProfile(
      docs: DataFrame,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dbl(c: Column): Column = c.cast("double")
    val clusters = docs
      .select(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("s"))
    val hist = clusters.groupBy(col("s"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("s") * col("n_clusters"))
    val tot = Window.partitionBy()
    hist.select(col("s").as("cluster_size"), col("n_clusters"),
        col("n_docs"),
        round(dbl(col("n_docs")) / dbl(sum(col("n_docs")).over(tot)), 6)
          .as("corpus_share"),
        ((col("s") - 1L) * col("n_clusters")).as("rows_removable"))
  }

  /** LSH DESIGN TABLE — pick (bands, rows) BEFORE paying for the index:
    * for each power-of-two (b, r) split of the signature, the candidate
    * probability s-curve p(s) = 1 − (1 − s^r)^b integrated against the
    * OBSERVED pair-similarity histogram — expected candidate volume,
    * recall over the ≥0.7 near-dup mass, and the sub-threshold false
    * candidate share. The capacity-planning sibling of
    * [[minhashNearDupPairs]] (which hard-codes one (8, 4) split): at
    * 100 TB the wrong split either floods the bucket join or silently
    * drops near-dups, and THIS table is where that trade is read. Every
    * s^r and (1−s^r)^b is a REPEATED-SQUARING chain (pure IEEE
    * multiplication — no libm pow, which rounds differently across
    * engines); bucket midpoints are single divisions of exact integers;
    * per-bucket expectation terms pin at 1e-9 and decimal-sum. Output is
    * configs × 1 rows — answer-sized whatever the corpus.
    */
  def lshDesignTable(
      pairs: DataFrame,
      simCol: String,
      gridDiv: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(gridDiv >= 2)
    val d289 = DecimalType(28, 9)
    def dbl(c: Column): Column = c.cast("double")
    val hist = pairs
      .select(least(floor(col(simCol) * gridDiv).cast("long"),
        lit(gridDiv - 1L)).as("j"))
      .groupBy(col("j")).agg(count(lit(1)).as("nj"))
      .withColumn("s", (lit(2L) * col("j") + 1L).cast("double") /
        lit(2.0 * gridDiv))
    val configs = Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))
    val conf = hist.sparkSession.createDataFrame(configs)
      .toDF("b", "r")
    // repeated-squaring ladders: s^{2^k} then (1-s^r)^{2^k}
    val grid = conf.crossJoin(hist)
      .withColumn("s1", col("s"))
      .withColumn("s2", col("s1") * col("s1"))
      .withColumn("s4", col("s2") * col("s2"))
      .withColumn("s8", col("s4") * col("s4"))
      .withColumn("s16", col("s8") * col("s8"))
      .withColumn("s32", col("s16") * col("s16"))
      .withColumn("sr",
        when(col("r") === 1, col("s1")).when(col("r") === 2, col("s2"))
          .when(col("r") === 4, col("s4")).when(col("r") === 8, col("s8"))
          .when(col("r") === 16, col("s16")).otherwise(col("s32")))
      .withColumn("c1", lit(1.0) - col("sr"))
      .withColumn("c2", col("c1") * col("c1"))
      .withColumn("c4", col("c2") * col("c2"))
      .withColumn("c8", col("c4") * col("c4"))
      .withColumn("c16", col("c8") * col("c8"))
      .withColumn("c32", col("c16") * col("c16"))
      .withColumn("cb",
        when(col("b") === 1, col("c1")).when(col("b") === 2, col("c2"))
          .when(col("b") === 4, col("c4")).when(col("b") === 8, col("c8"))
          .when(col("b") === 16, col("c16")).otherwise(col("c32")))
      .withColumn("p", lit(1.0) - col("cb"))
      .withColumn("hi", col("s") >= 0.7)
    val agg = grid.groupBy(col("b"), col("r"))
      .agg(sum(col("nj")).as("n_pairs"),
        sum(round(col("p") * dbl(col("nj")), 9).cast(d289)).as("exp_all"),
        sum(when(col("hi"), col("nj")).otherwise(0L)).as("n_hi"),
        sum(when(col("hi"),
          round(col("p") * dbl(col("nj")), 9).cast(d289))
          .otherwise(lit(0).cast(d289))).as("exp_hi"))
    agg.select(col("b").cast("long").as("bands"),
        col("r").cast("long").as("rows_per_band"),
        col("n_pairs").cast("long").as("n_pairs"),
        round(dbl(col("exp_all")), 3).as("expected_candidates"),
        col("n_hi").cast("long").as("n_above_07"),
        when(col("n_hi") > 0L,
          round(dbl(col("exp_hi")) / dbl(col("n_hi")), 6)).as("recall_07"),
        when(dbl(col("exp_all")) > 0.0,
          round((dbl(col("exp_all")) - dbl(col("exp_hi"))) /
            dbl(col("exp_all")), 6)).as("fp_share"))
      .orderBy(col("bands").desc)
  }
}
