package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Consistent-hash routing — the shard-assignment arithmetic every
  * horizontally-partitioned serving layer runs in front of the data this
  * engine produces (cache rings, feature stores, index shards).
  *
  * The property that matters: adding or removing ONE shard moves only the
  * keys that hashed into that shard's ring arcs (~1/S of the keyspace),
  * where a plain `hash mod S` reshuffles nearly everything. Virtual nodes
  * smooth the arc-length variance so shard loads concentrate near 1/S.
  */
object Sharding {

  /** 52-bit md5 hash — the engine's portable hash (both engines agree on
    * md5 and the 13-hex-char slice; 52 bits fit a double exactly).
    */
  private def h52(v: Column): Column =
    conv(substring(md5(v.cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long")

  /** Assign every key to a shard on the consistent-hash ring: each shard
    * plants `vnodes` ring points at h52("shard:i"); a key routes to the
    * first ring point at or after h52(key), wrapping to the ring minimum.
    *
    * The ring is (shards × vnodes) points — METADATA-sized — collected
    * into two parallel sorted arrays and broadcast, so routing is a
    * map-side O(V) array scan per row with zero shuffles: exactly what a
    * 1000-executor writer needs to route 100 TB without coordinating.
    * (Binary search would beat the linear filter at V in the thousands;
    * at the tens-to-hundreds typical for vnode rings the scan is already
    * cache-resident.) Everything is a pure md5 function, so executors,
    * re-runs, and the oracle route identically.
    */
  def ringAssign(
      df: DataFrame,
      keyCol: String,
      shards: Seq[String],
      vnodes: Int): DataFrame = {
    require(shards.nonEmpty && shards.distinct.size == shards.size)
    require(vnodes >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val ring = shards.flatMap(s => (0 until vnodes).map(i => (s, i)))
      .toDF("s", "i")
      .select(struct(
        h52(concat(col("s"), lit(":"), col("i").cast("string"))).as("r"),
        col("s").as("s")).as("p"))
      .agg(sort_array(collect_list(col("p"))).as("arr"))
      .select(transform(col("arr"), x => x.getField("r")).as("rings"),
        transform(col("arr"), x => x.getField("s")).as("ss"))
    df.select(col(keyCol))
      .crossJoin(broadcast(ring))
      .withColumn("__hk", h52(col(keyCol)))
      // index of the first ring point >= hk = count of points below it;
      // binary search (codegen) — the HOF filter evaluated its lambda
      // interpreted per vnode, 320 boxed calls per key
      .withColumn("__c",
        graft.plans.SearchExpressions.sortedCountBelow(
          col("rings"), col("__hk")))
      .withColumn("shard",
        when(col("__c") === size(col("rings")), element_at(col("ss"), 1))
          .otherwise(element_at(col("ss"), col("__c") + 1)))
      .select(col(keyCol), col("shard"))
  }

  /** RENDEZVOUS (highest-random-weight) routing — the other standard
    * consistent scheme: every key goes to argmax over shards of
    * h52(key "|" shard). No ring, no vnodes, PERFECT expected balance
    * (each shard wins exactly 1/S of the hash space), and the same
    * minimal-movement property as [[ringAssign]] — removing a shard
    * re-routes only the keys it was winning, because every other key's
    * argmax is untouched. Cost: S hashes per key instead of one, all
    * inside one row-local array expression (argmax = lexicographic max
    * of (hash, shard) structs) — still zero shuffles, still a pure md5
    * function the oracle replays.
    */
  def rendezvousAssign(
      df: DataFrame,
      keyCol: String,
      shards: Seq[String]): DataFrame = {
    require(shards.nonEmpty && shards.distinct.size == shards.size)
    val cands = array(shards.map(s => struct(
      h52(concat(col(keyCol).cast("string"), lit("|"), lit(s))).as("h"),
      lit(s).as("s"))): _*)
    df.select(col(keyCol),
      array_max(cands).getField("s").as("shard"))
  }

  /** STABLE MATCHING by synchronized deferred acceptance (Gale–Shapley,
    * proposer side = `agents`, capacity `cap` per target) — the
    * assignment that [[ringAssign]]/[[rendezvousAssign]] can't give:
    * both sides have PREFERENCES, and the result is stable (no
    * agent–target pair would both rather defect). Placement with
    * affinity, ownership with bids, consumers onto partitions they
    * rank — the allocation primitive behind them all.
    *
    * State is ONE integer per agent: `ptr` = nations fully rejected so
    * far; every live agent "occupies" its rank-(ptr+1) target, each
    * target keeps its `cap` best occupants by the target-side score,
    * rejections advance ptr. Synchronized parallel proposals reach the
    * SAME proposer-optimal matching as sequential DA (the outcome is
    * proposal-order invariant), rounds after the fixpoint are no-ops
    * (the property the oracle's fixed unroll relies on), and
    * convergence is detected by the rejection count. Each round is two
    * broadcast-joinable frames over the agents; the preference spine is
    * agents × targets rows — contract: targets is the SMALL side
    * (shards, regions, queues), so the spine is a modest fan-out of the
    * agent table, never agents².
    *
    * `prefs`: (agent, target, a_rank, t_score) — agent's 1-based
    * preference rank and the target's score of the agent (lower =
    * better). Returns matched pairs (agent, target, a_rank) plus
    * unmatched agents as (agent, NULL, NULL).
    */
  def stableMatch(
      prefs: DataFrame,
      cap: Int,
      maxRounds: Int = 200): DataFrame = {
    require(cap >= 1 && maxRounds >= 1)
    def fresh(df: DataFrame): DataFrame = {
      val d = df.localCheckpoint(true)
      d.sparkSession.createDataFrame(d.rdd, d.schema)
    }
    val spine = prefs.select(col("agent"), col("target"),
      col("a_rank").cast("long").as("a_rank"),
      col("t_score").cast("long").as("t_score"))
      .localCheckpoint(true)
    // DRIVER-SIDE SEQUENTIAL DEFERRED ACCEPTANCE when the preference
    // spine is collectable: the synchronized loop below pays ~4 jobs per
    // proposal round and runs as many rounds as the longest bump chain.
    // DA's outcome is
    // proposal-order invariant (the agent-optimal stable matching is
    // unique under the strict orders used here: a_rank on the agent
    // side, (t_score, agent) on the target side), so a free-agent-queue
    // sequential pass lands the identical matching in one collect.
    val agentT = spine.schema(spine.schema.fieldIndex("agent")).dataType
    val targetT = spine.schema(spine.schema.fieldIndex("target")).dataType
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val numericIds = Seq(agentT, targetT)
      .forall(t => t == LongType || t == IntegerType)
    if (DriverFinisher.fits("stableMatch", DriverFinisher.MatchRows,
        numericIds)(spine.count())) {
      val spark = spine.sparkSession
      import scala.collection.mutable
      def asLong(v: Any): Long = v match {
        case i: Int => i.toLong; case l: Long => l
      }
      val rows = spine.collect()
      val agentIdx = mutable.LinkedHashMap.empty[Long, Int]
      val targetIdx = mutable.LinkedHashMap.empty[Long, Int]
      rows.foreach { r =>
        agentIdx.getOrElseUpdate(asLong(r.get(0)), agentIdx.size)
        targetIdx.getOrElseUpdate(asLong(r.get(1)), targetIdx.size)
      }
      val nA = agentIdx.size
      val nT = targetIdx.size
      // per-agent preference list indexed by a_rank (1-based, may have
      // gaps — a missing rank stalls the agent exactly like the
      // synchronized join finding no occupancy row)
      val prefT = Array.fill(nA)(mutable.LongMap.empty[(Int, Long)])
      rows.foreach { r =>
        val a = agentIdx(asLong(r.get(0)))
        val t = targetIdx(asLong(r.get(1)))
        prefT(a).update(r.getLong(2), (t, r.getLong(3)))
      }
      val ptr = new Array[Long](nA)
      val agentKey = new Array[Long](nA)
      agentIdx.foreach { case (k, i) => agentKey(i) = k }
      // per-target pool: worst occupant on top — max by (t_score, agent
      // key), the exact ordering the synchronized round's row_number
      // used to keep the cap best
      val poolOrd = Ordering.by[(Long, Int), (Long, Long)] {
        case (s, a) => (s, agentKey(a))
      }
      val pools = Array.fill(nT)(
        mutable.PriorityQueue.empty[(Long, Int)](poolOrd))
      val agentsSorted = agentIdx.toSeq.sortBy(_._1).map(_._2)
      val freeQ = mutable.Queue.empty[Int] ++ agentsSorted
      while (freeQ.nonEmpty) {
        val a = freeQ.dequeue()
        var settled = false
        while (!settled) {
          if (ptr(a) >= nT) settled = true // exhausted, unmatched
          else prefT(a).get(ptr(a) + 1L) match {
            case None => settled = true // rank gap: stalls, unmatched
            case Some((t, score)) =>
              val pool = pools(t)
              if (pool.size < cap) { pool.enqueue((score, a)); settled = true }
              else {
                val (ws, wa) = pool.head
                // target prefers lower (t_score, agent key)
                if (score < ws || (score == ws && agentKey(a) < agentKey(wa))) {
                  pool.dequeue(); pool.enqueue((score, a))
                  ptr(wa) += 1; freeQ.enqueue(wa)
                  settled = true
                } else ptr(a) += 1
              }
          }
        }
      }
      val matchedT = new Array[Int](nA); java.util.Arrays.fill(matchedT, -1)
      pools.zipWithIndex.foreach { case (pool, t) =>
        pool.foreach { case (_, a) => matchedT(a) = t }
      }
      val targetKey = new Array[Long](nT)
      targetIdx.foreach { case (k, i) => targetKey(i) = k }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructField, StructType}
      def back(t: org.apache.spark.sql.types.DataType, v: Long): Any =
        if (t == IntegerType) v.toInt else v
      val out: Array[Row] = agentIdx.toArray.map { case (ak, a) =>
        if (matchedT(a) >= 0)
          Row(back(agentT, ak), back(targetT, targetKey(matchedT(a))),
            ptr(a) + 1L)
        else Row(back(agentT, ak), null, null)
      }
      val schema = StructType(Seq(
        StructField("agent", agentT),
        StructField("target", targetT),
        StructField("a_rank", org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(out),
          math.max(1, out.length / 500000 + 1)),
        schema)
    }
    val nTargets = spine.select(col("target")).distinct().count()
    var st = fresh(spine.select(col("agent")).distinct()
      .select(col("agent"), lit(0L).as("ptr")))
    var round = 0
    var rejections = 1L
    while (rejections > 0 && round < maxRounds) {
      val occ = st.filter(col("ptr") < nTargets)
        .join(spine, col("a_rank") === col("ptr") + 1L && spine("agent") === st("agent"))
        .select(st("agent").as("agent"), col("target"), col("t_score"))
      val kept = occ.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("target"))
            .orderBy(col("t_score"), col("agent"))))
        .filter(col("rk") <= cap)
        .select(col("agent"))
      val next = fresh(st.join(
          occ.select(col("agent"), lit(1L).as("occupying")), Seq("agent"), "left")
        .join(kept.select(col("agent"), lit(1L).as("kept")), Seq("agent"), "left")
        .select(col("agent"),
          (col("ptr") + when(col("occupying").isNotNull && col("kept").isNull, 1L)
            .otherwise(0L)).as("ptr")))
      rejections = next.join(st.select(col("agent"), col("ptr").as("p0")),
        Seq("agent")).filter(col("ptr") =!= col("p0")).count()
      st = next
      round += 1
    }
    require(rejections == 0,
      s"stable matching did not converge within $maxRounds rounds")
    st.join(spine, spine("agent") === st("agent") &&
        col("a_rank") === col("ptr") + 1L, "left")
      .select(st("agent").as("agent"), col("target"),
        col("a_rank"))
  }

  /** LARGEST-REMAINDER (Hamilton) APPORTIONMENT — exact integer quotas
    * for a sampling budget: allocate `budget` draws across groups
    * proportional to their counts, with Σquota = budget EXACTLY (floor
    * everyone, then hand the leftover units to the largest fractional
    * remainders). The data-mixture arithmetic in front of corpus
    * sampling — "10,000 training docs across sources at corpus
    * proportions" — where independent rounding drifts the total and
    * per-group ceil overshoots it. Pure integers end-to-end: ideal
    * share budget·c/N as DECIMAL(38,0) products, base = floor division,
    * remainder = mod, the leftover rank a deterministic (remainder
    * desc, group asc) window over the GROUP-domain aggregate. One
    * pinned division only for the reported share.
    */
  def largestRemainder(
      df: DataFrame,
      groupCol: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(budget >= 0L)
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val cen = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("c"))
    val all = Window.partitionBy()
    val q = cen
      .withColumn("nt", sum(col("c")).over(all))
      .withColumn("num", lit(budget).cast(d38) * col("c").cast(d38))
      .withColumn("rem", pmod(col("num"), col("nt").cast(d38)))
      .withColumn("base",
        ((col("num") - col("rem")) / col("nt").cast(d38)).cast("long"))
      .withColumn("left", lit(budget) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("g"))).cast("long"))
    q.select(col("g"), col("c").cast("long").as("n"),
        round(dbl(col("c")) / dbl(col("nt")), 6).as("share"),
        col("base"),
        (col("base") + when(col("rk") <= col("left"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("g"))
  }
}
