package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Sampling

import Oracle.Sql
import Shared._

/** Training-data queries: learning, features, sampling, profiling and
  * privacy.
  */
private[queries] object LearnQueries extends Family {
  /** Reproducible 4/16 hash sample of the corpus. */
  private def q47(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.deterministicSample(
      T(s, dir, "documents"), "doc_id", 4)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  query("q47_hash_sample", q47)(Sql(
    """SELECT doc_id, lang, source FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3') ORDER BY doc_id"""))

  /** Stratified sample: 20 docs per language, deterministic order. */
  private def q48(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      T(s, dir, "documents"), "lang", "doc_id", 20)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("lang"), col("doc_id"))

  query("q48_stratified_sample", q48)(Sql(
    """SELECT doc_id, lang FROM (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) WHERE rn <= 20 ORDER BY lang, doc_id"""))

  /** One-pass table profiling: per column non-null / exact-distinct counts
    * and numeric min/max ([[graft.operators.Profiling.profile]]) — the
    * trust-a-new-drop summary, single scan regardless of column count.
    */
  private def q101(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profile(T(s, dir, "customer"))
      .orderBy(col("col_name"))

  query("q101_profile", q101)(Sql(
    """SELECT * FROM (SELECT 'c_acctbal' AS col_name, COUNT(*) AS n_rows, COUNT(c_acctbal) AS n_nonnull, COUNT(DISTINCT c_acctbal) AS n_distinct, CAST(MIN(c_acctbal) AS DOUBLE) AS min_num, CAST(MAX(c_acctbal) AS DOUBLE) AS max_num FROM customer UNION ALL SELECT 'c_custkey', COUNT(*), COUNT(c_custkey), COUNT(DISTINCT c_custkey), CAST(MIN(c_custkey) AS DOUBLE), CAST(MAX(c_custkey) AS DOUBLE) FROM customer UNION ALL SELECT 'c_name', COUNT(*), COUNT(c_name), COUNT(DISTINCT c_name), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM customer UNION ALL SELECT 'c_nationkey', COUNT(*), COUNT(c_nationkey), COUNT(DISTINCT c_nationkey), CAST(MIN(c_nationkey) AS DOUBLE), CAST(MAX(c_nationkey) AS DOUBLE) FROM customer UNION ALL SELECT 'c_mktsegment', COUNT(*), COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM customer) ORDER BY col_name"""))

  /** Temperature-scaled language balancing
    * ([[Sampling.temperatureBalanced]]): per-language quotas out of a
    * 200-document target proportional to √count, rows chosen by the
    * reproducible md5 rank — the multilingual-corpus construction recipe.
    */
  private def q159(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureBalanced(
      T(s, dir, "documents"), "lang", "doc_id", target = 200)
      .select(col("doc_id"), col("lang"), col("rk"), col("quota"))
      .orderBy(col("lang"), col("rk"))

  // √count quantized to DECIMAL(28,12) BEFORE the cross-stratum sum on
  // both sides (order-independent total); same md5 rank recipe as q47/q48
  query("q159_temperature_sample", q159)(Sql(
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1), w AS (SELECT lang, CAST(sqrt(CAST(cnt AS DOUBLE)) AS DECIMAL(28,12)) AS wq FROM c), t AS (SELECT CAST(SUM(wq) AS DOUBLE) AS tw FROM w), q AS (SELECT lang, CAST(floor(200.0 * CAST(wq AS DOUBLE) / (SELECT tw FROM t)) AS BIGINT) AS quota FROM w), r AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk FROM documents) SELECT r.doc_id, r.lang, r.rk, q.quota FROM r JOIN q USING (lang) WHERE r.rk <= q.quota ORDER BY lang, rk"""))

  /** Deterministic mixture schedule ([[Sampling.mixtureSchedule]]):
    * language weights en:6 zh:3 de:2 es:2 fr:1 → integer strides over
    * LCM 6, per-language rank by doc_id, and the first 200 slots of the
    * resulting total order. The global position is materialized only for
    * this bounded head (orderBy+limit = distributed TakeOrdered); the
    * full corpus keeps `vt` as its sort key instead of a serialized
    * row-number.
    */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    val sched = Sampling.mixtureSchedule(
      T(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id",
      Map("en" -> 6L, "zh" -> 3L, "de" -> 2L, "es" -> 2L, "fr" -> 1L))
      .orderBy(col("vt"), col("lang"), col("doc_id")).limit(200)
    sched.withColumn("pos",
      row_number().over(Window.orderBy(col("vt"), col("lang"), col("doc_id")))
        .cast("long")) // window over the 200-row head only
      .select(col("pos"), col("vt"), col("lang"), col("doc_id"))
      .orderBy(col("pos"))
  }

  // stride scheduling: vt = in-class rank × (LCM/weight), all integer;
  // the 200-slot head replays as a plain ORDER BY ... LIMIT
  query("q225_mixture_schedule", q225)(Sql(
    """WITH r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk FROM documents WHERE lang IN ('en', 'zh', 'de', 'es', 'fr')), v AS (SELECT doc_id, lang, CAST(rnk * CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 WHEN 'de' THEN 3 WHEN 'es' THEN 3 WHEN 'fr' THEN 6 END AS BIGINT) AS vt FROM r), t AS (SELECT doc_id, lang, vt, ROW_NUMBER() OVER (ORDER BY vt, lang, doc_id) AS pos FROM v) SELECT CAST(pos AS BIGINT) AS pos, vt, lang, doc_id FROM t WHERE pos <= 200 ORDER BY pos"""))

  /** Per-source crawl governance ([[Sampling.perKeyCap]] + blocklist):
    * blocked sources dropped outright, every other source capped at 20
    * docs chosen by reproducible md5 rank — the per-domain cap that keeps
    * one mega-host from dominating a training corpus.
    */
  private def q226(s: SparkSession, dir: String): DataFrame =
    Sampling.perKeyCap(
      T(s, dir, "documents")
        .filter(!col("source").isin("src7", "src13"))
        .select(col("doc_id"), col("source"), col("lang")),
      "source", "doc_id", cap = 20L)
      .orderBy(col("doc_id"))

  // the md5-rank keep set replays exactly; blocked sources never rank
  query("q226_source_cap", q226)(Sql(
    """WITH r AS (SELECT doc_id, source, lang, ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cap_rank FROM documents WHERE source NOT IN ('src7', 'src13')) SELECT doc_id, source, lang, CAST(cap_rank AS BIGINT) AS cap_rank FROM r WHERE cap_rank <= 20 ORDER BY doc_id"""))

  /** Dataloader epoch ordering ([[Sampling.epochShardOrder]]): epoch 2's
    * seeded shuffle dealt into 4 shards, resumed after 5 consumed samples
    * per rank — the next 10 positions each rank will read. The (epoch,
    * consumed) pair is the ENTIRE resume state; no shuffle files or
    * ordering manifests persist anywhere.
    */
  private def q230(s: SparkSession, dir: String): DataFrame =
    Sampling.epochShardOrder(
      T(s, dir, "documents").select(col("doc_id")),
      "doc_id", epoch = 2L, nShards = 4)
      .filter(col("pos") > 5 && col("pos") <= 15)
      .orderBy(col("shard"), col("pos"))

  // the '<epoch>:<id>' md5 reseeds per epoch; shard = first 8 hex chars
  // mod ranks (both engines: nonneg, so % == pmod)
  query("q230_epoch_order", q230)(Sql(
    """WITH h AS (SELECT doc_id, md5(concat('2:', CAST(doc_id AS VARCHAR))) AS hx FROM documents), s AS (SELECT doc_id, hx, CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) % 4 AS shard FROM h), r AS (SELECT shard, doc_id, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos FROM s) SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id FROM r WHERE pos > 5 AND pos <= 15 ORDER BY shard, pos"""))

  /** Systematic PPS corpus sampling ([[Sampling.systematicPps]]): exactly
    * k weight-proportional picks per language, deterministic, no
    * transcendentals — the reproducible alternative to A-Res reservoirs.
    */
  private def q251(s: SparkSession, dir: String): DataFrame =
    Sampling.systematicPps(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", "n_chars", k = 10)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("n_crossings"))
      .orderBy(col("lang"), col("doc_id"))

  query("q251_systematic_pps", q251)(Sql(
    """WITH d AS (SELECT doc_id, lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents), c AS (SELECT doc_id, lang, n_chars, SUM(n_chars) OVER (PARTITION BY lang ORDER BY hx, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw, SUM(n_chars) OVER (PARTITION BY lang) AS tot FROM d) SELECT doc_id, lang, n_chars, CAST((cumw * 10) // tot - ((cumw - n_chars) * 10) // tot AS BIGINT) AS n_crossings FROM c WHERE (cumw * 10) // tot > ((cumw - n_chars) * 10) // tot ORDER BY lang, doc_id"""))

  /** l-DIVERSITY audit ([[graft.operators.Privacy.lDiversity]]): the
    * homogeneity-attack check k-anonymity (q217) misses — per
    * (nation, segment) class: size, distinct balance buckets, dominant
    * share, and the l≥3 flag. Class-domain aggregates only.
    */
  private def q322(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.lDiversity(
      T(s, dir, "customer")
        .withColumn("bal_bucket",
          floor(col("c_acctbal").cast("double") / 2000.0).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", 3)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  // class size, distinct sensitive buckets, dominant share, l>=3 flag
  query("q322_l_diversity", q322)(Sql(
    """WITH c AS (SELECT c_nationkey, c_mktsegment, CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000.0) AS BIGINT) AS bal_bucket FROM customer), cells AS (SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS n FROM c GROUP BY 1, 2, 3) SELECT c_nationkey, c_mktsegment, CAST(SUM(n) AS BIGINT) AS class_size, COUNT(*) AS n_sensitive, CAST(MAX(n) AS BIGINT) AS max_sensitive_n, round(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS dominant_share, CAST(COUNT(*) >= 3 AS INTEGER) AS diverse FROM cells GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** LEAVE-ONE-OUT target encoding with m-estimate smoothing
    * ([[graft.operators.Features.targetEncodeLoo]]): the high-cardinality
    * categorical encoder that never leaks a row's own label into its
    * feature — segment-level sums broadcast back, the fact table never
    * shuffles for the encode.
    */
  private def q324(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderstatus") === "F").cast("long").as("target"))
      .join(T(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    graft.operators.Features.targetEncodeLoo(o, "c_mktsegment", "target", 10.0)
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
        col("target"), col("enc"))
      .orderBy(col("o_orderkey"))
  }

  // LOO encode: (catSum - own + prior*m) / (catN - 1 + m), m = 10
  query("q324_target_encoding", q324)(Sql(
    """WITH o AS (SELECT o_orderkey, c_mktsegment AS segment, CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS target FROM orders JOIN customer ON o_custkey = c_custkey), cs AS (SELECT segment, SUM(target) AS cssum, COUNT(*) AS cn FROM o GROUP BY 1), g AS (SELECT SUM(target) AS gs, COUNT(*) AS gn FROM o) SELECT o.o_orderkey, o.segment, CAST(o.target AS BIGINT) AS target, round((CAST(cs.cssum - o.target AS DOUBLE) + CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE) * 10.0) / (CAST(cs.cn - 1 AS DOUBLE) + 10.0), 6) AS enc FROM o, g JOIN cs ON cs.segment = o.segment ORDER BY o.o_orderkey"""))

  /** WEIGHT OF EVIDENCE / INFORMATION VALUE
    * ([[graft.operators.Features.woeIv]]): the credit-scoring audit of a
    * numeric feature against a binary target — per price bin,
    * ln(goodShare/badShare) with Laplace smoothing and the IV total; all
    * shares from exact integer counts, ln replayed cross-engine (the
    * q256 discipline).
    */
  private def q325(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.woeIv(T(s, dir, "orders"), "o_totalprice",
        col("o_orderstatus") === "F", 10)
      .orderBy(col("bin"))

  // per-bin ln(goodShare/badShare) with +0.5 smoothing; IV total on the
  // 1e-9 decimal grid (raw woe inside the iv term, rounded woe emitted)
  query("q325_woe_iv", q325)(Sql(
    """WITH b AS (SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS mn, MAX(CAST(o_totalprice AS DOUBLE)) AS mx, CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ng, CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS nb FROM orders), c AS (SELECT CAST(LEAST(FLOOR((CAST(o_totalprice AS DOUBLE) - mn) * 10.0 / (mx - mn)), 9) AS BIGINT) AS bin, CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS g, CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS bd FROM orders, b GROUP BY 1), w AS (SELECT bin, g, bd, ln(((CAST(g AS DOUBLE) + 0.5) / CAST((SELECT ng FROM b) AS DOUBLE)) / ((CAST(bd AS DOUBLE) + 0.5) / CAST((SELECT nb FROM b) AS DOUBLE))) AS woe_raw, (CAST(g AS DOUBLE) + 0.5) / CAST((SELECT ng FROM b) AS DOUBLE) - (CAST(bd AS DOUBLE) + 0.5) / CAST((SELECT nb FROM b) AS DOUBLE) AS dd FROM c), t AS (SELECT bin, g, bd, woe_raw, CAST(round(dd * woe_raw, 9) AS DECIMAL(18,9)) AS ivt FROM w) SELECT bin, g AS n_good, bd AS n_bad, round(woe_raw, 6) AS woe, CAST(ivt AS DOUBLE) AS iv_term, CAST(SUM(ivt) OVER () AS DOUBLE) AS iv_total FROM t ORDER BY bin"""))

  /** CLASS-BALANCED downsampling
    * ([[graft.operators.Sampling.balancedDownsample]]): every event type
    * keeps exactly the minority count, rows chosen by md5-hash order —
    * the deterministic rebalance a training pipeline can re-run without
    * changing the training set.
    */
  private def q329(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.balancedDownsample(
        T(s, dir, "events").select(col("event_id"), col("event_type")),
        "event_type", "event_id")
      .orderBy(col("event_type"), col("event_id"))

  // every class keeps exactly the minority count, by md5-hash order
  query("q329_balanced_sample", q329)(Sql(
    """WITH e AS (SELECT event_id, event_type, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), m AS (SELECT MIN(n) AS mn FROM (SELECT COUNT(*) AS n FROM e GROUP BY event_type)), r AS (SELECT event_id, event_type, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn FROM e) SELECT event_id, event_type FROM r, m WHERE rn <= mn ORDER BY event_type, event_id"""))

  /** Binary-classifier evaluation
    * ([[graft.operators.Features.binaryMetrics]]): confusion matrix +
    * P/R/F1 at a threshold and EXACT rank-statistic ROC-AUC (the
    * Mann–Whitney identity) — ranks over the score domain, never a
    * corpus sort; price "scores" predicting finished orders.
    */
  private def q330(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.binaryMetrics(T(s, dir, "orders"),
      "o_totalprice", col("o_orderstatus") === "F", 150000.0)

  // P/R/F1 at the threshold + exact tie-averaged rank AUC
  query("q330_binary_metrics", q330)(Sql(
    """WITH e AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, o_orderstatus = 'F' AS lab FROM orders), bv AS (SELECT v, CAST(SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS tp1, CAST(SUM(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS tn1 FROM e GROUP BY v), rk AS (SELECT v, tp1, tn1, tp1 + tn1 AS t, SUM(tp1 + tn1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM bv), ag AS (SELECT CAST(SUM(tp1) AS BIGINT) AS np, CAST(SUM(tn1) AS BIGINT) AS nn, SUM(CAST(tp1 AS DECIMAL(38,0)) * CAST(2 * c - t + 1 AS DECIMAL(38,0))) AS rp2, CAST(SUM(CASE WHEN v >= 150000.0 THEN tp1 ELSE 0 END) AS BIGINT) AS tp, CAST(SUM(CASE WHEN v >= 150000.0 THEN tn1 ELSE 0 END) AS BIGINT) AS fp, CAST(SUM(CASE WHEN v < 150000.0 THEN tp1 ELSE 0 END) AS BIGINT) AS fn, CAST(SUM(CASE WHEN v < 150000.0 THEN tn1 ELSE 0 END) AS BIGINT) AS tn FROM rk) SELECT np AS n_pos, nn AS n_neg, tp, fp, fn, tn, round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision, round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall, round(2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) / ((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) + (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))), 6) AS f1, round(CAST(rp2 - CAST(np AS DECIMAL(38,0)) * CAST(np + 1 AS DECIMAL(38,0)) AS DOUBLE) / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS auc FROM ag"""))

  /** t-CLOSENESS audit ([[graft.operators.Privacy.tCloseness]]): per
    * market segment, the ordered-EMD between the segment's account-
    * balance-decile distribution and the global one — the attack q322's
    * l-diversity misses (a diverse class can still sit entirely in the
    * top deciles). Densities on the 1e-9 grid, cumulative differences
    * exact in DECIMAL, one double finish.
    */
  private def q365(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").select(col("c_mktsegment"),
      floor((col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long") /
        lit(100000.0)).cast("long").as("bal_decile"))
    graft.operators.Privacy.tCloseness(c, Seq("c_mktsegment"),
        "bal_decile", t = 0.2)
      .orderBy(col("c_mktsegment"))
  }

  // densities on the 1e-9 grid, cumulative differences exact in DECIMAL
  query("q365_t_closeness", q365)(Sql(
    """WITH c AS (SELECT c_mktsegment AS seg, CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) / 100000.0) AS BIGINT) AS s FROM customer), cells AS (SELECT seg, s, COUNT(*) AS n FROM c GROUP BY 1, 2), ct AS (SELECT seg, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1), g AS (SELECT s, CAST(SUM(n) AS BIGINT) AS gn FROM cells GROUP BY 1), gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS nt FROM g), spine AS (SELECT ct.seg, ct.cn, g.s, g.gn, gt.nt FROM ct CROSS JOIN g CROSS JOIN gt), jj AS (SELECT sp.seg, sp.cn, sp.s, CAST(round(CAST(coalesce(cells.n, 0) AS DOUBLE) / CAST(sp.cn AS DOUBLE), 9) AS DECIMAL(18,9)) AS p, CAST(round(CAST(sp.gn AS DOUBLE) / CAST(sp.nt AS DOUBLE), 9) AS DECIMAL(18,9)) AS q FROM spine sp LEFT JOIN cells ON cells.seg = sp.seg AND cells.s = sp.s), cd AS (SELECT seg, cn, s, SUM(p - q) OVER (PARTITION BY seg ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdiff FROM jj), f AS (SELECT seg, cn AS class_size, COUNT(*) AS m_categories, SUM(abs(cdiff)) AS es FROM cd GROUP BY 1, 2) SELECT seg AS c_mktsegment, class_size, CAST(m_categories AS BIGINT) AS m_categories, round(CAST(es AS DOUBLE) / (CAST(m_categories AS DOUBLE) - 1.0), 6) AS emd, CAST(round(CAST(es AS DOUBLE) / (CAST(m_categories AS DOUBLE) - 1.0), 6) <= 0.2 AS INTEGER) AS close FROM f ORDER BY c_mktsegment"""))

  /** FOREIGN-KEY DISCOVERY ([[graft.operators.Profiling.fkContainment]]):
    * inclusion-dependency profiles for five candidate child→parent column
    * pairs — four true FKs and one deliberate non-FK (orderkey ⊄
    * custkey) — the join-graph inference audit for an undocumented lake;
    * each pair costs two distinct-aggregates and a key-domain join,
    * never a fact×fact join.
    */
  private def q368(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.fkContainment(Seq(
      ("lineitem.l_orderkey->orders.o_orderkey",
        T(s, dir, "lineitem"), "l_orderkey", T(s, dir, "orders"), "o_orderkey"),
      ("lineitem.l_partkey->part.p_partkey",
        T(s, dir, "lineitem"), "l_partkey", T(s, dir, "part"), "p_partkey"),
      ("orders.o_custkey->customer.c_custkey",
        T(s, dir, "orders"), "o_custkey", T(s, dir, "customer"), "c_custkey"),
      ("customer.c_nationkey->nation.n_nationkey",
        T(s, dir, "customer"), "c_nationkey", T(s, dir, "nation"), "n_nationkey"),
      ("orders.o_orderkey->customer.c_custkey",
        T(s, dir, "orders"), "o_orderkey", T(s, dir, "customer"), "c_custkey")))
      .orderBy(col("candidate"))

  // five inclusion-dependency probes over distinct key domains
  query("q368_fk_discovery", q368)(Sql(
    s"""SELECT * FROM (${Seq(
        ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("orders.o_orderkey->customer.c_custkey", "orders", "o_orderkey", "customer", "c_custkey"))
        .map(p => fkPairSql(p._1, p._2, p._3, p._4, p._5))
        .mkString(" UNION ALL ")}) ORDER BY candidate"""))

  /** OFF-POLICY REPLAY evaluation
    * ([[graft.operators.Features.policyReplay]]): a deterministic
    * hash-rule policy scored against the logged event stream by the
    * replay method — keep rows where the logged action equals the
    * policy's choice, average their reward cents exactly, report beside
    * the logged baseline. The offline bandit readout before an online
    * A/B.
    */
  private def q369(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"), col("event_type"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    graft.operators.Features.policyReplay(ev, "user_id", "event_type",
      "cents", Seq("view", "click", "purchase", "signup", "error"))
  }

  // the hash policy replays verbatim; exact-cents reward means
  query("q369_policy_replay", q369)(Sql(
    """WITH e AS (SELECT user_id, event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, ['view','click','purchase','signup','error'][CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) % 5 AS INTEGER) + 1] AS pol FROM events), s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total, CAST(SUM(CASE WHEN event_type = pol THEN 1 ELSE 0 END) AS BIGINT) AS n_matched, SUM(CASE WHEN event_type = pol THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS sr, SUM(CAST(cents AS DECIMAL(38,0))) AS srall FROM e) SELECT n_total, n_matched, round(CAST(n_matched AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS match_rate, round(CAST(sr AS DOUBLE) / CAST(n_matched AS DOUBLE), 6) AS replay_reward, round(CAST(srall AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS baseline_reward FROM s"""))

  /** INVERSE-PROPENSITY off-policy evaluation
    * ([[graft.operators.Features.ipsEval]]): q369's replay estimator
    * reweighted by the EMPIRICAL logging distribution — IPS and the
    * self-normalized SNIPS side by side; all mass collapses to the
    * action domain in one map-side-combined pass, per-action terms on
    * the 1e-6 decimal grid.
    */
  private def q371(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"), col("event_type"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    graft.operators.Features.ipsEval(ev, "user_id", "event_type", "cents",
      Seq("view", "click", "purchase", "signup", "error"))
  }

  // per-action empirical propensities; IPS/SNIPS terms on the 1e-6 grid
  query("q371_ips_eval", q371)(Sql(
    """WITH e AS (SELECT user_id, event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, ['view','click','purchase','signup','error'][CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) % 5 AS INTEGER) + 1] AS pol FROM events), a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_a, CAST(SUM(CASE WHEN event_type = pol THEN 1 ELSE 0 END) AS BIGINT) AS m_a, SUM(CASE WHEN event_type = pol THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS s_a, SUM(CAST(cents AS DECIMAL(38,0))) AS sr_a FROM e GROUP BY event_type), f AS (SELECT CAST(SUM(n_a) AS BIGINT) AS n_total, CAST(SUM(m_a) AS BIGINT) AS n_matched, SUM(CAST(round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS DECIMAL(38,6))) AS ips_sum, SUM(CAST(round(CAST(m_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS DECIMAL(38,6))) AS w_sum, SUM(sr_a) AS sr_all FROM a) SELECT n_total, n_matched, round(CAST(ips_sum AS DOUBLE), 6) AS ips_reward, round(CAST(ips_sum AS DOUBLE) / CAST(w_sum AS DOUBLE), 6) AS snips_reward, round(CAST(sr_all AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS baseline_reward FROM f"""))

  /** Quantile normalization
    * ([[graft.operators.Features.quantileNormalize]]): order totals
    * (cents) per priority class mapped onto the POOLED distribution's
    * order statistic at the same scaled rank — after it every priority
    * class shares one price distribution (the cross-segment score
    * calibrator). Ranks are key-partitioned windows; the pooled
    * cumulative census runs through GlobalOrder.prefixSums (no
    * single-partition window); the rank→value lookup is the q57
    * bucketized containment join.
    */
  private def q416(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderpriority").as("pri"),
      col("o_orderkey"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    graft.operators.Features.quantileNormalize(
        o, "pri", "o_orderkey", "cents", bucketSize = 1024L)
      .select(col("id").as("o_orderkey"), col("g").as("pri"),
        col("v").as("cents"), col("v_norm"))
      .orderBy(col("o_orderkey"))
  }

  // exact integer ceiling ranks against the pooled cumulative census
  query("q416_quantile_norm", q416)(Sql(
    """WITH r AS (SELECT o_orderpriority AS pri, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders), s AS (SELECT pri, o_orderkey, cents, CAST(ROW_NUMBER() OVER (PARTITION BY pri ORDER BY cents, o_orderkey) AS BIGINT) AS rn, CAST(COUNT(*) OVER (PARTITION BY pri) AS BIGINT) AS n_g, CAST(COUNT(*) OVER () AS BIGINT) AS n FROM r), f AS (SELECT pri, o_orderkey, cents, (rn * n + n_g - 1) // n_g AS p FROM s), c AS (SELECT cents AS v_norm, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY 1), cc AS (SELECT v_norm, cnt, CAST(SUM(cnt) OVER (ORDER BY v_norm) AS BIGINT) AS cum FROM c) SELECT f.o_orderkey, f.pri, f.cents, cc.v_norm FROM f JOIN cc ON f.p > cc.cum - cc.cnt AND f.p <= cc.cum ORDER BY f.o_orderkey"""))

  /** Tukey-fences outlier report ([[graft.operators.Profiling.tukeyFences]]):
    * the boxplot census per priority — exact Q1/Q3 order stats,
    * 1.5·IQR fences (exact in double over cents), outside counts; the
    * skew-safe outlier reading a z-score report gets wrong.
    */
  private def q473(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.tukeyFences(
      T(s, dir, "orders").select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents")),
      "o_orderpriority", "cents")
      .orderBy(col("g"))

  // exact Q1/Q3 order stats; 1.5·IQR fences exact in double
  query("q473_tukey_fences", q473)(Sql(
    """WITH e AS (SELECT o_orderpriority AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), cen AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1, 2), rk AS (SELECT g, v, t, CAST(SUM(t) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n FROM cen), q1 AS (SELECT g, MIN(v) AS q1 FROM rk WHERE c * 4 >= n * 1 GROUP BY g), q3 AS (SELECT g, MIN(v) AS q3 FROM rk WHERE c * 4 >= n * 3 GROUP BY g), f AS (SELECT q1.g, q1.q1, q3.q3, q3.q3 - q1.q1 AS iqr, CAST(q1.q1 AS DOUBLE) - 1.5 * CAST(q3.q3 - q1.q1 AS DOUBLE) AS lo, CAST(q3.q3 AS DOUBLE) + 1.5 * CAST(q3.q3 - q1.q1 AS DOUBLE) AS hi FROM q1 JOIN q3 USING (g)) SELECT cen.g, CAST(SUM(t) AS BIGINT) AS n, MAX(f.q1) AS q1, MAX(f.q3) AS q3, MAX(f.iqr) AS iqr, MAX(f.lo) AS fence_lo, MAX(f.hi) AS fence_hi, CAST(SUM(CASE WHEN CAST(v AS DOUBLE) < f.lo THEN t ELSE 0 END) AS BIGINT) AS n_low, CAST(SUM(CASE WHEN CAST(v AS DOUBLE) > f.hi THEN t ELSE 0 END) AS BIGINT) AS n_high FROM cen JOIN f USING (g) GROUP BY cen.g ORDER BY g"""))

  /** Neyman allocation ([[graft.operators.Sampling.neymanAllocation]]):
    * the variance-optimal stratified sampling plan — 500 samples split
    * across order priorities ∝ N_h·S_h by the largest-remainder rule;
    * exact integer micro-share arithmetic, allocations sum to the
    * budget exactly.
    */
  private def q488(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.neymanAllocation(
      T(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "o_orderpriority", "cents", budget = 500L)
      .orderBy(col("stratum"))

  // exact DECIMAL moments, pinned sd, integer micro-shares + Hamilton
  // largest-remainder — allocations replay as pure integers
  query("q488_neyman_allocation", q488)(Sql(
    """WITH b AS (SELECT CAST(o_orderpriority AS VARCHAR) AS stratum, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders), per AS (SELECT stratum, COUNT(*) AS n_rows, SUM(CAST(c AS DECIMAL(38,0))) AS sv, SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS svv FROM b GROUP BY 1), sd0 AS (SELECT stratum, n_rows, CASE WHEN n_rows > 1 THEN round(sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n_rows AS DOUBLE)) / (CAST(n_rows AS DOUBLE) - 1.0)), 6) ELSE 0.0 END AS sd FROM per), w0 AS (SELECT stratum, n_rows, sd, CAST(round(CAST(n_rows AS DOUBLE) * sd, 6) AS DECIMAL(28,6)) AS w FROM sd0), sh AS (SELECT stratum, n_rows, sd, CASE WHEN SUM(w) OVER () > 0 THEN CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE) ELSE CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) END AS share FROM w0), su0 AS (SELECT stratum, n_rows, sd, CAST(round(share * 1.0e12, 0) AS BIGINT) AS su FROM sh), st AS (SELECT stratum, n_rows, sd, su, SUM(su) OVER () AS s_total FROM su0), ba AS (SELECT stratum, n_rows, sd, su, (500 * su) // s_total AS base, (500 * su) % s_total AS rem FROM st), lf AS (SELECT stratum, n_rows, sd, su, base, 500 - SUM(base) OVER () AS leftover, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS erk FROM ba) SELECT stratum, n_rows, sd, su AS weight_ppt, CAST(base + CASE WHEN erk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc, (base + CASE WHEN erk <= leftover THEN 1 ELSE 0 END) > n_rows AS over_allocated FROM lf ORDER BY stratum"""))

  /** Rare-category collapse ([[graft.operators.Features.rareCollapse]]):
    * part type and brand vocabularies folded below support 5 into
    * `__other__` — the encoder-prep census a training job pins and a
    * serving path replays.
    */
  private def q505(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.rareCollapse(
      T(s, dir, "part"), Seq("p_type", "p_brand"), minSupport = 5L)
      .orderBy(col("column"), col("out_value"))

  // one melted census, support cut, re-aggregate — the pinned mapping
  query("q505_rare_collapse", q505)(Sql(
    """WITH m AS (SELECT 'p_type' AS "column", CAST(p_type AS VARCHAR) AS value FROM part UNION ALL SELECT 'p_brand', CAST(p_brand AS VARCHAR) FROM part), c AS (SELECT "column", value, COUNT(*) AS n FROM m GROUP BY 1, 2), o AS (SELECT "column", CASE WHEN n >= 5 THEN value ELSE '__other__' END AS out_value, n FROM c) SELECT "column", out_value, CAST(SUM(n) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_source_values, out_value = '__other__' AS collapsed FROM o GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Effective sample size ([[graft.operators.Sampling.essWeights]]):
    * Kish ESS = (Σw)²/Σw² of order totals per priority — how many
    * equal-weight rows the weighted set is statistically worth, the
    * diagnostic run before importance-weighted training (q479/q371).
    */
  private def q508(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.essWeights(
      T(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "o_orderpriority", "cents")
      .orderBy(col("g"))

  // exact DECIMAL weight moments, two pinned ratios
  query("q508_ess_weights", q508)(Sql(
    """WITH b AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w FROM orders) SELECT g, COUNT(*) AS n, round(CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) * CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) / CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS DOUBLE), 6) AS ess, round(CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) * CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) / CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS ess_ratio FROM b GROUP BY 1 ORDER BY 1"""))

  /** Neyman plan EXECUTION: q488's variance-optimal allocation drawn —
    * per stratum, the planned quota filled by the deterministic md5
    * rank (the q48 recipe), capped at the stratum's size; readout
    * proves the draw hit the plan exactly (keys checksummed).
    */
  private def q516(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders").select(col("o_orderpriority"),
      col("o_orderkey"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
    val plan = graft.operators.Sampling.neymanAllocation(
      base, "o_orderpriority", "cents", budget = 500L)
      .select(col("stratum"), col("alloc"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(md5(col("o_orderkey").cast("string").cast("binary")),
        col("o_orderkey"))
    val drawn = base.withColumn("rn", row_number().over(w))
      .join(broadcast(plan), col("o_orderpriority") === col("stratum"))
      .filter(col("rn") <= col("alloc"))
    drawn.groupBy(col("stratum"))
      .agg(max(col("alloc")).as("alloc"), count(lit(1)).as("n_drawn"),
        sum(col("o_orderkey")).as("drawn_key_sum"))
      .orderBy(col("stratum"))
  }

  // the q488 micro-share plan + the q48 md5 rank draw, checksummed
  query("q516_neyman_draw", q516)(Sql(
    """WITH b AS (SELECT CAST(o_orderpriority AS VARCHAR) AS stratum, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders), per AS (SELECT stratum, COUNT(*) AS n_rows, SUM(CAST(c AS DECIMAL(38,0))) AS sv, SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS svv FROM b GROUP BY 1), sd0 AS (SELECT stratum, n_rows, CASE WHEN n_rows > 1 THEN round(sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n_rows AS DOUBLE)) / (CAST(n_rows AS DOUBLE) - 1.0)), 6) ELSE 0.0 END AS sd FROM per), w0 AS (SELECT stratum, n_rows, sd, CAST(round(CAST(n_rows AS DOUBLE) * sd, 6) AS DECIMAL(28,6)) AS w FROM sd0), sh AS (SELECT stratum, n_rows, CASE WHEN SUM(w) OVER () > 0 THEN CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE) ELSE CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) END AS share FROM w0), su0 AS (SELECT stratum, CAST(round(share * 1.0e12, 0) AS BIGINT) AS su FROM sh), st AS (SELECT stratum, su, SUM(su) OVER () AS s_total FROM su0), ba AS (SELECT stratum, su, (500 * su) // s_total AS base, (500 * su) % s_total AS rem FROM st), lf AS (SELECT stratum, base, 500 - SUM(base) OVER () AS leftover, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS erk FROM ba), plan AS (SELECT stratum, CAST(base + CASE WHEN erk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc FROM lf), rk AS (SELECT stratum, o_orderkey, ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn FROM b), dr AS (SELECT rk.stratum, rk.o_orderkey FROM rk JOIN plan ON rk.stratum = plan.stratum AND rk.rn <= plan.alloc) SELECT dr.stratum, MAX(plan.alloc) AS alloc, COUNT(*) AS n_drawn, CAST(SUM(dr.o_orderkey) AS BIGINT) AS drawn_key_sum FROM dr JOIN plan ON dr.stratum = plan.stratum GROUP BY 1 ORDER BY 1"""))

  /** Hill-number diversity profile
    * ([[graft.operators.Profiling.hillNumbers]]): each event type's
    * EFFECTIVE audience size at q=0/1/2 — richness, exp(Shannon),
    * inverse Simpson — in comparable user units.
    */
  private def q568(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.hillNumbers(
      T(s, dir, "events"), "event_type", "user_id")
      .orderBy(col("event_type"))

  // q460's pinned Shannon terms + an exact integer sum of squares
  query("q568_hill_numbers", q568)(Sql(
    """WITH c AS (SELECT event_type, user_id, COUNT(*) AS c FROM events GROUP BY 1, 2), t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS richness, CAST(SUM(c) AS BIGINT) AS n, SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9))) AS clogc, SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS c2 FROM c GROUP BY 1) SELECT event_type, n, richness, round(exp(ln(CAST(n AS DOUBLE)) - CAST(clogc AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS hill1, round(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) / CAST(c2 AS DOUBLE), 6) AS hill2, CASE WHEN richness > 0 THEN round(exp(ln(CAST(n AS DOUBLE)) - CAST(clogc AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(richness AS DOUBLE), 6) END AS evenness FROM t ORDER BY event_type"""))

  /** Classifier suite ([[graft.operators.Features.classifierSuite]]):
    * MCC, Youden's J, balanced accuracy, specificity, NPV and F2 on
    * q330's threshold frame — the prevalence-robust readouts P/R/F1
    * omit.
    */
  private def q584(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.classifierSuite(T(s, dir, "orders"),
      "o_totalprice", col("o_orderstatus") === "F", 150000.0)

  // q330's threshold census, the prevalence-robust metric block
  query("q584_classifier_suite", q584)(Sql(
    """WITH a AS (SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' AND CAST(o_totalprice AS DOUBLE) >= 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp, CAST(SUM(CASE WHEN o_orderstatus <> 'F' AND CAST(o_totalprice AS DOUBLE) >= 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, CAST(SUM(CASE WHEN o_orderstatus = 'F' AND CAST(o_totalprice AS DOUBLE) < 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn, CAST(SUM(CASE WHEN o_orderstatus <> 'F' AND CAST(o_totalprice AS DOUBLE) < 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn FROM orders) SELECT tp, fp, fn, tn, round((CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy, round(CAST(tp + fn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS prevalence, CASE WHEN CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE) > 0.0 THEN round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6) END AS mcc, CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) - 1.0, 6) END AS youden_j, CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN round((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) / 2.0, 6) END AS balanced_acc, CASE WHEN tn + fp > 0 THEN round(CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE), 6) END AS specificity, CASE WHEN tn + fn > 0 THEN round(CAST(tn AS DOUBLE) / CAST(tn + fn AS DOUBLE), 6) END AS npv, CASE WHEN tp + fp > 0 AND tp + fn > 0 AND 4.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) > 0.0 THEN round(5.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) / (4.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)), 6) END AS f2 FROM a"""))

  /** Decision-stump split ([[graft.operators.Features.stumpSplit]]):
    * the single $100-bucket price threshold that buys the most Gini
    * purity on order status — the tree-node sibling of q325's WOE/IV.
    */
  private def q617(s: SparkSession, dir: String): DataFrame =
    graft.operators.Features.stumpSplit(
      T(s, dir, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 10000")
          .as("bucket"),
        (col("o_orderstatus") === "F").cast("long").as("y")),
      col("bucket"), col("y"))

  // bucket census → cumulative class sweep → argmax gain with the
  // deterministic low-boundary tie break
  query("q617_stump_split", q617)(Sql(
    """WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS b, CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders), cen AS (SELECT b, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos FROM v GROUP BY 1), sw AS (SELECT b, CAST(SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn, CAST(SUM(pos) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp, CAST(SUM(n) OVER () AS BIGINT) AS tn, CAST(SUM(pos) OVER () AS BIGINT) AS tp FROM cen), f AS (SELECT b, cn AS n_left, tn - cn AS n_right, 1.0 - (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) - (1.0 - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) * (1.0 - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) AS parent, (CAST(cn AS DOUBLE) * (1.0 - (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) * (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) - (1.0 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) * (1.0 - CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))) + CAST(tn - cn AS DOUBLE) * (1.0 - (CAST(tp - cp AS DOUBLE) / CAST(tn - cn AS DOUBLE)) * (CAST(tp - cp AS DOUBLE) / CAST(tn - cn AS DOUBLE)) - (1.0 - CAST(tp - cp AS DOUBLE) / CAST(tn - cn AS DOUBLE)) * (1.0 - CAST(tp - cp AS DOUBLE) / CAST(tn - cn AS DOUBLE)))) / CAST(tn AS DOUBLE) AS weighted FROM sw WHERE cn > 0 AND cn < tn), s AS (SELECT b, n_left, n_right, round(parent, 9) AS pg, round(weighted, 9) AS wg, round(parent - weighted, 9) AS gn FROM f) SELECT b AS split_bucket, n_left, n_right, round(pg, 6) AS parent_gini, round(wg, 6) AS weighted_gini, round(gn, 6) AS gain FROM s ORDER BY gn DESC, b LIMIT 1"""))

  /** Platt scaling ([[graft.operators.Features.plattScaling]]): the
    * parametric calibrator over q288's buyer-propensity frame — raw
    * balance buckets become probabilities via eight pinned Newton
    * steps.
    */
  private def q640(s: SparkSession, dir: String): DataFrame = {
    // label = "has an OPEN-status order": both classes present at every
    // gate scale (the plain has-any-order label is constant at sf<=0.01)
    val buyers = T(s, dir, "orders")
      .filter(col("o_orderstatus") === "O")
      .select(col("o_custkey")).distinct()
    val frame = T(s, dir, "customer")
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .select(
        expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) div 10000")
          .as("s"),
        col("o_custkey").isNotNull.cast("long").as("y"))
    graft.operators.Features.plattScaling(frame, col("s"), col("y"))
  }

  // score-domain census, eight unrolled MATERIALIZED Newton steps,
  // every sigma pinned in and out, decimal-summed grid terms
  query("q640_platt_scaling", q640)(Sql(
    s"""WITH pcen AS MATERIALIZED (SELECT s, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos FROM (SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 10000 AS s, CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O') THEN 1 ELSE 0 END AS y FROM customer) GROUP BY 1), ptot AS (SELECT CAST(COUNT(*) AS BIGINT) AS cells, CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt FROM pcen), pp0 AS (SELECT 0 AS it, round(ln((CAST(pt AS DOUBLE) + 1.0) / (CAST(nt - pt AS DOUBLE) + 1.0)), 9) AS a, 0.0 AS b FROM ptot), ${(1 to 8).map(plattIterSql).mkString(", ")} SELECT cells AS n_cells, nt AS n, pt AS n_pos, CAST(it AS BIGINT) AS steps_moved, round(a, 6) + 0.0 AS a, round(b, 6) + 0.0 AS b FROM pp8, ptot"""))

  /** 1-D Lloyd k-means ([[graft.operators.Learn.kMeans1D]]): k=4
    * balance bands fit to the data (vs q67's fixed-width bins) —
    * deterministic slice-median init, 3 Lloyd rounds over the value
    * census, per-cluster n / centroid / WSS.
    */
  private def q659(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.kMeans1D(
      T(s, dir, "customer").select(
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("cents")),
      "cents", k = 4, iters = 3)

  // value census, slice-median init at exact discrete ranks, three
  // unrolled Lloyd rounds (argmin assignment with smallest-index
  // ties, decimal centroid updates pinned at 1e-9), grid-exact WSS
  query("q659_kmeans", q659)(Sql(
    s"""WITH $kmeansPrefixSql SELECT CAST(cluster AS BIGINT) AS cluster, CAST(SUM(n) AS BIGINT) AS n, round(MAX(c), 6) + 0.0 AS centroid, CAST(SUM(CAST(v * 1000000000 - CAST(round(c * 1e9, 0) AS BIGINT) AS HUGEINT) * CAST(v * 1000000000 - CAST(round(c * 1e9, 0) AS BIGINT) AS HUGEINT) * CAST(n AS HUGEINT)) AS DOUBLE) / 1e18 + 0.0 AS wss FROM asgf GROUP BY 1 ORDER BY 1"""))

  /** Per-customer (balance, spend) frame shared by the 2-feature
    * learners (q660 PCA, q663 Mahalanobis, q665 LDA). */
  private def balanceSpend(s: SparkSession, dir: String): DataFrame = {
    val spend = T(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("sp"))
    T(s, dir, "customer")
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey").as("id"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("x"),
        coalesce(col("sp"), lit(0L)).as("y"))
  }

  /** 2-feature PCA ([[graft.operators.Learn.pca2]]): the principal
    * direction and variance split of the (balance, spend) cloud —
    * closed-form eigenvalues, no iterative eigen.
    */
  private def q660(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.pca2(balanceSpend(s, dir), "x", "y")

  // one exact moment pass, pinned covariances, closed-form 2x2 eigen
  // (trace/discriminant), unit axis with the sign pinned
  query("q660_pca", q660)(Sql(
    """WITH sp AS (SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sp FROM orders GROUP BY 1), f AS (SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, COALESCE(sp, 0) AS y FROM customer LEFT JOIN sp ON c_custkey = o_custkey), mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y * y AS DECIMAL(38,0))) AS syy, SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy FROM f), stg AS (SELECT n, round(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS cxx, round(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS cyy, round(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS cxy FROM mom), e AS (SELECT n, cxx, cyy, cxy, (cxx + cyy) / 2.0 + sqrt((cxx - cyy) * (cxx - cyy) / 4.0 + cxy * cxy) AS l1, (cxx + cyy) / 2.0 - sqrt((cxx - cyy) * (cxx - cyy) / 4.0 + cxy * cxy) AS l2 FROM stg), v AS (SELECT *, CASE WHEN cxy <> 0.0 THEN cxy ELSE CASE WHEN cxx >= cyy THEN 1.0 ELSE 0.0 END END AS vx0, CASE WHEN cxy <> 0.0 THEN l1 - cxx ELSE CASE WHEN cxx >= cyy THEN 0.0 ELSE 1.0 END END AS vy0 FROM e), w AS (SELECT *, sqrt(vx0 * vx0 + vy0 * vy0) AS nrm, CASE WHEN vx0 < 0.0 THEN -1.0 WHEN vx0 = 0.0 AND vy0 < 0.0 THEN -1.0 ELSE 1.0 END AS sgn, cxx + cyy > 0.0 AS ok FROM v) SELECT n, cxx + 0.0 AS var_x, cyy + 0.0 AS var_y, cxy + 0.0 AS cov_xy, CASE WHEN ok THEN round(l1, 6) + 0.0 END AS lambda1, CASE WHEN ok THEN round(l2, 6) + 0.0 END AS lambda2, CASE WHEN ok THEN round(l1 / (cxx + cyy), 6) + 0.0 END AS explained_share, CASE WHEN ok THEN round(sgn * vx0 / nrm, 6) + 0.0 END AS axis_x, CASE WHEN ok THEN round(sgn * vy0 / nrm, 6) + 0.0 END AS axis_y FROM w"""))

  /** Three-regressor OLS ([[graft.operators.Learn.ols3]]): order value
    * on line count + total quantity + urgency, coefficients via the
    * centered 3×3 normal equations in closed form.
    */
  private def q661(s: SparkSession, dir: String): DataFrame = {
    val lc = T(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("nl"),
        sum(col("l_quantity").cast("long")).as("qty"))
    graft.operators.Learn.ols3(
      T(s, dir, "orders")
        .join(lc, col("o_orderkey") === col("l_orderkey"), "left")
        .select(
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"),
          coalesce(col("nl"), lit(0L)).as("nl"),
          coalesce(col("qty"), lit(0L)).as("qty"),
          substring(col("o_orderpriority"), 1, 1).isin("1", "2")
            .cast("long").as("urgent")),
      "cents", "nl", "qty", "urgent")
  }

  // one exact moment pass, centered cross-moments in the shared
  // double shape, Cramer's rule on the symmetric 3x3, R2 from the
  // fitted inner product
  query("q661_ols3", q661)(Sql(
    """WITH lc AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS nl, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY 1), f AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y, COALESCE(nl, 0) AS x1, COALESCE(qty, 0) AS x2, CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2') THEN 1 ELSE 0 END AS x3 FROM orders LEFT JOIN lc ON o_orderkey = l_orderkey), mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(y AS DECIMAL(38,0))) AS s_y, SUM(CAST(x1 AS DECIMAL(38,0))) AS s_x1, SUM(CAST(x2 AS DECIMAL(38,0))) AS s_x2, SUM(CAST(x3 AS DECIMAL(38,0))) AS s_x3, SUM(CAST(y * y AS DECIMAL(38,0))) AS s_y_y, SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS s_x1_x1, SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS s_x2_x2, SUM(CAST(x3 * x3 AS DECIMAL(38,0))) AS s_x3_x3, SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS s_x1_x2, SUM(CAST(x1 * x3 AS DECIMAL(38,0))) AS s_x1_x3, SUM(CAST(x2 * x3 AS DECIMAL(38,0))) AS s_x2_x3, SUM(CAST(x1 * y AS DECIMAL(38,0))) AS s_x1_y, SUM(CAST(x2 * y AS DECIMAL(38,0))) AS s_x2_y, SUM(CAST(x3 * y AS DECIMAL(38,0))) AS s_x3_y FROM f), cm AS (SELECT n, CAST(s_y AS DOUBLE) AS dy, CAST(s_x1 AS DOUBLE) AS dx1, CAST(s_x2 AS DOUBLE) AS dx2, CAST(s_x3 AS DOUBLE) AS dx3, CAST(n AS DOUBLE) * CAST(s_x1_x1 AS DOUBLE) - CAST(s_x1 AS DOUBLE) * CAST(s_x1 AS DOUBLE) AS c11, CAST(n AS DOUBLE) * CAST(s_x2_x2 AS DOUBLE) - CAST(s_x2 AS DOUBLE) * CAST(s_x2 AS DOUBLE) AS c22, CAST(n AS DOUBLE) * CAST(s_x3_x3 AS DOUBLE) - CAST(s_x3 AS DOUBLE) * CAST(s_x3 AS DOUBLE) AS c33, CAST(n AS DOUBLE) * CAST(s_x1_x2 AS DOUBLE) - CAST(s_x1 AS DOUBLE) * CAST(s_x2 AS DOUBLE) AS c12, CAST(n AS DOUBLE) * CAST(s_x1_x3 AS DOUBLE) - CAST(s_x1 AS DOUBLE) * CAST(s_x3 AS DOUBLE) AS c13, CAST(n AS DOUBLE) * CAST(s_x2_x3 AS DOUBLE) - CAST(s_x2 AS DOUBLE) * CAST(s_x3 AS DOUBLE) AS c23, CAST(n AS DOUBLE) * CAST(s_x1_y AS DOUBLE) - CAST(s_x1 AS DOUBLE) * CAST(s_y AS DOUBLE) AS cy1, CAST(n AS DOUBLE) * CAST(s_x2_y AS DOUBLE) - CAST(s_x2 AS DOUBLE) * CAST(s_y AS DOUBLE) AS cy2, CAST(n AS DOUBLE) * CAST(s_x3_y AS DOUBLE) - CAST(s_x3 AS DOUBLE) * CAST(s_y AS DOUBLE) AS cy3, CAST(n AS DOUBLE) * CAST(s_y_y AS DOUBLE) - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE) AS cyy FROM mom), dt AS (SELECT *, c11 * (c22 * c33 - c23 * c23) - c12 * (c12 * c33 - c23 * c13) + c13 * (c12 * c23 - c22 * c13) AS det, cy1 * (c22 * c33 - c23 * c23) - c12 * (cy2 * c33 - c23 * cy3) + c13 * (cy2 * c23 - c22 * cy3) AS det1, c11 * (cy2 * c33 - c23 * cy3) - cy1 * (c12 * c33 - c23 * c13) + c13 * (c12 * cy3 - cy2 * c13) AS det2, c11 * (c22 * cy3 - c23 * cy2) - c12 * (c12 * cy3 - cy2 * c13) + cy1 * (c12 * c23 - c22 * c13) AS det3 FROM cm), g AS (SELECT *, det1 / det AS b1, det2 / det AS b2, det3 / det AS b3, det <> 0.0 AND cyy > 0.0 AND n >= 5 AS ok FROM dt) SELECT n, CASE WHEN ok THEN round(b1, 6) + 0.0 END AS beta1, CASE WHEN ok THEN round(b2, 6) + 0.0 END AS beta2, CASE WHEN ok THEN round(b3, 6) + 0.0 END AS beta3, CASE WHEN ok THEN round((dy - b1 * dx1 - b2 * dx2 - b3 * dx3) / CAST(n AS DOUBLE), 6) + 0.0 END AS intercept, CASE WHEN ok THEN round((b1 * cy1 + b2 * cy2 + b3 * cy3) / cyy, 6) + 0.0 END AS r2 FROM g"""))

  /** 2-feature Mahalanobis outliers
    * ([[graft.operators.Learn.mahalanobis2]]): covariance-aware
    * distance over (balance, spend) — the correlated outliers
    * per-column z-scores miss; top 20.
    */
  private def q663(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.mahalanobis2(balanceSpend(s, dir),
      "id", "x", "y", topK = 20)

  // pinned moments, closed-form 2x2 inverse, one covariance-aware
  // scoring pass, top-20 by the pinned distance
  query("q663_mahalanobis", q663)(Sql(
    """WITH sp AS (SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sp FROM orders GROUP BY 1), f AS (SELECT c_custkey AS id, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, COALESCE(sp, 0) AS y FROM customer LEFT JOIN sp ON c_custkey = o_custkey), mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y * y AS DECIMAL(38,0))) AS syy, SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy FROM f), st AS (SELECT round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mx, round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS my, round(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS cxx, round(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS cyy, round(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS cxy FROM mom) SELECT id, x, y, round((cyy * (CAST(x AS DOUBLE) - mx) * (CAST(x AS DOUBLE) - mx) - 2.0 * cxy * (CAST(x AS DOUBLE) - mx) * (CAST(y AS DOUBLE) - my) + cxx * (CAST(y AS DOUBLE) - my) * (CAST(y AS DOUBLE) - my)) / (cxx * cyy - cxy * cxy), 6) + 0.0 AS md2 FROM f, st ORDER BY md2 DESC, id LIMIT 20"""))

  /** Decision stump ([[graft.operators.Learn.decisionStump]]): the best
    * single balance threshold for "has an open order", by exact Gini
    * gain over the value census — the one-rule baseline.
    */
  private def q664(s: SparkSession, dir: String): DataFrame = {
    val open = T(s, dir, "orders")
      .filter(col("o_orderstatus") === "O")
      .select(col("o_custkey")).distinct()
    graft.operators.Learn.decisionStump(
      T(s, dir, "customer")
        .join(open, col("c_custkey") === col("o_custkey"), "left")
        .select(
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
            .cast("long").as("cents"),
          col("o_custkey").isNotNull.as("has_open")),
      "cents", col("has_open"))
  }

  // label census, one prefix window over the value domain, pinned
  // Gini gain, lowest-value tie-break
  query("q664_decision_stump", q664)(Sql(
    """WITH lab AS (SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v, CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O') THEN 1 ELSE 0 END AS y FROM customer), cen AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos FROM lab GROUP BY 1), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt FROM cen), pre0 AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl, CAST(SUM(pos) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl FROM cen), pre AS (SELECT v, nl, pl, nt, pt FROM pre0, tot WHERE nl < nt), sc AS (SELECT v, nl, pl, nt, pt, round((1.0 - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) - ((CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE)) / CAST(nt AS DOUBLE)) * ((CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE)) / CAST(nt AS DOUBLE))) - (CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE)) * (1.0 - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)) - ((CAST(nl AS DOUBLE) - CAST(pl AS DOUBLE)) / CAST(nl AS DOUBLE)) * ((CAST(nl AS DOUBLE) - CAST(pl AS DOUBLE)) / CAST(nl AS DOUBLE))) - (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE)) * (1.0 - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE)) - ((CAST(nt - nl AS DOUBLE) - CAST(pt - pl AS DOUBLE)) / CAST(nt - nl AS DOUBLE)) * ((CAST(nt - nl AS DOUBLE) - CAST(pt - pl AS DOUBLE)) / CAST(nt - nl AS DOUBLE))), 9) AS g FROM pre), best AS (SELECT * FROM sc ORDER BY g DESC, v LIMIT 1) SELECT v AS split, nt AS n, nl AS n_left, nt - nl AS n_right, round(CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE), 6) + 0.0 AS pos_rate_left, round(CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE), 6) + 0.0 AS pos_rate_right, round(1.0 - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) - ((CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE)) / CAST(nt AS DOUBLE)) * ((CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE)) / CAST(nt AS DOUBLE)), 6) + 0.0 AS gini_root, g + 0.0 AS gain FROM best"""))

  /** Fisher LDA ([[graft.operators.Learn.lda2]]): the closed-form
    * (balance, spend) direction separating open-order customers from
    * the rest — the class-aware axis q660's PCA can't see.
    */
  private def q665(s: SparkSession, dir: String): DataFrame = {
    val open = T(s, dir, "orders")
      .filter(col("o_orderstatus") === "O")
      .select(col("o_custkey")).distinct()
    val cls = T(s, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey").as("id"),
        col("o_custkey").isNotNull.as("opened"))
    graft.operators.Learn.lda2(
      balanceSpend(s, dir).join(cls, Seq("id")),
      col("opened"), "x", "y")
  }

  // per-class exact scatter pinned at 1e-9, pooled 2x2 inverse in
  // closed form, unit Fisher direction + the Mahalanobis gap
  query("q665_lda", q665)(Sql(
    """WITH sp AS (SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sp FROM orders GROUP BY 1), f AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O') THEN 1 ELSE 0 END AS g, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, COALESCE(sp, 0) AS y FROM customer LEFT JOIN sp ON c_custkey = o_custkey), mom AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y * y AS DECIMAL(38,0))) AS syy, SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy FROM f GROUP BY 1), stg AS (SELECT g, n, round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mx, round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS my, round(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS wxx, round(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS wyy, round(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS wxy FROM mom), a AS (SELECT n AS n1, mx AS mx1, my AS my1, wxx AS wxx1, wyy AS wyy1, wxy AS wxy1 FROM stg WHERE g = 1), b AS (SELECT n AS n0, mx AS mx0, my AS my0, wxx AS wxx0, wyy AS wyy0, wxy AS wxy0 FROM stg WHERE g = 0), j AS (SELECT *, CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0 AS dfree FROM a, b), p AS (SELECT *, (wxx1 + wxx0) / dfree AS pxx, (wyy1 + wyy0) / dfree AS pyy, (wxy1 + wxy0) / dfree AS pxy, mx1 - mx0 AS dmx, my1 - my0 AS dmy FROM j), q AS (SELECT *, pxx * pyy - pxy * pxy AS detp FROM p), r AS (SELECT *, (pyy * dmx - pxy * dmy) / detp AS wx0, (pxx * dmy - pxy * dmx) / detp AS wy0 FROM q), s AS (SELECT *, sqrt(wx0 * wx0 + wy0 * wy0) AS nrm, n1 >= 2 AND n0 >= 2 AND detp <> 0.0 AND dfree > 0.0 AND sqrt(wx0 * wx0 + wy0 * wy0) > 0.0 AS ok FROM r) SELECT n1, n0, CASE WHEN ok THEN round(wx0 / nrm, 6) + 0.0 END AS w_x, CASE WHEN ok THEN round(wy0 / nrm, 6) + 0.0 END AS w_y, CASE WHEN ok THEN round(dmx, 6) + 0.0 END AS gap_x, CASE WHEN ok THEN round(dmy, 6) + 0.0 END AS gap_y, CASE WHEN ok THEN round(wx0 * dmx + wy0 * dmy, 6) + 0.0 END AS fisher_separation FROM s"""))

  /** 1-D silhouette ([[graft.operators.Learn.silhouette1D]]): the
    * measured cluster-quality meter for q659's bands — per-cluster
    * mean silhouette from census prefix sums, zero pairs materialized.
    */
  private def q666(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.silhouette1D(
      T(s, dir, "customer").select(
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("cents")),
      "cents", k = 4, iters = 3)

  // the kmeans assignment's per-cluster prefix sums give every
  // pairwise distance sum; pinned a/b sides, grid silhouettes,
  // per-cluster weighted mean
  query("q666_silhouette", q666)(Sql(
    s"""WITH $kmeansPrefixSql, tots AS (SELECT cluster, CAST(SUM(n) AS BIGINT) AS ct, SUM(CAST(v AS HUGEINT) * CAST(n AS HUGEINT)) AS st FROM asgf GROUP BY 1), kk AS (SELECT ${(0 to 3).map(j => s"COALESCE((SELECT ct FROM tots WHERE cluster = $j), 0) AS ct$j, COALESCE((SELECT st FROM tots WHERE cluster = $j), CAST(0 AS HUGEINT)) AS st$j").mkString(", ")}), pre AS (SELECT v, n, cluster, ${(0 to 3).map(j => s"SUM(CASE WHEN cluster = $j THEN CAST(n AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) OVER w AS cb$j, SUM(CASE WHEN cluster = $j THEN CAST(v AS HUGEINT) * CAST(n AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) OVER w AS sb$j").mkString(", ")} FROM asgf WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), ds AS (SELECT v, n, cluster, ${(0 to 3).map(j => s"CAST(v AS HUGEINT) * cb$j - sb$j + (st$j - sb$j) - CAST(v AS HUGEINT) * (CAST(ct$j AS HUGEINT) - cb$j) AS d$j").mkString(", ")}, ${(0 to 3).map(j => s"ct$j").mkString(", ")} FROM pre, kk), ab AS (SELECT v, n, cluster, CASE ${(0 to 3).map(j => s"WHEN cluster = $j THEN CASE WHEN ct$j > 1 THEN round(CAST(d$j AS DOUBLE) / CAST(ct$j - 1 AS DOUBLE), 9) END").mkString(" ")} END AS a, least(${(0 to 3).map(j => s"CASE WHEN cluster <> $j AND ct$j > 0 THEN round(CAST(d$j AS DOUBLE) / CAST(ct$j AS DOUBLE), 9) END").mkString(", ")}) AS b FROM ds), sil AS (SELECT v, n, cluster, CASE WHEN a IS NULL OR b IS NULL THEN 0.0 WHEN greatest(a, b) = 0.0 THEN 0.0 ELSE round((b - a) / greatest(a, b), 9) END AS s FROM ab) SELECT CAST(cluster AS BIGINT) AS cluster, CAST(SUM(n) AS BIGINT) AS n, round(CAST(SUM(CAST(s AS DECIMAL(10,9)) * CAST(n AS DECIMAL(19,0))) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) + 0.0 AS mean_silhouette FROM sil GROUP BY 1 ORDER BY 1"""))

  /** K-means elbow sweep ([[graft.operators.Learn.kMeansElbow]]): WSS
    * at k = 2..6 over the balance census with the curvature knee
    * flagged — the choose-k meter run before q659 commits to 4.
    */
  private def q667(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.kMeansElbow(
      T(s, dir, "customer").select(
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("cents")),
      "cents", ks = 2 to 6, iters = 3)

  // shared census, five k-parametrized Lloyd chains, the WSS curve's
  // discrete-curvature knee with smallest-k ties
  query("q667_kmeans_elbow", q667)(Sql(
    s"""WITH cen AS MATERIALIZED (SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS n FROM customer GROUP BY 1), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cen), cum AS MATERIALIZED (SELECT v, n, SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cen), ${(2 to 6).map(kmeansChainSqlK).mkString(", ")}, allw AS (${(2 to 6).map(k => s"SELECT * FROM wss_k$k").mkString(" UNION ALL ")}), kn AS (SELECT a.k, a.wss, CASE WHEN p.wss IS NOT NULL AND nx.wss IS NOT NULL THEN (p.wss + nx.wss) - 2.0 * a.wss END AS d2 FROM allw a LEFT JOIN allw p ON p.k = a.k - 1 LEFT JOIN allw nx ON nx.k = a.k + 1) SELECT CAST(k AS BIGINT) AS k, wss + 0.0 AS total_wss, CASE WHEN d2 IS NOT NULL THEN d2 + 0.0 END AS curvature, k = (SELECT MIN(k) FROM kn WHERE d2 = (SELECT MAX(d2) FROM kn)) AS is_knee FROM kn ORDER BY k"""))

  /** Huber robust location ([[graft.operators.Learn.huberLocation]]):
    * the outlier-resistant center of order value — 4 IRLS rounds over
    * the value census with the MAD-scaled 1.345 cutoff.
    */
  private def q668(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.huberLocation(
      T(s, dir, "orders").select(
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents")),
      "cents")

  // census median/MAD at exact discrete ranks, 4 unrolled IRLS
  // rounds with the weight as the only pinned double
  query("q668_huber_location", q668)(Sql(
    s"""WITH hcen AS MATERIALIZED (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1), htot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, SUM(CAST(v * n AS DECIMAL(38,0))) AS sv FROM hcen), hmed AS (SELECT MIN(v) AS med FROM (SELECT v, SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hcen) WHERE cum >= ((SELECT nt FROM htot) + 1) // 2), hmadc AS (SELECT abs(v - (SELECT med FROM hmed)) AS v, CAST(SUM(n) AS BIGINT) AS n FROM hcen GROUP BY 1), hmad AS (SELECT MIN(v) AS mad FROM (SELECT v, SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hmadc) WHERE cum >= ((SELECT nt FROM htot) + 1) // 2), hu0 AS (SELECT med, mad, CAST(med AS DOUBLE) AS mu, round(1.345 * (1.4826 * CAST(mad AS DOUBLE)), 9) AS c FROM hmed, hmad), ${(1 to 4).map(huberIterSql).mkString(", ")} SELECT nt AS n, med AS median, mad, CASE WHEN mad > 0 THEN c + 0.0 END AS c, CASE WHEN mad > 0 THEN round(mu, 6) + 0.0 ELSE CAST(med AS DOUBLE) + 0.0 END AS huber_mu, round(CAST(sv AS DOUBLE) / CAST(nt AS DOUBLE), 6) + 0.0 AS mean FROM hu4, htot"""))

  /** Davies–Bouldin index ([[graft.operators.Learn.daviesBouldin]]):
    * the one-number separation verdict on q659's bands.
    */
  private def q669(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.daviesBouldin(q659(s, dir))

  // the kmeans result's rms spreads and centroid gaps, max-ratio per
  // cluster, one pinned mean
  query("q669_davies_bouldin", q669)(Sql(
    s"""WITH $kmeansPrefixSql, km AS (SELECT CAST(cluster AS BIGINT) AS cluster, CAST(SUM(n) AS BIGINT) AS n, round(MAX(c), 6) + 0.0 AS centroid, CAST(SUM(CAST(v * 1000000000 - CAST(round(c * 1e9, 0) AS BIGINT) AS HUGEINT) * CAST(v * 1000000000 - CAST(round(c * 1e9, 0) AS BIGINT) AS HUGEINT) * CAST(n AS HUGEINT)) AS DOUBLE) / 1e18 + 0.0 AS wss FROM asgf GROUP BY 1), pr AS (SELECT a.cluster AS i, MAX(CASE WHEN abs(a.centroid - b.centroid) > 0.0 THEN round((round(sqrt(a.wss / CAST(a.n AS DOUBLE)), 9) + round(sqrt(b.wss / CAST(b.n AS DOUBLE)), 9)) / abs(a.centroid - b.centroid), 9) END) AS r FROM km a, km b WHERE a.cluster <> b.cluster GROUP BY 1) SELECT CAST(COUNT(*) AS BIGINT) AS k, round(CAST(SUM(CAST(r AS DECIMAL(28,9))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS db_index FROM pr"""))

  /** 2-component Gaussian mixture ([[graft.operators.Learn.gmm2]]):
    * driver-paced EM on order totals in dollars — "is revenue one
    * population or two", with the component shapes attached; the soft
    * sibling of q659's hard k-means bands.
    */
  private def q686(s: SparkSession, dir: String): DataFrame =
    graft.operators.Learn.gmm2(
      T(s, dir, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS LONG) div 100")
          .as("dollars")),
      "dollars")

  // 4 unrolled EM rounds: pinned log-odds logistic E-steps over
  // the value census, decimal M-step sums, floored variances
  query("q686_gmm_em", q686)(Sql(
    """WITH cen AS MATERIALIZED (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1), mm AS MATERIALIZED (SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(CAST(v * n AS DECIMAL(38,0))) AS sv, SUM(CAST(n AS DECIMAL(38,0)) * v * v) AS svv FROM cen), cum AS (SELECT v, n, CAST(SUM(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM cen), p0 AS MATERIALIZED (SELECT mm.n AS n, 0.5 AS pi, (SELECT CAST(MIN(v) AS DOUBLE) FROM cum WHERE cum >= mm.n // 4 + 1) AS mu1, GREATEST(round(CAST(svv AS DOUBLE) / CAST(mm.n AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(mm.n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(mm.n AS DOUBLE)), 3), 0.000001) AS s1, (SELECT CAST(MIN(v) AS DOUBLE) FROM cum WHERE cum >= 3 * mm.n // 4 + 1) AS mu2, GREATEST(round(CAST(svv AS DOUBLE) / CAST(mm.n AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(mm.n AS DOUBLE)) * (CAST(sv AS DOUBLE) / CAST(mm.n AS DOUBLE)), 3), 0.000001) AS s2 FROM mm), r0 AS (SELECT cen.v AS v, cen.n AS n, CAST(round(1.0 / (1.0 + exp(LEAST(GREATEST(round(((ln(1.0 - p0.pi) - 0.5 * ln(p0.s2)) - (CAST(cen.v AS DOUBLE) - p0.mu2) * (CAST(cen.v AS DOUBLE) - p0.mu2) / (2.0 * p0.s2)) - ((ln(p0.pi) - 0.5 * ln(p0.s1)) - (CAST(cen.v AS DOUBLE) - p0.mu1) * (CAST(cen.v AS DOUBLE) - p0.mu1) / (2.0 * p0.s1)), 9), -700.0), 700.0))) * 1000000000000.0, 0) AS BIGINT) AS r1 FROM cen CROSS JOIN p0), g0 AS (SELECT SUM(CAST(r1 AS DECIMAL(38,0)) * n) AS w1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v) AS m1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v * v) AS q1, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n) AS w2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v) AS m2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v * v) AS q2 FROM r0), p1 AS MATERIALIZED (SELECT mm.n AS n, round(CAST(w1 AS DOUBLE) / (CAST(mm.n AS DOUBLE) * 1000000000000.0), 9) AS pi, round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) AS mu1, GREATEST(round(CAST(q1 AS DOUBLE) / CAST(w1 AS DOUBLE) - round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) * round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9), 3), 0.000001) AS s1, round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) AS mu2, GREATEST(round(CAST(q2 AS DOUBLE) / CAST(w2 AS DOUBLE) - round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) * round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9), 3), 0.000001) AS s2 FROM g0, mm), r1 AS (SELECT cen.v AS v, cen.n AS n, CAST(round(1.0 / (1.0 + exp(LEAST(GREATEST(round(((ln(1.0 - p1.pi) - 0.5 * ln(p1.s2)) - (CAST(cen.v AS DOUBLE) - p1.mu2) * (CAST(cen.v AS DOUBLE) - p1.mu2) / (2.0 * p1.s2)) - ((ln(p1.pi) - 0.5 * ln(p1.s1)) - (CAST(cen.v AS DOUBLE) - p1.mu1) * (CAST(cen.v AS DOUBLE) - p1.mu1) / (2.0 * p1.s1)), 9), -700.0), 700.0))) * 1000000000000.0, 0) AS BIGINT) AS r1 FROM cen CROSS JOIN p1), g1 AS (SELECT SUM(CAST(r1 AS DECIMAL(38,0)) * n) AS w1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v) AS m1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v * v) AS q1, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n) AS w2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v) AS m2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v * v) AS q2 FROM r1), p2 AS MATERIALIZED (SELECT mm.n AS n, round(CAST(w1 AS DOUBLE) / (CAST(mm.n AS DOUBLE) * 1000000000000.0), 9) AS pi, round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) AS mu1, GREATEST(round(CAST(q1 AS DOUBLE) / CAST(w1 AS DOUBLE) - round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) * round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9), 3), 0.000001) AS s1, round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) AS mu2, GREATEST(round(CAST(q2 AS DOUBLE) / CAST(w2 AS DOUBLE) - round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) * round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9), 3), 0.000001) AS s2 FROM g1, mm), r2 AS (SELECT cen.v AS v, cen.n AS n, CAST(round(1.0 / (1.0 + exp(LEAST(GREATEST(round(((ln(1.0 - p2.pi) - 0.5 * ln(p2.s2)) - (CAST(cen.v AS DOUBLE) - p2.mu2) * (CAST(cen.v AS DOUBLE) - p2.mu2) / (2.0 * p2.s2)) - ((ln(p2.pi) - 0.5 * ln(p2.s1)) - (CAST(cen.v AS DOUBLE) - p2.mu1) * (CAST(cen.v AS DOUBLE) - p2.mu1) / (2.0 * p2.s1)), 9), -700.0), 700.0))) * 1000000000000.0, 0) AS BIGINT) AS r1 FROM cen CROSS JOIN p2), g2 AS (SELECT SUM(CAST(r1 AS DECIMAL(38,0)) * n) AS w1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v) AS m1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v * v) AS q1, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n) AS w2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v) AS m2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v * v) AS q2 FROM r2), p3 AS MATERIALIZED (SELECT mm.n AS n, round(CAST(w1 AS DOUBLE) / (CAST(mm.n AS DOUBLE) * 1000000000000.0), 9) AS pi, round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) AS mu1, GREATEST(round(CAST(q1 AS DOUBLE) / CAST(w1 AS DOUBLE) - round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) * round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9), 3), 0.000001) AS s1, round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) AS mu2, GREATEST(round(CAST(q2 AS DOUBLE) / CAST(w2 AS DOUBLE) - round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) * round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9), 3), 0.000001) AS s2 FROM g2, mm), r3 AS (SELECT cen.v AS v, cen.n AS n, CAST(round(1.0 / (1.0 + exp(LEAST(GREATEST(round(((ln(1.0 - p3.pi) - 0.5 * ln(p3.s2)) - (CAST(cen.v AS DOUBLE) - p3.mu2) * (CAST(cen.v AS DOUBLE) - p3.mu2) / (2.0 * p3.s2)) - ((ln(p3.pi) - 0.5 * ln(p3.s1)) - (CAST(cen.v AS DOUBLE) - p3.mu1) * (CAST(cen.v AS DOUBLE) - p3.mu1) / (2.0 * p3.s1)), 9), -700.0), 700.0))) * 1000000000000.0, 0) AS BIGINT) AS r1 FROM cen CROSS JOIN p3), g3 AS (SELECT SUM(CAST(r1 AS DECIMAL(38,0)) * n) AS w1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v) AS m1, SUM(CAST(r1 AS DECIMAL(38,0)) * n * v * v) AS q1, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n) AS w2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v) AS m2, SUM(CAST(1000000000000 - r1 AS DECIMAL(38,0)) * n * v * v) AS q2 FROM r3), p4 AS MATERIALIZED (SELECT mm.n AS n, round(CAST(w1 AS DOUBLE) / (CAST(mm.n AS DOUBLE) * 1000000000000.0), 9) AS pi, round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) AS mu1, GREATEST(round(CAST(q1 AS DOUBLE) / CAST(w1 AS DOUBLE) - round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9) * round(CAST(m1 AS DOUBLE) / CAST(w1 AS DOUBLE), 9), 3), 0.000001) AS s1, round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) AS mu2, GREATEST(round(CAST(q2 AS DOUBLE) / CAST(w2 AS DOUBLE) - round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9) * round(CAST(m2 AS DOUBLE) / CAST(w2 AS DOUBLE), 9), 3), 0.000001) AS s2 FROM g3, mm), fin AS (SELECT n, pi, mu1, s1, mu2, s2, round(abs(mu2 - mu1) / sqrt((s1 + s2) / 2.0), 6) + 0.0 AS sep FROM p4) SELECT CAST(1 AS BIGINT) AS component, n, round(pi, 6) + 0.0 AS pi, round(mu1, 6) + 0.0 AS mu, s1 + 0.0 AS sigma2, sep AS separation FROM fin UNION ALL SELECT CAST(2 AS BIGINT), n, round(1.0 - pi, 6) + 0.0, round(mu2, 6) + 0.0, s2 + 0.0, sep FROM fin ORDER BY component"""))

  /** K-anonymity sweep ([[graft.operators.Privacy.kAnonSweep]]): the
    * suppression-cost curve over candidate k — what q217's fixed-k
    * anonymization costs at every other k, from one class-size census.
    */
  private def q557(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.kAnonSweep(
      T(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment")),
      Seq("c_nationkey", "c_mktsegment"), Seq(2, 5, 10, 25))

  // one class-size census, k spine broadcast over it
  query("q557_kanon_sweep", q557)(Sql(
    """WITH sz AS (SELECT COUNT(*) AS s FROM customer GROUP BY c_nationkey, c_mktsegment), sc AS (SELECT s AS szv, COUNT(*) AS classes FROM sz GROUP BY 1), ks AS (SELECT CAST(unnest([2, 5, 10, 25]) AS BIGINT) AS k) SELECT k, CAST(SUM(classes) AS BIGINT) AS n_classes, CAST(SUM(CASE WHEN szv < k THEN classes ELSE 0 END) AS BIGINT) AS classes_suppressed, CAST(SUM(CASE WHEN szv < k THEN szv * classes ELSE 0 END) AS BIGINT) AS rows_suppressed, round(CAST(SUM(CASE WHEN szv < k THEN szv * classes ELSE 0 END) AS DOUBLE) / CAST(SUM(szv * classes) AS DOUBLE), 6) AS suppressed_share FROM sc, ks GROUP BY k ORDER BY k"""))

  /** Quasi-identifier uniqueness risk
    * ([[graft.operators.Privacy.uniquenessRisk]]): the share of
    * customers UNIQUE under each declared column combo — the
    * re-identification surface measured before anyone picks which
    * columns to generalize.
    */
  private def q558(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.uniquenessRisk(
      T(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS LONG) div 10000")
          .as("bal_bucket")),
      Seq(("nation", Seq("c_nationkey")),
        ("nation_segment", Seq("c_nationkey", "c_mktsegment")),
        ("nation_segment_bal",
          Seq("c_nationkey", "c_mktsegment", "bal_bucket"))))

  // one census per declared combo, singleton shares
  query("q558_uniqueness_risk", q558)(Sql(
    """WITH c AS (SELECT c_nationkey, c_mktsegment, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 10000 AS bal_bucket FROM customer), a AS (SELECT 'nation' AS combo, COUNT(*) AS n_classes, SUM(szv) AS n_rows, SUM(CASE WHEN szv = 1 THEN 1 ELSE 0 END) AS n_singletons FROM (SELECT COUNT(*) AS szv FROM c GROUP BY c_nationkey)), b AS (SELECT 'nation_segment' AS combo, COUNT(*) AS n_classes, SUM(szv) AS n_rows, SUM(CASE WHEN szv = 1 THEN 1 ELSE 0 END) AS n_singletons FROM (SELECT COUNT(*) AS szv FROM c GROUP BY c_nationkey, c_mktsegment)), d AS (SELECT 'nation_segment_bal' AS combo, COUNT(*) AS n_classes, SUM(szv) AS n_rows, SUM(CASE WHEN szv = 1 THEN 1 ELSE 0 END) AS n_singletons FROM (SELECT COUNT(*) AS szv FROM c GROUP BY c_nationkey, c_mktsegment, bal_bucket)) SELECT combo, CAST(n_classes AS BIGINT) AS n_classes, CAST(n_singletons AS BIGINT) AS n_singletons, round(CAST(n_singletons AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS unique_row_share FROM (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM d) ORDER BY combo"""))

  /** Raking / iterative proportional fitting
    * ([[graft.operators.Sampling.rake]]): calibrate (source, lang) cell
    * weights so the weighted marginals hit equal-mass-per-source while
    * keeping the observed language mix — the mixture-calibration step
    * q225's schedule assumes someone already ran.
    */
  private def q546(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.rake(
      T(s, dir, "documents").select(col("source"), col("lang")),
      "source", "lang", rounds = 3)
      .orderBy(col("r"), col("c"))

  // 3 unrolled IPF rounds, every rescaled weight re-pinned to the grid
  query("q546_raking", q546)(Sql(
    """WITH cells AS (SELECT source AS r, lang AS c, COUNT(*) AS n FROM documents GROUP BY 1, 2), rr AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS nr FROM documents), base AS (SELECT r, c, n, rr.nr, SUM(n) OVER () AS tot, CAST(SUM(n) OVER (PARTITION BY c) AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS ct, CAST(round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 9) AS DECIMAL(18,9)) AS w FROM cells, rr), i1r AS (SELECT r, c, n, nr, tot, ct, CAST(round(CAST(w AS DOUBLE) * ((1.0 / nr) / CAST(SUM(w) OVER (PARTITION BY r) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w FROM base), i1c AS (SELECT r, c, n, nr, tot, ct, CAST(round(CAST(w AS DOUBLE) * (ct / CAST(SUM(w) OVER (PARTITION BY c) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w FROM i1r), i2r AS (SELECT r, c, n, nr, tot, ct, CAST(round(CAST(w AS DOUBLE) * ((1.0 / nr) / CAST(SUM(w) OVER (PARTITION BY r) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w FROM i1c), i2c AS (SELECT r, c, n, nr, tot, ct, CAST(round(CAST(w AS DOUBLE) * (ct / CAST(SUM(w) OVER (PARTITION BY c) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w FROM i2r), i3r AS (SELECT r, c, n, nr, tot, ct, CAST(round(CAST(w AS DOUBLE) * ((1.0 / nr) / CAST(SUM(w) OVER (PARTITION BY r) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w FROM i2c), i3c AS (SELECT r, c, n, nr, tot, ct, CAST(round(CAST(w AS DOUBLE) * (ct / CAST(SUM(w) OVER (PARTITION BY c) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w FROM i3r) SELECT r, c, CAST(n AS BIGINT) AS n, CAST(w AS DOUBLE) AS weight, round(CAST(w AS DOUBLE) / (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 6) AS factor FROM i3c ORDER BY r, c"""))

  /** Post-stratified estimator ([[graft.operators.Sampling.postStratify]]):
    * mean customer spend reweighted to the KNOWN per-nation customer
    * population — the survey correction for "buyers over-represent some
    * nations"; exact stratum moments, 1e-9 grid terms, unsampled strata
    * reported (not silently renormalized).
    */
  private def q462(s: SparkSession, dir: String): DataFrame = {
    val spend = T(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(expr(
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)")
        .as("cents"))
    val sample = spend.join(T(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("cents"))
    graft.operators.Sampling.postStratify(sample,
        T(s, dir, "customer"), "c_nationkey", "cents")
      .orderBy(col("h"))
  }

  // known population shares reweight the biased sample; 1e-9 terms
  query("q462_post_stratify", q462)(Sql(
    """WITH sp AS (SELECT c_nationkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY o_custkey, c_nationkey), pop AS (SELECT CAST(c_nationkey AS VARCHAR) AS h, CAST(COUNT(*) AS BIGINT) AS pop_n FROM customer GROUP BY 1), sm AS (SELECT CAST(c_nationkey AS VARCHAR) AS h, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(cents AS DECIMAL(38,0))) AS s, SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS ss FROM sp GROUP BY 1), j AS (SELECT pop.h, pop.pop_n, COALESCE(sm.n, 0) AS n, sm.s, sm.ss FROM pop LEFT JOIN sm USING (h)), t AS (SELECT CAST(SUM(pop_n) AS BIGINT) AS tot FROM j), f AS (SELECT j.*, CAST(pop_n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS w, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mh, (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vh FROM j, t), f2 AS (SELECT h, pop_n, n, round(w, 9) AS w, CASE WHEN n > 0 THEN round(mh, 6) END AS mean_h, n > 0 AS covered, CASE WHEN n > 0 THEN CAST(round(w * mh, 9) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END AS ty, CASE WHEN n > 1 THEN CAST(round(w * w * vh / CAST(n AS DOUBLE), 9) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END AS tv FROM f) SELECT h, pop_n, n, w, mean_h, covered, round(CAST(SUM(ty) OVER () AS DOUBLE), 6) AS estimate, round(sqrt(CAST(SUM(tv) OVER () AS DOUBLE)), 6) AS se FROM f2 ORDER BY h"""))

  /** Column entropy profile ([[graft.operators.Profiling.entropyProfile]]):
    * distinct count, Shannon entropy and normalized entropy per orders
    * column — the "how identifying / how skewed" reading a distinct
    * count hides; c·ln c terms on the 1e-9 grid, decimal-summed.
    */
  private def q460(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.entropyProfile(
      T(s, dir, "orders"),
      Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
      .orderBy(col("col_name"))

  // c·ln c terms on the 1e-9 grid; NULLs as a sentinel category
  query("q460_entropy_profile", q460)(Sql(
    """WITH mel AS (SELECT 'o_orderstatus' AS col_name, COALESCE(CAST(o_orderstatus AS VARCHAR), ' null') AS v FROM orders UNION ALL SELECT 'o_orderpriority', COALESCE(CAST(o_orderpriority AS VARCHAR), ' null') FROM orders UNION ALL SELECT 'o_custkey', COALESCE(CAST(o_custkey AS VARCHAR), ' null') FROM orders), c AS (SELECT col_name, v, CAST(COUNT(*) AS BIGINT) AS c FROM mel GROUP BY 1, 2), t AS (SELECT col_name, v, c, CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS term FROM c), a AS (SELECT col_name, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct, SUM(term) AS clogc FROM t GROUP BY 1), f AS (SELECT *, ln(CAST(n AS DOUBLE)) - CAST(clogc AS DOUBLE) / CAST(n AS DOUBLE) AS h FROM a) SELECT col_name, n, n_distinct, round(h, 6) AS entropy_nats, round(CASE WHEN n_distinct > 1 THEN h / ln(CAST(n_distinct AS DOUBLE)) END, 6) AS entropy_norm FROM f ORDER BY col_name"""))

  /** ε-DP MEDIAN ([[graft.operators.Privacy.dpMedian]]): the exponential
    * mechanism over the order-price value domain with a Gumbel-max
    * derandomized draw (salted md5 uniforms — retry-stable, oracle-
    * replayable); the rank-sensitivity DP release the Laplace family
    * (q268) can't give for order statistics.
    */
  private def q400(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.dpMedian(
      T(s, dir, "orders").select(
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents")),
      "cents", epsilon = 0.5, salt = "dpm")

  // exponential mechanism: doubled rank utilities + Gumbel-max draw
  query("q400_dp_median", q400)(Sql(
    """WITH e AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY v), rk AS (SELECT v, t, CAST(SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER () AS BIGINT) AS n FROM bv), sc AS (SELECT v, c, n, round(0.125 * CAST(-abs(2 * c - t - n) AS DOUBLE) + (-ln(-ln((CAST(CAST(concat('0x', substr(md5(concat('dpm:', CAST(v AS VARCHAR))), 1, 13)) AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0))), 9) AS score FROM rk), mx AS (SELECT MAX(score) AS ms FROM sc) SELECT MAX(n) AS n, MIN(CASE WHEN c >= (n + 1) // 2 THEN v END) AS true_median, MIN(CASE WHEN score = mx.ms THEN v END) AS dp_median FROM sc, mx GROUP BY mx.ms"""))

  /** SPLIT-CONFORMAL intervals
    * ([[graft.operators.Features.conformalInterval]]): per event type, a
    * 90% distribution-free prediction interval around the train-split
    * mean — q̂ by discrete-rank lookup on the exact residual domain,
    * measured calibration coverage beside the guarantee.
    */
  private def q397(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("event_type"), col("event_id"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    graft.operators.Features.conformalInterval(ev, "event_type", "cents",
      "event_id", alphaBp = 1000, salt = "conf").orderBy(col("g"))
  }

  // residual-domain rank lookup; the qhat row carries the coverage
  query("q397_conformal", q397)(Sql(
    """WITH e AS (SELECT event_type AS g, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y, CAST(concat('0x', substr(md5(concat('conf:', CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS train FROM events), p AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_train, CAST(round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS pred FROM e WHERE train GROUP BY g), rs AS (SELECT e.g, p.n_train, p.pred, abs(CAST(e.y AS DECIMAL(18,6)) - p.pred) AS r, CAST(COUNT(*) AS BIGINT) AS t FROM e JOIN p ON e.g = p.g WHERE NOT train GROUP BY 1, 2, 3, 4), rk AS (SELECT *, CAST(SUM(t) OVER (PARTITION BY g ORDER BY r ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n_cal FROM rs), rr AS (SELECT *, least(n_cal, ((n_cal + 1) * 9000 + 9999) // 10000) AS rkk FROM rk) SELECT g, MAX(n_train) AS n_train, MAX(n_cal) AS n_cal, CAST(MAX(pred) AS DOUBLE) AS pred, CAST(MIN(CASE WHEN c >= rkk THEN r END) AS DOUBLE) AS qhat, CAST(MAX(pred) - MIN(CASE WHEN c >= rkk THEN r END) AS DOUBLE) AS lo, CAST(MAX(pred) + MIN(CASE WHEN c >= rkk THEN r END) AS DOUBLE) AS hi, round(CAST(MIN(CASE WHEN c >= rkk THEN c END) AS DOUBLE) / CAST(MAX(n_cal) AS DOUBLE), 6) AS coverage FROM rr GROUP BY g ORDER BY g"""))

  /** CUPED variance reduction ([[graft.operators.Features.cuped]]):
    * per-user post-period spend adjusted by pre-period spend (θ fitted
    * pooled), reported per hash-assigned arm with the variance ratio —
    * the "how much less traffic does the next test need" number; the
    * experimentation stack beside q390's SRM gate and q283/q362's
    * tests.
    */
  private def q395(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"),
      col("ts").cast("long").as("t"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    val mm = ev.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
    val per = ev.crossJoin(broadcast(mm))
      .withColumn("pre", col("t") <= expr("(tmin + tmax) div 2"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm", when(pmod(conv(substring(md5(concat(
        lit("cuped:"), col("user_id").cast("string")).cast("binary")),
        1, 13), 16, 10).cast("long"), lit(2L)) === 0L,
        lit("control")).otherwise(lit("treatment")))
    graft.operators.Features.cuped(per, "arm", "x", "y").orderBy(col("arm"))
  }

  // pooled theta from exact moments; adjusted means + variance ratio
  query("q395_cuped", q395)(Sql(cupedSql))

  /** JOIN-FANOUT AUDIT ([[graft.operators.Profiling.joinFanout]]): the
    * exact output cardinality of the l_partkey self-join (q372's cost
    * model) from key-domain statistics alone — total pairs plus the
    * top-20 contributing keys with their share, the pre-join skew
    * diagnosis that picks between shuffle/broadcast/salting.
    */
  private def q386(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    graft.operators.Profiling.joinFanout(li, "l_partkey", li, "l_partkey",
      topN = 20).orderBy(col("rank"))
  }

  // key-domain counts squared; top contributors by exact product
  query("q386_join_fanout", q386)(Sql(
    """WITH cl AS (SELECT CAST(l_partkey AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS n_left FROM lineitem GROUP BY 1), j AS (SELECT k, n_left, n_left AS n_right, CAST(n_left AS DECIMAL(38,0)) * CAST(n_left AS DECIMAL(38,0)) AS np FROM cl), t AS (SELECT SUM(np) AS tp FROM j), r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY np DESC, k) AS rn FROM j) SELECT CAST(rn AS BIGINT) AS rank, k, n_left, n_right, CAST(np AS BIGINT) AS n_pairs, CAST(t.tp AS BIGINT) AS total_pairs, round(CAST(np AS DOUBLE) / CAST(t.tp AS DOUBLE), 6) AS share FROM r, t WHERE rn <= 20 ORDER BY rank"""))

  /** Exact stratified train/val/test split
    * ([[graft.operators.Sampling.largestRemainderSplit]]): 80/10/10 per
    * language by the largest-remainder method — integer-exact quotas,
    * md5-ring assignment, engine-reproducible row for row (randomSplit
    * is neither exact nor layout-stable).
    */
  private def q264(s: SparkSession, dir: String): DataFrame =
    Sampling.largestRemainderSplit(
        T(s, dir, "documents"), "lang", "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .orderBy(col("doc_id"))

  // largest-remainder quotas replay as the identical integer arithmetic;
  // md5-ring rank makes the per-row assignment engine-deterministic
  query("q264_exact_split", q264)(Sql(
    """WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents), r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hx, doc_id) AS rn FROM d), n AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1), sp AS (SELECT * FROM (VALUES (0, 'train', 80), (1, 'val', 10), (2, 'test', 10)) AS t(idx, split, w)), q0 AS (SELECT n.lang, n.n, sp.idx, sp.split, sp.w, (n.n * sp.w) // 100 AS base, (n.n * sp.w) % 100 AS rem FROM n, sp), q1 AS (SELECT *, n - SUM(base) OVER (PARTITION BY lang) AS leftover, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rem DESC, idx) AS erk FROM q0), q2 AS (SELECT lang, idx, split, base + CASE WHEN erk <= leftover THEN 1 ELSE 0 END AS quota FROM q1), q3 AS (SELECT lang, split, quota, SUM(quota) OVER (PARTITION BY lang ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi FROM q2), b AS (SELECT lang, split, hi - quota AS lo, hi FROM q3) SELECT r.doc_id, r.lang, b.split FROM r JOIN b ON r.lang = b.lang AND r.rn > b.lo AND r.rn <= b.hi ORDER BY r.doc_id"""))

  /** ε-DP noisy counts ([[graft.operators.Privacy.dpNoisyCounts]]): the
    * Laplace mechanism with hash-derived (counter-based-RNG style) noise,
    * so stage retries and engine re-runs publish the SAME release — the
    * determinism a distributed DP pipeline needs — and the oracle replays
    * the draw hash-for-hash through the inverse CDF.
    */
  private def q268(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.dpNoisyCounts(
        T(s, dir, "events"), "event_type", epsilon = 1.0, salt = "dp1")
      .orderBy(col("event_type"))

  // the Laplace draw replays hash-for-hash: same md5-derived 52-bit
  // uniform, same inverse-CDF expression, same operation order
  query("q268_dp_counts", q268)(Sql(
    """WITH g AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1), u AS (SELECT event_type, n, CAST(CAST(concat('0x', substr(md5(concat('dp1', event_type)), 1, 13)) AS BIGINT) AS DOUBLE) / 4503599627370496.0 - 0.5 AS c FROM g) SELECT event_type, n, round(CAST(n AS DOUBLE) + -(1.0) * sign(c) * ln(1 - 2 * abs(c)), 6) AS noisy_n FROM u ORDER BY event_type"""))

  /** Hashing-trick feature vectors ([[graft.operators.Features
    * .hashedFeatures]]): three categorical fields per customer folded into
    * a fixed 16-dim signed-hash space — the stateless featurizer whose
    * cost is O(batch) with zero vocabulary coordination. Sparse (key, idx,
    * val) output; md5-replayable arithmetic.
    */
  private def q271(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer")
    graft.operators.Features.hashedFeatures(c, "c_custkey", Seq(
        concat(lit("seg:"), col("c_mktsegment")),
        concat(lit("nat:"), col("c_nationkey").cast("string")),
        concat(lit("bal:"),
          floor(col("c_acctbal") / 1000).cast("long").cast("string"))),
      dim = 16)
      .orderBy(col("c_custkey"), col("idx"))
  }

  // the hashing trick replays exactly: md5 bucket + modular sign bit,
  // integer-only arithmetic, zero entries dropped on both engines
  query("q271_feature_hash", q271)(Sql(
    """WITH f AS (SELECT c_custkey, concat('seg:', c_mktsegment) AS feat FROM customer UNION ALL SELECT c_custkey, concat('nat:', CAST(c_nationkey AS VARCHAR)) FROM customer UNION ALL SELECT c_custkey, concat('bal:', CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR)) FROM customer), h AS (SELECT c_custkey, CAST(concat('0x', substr(md5(feat), 1, 13)) AS BIGINT) AS h FROM f), s AS (SELECT c_custkey, h % 16 AS idx, CASE WHEN h % 32 >= 16 THEN 1 ELSE -1 END AS sign FROM h) SELECT c_custkey, idx, CAST(SUM(sign) AS BIGINT) AS val FROM s GROUP BY 1, 2 HAVING SUM(sign) <> 0 ORDER BY c_custkey, idx"""))

  /** JSON schema-inference report ([[graft.operators.Profiling
    * .jsonSchemaProfile]]) over two shapes: the real `events.props`
    * column and a heterogeneous per-order JSON (long/double/string/bool
    * plus EXPLICIT nulls on every fifth key, `ignoreNullFields=false`).
    * The oracle does NOT replay the profiler — it derives each
    * (path, type, count) row independently from the relational columns,
    * so the whole keys→extract→classify pipeline is checked against an
    * external expectation.
    */
  private def q274(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val ev = T(s, dir, "events").select(col("props").as("j"))
    val oj = T(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("key"),
        col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"),
        when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("prio"),
        (col("o_orderkey") % 7 === 0).as("flag")),
      Map("ignoreNullFields" -> "false")).as("j"))
    Profiling.jsonSchemaProfile(ev, "j").withColumn("src", lit("events"))
      .unionByName(
        Profiling.jsonSchemaProfile(oj, "j").withColumn("src", lit("orders")))
      .select(col("src"), col("path"), col("vtype"), col("n"), col("coverage"))
      .orderBy(col("src"), col("path"), col("vtype"))
  }

  // the oracle derives every (path, type, count) row independently from
  // the relational columns — an external expectation, not a replay
  query("q274_json_schema_infer", q274)(Sql(
    """WITH rows_ AS (SELECT 'events' AS src, 'k' AS path, 'long' AS vtype, (SELECT COUNT(*) FROM events) AS n, (SELECT COUNT(*) FROM events) AS tot UNION ALL SELECT 'orders', 'key', 'long', (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM orders) UNION ALL SELECT 'orders', 'price', 'double', (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM orders) UNION ALL SELECT 'orders', 'status', 'string', (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM orders) UNION ALL SELECT 'orders', 'prio', 'string', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 <> 0), (SELECT COUNT(*) FROM orders) UNION ALL SELECT 'orders', 'prio', 'null', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 = 0), (SELECT COUNT(*) FROM orders) UNION ALL SELECT 'orders', 'flag', 'bool', (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM orders)) SELECT src, path, vtype, n, round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS coverage FROM rows_ ORDER BY src, path, vtype"""))

  /** Functional-dependency discovery ([[graft.operators.Profiling
    * .fdViolations]]) over four declared candidate pairs on customer —
    * which "natural keys" actually determine which attributes (key→attr
    * holds; nation→segment and its inverse are violated). One melted
    * shuffle for all pairs.
    */
  private def q292(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.fdViolations(T(s, dir, "customer"), Seq(
        "c_custkey" -> "c_mktsegment", "c_nationkey" -> "c_mktsegment",
        "c_mktsegment" -> "c_nationkey", "c_name" -> "c_custkey"))
      .orderBy(col("lhs"), col("rhs"))

  // one melted union then one (pair, value) aggregation — identical
  // string-casts of the probed columns on both engines
  query("q292_fd_discovery", q292)(Sql(
    """WITH m AS (SELECT 'c_custkey' AS lhs, 'c_mktsegment' AS rhs, CAST(c_custkey AS VARCHAR) AS a, c_mktsegment AS b FROM customer UNION ALL SELECT 'c_nationkey', 'c_mktsegment', CAST(c_nationkey AS VARCHAR), c_mktsegment FROM customer UNION ALL SELECT 'c_mktsegment', 'c_nationkey', c_mktsegment, CAST(c_nationkey AS VARCHAR) FROM customer UNION ALL SELECT 'c_name', 'c_custkey', c_name, CAST(c_custkey AS VARCHAR) FROM customer), g AS (SELECT lhs, rhs, a, COUNT(DISTINCT b) AS ndv_b FROM m GROUP BY 1, 2, 3) SELECT lhs, rhs, COUNT(*) AS n_groups, CAST(SUM(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, MAX(ndv_b) AS max_multiplicity, round(CAST(SUM(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate, SUM(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) = 0 AS holds FROM g GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Deterministic Poisson bootstrap ([[graft.operators.Sampling
    * .poissonBootstrap]]): per-segment mean order total with a 40-resample
    * [10%, 90%] percentile interval — counter-based-hash weights, no RNG
    * state, no shuffle for the draw; the expansion aggregates map-side and
    * everything after is |segments|·40-sized.
    */
  private def q297(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
        col("o_totalprice"))
    graft.operators.Sampling.poissonBootstrap(base, "seg", "o_orderkey",
        "o_totalprice", b = 40, salt = "bs1")
      .orderBy(col("seg"))
  }

  // the Poisson(1) weights replay draw-for-draw: the same xorshift mix
  // through the HUGEINT macros, the same pinned CDF literals; resample
  // sums in DECIMAL, discrete-rank CI
  query("q297_bootstrap_ci", q297)(Sql(
    s"""$HASH_MACROS; WITH base AS (SELECT c_mktsegment AS seg, o_orderkey AS id, o_totalprice AS v FROM orders JOIN customer ON o_custkey = c_custkey), reps AS (SELECT seg, id, v, unnest(range(0, 40)) AS rep FROM base), u AS (SELECT seg, rep, v, CAST(xstep(xstep(xstep(xstep(xshash('bs1'), CAST(id AS HUGEINT)), CAST(rep AS HUGEINT)), CAST('11400714819323198485' AS HUGEINT)), CAST('11400714819323198485' AS HUGEINT)) >> 12 AS DOUBLE) / 4503599627370496.0 AS uu FROM reps), w AS (SELECT seg, rep, v, CASE WHEN uu < 0.367879441171 THEN 0 WHEN uu < 0.735758882343 THEN 1 WHEN uu < 0.919698602929 THEN 2 WHEN uu < 0.981011843124 THEN 3 WHEN uu < 0.996340153173 THEN 4 ELSE 5 END AS w FROM u), rm AS (SELECT seg, rep, CAST(SUM(w) AS BIGINT) AS n_rep, SUM(CAST(w * v AS DECIMAL(18,2))) AS s_rep FROM w GROUP BY 1, 2), rm2 AS (SELECT seg, rep, n_rep, CAST(s_rep AS DOUBLE) / CAST(n_rep AS DOUBLE) AS mean_rep FROM rm WHERE n_rep > 0), rk AS (SELECT seg, rep, mean_rep, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY mean_rep, rep) AS rk, COUNT(*) OVER (PARTITION BY seg) AS nr FROM rm2), ci AS (SELECT seg, MAX(nr) AS n_resamples, MAX(CASE WHEN rk = 4 THEN mean_rep END) AS ci_lo, MAX(CASE WHEN rk = 36 THEN mean_rep END) AS ci_hi FROM rk GROUP BY 1), pt AS (SELECT seg, COUNT(*) AS n, CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean FROM base GROUP BY 1) SELECT pt.seg, pt.n, round(pt.mean, 6) AS mean, ci.n_resamples, round(ci.ci_lo, 6) AS ci_lo, round(ci.ci_hi, 6) AS ci_hi FROM pt JOIN ci USING (seg) ORDER BY seg"""))

  /** Deterministic negative sampling
    * ([[graft.operators.Sampling.negativeSample]]): contrastive-pair
    * negatives drawn from an md5 hash ring over the doc-id domain —
    * rerun-identical, engine-portable, every draw replayed by the
    * oracle.
    */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.Sampling.negativeSample(
      docs, docs.filter(col("doc_id") < 20), "doc_id", k = 5)
      .orderBy(col("anchor"), col("neg_rank"))
  }

  query("q199_negative_sample", q199)(Sql(
    """WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents), anchors AS (SELECT doc_id AS anchor FROM documents WHERE doc_id < 20), cand AS (SELECT anchor, u.j, CAST(CAST(concat('0x', substr(md5(concat(CAST(anchor AS VARCHAR), ':', CAST(u.j AS VARCHAR))), 1, 8)) AS BIGINT) % (mx + 1) AS BIGINT) AS neg FROM anchors, mx, LATERAL (SELECT unnest(range(0, 10)) AS j) u), ex AS (SELECT c.anchor, c.j, c.neg FROM cand c JOIN (SELECT DISTINCT doc_id FROM documents) d ON c.neg = d.doc_id WHERE c.neg <> c.anchor), dd AS (SELECT anchor, j, neg, ROW_NUMBER() OVER (PARTITION BY anchor, neg ORDER BY j) AS r1 FROM ex), rk AS (SELECT anchor, j, neg, ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY j, neg) AS neg_rank FROM dd WHERE r1 = 1) SELECT anchor, neg_rank, neg FROM rk WHERE neg_rank <= 5 ORDER BY anchor, neg_rank"""))

  /** Shared k-means CTE prefix (census → slice-median init → 3 Lloyd
    * rounds → final assignment) for the q659/q666/q669 oracles. */
  private def kmeansPrefixSql: String =
    s"""cen AS MATERIALIZED (SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS n FROM customer GROUP BY 1), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cen), cum AS MATERIALIZED (SELECT v, n, SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cen), cn0 AS MATERIALIZED (SELECT j, CAST((SELECT MIN(v) FROM cum WHERE cum >= ((2 * j + 1) * (SELECT nt FROM tot)) // 8 + 1) AS DOUBLE) AS c FROM (SELECT UNNEST([0, 1, 2, 3]) AS j)), ${(1 to 3).map(kmeansIterSql).mkString(", ")}, asgf AS MATERIALIZED (SELECT v, n, j AS cluster, c FROM (SELECT cen.v, cen.n, cc.j, cc.c, ROW_NUMBER() OVER (PARTITION BY cen.v ORDER BY abs(CAST(cen.v AS DOUBLE) - cc.c), cc.j) AS rk FROM cen CROSS JOIN cn3 cc) WHERE rk = 1)"""

  /** One Lloyd round of the k-parametrized elbow sweep (CTE names
    * suffixed _k<k>; shares the cen/tot/cum prefix). */
  private def kmeansIterSqlK(i: Int, k: Int): String = {
    val prev = s"cn${i - 1}_k$k"
    s"""asg${i}_k$k AS MATERIALIZED (SELECT v, n, j AS cluster FROM (SELECT cen.v, cen.n, cc.j, ROW_NUMBER() OVER (PARTITION BY cen.v ORDER BY abs(CAST(cen.v AS DOUBLE) - cc.c), cc.j) AS rk FROM cen CROSS JOIN $prev cc) WHERE rk = 1), upd${i}_k$k AS (SELECT cluster AS j, round(CAST(SUM(CAST(v * n AS DECIMAL(38,0))) AS DOUBLE) / CAST(SUM(CAST(n AS DECIMAL(38,0))) AS DOUBLE), 9) AS c FROM asg${i}_k$k GROUP BY 1), cn${i}_k$k AS MATERIALIZED (SELECT p.j, COALESCE(u.c, p.c) AS c FROM $prev p LEFT JOIN upd${i}_k$k u ON u.j = p.j)"""
  }

  /** Full Lloyd chain + WSS for one k of the elbow sweep. */
  private def kmeansChainSqlK(k: Int): String = {
    val js = (0 until k).mkString(", ")
    s"""cn0_k$k AS MATERIALIZED (SELECT j, CAST((SELECT MIN(v) FROM cum WHERE cum >= ((2 * j + 1) * (SELECT nt FROM tot)) // ${2 * k} + 1) AS DOUBLE) AS c FROM (SELECT UNNEST([$js]) AS j)), ${(1 to 3).map(kmeansIterSqlK(_, k)).mkString(", ")}, asgf_k$k AS (SELECT v, n, j AS cluster, c FROM (SELECT cen.v, cen.n, cc.j, cc.c, ROW_NUMBER() OVER (PARTITION BY cen.v ORDER BY abs(CAST(cen.v AS DOUBLE) - cc.c), cc.j) AS rk FROM cen CROSS JOIN cn3_k$k cc) WHERE rk = 1), wss_k$k AS (SELECT $k AS k, CAST(SUM(CAST(v * 1000000000 - CAST(round(c * 1e9, 0) AS BIGINT) AS HUGEINT) * CAST(v * 1000000000 - CAST(round(c * 1e9, 0) AS BIGINT) AS HUGEINT) * CAST(n AS HUGEINT)) AS DOUBLE) / 1e18 AS wss FROM asgf_k$k)"""
  }

  /** One Lloyd round: assignment (nearest centroid, smallest-index tie)
    * over the value census, exact-decimal centroid update pinned at
    * 1e-9, emptied clusters keep their previous centroid. */
  private def kmeansIterSql(i: Int): String = {
    val prev = s"cn${i - 1}"
    s"""asg$i AS MATERIALIZED (SELECT v, n, j AS cluster FROM (SELECT cen.v, cen.n, cc.j, ROW_NUMBER() OVER (PARTITION BY cen.v ORDER BY abs(CAST(cen.v AS DOUBLE) - cc.c), cc.j) AS rk FROM cen CROSS JOIN $prev cc) WHERE rk = 1), upd$i AS (SELECT cluster AS j, round(CAST(SUM(CAST(v * n AS DECIMAL(38,0))) AS DOUBLE) / CAST(SUM(CAST(n AS DECIMAL(38,0))) AS DOUBLE), 9) AS c FROM asg$i GROUP BY 1), cn$i AS MATERIALIZED (SELECT p.j, COALESCE(u.c, p.c) AS c FROM $prev p LEFT JOIN upd$i u ON u.j = p.j)"""
  }

  /** One Huber IRLS round: ψ-weight as the only pinned double (12
    * decimals), exact-decimal weighted sums, μ re-pinned at 1e-9; a
    * zero MAD leaves μ untouched (the engine reports the median). */
  private def huberIterSql(i: Int): String = {
    val w = "CAST(CASE WHEN abs(CAST(v AS DOUBLE) - p.mu) <= p.c THEN 1.0 ELSE round(p.c / abs(CAST(v AS DOUBLE) - p.mu), 12) END AS DECIMAL(13,12))"
    s"""hu$i AS MATERIALIZED (SELECT p.med AS med, p.mad AS mad, p.c AS c, CASE WHEN p.mad > 0 THEN round(CAST(SUM($w * CAST(v * n AS DECIMAL(20,0))) AS DOUBLE) / CAST(SUM($w * CAST(n AS DECIMAL(19,0))) AS DOUBLE), 9) ELSE p.mu END AS mu FROM hcen, hu${i - 1} p GROUP BY p.med, p.mad, p.c, p.mu)"""
  }

  /** One unrolled Platt Newton step: census grid terms under p{k-1}'s
    * (a, b), decimal-summed, closed-form 2x2 solve, re-pinned params. */
  private def plattIterSql(k: Int): String = {
    val prev = s"pp${k - 1}"
    s"""gt$k AS MATERIALIZED (SELECT it, a, b, SUM(CAST(round(CAST(pos AS DOUBLE) - CAST(n AS DOUBLE) * round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12), 9) AS DECIMAL(28,9))) AS g1, SUM(CAST(round(CAST(s AS DOUBLE) * (CAST(pos AS DOUBLE) - CAST(n AS DOUBLE) * round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12)), 9) AS DECIMAL(28,9))) AS g2, SUM(CAST(round(CAST(n AS DOUBLE) * round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12) * (1.0 - round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12)), 9) AS DECIMAL(28,9))) AS h11, SUM(CAST(round(CAST(s AS DOUBLE) * (CAST(n AS DOUBLE) * round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12) * (1.0 - round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12))), 9) AS DECIMAL(28,9))) AS h12, SUM(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) * (CAST(n AS DOUBLE) * round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12) * (1.0 - round(1.0 / (1.0 + exp(-round(a + b * CAST(s AS DOUBLE), 9))), 12))), 9) AS DECIMAL(28,9))) AS h22 FROM pcen CROSS JOIN $prev GROUP BY 1, 2, 3), pp$k AS MATERIALIZED (SELECT it + CASE WHEN CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE) > 1e-12 THEN 1 ELSE 0 END AS it, CASE WHEN CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE) > 1e-12 THEN round(a + (CAST(h22 AS DOUBLE) * CAST(g1 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(g2 AS DOUBLE)) / (CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE)), 9) ELSE a END AS a, CASE WHEN CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE) > 1e-12 THEN round(b + (CAST(h11 AS DOUBLE) * CAST(g2 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(g1 AS DOUBLE)) / (CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE)), 9) ELSE b END AS b FROM gt$k)"""
  }

  /** DuckDB replay of [[graft.operators.Features.cuped]] on the events
    * pre/post split: θ appears many times, so the SQL is assembled with
    * the expression inlined once here — every division/multiplication
    * parenthesized to the engine's pinned order.
    */
  private def cupedSql: String = {
    val th = "((g.gn * g.gsxy - g.gsx * g.gsy) / (g.gn * g.gsxx - g.gsx * g.gsx))"
    val meanY = "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    val meanX = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val meanD = s"($meanY - $th * $meanX)"
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events), mm AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM e), per AS (SELECT user_id, CAST(SUM(CASE WHEN t <= mm.mid THEN cents ELSE 0 END) AS BIGINT) AS x, CAST(SUM(CASE WHEN t > mm.mid THEN cents ELSE 0 END) AS BIGINT) AS y FROM e, mm GROUP BY user_id), ar AS (SELECT CASE WHEN CAST(concat('0x', substr(md5(concat('cuped:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm, x, y FROM per), pa AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy, SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy FROM ar GROUP BY arm), g AS (SELECT CAST(SUM(n) AS DOUBLE) AS gn, CAST(SUM(sx) AS DOUBLE) AS gsx, CAST(SUM(sy) AS DOUBLE) AS gsy, CAST(SUM(sxx) AS DOUBLE) AS gsxx, CAST(SUM(sxy) AS DOUBLE) AS gsxy FROM pa) SELECT arm, n, round($meanY, 6) AS mean_y, round($meanY - $th * ($meanX - g.gsx / g.gn), 6) AS mean_y_adj, round($th, 6) AS theta, round(((CAST(syy AS DOUBLE) - 2.0 * $th * CAST(sxy AS DOUBLE) + $th * $th * CAST(sxx AS DOUBLE)) / CAST(n AS DOUBLE) - $meanD * $meanD) / (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - $meanY * $meanY), 6) AS var_ratio FROM pa, g ORDER BY arm"""
  }

  /** One fk-containment candidate replayed: distinct key domains joined,
    * parent-distinct via scalar subquery (mirrors Profiling.fkContainment).
    */
  private def fkPairSql(name: String, childTable: String, childCol: String,
      parentTable: String, parentCol: String): String =
    s"SELECT '$name' AS candidate, CAST(COUNT(*) AS BIGINT) AS n_child_distinct, " +
      s"(SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT CAST($parentCol AS VARCHAR) AS k FROM $parentTable WHERE $parentCol IS NOT NULL)) AS n_parent_distinct, " +
      s"CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contained, " +
      s"round(CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS containment, " +
      s"CAST(CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) = CAST(COUNT(*) AS BIGINT) AS INTEGER) AS is_fk " +
      s"FROM (SELECT DISTINCT CAST($childCol AS VARCHAR) AS k FROM $childTable WHERE $childCol IS NOT NULL) c " +
      s"LEFT JOIN (SELECT DISTINCT CAST($parentCol AS VARCHAR) AS k FROM $parentTable WHERE $parentCol IS NOT NULL) p ON c.k = p.k"
}
