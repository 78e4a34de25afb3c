package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Medallion, Quality}
import graft.sources.{PartitionedLake, TxLake, VersionedLake}

import Oracle.Sql
import Shared._

/** Lake and ingest queries: transactional and partitioned lakes, source
  * formats, layout and maintenance, API ingest and the medallion steps.
  */
private[queries] object EtlQueries extends Family {
  private def q01(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events").select(
      col("event_id"),
      evTs.as("ts_sec"),
      col("user_id"),
      col("event_type"),
      col("value"),
      Medallion.parseJson(col("props"),
        StructType(Seq(StructField("k", IntegerType)))).getField("k").as("k"),
      evDateId.as("date_id"))
      .orderBy(col("event_id"))

  query("q01_bronze_flatten", q01)(Sql(
    """SELECT event_id, date_trunc('second', ts) AS ts_sec, user_id, event_type, value, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k, strftime(ts, '%Y-%m-%d') AS date_id FROM events ORDER BY event_id"""))

  private def q02(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .filter(col("o_orderstatus") === "O")
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        Medallion.bucketize(col("o_totalprice"),
          Seq(50000.0 -> "low", 150000.0 -> "mid", 300000.0 -> "high"),
          "vip").as("price_category"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_id"))
      .orderBy(col("o_orderkey"))

  query("q02_silver_category", q02)(Sql(
    """SELECT o_orderkey, o_custkey, o_totalprice, CASE WHEN o_totalprice < 50000 THEN 'low' WHEN o_totalprice < 150000 THEN 'mid' WHEN o_totalprice < 300000 THEN 'high' ELSE 'vip' END AS price_category, strftime(o_orderdate, '%Y-%m-%d') AS date_id FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey"""))

  private def q03(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    def branch(p: String) =
      o.filter(col("o_orderpriority") === p)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    Medallion.unionBranches(
      Seq(branch("1-URGENT") -> "urgent", branch("2-HIGH") -> "high"), "branch")
      .withColumn("region", lit("NA"))
      .orderBy(col("o_orderkey"))
  }

  query("q03_gold_union", q03)(Sql(
    """SELECT * FROM (SELECT o_orderkey, o_custkey, o_totalprice, 'urgent' AS branch, 'NA' AS region FROM orders WHERE o_orderpriority = '1-URGENT' UNION ALL SELECT o_orderkey, o_custkey, o_totalprice, 'high' AS branch, 'NA' AS region FROM orders WHERE o_orderpriority = '2-HIGH') ORDER BY o_orderkey"""))

  private def q04(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    def daily(src: DataFrame) = src
      .groupBy(evDateId.as("date_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumx(col("value")).as("total_value"))
      .select(col("event_type"), col("n_events"), col("total_value"), col("date_id"))
    val lake = scratch(dir, "q04")
    val full = daily(ev)
    PartitionedLake.writeAll(full, lake, Seq("date_id"))
    val maxDate = full.agg(max(col("date_id"))).head().getString(0)
    val refresh = daily(ev.filter(col("event_type") =!= "error"))
      .filter(col("date_id") === maxDate)
    if (refresh.isEmpty)
      // dynamic overwrite can't delete a partition absent from the frame;
      // an all-filtered day needs the reference's explicit partition delete
      PartitionedLake.deletePartition(s, lake, "date_id", maxDate)
    else
      PartitionedLake.deleteInsert(refresh, lake, Seq("date_id"))
    PartitionedLake.read(s, lake)
      .withColumn("date_id", col("date_id").cast("string"))
      .select(col("date_id"), col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("date_id"), col("event_type"))
  }

  query("q04_delete_insert", q04)(Sql(
    s"""WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events GROUP BY 1, 2), mx AS (SELECT MAX(date_id) AS d FROM daily), refresh AS (SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events WHERE event_type <> 'error' AND strftime(ts, '%Y-%m-%d') = (SELECT d FROM mx) GROUP BY 1, 2) SELECT * FROM (SELECT date_id, event_type, n_events, total_value FROM daily WHERE date_id <> (SELECT d FROM mx) UNION ALL SELECT date_id, event_type, n_events, total_value FROM refresh) ORDER BY date_id, event_type"""))

  /** Nested JSON extraction — array-of-struct access like the reference's
    * `data["weather"][0]["description"]` (bronze flatten of a nested API
    * payload). The nested document is assembled deterministically from
    * columns, then parsed back with a typed schema and element access.
    */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val nestedSchema = StructType(Seq(
      StructField("metrics", StructType(Seq(
        StructField("v", DoubleType),
        StructField("tags", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("weight", DoubleType))))))))))
    T(s, dir, "events")
      // to_json assembles VALID JSON for any input (quotes/backslashes/nulls
      // escaped) — hand-concatenation would silently null the parse on a
      // special character
      .withColumn("payload", to_json(struct(
        struct(
          col("value").as("v"),
          array(struct(col("event_type").as("name"), col("value").as("weight")))
            .as("tags")).as("metrics"))))
      .select(col("event_id"),
        Medallion.parseJson(col("payload"), nestedSchema).as("doc"))
      .select(col("event_id"),
        col("doc.metrics.v").as("v"),
        element_at(col("doc.metrics.tags"), 1).getField("name").as("tag0"),
        element_at(col("doc.metrics.tags"), 1).getField("weight").as("w0"))
      .orderBy(col("event_id"))
  }

  query("q51_nested_json", q51)(Sql(
    """SELECT event_id, value AS v, event_type AS tag0, value AS w0 FROM events ORDER BY event_id"""))

  /** Partition-pruned read: the reference addresses exactly one
    * `date_id=D` partition per run; here the filter on the partition column
    * prunes directories before any file IO.
    */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q36")
    val ev = T(s, dir, "events")
    PartitionedLake.writeAll(
      ev.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), evDateId.as("date_id")),
      path, Seq("date_id"))
    val maxDate = ev.agg(max(evDateId)).head().getString(0)
    PartitionedLake.read(s, path)
      .filter(col("date_id") === maxDate)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  query("q36_partition_prune", q36)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events WHERE strftime(ts, '%Y-%m-%d') = (SELECT MAX(strftime(ts, '%Y-%m-%d')) FROM events) GROUP BY event_type ORDER BY event_type"""))

  /** Dynamic partition pruning: the partitioned events lake joined to a
    * tiny date dimension — the lake's partition filter is injected at
    * RUNTIME from the dim side (`dynamicpruning` subquery in the plan), so
    * only the dim's days are scanned. This is how a 100 TB fact table
    * avoids a full scan when the filter lives on the dimension.
    */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q36") // reuse q36's date_id-partitioned lake
    val ev = T(s, dir, "events")
    PartitionedLake.writeAll(
      ev.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), evDateId.as("date_id")),
      path, Seq("date_id"))
    // the recency cut is an explicit PREDICATE (day_rank <= 3), not a
    // LIMIT: dynamic partition pruning only fires when the build side
    // carries a selective filter predicate
    val lastDays = ev.select(evDateId.as("date_id")).distinct()
      .withColumn("day_rank", row_number().over(Window.orderBy(col("date_id").desc)))
      .filter(col("day_rank") <= 3)
    PartitionedLake.read(s, path)
      .join(broadcast(lastDays), Seq("date_id"))
      .groupBy(col("date_id").cast("string").as("date_id"), col("day_rank"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("date_id"))
  }

  query("q74_dynamic_pruning", q74)(Sql(
    s"""WITH d AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date_id FROM events ORDER BY date_id DESC LIMIT 3), r AS (SELECT date_id, CAST(ROW_NUMBER() OVER (ORDER BY date_id DESC) AS INTEGER) AS day_rank FROM d) SELECT e.date_id, r.day_rank, COUNT(*) AS n, $SUMV AS total_value FROM (SELECT strftime(ts, '%Y-%m-%d') AS date_id, value FROM events) e JOIN r ON e.date_id = r.date_id GROUP BY e.date_id, r.day_rank ORDER BY e.date_id"""))

  /** MERGE INTO (upsert) over the partitioned lake: daily aggregates seeded,
    * then the latest day's click/view rows updated (+1000 events) and one
    * new key inserted — read back in full. Exercises
    * [[PartitionedLake.mergeUpsert]]'s affected-partition-only rewrite.
    */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q78")
    val daily = T(s, dir, "events")
      .groupBy(evDateId.as("date_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumx(col("value")).as("total_value"))
    PartitionedLake.writeAll(daily, lake, Seq("date_id"))
    val maxDate = daily.agg(max(col("date_id"))).head().getString(0)
    val updates = daily
      .filter(col("date_id") === maxDate && col("event_type").isin("click", "view"))
      .withColumn("n_events", col("n_events") + 1000)
      .unionByName(
        s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row("synthetic", 1L, 0.0, maxDate)),
          StructType(Seq(
            StructField("event_type", StringType), StructField("n_events", LongType),
            StructField("total_value", DoubleType), StructField("date_id", StringType)))))
    PartitionedLake.mergeUpsert(s, lake, updates,
      keyCols = Seq("date_id", "event_type"), partCols = Seq("date_id"))
    PartitionedLake.read(s, lake)
      .select(col("date_id").cast("string").as("date_id"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("date_id"), col("event_type"))
  }

  query("q78_merge_upsert", q78)(Sql(
    s"""WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events GROUP BY 1, 2), mx AS (SELECT MAX(date_id) AS d FROM daily), upd AS (SELECT date_id, event_type, n_events + 1000 AS n_events, total_value FROM daily WHERE date_id = (SELECT d FROM mx) AND event_type IN ('click', 'view') UNION ALL SELECT (SELECT d FROM mx), 'synthetic', 1, 0.0) SELECT * FROM (SELECT date_id, event_type, n_events, total_value FROM daily WHERE NOT (date_id = (SELECT d FROM mx) AND event_type IN ('click', 'view')) UNION ALL SELECT date_id, event_type, n_events, total_value FROM upd) ORDER BY date_id, event_type"""))

  /** Z-order layout: orders clustered by the Morton interleave of
    * (custkey, order-day), written and read back with the z-value — the
    * two-dimensional file-skipping layout. Oracle replays the interleave
    * bit-for-bit.
    */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q81")
    val withDims = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long")
          .as("day_nr"))
    graft.operators.Layout.zorderWrite(withDims, path, "o_custkey", "day_nr")
    PartitionedLake.read(s, path)
      .select(col("o_orderkey"), col("o_custkey"), col("day_nr"),
        graft.operators.Layout.zorderValue(col("o_custkey"), col("day_nr")).as("zval"))
      .orderBy(col("o_orderkey"))
  }

  query("q81_zorder_layout", q81)(Sql(
    s"""SELECT o_orderkey, o_custkey, day_nr, ${zorderSql("o_custkey", "day_nr")} AS zval FROM (SELECT o_orderkey, o_custkey, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_nr FROM orders) ORDER BY o_orderkey"""))

  /** Three-key Z-order layout: orders clustered by the Morton interleave
    * of (custkey, order-day, price-in-thousands), written and read back
    * with the z-value. Three selective dimensions on one fact table is the
    * common lakehouse shape (who / when / how-much); the interleave keeps
    * per-file min/max tight on ALL three so a range predicate on any one
    * skips most files (LayoutSpec proves the skip ratio). Oracle replays
    * the interleave bit-for-bit.
    */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("o_custkey", "day_nr", "price_k")
    val path = scratch(dir, "q94")
    val withDims = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long")
          .as("day_nr"),
        floor(col("o_totalprice") / 1000.0).as("price_k"))
    graft.operators.Layout.zorderWriteN(withDims, path, keys)
    PartitionedLake.read(s, path)
      .select(col("o_orderkey"), col("o_custkey"), col("day_nr"), col("price_k"),
        graft.operators.Layout.zorderValueN(16, keys.map(col)).as("zval"))
      .orderBy(col("o_orderkey"))
  }

  query("q94_zorder3", q94)(Sql(
    s"""SELECT o_orderkey, o_custkey, day_nr, price_k, ${zorderSqlN(16, Seq("o_custkey", "day_nr", "price_k"))} AS zval FROM (SELECT o_orderkey, o_custkey, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_nr, CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k FROM orders) ORDER BY o_orderkey"""))

  /** API-ingest bronze, end-to-end: request table (one URL per nation) →
    * distributed rate-limited fetch (deterministic stub fetcher — this
    * sandbox has no egress; see ApiIngest.DeterministicStub) → explicit-
    * schema JSON flatten → delete-insert lake load by date_id → read-back.
    * Mirrors the reference's weather-API bronze
    * (analytics__world_weather.py:40–95, 135–180). Keys ≡ 7 (mod 13)
    * 404 and are quarantined, so the oracle excludes them.
    */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reqs = T(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("request_id"),
      concat(lit("https://api.example.test/weather?key="), col("n_nationkey"),
        lit("&q="), col("n_name")).as("url"))
      .as[graft.sources.FetchRequest]
    val fetched = graft.sources.ApiIngest.fetchAll(
      reqs, graft.sources.ApiIngest.DeterministicStub,
      maxPartitions = 4, perPartitionRequestsPerSec = 10000.0)
    val payloadSchema = StructType(Seq(
      StructField("name", StringType),
      StructField("sys", StructType(Seq(StructField("country", StringType)))),
      StructField("main", StructType(Seq(
        StructField("temp", DoubleType), StructField("humidity", LongType)))),
      StructField("wind", StructType(Seq(StructField("speed", DoubleType))))))
    val flat = graft.sources.ApiIngest.flattenPayloads(fetched.toDF(), payloadSchema)
      .select(
        col("name").as("city"),
        col("sys.country").as("country"),
        col("main.temp").as("temp"),
        col("main.humidity").as("humidity"),
        col("wind.speed").as("wind_speed"),
        lit("2024-01-15").as("date_id"))
    val path = scratch(dir, "q93")
    PartitionedLake.deleteInsert(flat, path, Seq("date_id"))
    PartitionedLake.read(s, path)
      .select(col("city"), col("country"), col("temp"), col("humidity"),
        col("wind_speed"), col("date_id").cast("string").as("date_id"))
      .orderBy(col("city"))
  }

  // replays the stub server's exact-in-double metric formulas directly
  // over nation; keys ≡ 7 (mod 13) 404 in the stub and are quarantined
  query("q93_api_ingest", q93)(Sql(
    """SELECT n_name AS city, n_name AS country, CAST(n_nationkey AS DOUBLE) * 1.5 - 10.0 AS temp, CAST((n_nationkey * 7) % 100 AS BIGINT) AS humidity, CAST(n_nationkey AS DOUBLE) * 0.25 AS wind_speed, '2024-01-15' AS date_id FROM nation WHERE n_nationkey % 13 <> 7 ORDER BY city"""))

  /** Incremental materialized-aggregate maintenance: the daily rollup lake
    * is seeded from the non-error event history, then the latest day's
    * error slice arrives as partial aggregates and
    * [[graft.operators.Incremental.mergeAdditive]] re-aggregates ONLY that
    * day's partition (state + partials), committing it with dynamic
    * overwrite — maintenance cost tracks the delta, not the table.
    */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q97")
    val ev = T(s, dir, "events")
    def daily(src: DataFrame) = src
      .groupBy(evDateId.as("date_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumx(col("value")).as("total_value"))
    val state = daily(ev.filter(col("event_type") =!= "error"))
    PartitionedLake.writeAll(state, lake, Seq("date_id"))
    val maxDate = state.agg(max(col("date_id"))).head().getString(0)
    val delta = daily(ev.filter(col("event_type") === "error"))
      .filter(col("date_id") === maxDate)
    graft.operators.Incremental.mergeAdditive(s, lake, delta,
      keyCols = Seq("event_type"), partCol = "date_id",
      measureCols = Seq("n_events", "total_value"))
    PartitionedLake.read(s, lake)
      .select(col("date_id").cast("string").as("date_id"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("date_id"), col("event_type"))
  }

  // replays the seed + merged-day composition: unaffected partitions are
  // the non-error daily aggregates verbatim; the max day re-aggregates
  // state + the error-slice partials (SUM over the union = the same
  // two-value double addition the merge performs)
  query("q97_incremental_agg", q97)(Sql(
    s"""WITH state AS (SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events WHERE event_type <> 'error' GROUP BY 1, 2), mx AS (SELECT MAX(date_id) AS d FROM state), delta AS (SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events WHERE event_type = 'error' AND strftime(ts, '%Y-%m-%d') = (SELECT d FROM mx) GROUP BY 1, 2), merged AS (SELECT date_id, event_type, CAST(SUM(n_events) AS BIGINT) AS n_events, CAST(SUM(total_value) AS DOUBLE) AS total_value FROM (SELECT * FROM state WHERE date_id = (SELECT d FROM mx) UNION ALL SELECT * FROM delta) GROUP BY 1, 2) SELECT date_id, event_type, n_events, total_value FROM (SELECT date_id, event_type, n_events, total_value FROM state WHERE date_id <> (SELECT d FROM mx) UNION ALL SELECT date_id, event_type, n_events, total_value FROM merged) ORDER BY date_id, event_type"""))

  /** Stage the shared 3-version customer change history (q98 + q103):
    * v1 = base snapshot of keys <= 500; v2 = +100 balance upserts for
    * keys ≡ 0 (mod 10) and deletes for the remaining keys ≡ 0 (mod 7);
    * v3 = every base key re-upserted with a zeroed balance.
    */
  private def customerVersionedLake(s: SparkSession, dir: String, q: String): String = {
    val lake = scratch(dir, q)
    val base = T(s, dir, "customer")
      .filter(col("c_custkey") <= 500)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val v2 = base.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
      .withColumn("op", lit("U"))
      .unionByName(
        base.filter(col("c_custkey") % 10 =!= 0 && col("c_custkey") % 7 === 0)
          .withColumn("op", lit("D")))
    VersionedLake.writeVersion(base.withColumn("op", lit("U")), lake, 1L)
    VersionedLake.writeVersion(v2, lake, 2L)
    VersionedLake.writeVersion(
      base.withColumn("c_acctbal", lit(0.0)).withColumn("op", lit("U")), lake, 3L)
    lake
  }

  /** Versioned (time-travel) lake: three change sets land as `version=v`
    * partitions, then the as-of-v2 read reconstructs that snapshot —
    * latest change per key wins, deletes drop their key, and the v3
    * change set is partition-pruned away entirely (history stays
    * immutable and every old snapshot remains readable).
    */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    // the as-of-v2 read must not see v3's zeroed balances
    val lake = customerVersionedLake(s, dir, "q98")
    VersionedLake.readAsOf(s, lake, 2L, Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("version").cast("long").as("version"))
      .orderBy(col("c_custkey"))
  }

  // as-of v2 reconstruction: +100 upserts win for keys ≡ 0 (mod 10),
  // deletes drop keys ≡ 0 (mod 7) (minus the upsert overlap), v3 is
  // invisible; `version` records which change set each row came from
  query("q98_time_travel", q98)(Sql(
    """SELECT c_custkey, c_name, CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal, CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version FROM customer WHERE c_custkey <= 500 AND NOT (c_custkey % 10 <> 0 AND c_custkey % 7 = 0) ORDER BY c_custkey"""))

  /** Change-data feed between two lake snapshots: the keys inserted /
    * deleted / updated going v2 → v3 of the shared version history,
    * derived retroactively by [[VersionedLake.snapshotDiff]] (unchanged
    * keys dropped by a null-safe payload compare).
    */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val lake = customerVersionedLake(s, dir, "q103")
    VersionedLake.snapshotDiff(s, lake, 2L, 3L, Seq("c_custkey"))
      .select(col("c_custkey"), col("change"),
        col("old.c_acctbal").as("old_acctbal"),
        col("new.c_acctbal").as("new_acctbal"))
      .orderBy(col("c_custkey"))
  }

  // v2→v3 delta: deleted-at-v2 keys come back as inserts, every other
  // key updates unless its v2 balance already equalled v3's zero
  query("q103_snapshot_diff", q103)(Sql(
    """WITH base AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 500), v2 AS (SELECT c_custkey, CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal FROM base WHERE NOT (c_custkey % 10 <> 0 AND c_custkey % 7 = 0)) SELECT b.c_custkey, CASE WHEN v2.c_custkey IS NULL THEN 'I' ELSE 'U' END AS change, v2.bal AS old_acctbal, CAST(0.0 AS DOUBLE) AS new_acctbal FROM base b LEFT JOIN v2 ON b.c_custkey = v2.c_custkey WHERE v2.c_custkey IS NULL OR v2.bal <> 0.0 ORDER BY b.c_custkey"""))

  /** Rule-driven data-quality suite over orders: four violation predicates
    * evaluated in one aggregation pass ([[graft.operators.Quality]]).
    */
  private def q105(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.checkRules(T(s, dir, "orders"), Seq(
      "price_positive" -> (col("o_totalprice") <= 0.0),
      "status_domain" -> !col("o_orderstatus").isin("O", "F", "P"),
      "date_present" -> col("o_orderdate").isNull,
      "priority_format" -> !col("o_orderpriority").rlike("^[1-5]-")))
      .orderBy(col("rule_id"))

  query("q105_quality_rules", q105)(Sql(
    """SELECT rule_id, n_violations, n_rows, round(1.0 - CAST(n_violations AS DOUBLE) / n_rows, 6) AS pass_ratio FROM (SELECT 'price_positive' AS rule_id, CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, COUNT(*) AS n_rows FROM orders UNION ALL SELECT 'status_domain', CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM orders UNION ALL SELECT 'date_present', CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM orders UNION ALL SELECT 'priority_format', CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM orders) ORDER BY rule_id"""))

  /** Change-chain checkpoint: compact the 3-version history into a fresh
    * base at v4, then read as-of v4 with the compaction floor — one change
    * set scanned regardless of history length ([[VersionedLake.compact]]).
    */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val lake = customerVersionedLake(s, dir, "q106")
    VersionedLake.compact(s, lake, version = 3L, keyCols = Seq("c_custkey"),
      newVersion = 4L)
    VersionedLake.readAsOf(s, lake, 4L, Seq("c_custkey"), floorVersion = 4L)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("version").cast("long").as("version"))
      .orderBy(col("c_custkey"))
  }

  // the compacted v4 base IS the zeroed v3 snapshot with version = 4
  query("q106_compact_base", q106)(Sql(
    """SELECT c_custkey, c_name, CAST(0.0 AS DOUBLE) AS c_acctbal, CAST(4 AS BIGINT) AS version FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey"""))

  /** Lakehouse maintenance: the daily rollup is written fragmented (4-way
    * repartition → up to 4 small files per partition), the over-budget
    * partitions are detected from scan metadata, compacted, and the lake
    * read back row-identical ([[PartitionedLake.overBudgetPartitions]] /
    * `compact`). Small files are the classic 100 TB scan killer.
    */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q111")
    val daily = T(s, dir, "events")
      .groupBy(evDateId.as("date_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumx(col("value")).as("total_value"))
      .repartition(4)
    PartitionedLake.writeAll(daily, lake, Seq("date_id"))
    val over = PartitionedLake.overBudgetPartitions(s, lake, "date_id", maxFiles = 1)
    if (over.nonEmpty) PartitionedLake.compact(s, lake, "date_id", over)
    PartitionedLake.read(s, lake)
      .select(col("date_id").cast("string").as("date_id"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("date_id"), col("event_type"))
  }

  // compaction must be row-invisible: the read-back equals the plain
  // daily aggregate no matter how the files were laid out
  query("q111_compact_small_files", q111)(Sql(
    s"""SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events GROUP BY 1, 2 ORDER BY date_id, event_type"""))

  /** Schema evolution across lake versions: v2 re-upserts a subset of
    * keys WITH a new `c_tier` column; the mergeSchema as-of read surfaces
    * pre-evolution rows with a null tier — the add-a-column migration
    * every long-lived table eventually makes.
    */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q113")
    val base = T(s, dir, "customer")
      .filter(col("c_custkey") <= 300)
      .select(col("c_custkey"), col("c_name"))
    VersionedLake.writeVersion(base.withColumn("op", lit("U")), lake, 1L)
    val tiered = base.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_tier",
        when(col("c_custkey") % 3 === 0, "gold")
          .when(col("c_custkey") % 3 === 1, "silver")
          .otherwise("bronze"))
      .withColumn("op", lit("U"))
    VersionedLake.writeVersion(tiered, lake, 2L)
    VersionedLake.readAsOf(s, lake, 2L, Seq("c_custkey"), mergeSchema = true)
      .select(col("c_custkey"), col("c_name"), col("c_tier"),
        col("version").cast("long").as("version"))
      .orderBy(col("c_custkey"))
  }

  query("q113_schema_evolution", q113)(Sql(
    """SELECT c_custkey, c_name, CASE WHEN c_custkey % 5 = 0 THEN (CASE WHEN c_custkey % 3 = 0 THEN 'gold' WHEN c_custkey % 3 = 1 THEN 'silver' ELSE 'bronze' END) END AS c_tier, CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey"""))

  /** Transaction-log lake ([[graft.sources.TxLake]]): three atomic
    * commits — history append, latest-day partial append, then a full
    * corrected overwrite — read back both as-of v2 (history + partial)
    * and latest (the overwrite), tagged. Old snapshots stay readable
    * because removes are logical; visibility is the log entry, so every
    * commit is all-or-nothing no matter how many files it lands.
    */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q117")
    // fresh log per run: commits accumulate, and this query's meaning is
    // the exact 3-commit history
    graft.sources.LocalFs.deleteRecursively(lake)
    val daily = T(s, dir, "events")
      .groupBy(evDateId.as("date_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumx(col("value")).as("total_value"))
    val maxDate = daily.agg(max(col("date_id"))).head().getString(0)
    TxLake.commit(s, lake, daily.filter(col("date_id") =!= maxDate))
    TxLake.commit(s, lake,
      daily.filter(col("date_id") === maxDate && col("event_type") =!= "error"))
    TxLake.commit(s, lake, daily, overwrite = true)
    def snap(v: Long, tag: String) =
      TxLake.readSnapshot(s, lake, v).withColumn("snap", lit(tag))
    snap(2L, "v2").unionByName(snap(Long.MaxValue, "latest"))
      .select(col("snap"), col("date_id"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("snap"), col("date_id"), col("event_type"))
  }

  // v2 = history + the latest day's non-error slice; latest = the full
  // overwrite — both replayed straight from events
  query("q117_txlog_lake", q117)(Sql(
    s"""WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events GROUP BY 1, 2), mx AS (SELECT MAX(date_id) AS d FROM daily) SELECT * FROM (SELECT 'v2' AS snap, date_id, event_type, n_events, total_value FROM daily WHERE date_id <> (SELECT d FROM mx) OR event_type <> 'error' UNION ALL SELECT 'latest', date_id, event_type, n_events, total_value FROM daily) ORDER BY snap, date_id, event_type"""))

  /** Row-level DELETE (erasure): the lake is committed in three slices,
    * then every `user_id ≡ 0 (mod 7)` row is deleted by rewriting ONLY
    * the files that contain matches, swapped in atomically
    * ([[TxLake.deleteWhere]]) — the right-to-be-forgotten pass that does
    * not rewrite a 100 TB table.
    */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q120")
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    (0 to 2).foreach(i =>
      TxLake.commit(s, lake, ev.filter(col("user_id") % 3 === i)))
    TxLake.deleteWhere(s, lake, col("user_id") % 7 === 0)
    TxLake.readSnapshot(s, lake)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  // q119_hll_rollup: rows-only by design (HLL sketch internals are
  // engine-specific); SketchesSpec bounds the merged estimate vs exact
  query("q120_erasure_delete", q120)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value, COUNT(DISTINCT user_id) AS n_users FROM events WHERE user_id % 7 <> 0 GROUP BY event_type ORDER BY event_type"""))

  /** Log-based data skipping on the transaction lake: commits record each
    * file's [min, max] of `user_id`, and the pruned read opens ONLY files
    * whose logged range overlaps the predicate — a skipped file costs
    * zero I/O, not even a footer fetch ([[TxLake.readPruned]];
    * TxLakeSpec asserts the file count). Slices are committed on
    * disjoint user ranges so the pruning provably bites.
    */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q125")
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val m = ev.agg(max(col("user_id"))).head().getLong(0)
    val t = m / 3
    TxLake.commit(s, lake, ev.filter(col("user_id") <= t).coalesce(1),
      statsCol = "user_id")
    TxLake.commit(s, lake,
      ev.filter(col("user_id") > t && col("user_id") <= 2 * t).coalesce(1),
      statsCol = "user_id")
    TxLake.commit(s, lake, ev.filter(col("user_id") > 2 * t).coalesce(1),
      statsCol = "user_id")
    TxLake.readPruned(s, lake, 1L, t)
      .filter(col("user_id").between(1L, t)) // exact filter atop the pruning
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  // the pruned read + exact filter must equal the plain filtered
  // aggregate; the boundary replays as integer division of the max
  query("q125_data_skipping", q125)(Sql(
    s"""WITH t AS (SELECT MAX(user_id) // 3 AS t FROM events) SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events, t WHERE user_id BETWEEN 1 AND t.t GROUP BY event_type ORDER BY event_type"""))

  /** SCD2 apply-changes: close each changed key's current dimension row
    * at the change's effective date and append the new current version
    * ([[graft.operators.Scd2.applyChanges]]) — the incremental other
    * half of q64's derived history.
    */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val dim = T(s, dir, "customer")
      .filter(col("c_custkey") <= 200)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        lit("2020-01-01").as("eff_from"),
        lit(null).cast("string").as("eff_to"))
    val changes = dim.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey"), lit("MOVED").as("segment"),
        lit("2024-06-01").as("eff_from"))
    graft.operators.Scd2.applyChanges(dim, changes, "c_custkey", "eff_from", "eff_to")
      .orderBy(col("c_custkey"), col("eff_from"))
  }

  query("q126_scd2_apply", q126)(Sql(
    """SELECT * FROM (SELECT c_custkey, c_mktsegment AS segment, '2020-01-01' AS eff_from, CASE WHEN c_custkey % 4 = 0 THEN '2024-06-01' END AS eff_to FROM customer WHERE c_custkey <= 200 UNION ALL SELECT c_custkey, 'MOVED', '2024-06-01', NULL FROM customer WHERE c_custkey <= 200 AND c_custkey % 4 = 0) ORDER BY c_custkey, eff_from"""))

  /** OPTIMIZE + VACUUM lifecycle on the transaction lake: three
    * fragmented commits are compacted into one file in a single atomic
    * log commit, then retention physically reclaims the superseded
    * files — the read-back stays row-identical through both
    * ([[TxLake.optimize]] / [[TxLake.vacuum]]; protocol details in
    * TxLakeSpec).
    */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q127")
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    (0 to 2).foreach(i =>
      TxLake.commit(s, lake, ev.filter(col("user_id") % 3 === i)))
    val v = TxLake.optimize(s, lake)
    TxLake.vacuum(lake, retainVersion = v)
    TxLake.readSnapshot(s, lake)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  // optimize + vacuum must be row-invisible: the read-back equals the
  // plain aggregate however the files were compacted or reclaimed
  query("q127_optimize_vacuum", q127)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Two-phase table reconciliation ([[graft.operators.Reconcile]]): B is
    * the customer table with deterministic drift injected — balances
    * bumped for keys ≡ 0 (mod 97), keys ≡ 0 (mod 89) dropped, one
    * foreign row added — and the bucketed checksum compare must surface
    * exactly those keys, reading row-level data only from disagreeing
    * buckets.
    */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val a = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast(DecimalType(12, 2)).as("c_acctbal"),
        col("c_mktsegment"))
    val b = a.filter(col("c_custkey") % 89 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 97 === 0, col("c_acctbal") + 1)
          .otherwise(col("c_acctbal")))
      .unionByName(s.sql(
        """SELECT CAST(10000000 AS BIGINT) AS c_custkey, 'Customer#drift' AS c_name,
          |CAST(0 AS INT) AS c_nationkey, CAST(1.00 AS DECIMAL(12,2)) AS c_acctbal,
          |'BUILDING' AS c_mktsegment""".stripMargin))
    graft.operators.Reconcile.diffKeys(a, b, "c_custkey", buckets = 64)
      .orderBy(col("c_custkey"))
  }

  // the two-phase checksum drill-down must surface exactly the keys the
  // drift injection touched — replayed as direct CASE logic
  query("q130_reconcile", q130)(Sql(
    """SELECT c_custkey, status FROM (SELECT c_custkey, CASE WHEN c_custkey % 89 = 0 THEN 'A_only' WHEN c_custkey % 97 = 0 THEN 'differs' END AS status FROM customer UNION ALL SELECT 10000000, 'B_only') WHERE status IS NOT NULL ORDER BY c_custkey"""))

  /** The idempotent daily job-runner surface ([[graft.JobRunner]]): two
    * named jobs committed for the max event day, then the SAME day re-run
    * — the gate output reads the LAKE back after the re-run, so a
    * non-idempotent runner (duplicate rows, partition drift) breaks the
    * hash. The reference's daily-cadence posture, minus the scheduler.
    */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val day = T(s, dir, "events").agg(max(evDateId)).head().getString(0)
    val lake = scratch(dir, "q137")
    val jobs = Seq(
      JobRunner.Job("daily_type_stats", (ss, d) =>
        T(ss, d, "events")
          .groupBy(evDateId.as("date_id"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double")
              .as("total_value"))),
      JobRunner.Job("daily_users", (ss, d) =>
        T(ss, d, "events")
          .groupBy(evDateId.as("date_id"))
          .agg(countDistinct(col("user_id")).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double")
              .as("total_value"))))
    JobRunner.runDay(s, dir, lake, day, jobs)
    JobRunner.runDay(s, dir, lake, day, jobs) // safe re-run, proven by hash
    val stats = graft.sources.PartitionedLake
      .read(s, JobRunner.tablePath(lake, "daily_type_stats"))
      .filter(col("date_id") === day)
      .select(lit("daily_type_stats").as("job"),
        col("event_type").as("key"), col("n"), col("total_value"))
    val users = graft.sources.PartitionedLake
      .read(s, JobRunner.tablePath(lake, "daily_users"))
      .filter(col("date_id") === day)
      .select(lit("daily_users").as("job"), lit("ALL").as("key"),
        col("n"), col("total_value"))
    stats.unionByName(users).orderBy(col("job"), col("key"))
  }

  // the lake read-back after the double run must equal the plain
  // one-day aggregates — duplicates or partition drift break the hash
  query("q137_job_runner", q137)(Sql(
    """WITH mx AS (SELECT MAX(strftime(ts, '%Y-%m-%d')) AS d FROM events), ev AS (SELECT event_type, user_id, value FROM events, mx WHERE strftime(ts, '%Y-%m-%d') = mx.d) SELECT * FROM (SELECT 'daily_type_stats' AS job, event_type AS key, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value FROM ev GROUP BY 2 UNION ALL SELECT 'daily_users', 'ALL', COUNT(DISTINCT user_id), CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) FROM ev) ORDER BY job, key"""))

  /** Incremental JOIN-view maintenance
    * ([[graft.operators.Incremental.mergeJoinAppend]]): the materialized
    * orders ⋈ customer view is built WITHOUT the late slice (orderkeys ≡
    * 0 mod 7 of the max month), then the late delta merges in by
    * enriching only the delta and rewriting only the touched month. The
    * read-back aggregate must equal the plain full join — proving the
    * maintained view converged.
    */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q144")
    val orders = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    val maxMonth = orders.agg(max(col("month"))).head().getString(0)
    val dim = T(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val isLate = col("o_orderkey") % 7 === 0 && col("month") === maxMonth
    graft.sources.PartitionedLake.writeAll(
      orders.filter(!isLate).join(dim, Seq("o_custkey")), lake, Seq("month"))
    graft.operators.Incremental.mergeJoinAppend(
      s, lake, orders.filter(isLate), dim, "o_custkey", "month")
    graft.sources.PartitionedLake.read(s, lake)
      .groupBy(col("month").cast("string").as("month"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .orderBy(col("month"), col("segment"))
  }

  // the maintained view's aggregate must equal the plain full join
  query("q144_incremental_join", q144)(Sql(
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, c_mktsegment AS segment, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2 ORDER BY month, segment"""))

  /** TxLake row-level UPDATE ([[TxLake.updateWhere]]): purchases get a
    * +100 value bump through an affected-file-only rewrite; the read-back
    * aggregate must carry exactly the bumped values.
    */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q145") + "/lake"
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value").cast(DecimalType(18, 2)).as("value"))
    TxLake.commit(s, lake, ev.filter(col("event_id") % 2 === 0).coalesce(1))
    TxLake.commit(s, lake, ev.filter(col("event_id") % 2 =!= 0).coalesce(1))
    TxLake.updateWhere(s, lake, col("event_type") === "purchase",
      Map("value" -> (col("value") + lit(100))))
    TxLake.readSnapshot(s, lake)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  // the affected-file UPDATE must be row-equivalent to the plain CASE
  query("q145_txlake_update", q145)(Sql(
    """SELECT event_type, COUNT(*) AS n, CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) + 100 ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value FROM events GROUP BY event_type ORDER BY event_type"""))

  /** TxLake MERGE by key ([[TxLake.mergeByKey]]): balances zeroed for
    * keys ≤ 100 (matched-row replacement), five out-of-range keys
    * inserted; only files containing matched keys are rewritten.
    */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q146") + "/lake"
    graft.sources.LocalFs.deleteRecursively(lake)
    val cust = T(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_acctbal").cast(DecimalType(12, 2)).as("bal"))
      .filter(col("c_custkey") <= 500)
    TxLake.commit(s, lake, cust.filter(col("c_custkey") <= 250).coalesce(1))
    TxLake.commit(s, lake, cust.filter(col("c_custkey") > 250).coalesce(1))
    val updates = cust.filter(col("c_custkey") <= 100)
      .select(col("c_custkey"), lit(java.math.BigDecimal.ZERO)
        .cast(DecimalType(12, 2)).as("bal"))
      .unionByName(s.range(10001, 10006).select(col("id").as("c_custkey"),
        lit(java.math.BigDecimal.ONE).cast(DecimalType(12, 2)).as("bal")))
    TxLake.mergeByKey(s, lake, updates, "c_custkey")
    TxLake.readSnapshot(s, lake)
      .select(col("c_custkey"), col("bal").cast("double").as("bal"))
      .orderBy(col("c_custkey"))
  }

  // MERGE = replace matched keys, insert unmatched ones
  query("q146_txlake_merge", q146)(Sql(
    """SELECT c_custkey, CAST(CASE WHEN c_custkey <= 100 THEN 0.00 ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS DOUBLE) AS bal FROM customer WHERE c_custkey <= 500 UNION ALL SELECT k, 1.0 FROM range(10001, 10006) t(k) ORDER BY c_custkey"""))

  /** TxLake zero-copy branching ([[TxLake.branch]]): fork at v2, commit
    * divergent slices to branch and main, and aggregate BOTH sides —
    * isolation in each direction is what the hash proves.
    */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q149") + "/lake"
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value").cast(DecimalType(18, 2)).as("value"))
    def slice(m: Int) = ev.filter(col("event_id") % 4 === m).coalesce(1)
    TxLake.commit(s, lake, slice(0))
    TxLake.commit(s, lake, slice(1))
    val bp = TxLake.branch(lake, "exp")
    TxLake.commit(s, bp, slice(3))   // branch-only commit
    TxLake.commit(s, lake, slice(2)) // main-only commit after the fork
    def agg(df: DataFrame, side: String) = df
      .groupBy(lit(side).as("side"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
    agg(TxLake.readSnapshot(s, lake), "main")
      .unionByName(agg(TxLake.readSnapshot(s, bp), "exp"))
      .orderBy(col("side"), col("event_type"))
  }

  // branch isolation in both directions: main sees id%4 in 0,1,2 and
  // the branch sees 0,1,3 — any leakage changes a count and the hash
  query("q149_txlake_branch", q149)(Sql(
    """WITH ev AS (SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS value FROM events) SELECT * FROM (SELECT 'main' AS side, event_type, COUNT(*) AS n, CAST(SUM(value) AS DOUBLE) AS total FROM ev WHERE event_id % 4 IN (0, 1, 2) GROUP BY 2 UNION ALL SELECT 'exp', event_type, COUNT(*), CAST(SUM(value) AS DOUBLE) FROM ev WHERE event_id % 4 IN (0, 1, 3) GROUP BY 2) ORDER BY side, event_type"""))

  /** Footer-only table stats ([[graft.sources.FooterStats.tableStats]]):
    * COUNT/MIN/MAX pushed into the parquet scan (V2 aggregate pushdown),
    * answered from footer metadata — plan-audited in FooterStatsSpec.
    */
  private def q151(s: SparkSession, dir: String): DataFrame =
    graft.sources.FooterStats.tableStats(
      s, s"$dir/orders.parquet", Seq("o_orderkey", "o_totalprice"))

  // footer-derived stats must equal the plain aggregates
  query("q151_footer_stats", q151)(Sql(
    """SELECT COUNT(*) AS n_rows, MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey, MIN(o_totalprice) AS min_o_totalprice, MAX(o_totalprice) AS max_o_totalprice FROM orders"""))

  /** TxLake change-data-feed ([[TxLake.changeFeed]]): the NET row-level
    * changes of each commit after the initial load — v2 appends the even
    * orders, v3 erases one custkey decile — derived from the file-level
    * log and reading only the files those commits touched. The v3 rewrite
    * re-writes survivors into fresh files; they cancel in the feed's
    * EXCEPT ALL and must not appear.
    */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q153")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderstatus"))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 2 === 1))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 2 === 0))
    TxLake.deleteWhere(s, lake, col("o_custkey") % 10 === 0)
    TxLake.changeFeed(s, lake, fromVersion = 1L)
      .orderBy(col("_commit_version"), col("_change_type"), col("o_orderkey"))
  }

  // net per-commit changes replayed from the staged commit recipe:
  // v2 appended the even orderkeys, v3 erased custkey % 10 = 0 (the
  // rewrite's carried-over survivors cancel in the feed's EXCEPT ALL
  // and must not appear on either side)
  query("q153_txlake_cdf", q153)(Sql(
    """SELECT * FROM (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version FROM orders WHERE o_orderkey % 2 = 0 UNION ALL SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'delete', 3 FROM orders WHERE o_custkey % 10 = 0) ORDER BY _commit_version, _change_type, o_orderkey"""))

  /** Partition-spec evolution ([[PartitionedLake.writeSegment]] /
    * [[PartitionedLake.readSegments]]): history stays partitioned by
    * `date_id` while the newest day lands under the finer
    * `(date_id, event_type)` spec — nothing is rewritten, and the
    * layout-aware read prunes each generation under its own spec (proven
    * in LakeSpec via inputFiles).
    */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q161")
    graft.sources.LocalFs.deleteRecursively(root)
    val ev = T(s, dir, "events").select(
      col("event_id"), col("event_type"), col("value"), evDateId.as("date_id"))
    val maxDate = ev.agg(max(col("date_id"))).head().getString(0)
    PartitionedLake.writeSegment(
      ev.filter(col("date_id") < maxDate), root, "gen1", Seq("date_id"))
    PartitionedLake.writeSegment(
      ev.filter(col("date_id") === maxDate), root, "gen2",
      Seq("date_id", "event_type"))
    PartitionedLake.readSegments(s, root)
      // partition values may type-infer on read; the query key is a string
      .withColumn("date_id", col("date_id").cast("string"))
      .filter(col("event_type") === "purchase")
      .groupBy(col("date_id"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("date_id"))
  }

  // the layout-aware union must equal the plain filtered aggregate —
  // rows duplicated or lost across generations break count and sum
  query("q161_partition_evolution", q161)(Sql(
    s"""SELECT strftime(ts, '%Y-%m-%d') AS date_id, COUNT(*) AS n, $SUMV AS total_value FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY date_id"""))

  /** Log checkpointing ([[TxLake.checkpoint]]): after the checkpoint at
    * v2, the latest read replays only the erasure commit on top of the
    * checkpointed file set, while time travel to v1 — BEFORE the
    * checkpoint — still replays the full history. Both snapshots must be
    * byte-equal to the plain replay (TxLakeSpec asserts the replay-count
    * mechanics).
    */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q163")
    graft.sources.LocalFs.deleteRecursively(lake)
    val daily = T(s, dir, "events")
      .groupBy(evDateId.as("date_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumx(col("value")).as("total_value"))
    val maxDate = daily.agg(max(col("date_id"))).head().getString(0)
    TxLake.commit(s, lake, daily.filter(col("date_id") < maxDate))
    TxLake.commit(s, lake, daily.filter(col("date_id") === maxDate))
    TxLake.checkpoint(lake)
    TxLake.deleteWhere(s, lake, col("event_type") === "error")
    def snap(v: Long, tag: String) =
      TxLake.readSnapshot(s, lake, v).withColumn("snap", lit(tag))
    snap(1L, "v1").unionByName(snap(Long.MaxValue, "latest"))
      .select(col("snap"), col("date_id"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("snap"), col("date_id"), col("event_type"))
  }

  // both snapshots replay as plain SQL over events: v1 = pre-max-date
  // days, latest = everything minus the erased error rows; the
  // checkpoint must be invisible to the data
  query("q163_log_checkpoint", q163)(Sql(
    s"""WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n_events, $SUMV AS total_value FROM events GROUP BY 1, 2), mx AS (SELECT MAX(date_id) AS d FROM daily) SELECT * FROM (SELECT 'v1' AS snap, date_id, event_type, n_events, total_value FROM daily, mx WHERE date_id < mx.d UNION ALL SELECT 'latest', date_id, event_type, n_events, total_value FROM daily WHERE event_type <> 'error') ORDER BY snap, date_id, event_type"""))

  /** Deterministic sorted-run range layout
    * ([[graft.operators.Layout.rangeSortedWrite]]): orders land as 8
    * non-overlapping single-file sorted runs bucketed by EXACT
    * equal-frequency boundaries (LayoutSpec proves per-file disjointness);
    * the read-back per-bucket stats replay the boundary arithmetic.
    */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q164")
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    graft.operators.Layout.rangeSortedWrite(o, path, "o_totalprice", "o_orderkey")
    s.read.parquet(path)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy(col("bucket"))
  }

  // exact discrete-rank boundaries at eighths (all exactly binary
  // fractions, so ceil(cnt*p) replays bit-for-bit), then the CASE-chain
  // bucket assignment — identical to the writer's
  query("q164_range_layout", q164)(Sql(
    """WITH r AS (SELECT o_totalprice, ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn, COUNT(*) OVER () AS cnt FROM orders), b AS (SELECT MAX(CASE WHEN rn = CAST(ceil(cnt * 0.125) AS BIGINT) THEN o_totalprice END) AS b1, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.25) AS BIGINT) THEN o_totalprice END) AS b2, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.375) AS BIGINT) THEN o_totalprice END) AS b3, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN o_totalprice END) AS b4, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.625) AS BIGINT) THEN o_totalprice END) AS b5, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.75) AS BIGINT) THEN o_totalprice END) AS b6, MAX(CASE WHEN rn = CAST(ceil(cnt * 0.875) AS BIGINT) THEN o_totalprice END) AS b7 FROM r), d AS (SELECT o_totalprice, CASE WHEN o_totalprice <= b1 THEN 1 WHEN o_totalprice <= b2 THEN 2 WHEN o_totalprice <= b3 THEN 3 WHEN o_totalprice <= b4 THEN 4 WHEN o_totalprice <= b5 THEN 5 WHEN o_totalprice <= b6 THEN 6 WHEN o_totalprice <= b7 THEN 7 ELSE 8 END AS bucket FROM orders, b) SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM d GROUP BY 1 ORDER BY bucket"""))

  /** Multi-column log-based data skipping ([[TxLake.readPrunedBy]]): the
    * table is laid out as a (custkey-range × orderkey-range) grid of
    * files, each commit logging NAMED per-file min/max for both columns;
    * a conjunctive two-column predicate then opens only the files whose
    * stats intersect BOTH ranges (TxLakeSpec asserts the exact file
    * count). One-column stats (q125) can't skip on the second predicate —
    * this is the Delta/Iceberg multi-column skipping surface.
    */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q182")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderstatus"))
    val r = o.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (cm, om) = (r.getLong(0), r.getLong(1))
    val (ct, ot) = (cm / 2, om / 2)
    for {
      ci <- 0 to 1
      oi <- 0 to 1
    } TxLake.commit(s, lake,
      o.filter((if (ci == 0) col("o_custkey") <= ct else col("o_custkey") > ct) &&
        (if (oi == 0) col("o_orderkey") <= ot else col("o_orderkey") > ot))
        .coalesce(1),
      statsCols = Seq("o_custkey", "o_orderkey"))
    TxLake.readPrunedBy(s, lake,
      Seq(("o_custkey", 1L, ct), ("o_orderkey", 1L, ot)))
      .filter(col("o_custkey").between(1L, ct) &&
        col("o_orderkey").between(1L, ot)) // exact filter atop the pruning
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  // the pruned read is a superset then exactly filtered, so the result
  // must equal the plain two-range filter over the whole table
  query("q182_multicol_skipping", q182)(Sql(
    """WITH b AS (SELECT MAX(o_custkey) // 2 AS ct, MAX(o_orderkey) // 2 AS ot FROM orders) SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price FROM orders, b WHERE o_custkey BETWEEN 1 AND ct AND o_orderkey BETWEEN 1 AND ot GROUP BY 1 ORDER BY o_orderstatus"""))

  /** OPTIMIZE + Z-ORDER through the log ([[TxLake.optimizeZorder]]): the
    * table starts as hash-scattered commits (every file spans both key
    * ranges — nothing skippable), one atomic optimize rewrites it
    * z-clustered with named two-column stats, and the same conjunctive
    * predicate then opens a fraction of the files (TxLakeSpec asserts the
    * before/after counts). The result equals the plain filter — layout
    * work must never change answers.
    */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q184")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderstatus"))
    (0 to 3).foreach(i => TxLake.commit(s, lake,
      o.filter(pmod(col("o_orderkey"), lit(4)) === i).coalesce(1),
      statsCols = Seq("o_custkey", "o_orderkey")))
    TxLake.optimizeZorder(s, lake, Seq("o_custkey", "o_orderkey"))
    val r = o.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ct, ot) = (r.getLong(0) / 8, r.getLong(1) / 8)
    TxLake.readPrunedBy(s, lake,
      Seq(("o_custkey", 1L, ct), ("o_orderkey", 1L, ot)))
      .filter(col("o_custkey").between(1L, ct) &&
        col("o_orderkey").between(1L, ot))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  // layout work never changes answers: post-optimize pruned read equals
  // the plain two-range filter (pruning improvement asserted in spec)
  query("q184_optimize_zorder", q184)(Sql(
    """WITH b AS (SELECT MAX(o_custkey) // 8 AS ct, MAX(o_orderkey) // 8 AS ot FROM orders) SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price FROM orders, b WHERE o_custkey BETWEEN 1 AND ct AND o_orderkey BETWEEN 1 AND ot GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Catalog-level multi-table transaction
    * ([[graft.sources.TxCatalog]]): a fact rollup and its per-segment
    * summary land in ONE atomic commit, then a second transaction
    * replaces both — readers joining the two member tables at the same
    * version can never see the fact/rollup drift two single-table
    * commits would expose (crash-between-tables invisibility is
    * spec-proved). The oracle recomputes both tables directly.
    */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxCatalog
    val root = scratch(dir, "q186")
    graft.sources.LocalFs.deleteRecursively(root)
    val o = T(s, dir, "orders")
    val cust = T(s, dir, "customer")
    def custAgg(f: DataFrame) = f
      .groupBy(col("o_custkey")).agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"))
    def segAgg(byCust: DataFrame) = byCust
      .join(cust.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(
        sum(col("n_orders")).as("n_orders"), sum(col("spend")).as("spend"))
    // txn 1: a partial day's facts + its rollup, atomically
    val part = o.filter(col("o_orderkey") % 3 === 0)
    val byCust1 = custAgg(part).localCheckpoint(true)
    TxCatalog.commit(s, root,
      Seq("cust_orders" -> byCust1, "segment_rollup" -> segAgg(byCust1)))
    // txn 2: the full refresh REPLACES both members in one transaction
    val byCust2 = custAgg(o).localCheckpoint(true)
    TxCatalog.commit(s, root,
      Seq("cust_orders" -> byCust2, "segment_rollup" -> segAgg(byCust2)),
      overwrite = true)
    val fact = TxCatalog.readSnapshot(s, root, "cust_orders")
      .join(cust.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("spend")).cast("double").as("fact_spend"))
    val roll = TxCatalog.readSnapshot(s, root, "segment_rollup")
      .select(col("c_mktsegment"), col("n_orders"),
        col("spend").cast("double").as("rollup_spend"))
    // the join consistency IS the point: fact-side recompute must equal
    // the co-committed rollup in every segment
    fact.join(roll, Seq("c_mktsegment"))
      .orderBy(col("c_mktsegment"))
  }

  // after the overwriting transaction both members reflect the FULL
  // fact set, so each side recomputes directly from orders/customer
  query("q186_tx_catalog", q186)(Sql(
    """WITH bc AS (SELECT o_custkey, COUNT(*) AS n_orders, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend FROM orders GROUP BY 1), f AS (SELECT c_mktsegment, COUNT(*) AS n_cust, CAST(SUM(spend) AS DOUBLE) AS fact_spend FROM bc JOIN customer ON o_custkey = c_custkey GROUP BY 1), r AS (SELECT c_mktsegment, CAST(SUM(n_orders) AS BIGINT) AS n_orders, CAST(SUM(spend) AS DOUBLE) AS rollup_spend FROM bc JOIN customer ON o_custkey = c_custkey GROUP BY 1) SELECT c_mktsegment, f.n_cust, f.fact_spend, r.n_orders, r.rollup_spend FROM f JOIN r USING (c_mktsegment) ORDER BY c_mktsegment"""))

  /** Schema evolution through the transaction log ([[TxLake.addColumn]] /
    * [[TxLake.renameColumn]]): three waves land under three successive
    * schemas — original, +src column, value→amount rename — with ZERO
    * data rewrite; the snapshot read surfaces typed NULLs for
    * pre-evolution rows and maps the renamed column across old and new
    * files (time travel to the old schema spec-proved).
    */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q187")
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events").select(col("event_id"),
      col("value").cast(DecimalType(18, 2)).as("value"))
    TxLake.commit(s, lake, ev.filter(col("event_id") % 3 === 0).coalesce(1))
    TxLake.addColumn(lake, "src", "string")
    TxLake.commit(s, lake, ev.filter(col("event_id") % 3 === 1)
      .withColumn("src", lit("wave2")).coalesce(1))
    TxLake.renameColumn(lake, "value", "amount")
    TxLake.commit(s, lake, ev.filter(col("event_id") % 3 === 2)
      .select(col("event_id"), col("value").as("amount"))
      .withColumn("src", lit("wave3")).coalesce(1))
    TxLake.readSnapshot(s, lake)
      .groupBy(coalesce(col("src"), lit("legacy")).as("src"))
      .agg(count(lit(1)).as("n"),
        sum(col("amount")).cast("double").as("total_amount"))
      .orderBy(col("src"))
  }

  // the three waves partition events by event_id mod 3; pre-evolution
  // rows surface NULL src (grouped as 'legacy') and value maps to amount
  query("q187_schema_evolution_log", q187)(Sql(
    s"""SELECT CASE event_id % 3 WHEN 0 THEN 'legacy' WHEN 1 THEN 'wave2' ELSE 'wave3' END AS src, COUNT(*) AS n, $SUMV AS total_amount FROM events GROUP BY 1 ORDER BY src"""))

  /** Deletion-vector DELETE ([[TxLake.deleteWhereDv]]): merge-on-read
    * row deletion — matching positions land in a sidecar, NO data file
    * is rewritten (asserted in-gate: the DV commit creates no data
    * directory), reads apply the mask, time travel to the pre-delete
    * version still sees every row. The O(matches) alternative to q120's
    * copy-on-write erasure.
    */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q192")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 3 === 0).coalesce(2))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 3 =!= 0).coalesce(2))
    TxLake.deleteWhereDv(s, lake,
      col("o_orderstatus") === "F" && col("o_totalprice") > lit(150000.0))
    require(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$lake/data/v3")),
      "a DV delete must not write data files")
    def agg(df: DataFrame, tag: String): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total"))
      .withColumn("snap", lit(tag))
    agg(TxLake.readSnapshot(s, lake, 2L), "before_dv")
      .unionByName(agg(TxLake.readSnapshot(s, lake), "after_dv"))
      .orderBy(col("snap"), col("o_orderstatus"))
  }

  query("q192_deletion_vectors", q192)(Sql(
    """SELECT 'before_dv' AS snap, o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders GROUP BY o_orderstatus UNION ALL SELECT 'after_dv' AS snap, o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 150000.0) GROUP BY o_orderstatus ORDER BY snap, o_orderstatus"""))

  /** Metadata-only aggregates from the transaction log
    * ([[TxLake.countRows]] / [[TxLake.commitAddCounts]]): per-file row
    * counts are logged at commit time (the Delta numRecords posture), so
    * COUNT(*)-class questions are O(#files) log arithmetic — no data file
    * is opened (TxLakeSpec proves it by physically hiding the data
    * directory). Five tagged commits (one per order priority) land the
    * table; every answer row then comes from the LOG ALONE: per-commit
    * counts by tag, plus the table total after a deletion-vector erasure
    * whose O(matches) sidecar is the only data read. At 100 TB this is
    * the difference between a dashboard COUNT costing a log parse and
    * costing a table scan.
    */
  private def q212(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q212")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    prios.foreach { p =>
      TxLake.commit(s, lake,
        o.filter(col("o_orderpriority") === p).coalesce(2), tag = s"prio:$p")
    }
    TxLake.deleteWhereDv(s, lake, col("o_totalprice") > lit(250000.0))
    val perCommit = TxLake.commitAddCounts(lake)
      .collect { case (_, t, n) if t.nonEmpty =>
        ("commit:" + t.stripPrefix("prio:"), n) }
    val total = TxLake.countRows(s, lake)
      .getOrElse(sys.error("every file carries a logged count"))
    import s.implicits._
    (perCommit :+ (("total_after_erasure", total)))
      .toDF("slice", "n").orderBy(col("slice"))
  }

  // metadata-only counts: per-commit slices replay as plain GROUP BY
  // counts, the erasure total as the kept-rows count (DV deletes where
  // TRUE; <= keeps the false side, and the column is non-null here)
  query("q212_log_count", q212)(Sql(
    """SELECT 'commit:' || o_orderpriority AS slice, COUNT(*) AS n FROM orders GROUP BY o_orderpriority UNION ALL SELECT 'total_after_erasure' AS slice, COUNT(*) AS n FROM orders WHERE o_totalprice <= 250000.0 ORDER BY slice"""))

  /** Zero-copy RESTORE ([[TxLake.restore]]): a bad load (negated prices)
    * lands as v4; RESTORE TO v2 rolls the table back in one log-only
    * commit — no data movement (TxLakeSpec proves byte-stillness), the
    * rolled-back span stays time-travelable, and a copy-on-write DELETE
    * between the restore point and the bad load is correctly undone too.
    * The gate reads BOTH the restored head and the pre-restore v4 state,
    * proving history survives the rollback.
    */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q213")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 3 === 0).coalesce(2))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 3 === 1).coalesce(2))
    TxLake.deleteWhere(s, lake, col("o_totalprice") > lit(200000.0))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 3 === 2)
      .withColumn("o_totalprice", -col("o_totalprice")).coalesce(2))
    TxLake.restore(lake, 2L)
    def agg(df: DataFrame, tag: String): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total"))
      .withColumn("snap", lit(tag))
    agg(TxLake.readSnapshot(s, lake), "restored_head")
      .unionByName(agg(TxLake.readSnapshot(s, lake, 4L), "pre_restore_v4"))
      .orderBy(col("snap"), col("o_orderstatus"))
  }

  // restored head = the first two thirds untouched; pre-restore v4 =
  // those thirds after the price-cap DELETE plus the negated bad load
  query("q213_restore", q213)(Sql(
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders), head AS (SELECT 'restored_head' AS snap, o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM base WHERE o_orderkey % 3 IN (0, 1) GROUP BY o_orderstatus), v4 AS (SELECT 'pre_restore_v4' AS snap, o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM (SELECT o_orderstatus, o_totalprice FROM base WHERE o_orderkey % 3 IN (0, 1) AND o_totalprice <= 200000.0 UNION ALL SELECT o_orderstatus, -o_totalprice FROM base WHERE o_orderkey % 3 = 2) GROUP BY o_orderstatus) SELECT snap, o_orderstatus, n, total FROM head UNION ALL SELECT snap, o_orderstatus, n, total FROM v4 ORDER BY snap, o_orderstatus"""))

  /** Per-file BLOOM index ([[TxLake.buildBloomIndex]]): the third
    * skipping layer beside range stats and the exact key index, sized
    * O(#files × bits/64) instead of O(distinct keys). The table is
    * deliberately hash-SCATTERED (round-robin splits, so every file's
    * [min,max] spans the whole key range and min/max stats prune
    * nothing); the bloom still routes each point lookup to the files
    * that can contain it — the gate requires real pruning happened —
    * and the exact filter on top removes any false positive, so the
    * result is exact regardless.
    */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q214")
    graft.sources.LocalFs.deleteRecursively(lake)
    val idx = s"$lake-idx"
    graft.sources.LocalFs.deleteRecursively(idx)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 2 === 0).repartition(3))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 2 === 1).repartition(3))
    TxLake.buildBloomIndex(s, lake, "o_orderkey", idx)
    val keys = o.orderBy(col("o_orderkey").desc).limit(3)
      .select(col("o_orderkey"))
    val cand = TxLake.filesForKeysBloom(s, lake, idx, keys)
    val totalFiles = TxLake.fileRowCounts(lake).size
    require(cand.size < totalFiles,
      s"bloom must prune: $cand of $totalFiles files")
    TxLake.readByKeysBloom(s, lake, idx, keys)
      .join(broadcast(keys), Seq("o_orderkey"), "left_semi")
      .orderBy(col("o_orderkey"))
  }

  query("q214_bloom_index", q214)(Sql(
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 3) ORDER BY o_orderkey"""))

  /** K-anonymity suppression ([[Quality.kAnonymize]]): customers whose
    * (nation, segment) equivalence class has fewer than k=5 members get
    * the quasi identifiers cell-suppressed to `*` before release — no
    * published combination isolates fewer than 5 people. Class sizes come
    * from one metadata-sized aggregation broadcast back over the rows;
    * the aggregate view groups the released table for the oracle.
    */
  private def q217(s: SparkSession, dir: String): DataFrame =
    Quality.kAnonymize(
      T(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_acctbal")),
      Seq("c_nationkey", "c_mktsegment"), k = 5)
      .groupBy(col("c_nationkey_anon"), col("c_mktsegment_anon"), col("suppressed"))
      .agg(count(lit(1)).as("n"), sumx(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_nationkey_anon"), col("c_mktsegment_anon"))

  query("q217_k_anonymize", q217)(Sql(
    """WITH sz AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS cn FROM customer GROUP BY 1, 2), a AS (SELECT CASE WHEN cn >= 5 THEN CAST(c.c_nationkey AS VARCHAR) ELSE '*' END AS c_nationkey_anon, CASE WHEN cn >= 5 THEN c.c_mktsegment ELSE '*' END AS c_mktsegment_anon, cn < 5 AS suppressed, c.c_acctbal FROM customer c JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment) SELECT c_nationkey_anon, c_mktsegment_anon, suppressed, COUNT(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal FROM a GROUP BY 1, 2, 3 ORDER BY c_nationkey_anon, c_mktsegment_anon"""))

  /** Optimistic concurrency through the log
    * ([[TxLake.commitTransaction]]): three writers prepared against the
    * SAME snapshot race. A's erasure DELETE lands first; B's whole-table
    * compaction — derived from the now-stale snapshot — is rejected (its
    * rewrite would resurrect A's deleted rows) and rebases against the
    * new latest; C's append names disjoint files and lands with no retry.
    * The final state is deterministic: delete ∘ rebased compaction ∘
    * append, whatever the interleaving.
    */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q227")
    graft.sources.LocalFs.deleteRecursively(lake)
    TxLake.commit(s, lake,
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(3, pmod(col("o_orderkey"), lit(3)))) // v1, 3 files
    val v1 = TxLake.latestVersion(lake)
    TxLake.deleteWhereTx(s, lake, col("o_totalprice") > 250000.0, v1)
    val conflicted =
      try { TxLake.compactTx(s, lake, v1); false }
      catch { case _: TxLake.CommitConflictException => true }
    require(conflicted, "stale compaction must be rejected")
    TxLake.compactTx(s, lake, TxLake.latestVersion(lake)) // the rebase
    TxLake.commitTransaction(s, lake,
      T(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("X").as("o_orderstatus"), col("o_totalprice")),
      removes = Seq.empty, readVersion = v1)
    TxLake.readSnapshot(s, lake)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  // the serialized race reduces to: delete, content-preserving
  // compaction, append — whatever the physical interleaving was
  query("q227_occ_race", q227)(Sql(
    """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM (SELECT o_orderstatus, o_totalprice FROM orders WHERE o_totalprice <= 250000.0 UNION ALL SELECT 'X' AS o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 97 = 0) GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Hidden-partitioning read ([[graft.sources.HiddenPartitioning]]): the
    * table is physically laid out by day(ts) × bucket(8, user_id), but the
    * query filters only on the raw user id — the read path derives the
    * bucket predicate itself, so the scan opens one bucket directory in
    * eight (LayoutSpec proves it from inputFiles). The result is plain
    * filtered data; the oracle is the straight filter on the source table.
    */
  private def q239(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q239")
    graft.sources.LocalFs.deleteRecursively(root)
    val ev = T(s, dir, "events").select(
      col("event_id"), evSec.as("sec"), col("user_id"), col("event_type"), col("value"))
    graft.sources.HiddenPartitioning.write(ev, root, "sec", "user_id", 8)
    graft.sources.HiddenPartitioning.read(s, root, "user_id", 8, keyEq = Some(7L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  // hidden partitioning only changes WHICH files are read, never what
  // the query returns — the oracle is the raw filter
  query("q239_hidden_partitioning", q239)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events WHERE user_id = 7 GROUP BY event_type ORDER BY event_type"""))

  /** Bitemporal as-of: VALID time (the business date each order became the
    * customer's latest) × TRANSACTION time (the lake version that had
    * ingested it). Orders land in three TxLake commits; the query reads the
    * table as of tx-version 2 — so the third commit's rows must not exist
    * for it even when they are valid-time eligible — and then takes each
    * customer's latest order valid on 1996-01-01. The oracle replays both
    * temporal filters declaratively (tx membership = the first two ingest
    * thirds).
    */
  private def q240(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q240")
    graft.sources.LocalFs.deleteRecursively(root)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate").as("vd"), col("o_totalprice"))
    TxLake.commit(s, root, o.filter(col("o_orderkey") % 3 === 0))
    TxLake.commit(s, root, o.filter(col("o_orderkey") % 3 === 1))
    TxLake.commit(s, root, o.filter(col("o_orderkey") % 3 === 2))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("vd").desc, col("o_orderkey").desc)
    TxLake.readSnapshot(s, root, 2L)
      .filter(col("vd") <= lit("1996-01-01"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("vd").as("valid_from"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  // tx-time membership = the first two ingest thirds; valid-time = the
  // latest order on or before the as-of date
  query("q240_bitemporal", q240)(Sql(
    """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate AS vd, o_totalprice FROM orders WHERE o_orderkey % 3 IN (0, 1)), r AS (SELECT o_custkey, vd, o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY vd DESC, o_orderkey DESC) AS rn FROM o WHERE vd <= '1996-01-01') SELECT o_custkey, vd AS valid_from, o_orderkey, o_totalprice FROM r WHERE rn = 1 ORDER BY o_custkey"""))

  /** MERGE with schema evolution ([[TxLake.mergeByKeyEvolve]]): the update
    * batch carries a column the table has never seen — the merge adds it
    * as a schema op (existing rows read NULL, pre-evolution time travel
    * still sees the old shape) instead of failing. The final snapshot's
    * oracle is fully declarative: updated keys carry the new balance and
    * segment, untouched keys the old balance and a NULL segment.
    */
  private def q244(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q244")
    graft.sources.LocalFs.deleteRecursively(root)
    val cust = T(s, dir, "customer")
    TxLake.commit(s, root,
      cust.select(col("c_custkey"), col("c_name"), col("c_acctbal")))
    val upd = cust.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"),
        col("c_mktsegment").as("segment"))
    TxLake.mergeByKeyEvolve(s, root, upd, "c_custkey")
    TxLake.readSnapshot(s, root).orderBy(col("c_custkey"))
  }

  // evolution is declarative: updated keys get the new balance and the
  // new column's value, everyone else the old balance and NULL
  query("q244_merge_evolve", q244)(Sql(
    """SELECT c_custkey, c_name, CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal, CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment ELSE NULL END AS segment FROM customer ORDER BY c_custkey"""))

  /** Full CDC apply through [[graft.sources.TxLake.mergeCdc]]: inserts,
    * updates and flagged deletes land in ONE merge batch — the
    * `WHEN MATCHED AND cond THEN DELETE` clause the merge family lacked
    * (deletes previously routed separately through deleteWhere/DVs) —
    * with the same affected-file-only rewrite. The batch also carries a
    * delete for an absent key, which must be a no-op.
    */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q257") + "/lake"
    graft.sources.LocalFs.deleteRecursively(lake)
    val cust = T(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_acctbal").cast(DecimalType(12, 2)).as("bal"))
      .filter(col("c_custkey") <= 500)
    TxLake.commit(s, lake, cust.filter(col("c_custkey") <= 250).coalesce(1))
    TxLake.commit(s, lake, cust.filter(col("c_custkey") > 250).coalesce(1))
    val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(12, 2))
    val cdc = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("bal"), lit(true).as("__op_delete"))
      .unionByName(cust
        .filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), zero.as("bal"), lit(false).as("__op_delete")))
      .unionByName(s.range(10001, 10006).select(col("id").as("c_custkey"),
        lit(java.math.BigDecimal.ONE).cast(DecimalType(12, 2)).as("bal"),
        lit(false).as("__op_delete")))
      .unionByName(s.range(20001, 20002).select(col("id").as("c_custkey"),
        zero.as("bal"), lit(true).as("__op_delete")))
    TxLake.mergeCdc(s, lake, cdc, "c_custkey", "__op_delete")
    TxLake.readSnapshot(s, lake)
      .select(col("c_custkey"), col("bal").cast("double").as("bal"))
      .orderBy(col("c_custkey"))
  }

  // one CDC batch = matched deletes + matched updates + inserts; the
  // absent-key delete replays as nothing on both engines
  query("q257_merge_cdc", q257)(Sql(
    """SELECT c_custkey, CAST(CASE WHEN c_custkey % 5 = 0 THEN 0.00 ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS DOUBLE) AS bal FROM customer WHERE c_custkey <= 500 AND c_custkey % 7 <> 0 UNION ALL SELECT k, 1.0 FROM range(10001, 10006) t(k) ORDER BY c_custkey"""))

  /** Avro round-trip through [[graft.sources.AvroIo]] — the q73-ORC
    * pattern for the one mainstream batch format the source matrix still
    * lacked. spark-avro's DataSource is absent here, so the container
    * files are written/read directly against the public Avro core API:
    * one file per partition on write, one lazy-decoding task per file on
    * read, nullable columns as `["null", T]` unions. The read-back
    * aggregate must equal the plain aggregate over the original table.
    */
  private def q258(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.AvroIo
    val path = scratch(dir, "q258")
    graft.sources.LocalFs.deleteRecursively(path)
    val src = T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    AvroIo.write(src, path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    AvroIo.read(s, path, schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  // an Avro round-trip is lossless for long/string/double, so the
  // read-back aggregate equals the plain aggregate
  query("q258_avro_roundtrip", q258)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Column lineage anchored on TXLAKE READS
    * ([[graft.plans.Lineage.columnLineageLake]]): leaves resolve by LAKE
    * PATH — the catalog's production shape, where a `TxLake.readSnapshot`
    * frame has no DataFrame object or view name to anchor on and the
    * physical layout IS the table identity. The plain-parquet customer
    * read resolves through the same path rule. Oracle = the hand-derived
    * edge list (count(*) has NO leaf source — absence is the audited
    * fact).
    */
  private def q317(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val root = scratch(dir, "q317")
    graft.sources.LocalFs.deleteRecursively(root)
    val lake = root + "/orders_lake"
    TxLake.commit(s, lake, T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    val snap = TxLake.readSnapshot(s, lake)
    val cust = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val q = snap.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sumx(col("o_totalprice")).as("revenue"))
      .select(col("c_mktsegment").as("segment"), col("n_orders"),
        col("revenue"), upper(col("c_mktsegment")).as("segment_uc"))
    graft.plans.Lineage.columnLineageLake(q,
        Map("orders_lake" -> lake, "customer_pq" -> s"$dir/customer.parquet"))
      .orderBy(col("out_col"), col("src_table"), col("src_col"))
  }

  // hand-derived lineage edges over the lake-backed join: count(*) has
  // no leaf source by design
  query("q317_lineage_lake", q317)(Sql(
    """SELECT * FROM (VALUES ('segment', 'customer_pq', 'c_mktsegment'), ('n_orders', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)), ('revenue', 'orders_lake', 'o_totalprice'), ('segment_uc', 'customer_pq', 'c_mktsegment')) AS t(out_col, src_table, src_col) ORDER BY out_col, src_table, src_col"""))

  /** LATE-ARRIVING DIMENSION with park-and-replay: facts joining a
    * half-arrived dimension resolve what they can, PARK the rest in a
    * TxLake pending table (exactly-once, auditable), and re-resolve when
    * the second half lands; truly-missing dims (key % 97 == 0, dropped
    * from both halves) surface with a NULL attribute instead of
    * silently vanishing. The converged union must equal the one-shot
    * left join against the full dimension.
    */
  private def q337(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val root = scratch(dir, "q337")
    graft.sources.LocalFs.deleteRecursively(root)
    val facts = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val dim = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .filter(col("c_custkey") % 97 =!= 0)
    val h1 = dim.filter(col("c_custkey") % 2 === 0)
    val h2 = dim.filter(col("c_custkey") % 2 === 1)
    val r1 = facts.join(h1, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("c_mktsegment").as("segment"))
    TxLake.commit(s, s"$root/pending",
      facts.join(h1, col("o_custkey") === col("c_custkey"), "left_anti"))
    val parked = TxLake.readSnapshot(s, s"$root/pending")
    val r2 = parked.join(h2, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("c_mktsegment").as("segment"))
    val still = parked
      .join(h2, col("o_custkey") === col("c_custkey"), "left_anti")
      .select(col("o_orderkey"), col("o_custkey"),
        lit(null).cast("string").as("segment"))
    r1.unionByName(r2).unionByName(still).orderBy(col("o_orderkey"))
  }

  // park-and-replay must converge to the one-shot left join
  query("q337_late_dimension", q337)(Sql(
    """SELECT o_orderkey, o_custkey, c_mktsegment AS segment FROM orders LEFT JOIN customer ON o_custkey = c_custkey AND c_custkey % 97 <> 0 ORDER BY o_orderkey"""))

  /** RETRACTABLE incremental view maintenance: a per-status aggregate
    * kept current under a CDC tape (insert → update → delete slices) by
    * RETRACTION DELTAS — every matched key contributes −old, every
    * surviving op +new, and only the status-domain-sized delta ever
    * merges into the standing aggregate; the base table never re-scans
    * (q201 maintains under inserts; this is the Materialize-style
    * general case deletes and updates need). The converged aggregate
    * must equal the direct aggregate over the final table state.
    */
  private def q342(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val root = scratch(dir, "q342")
    graft.sources.LocalFs.deleteRecursively(root)
    val cur = s"$root/cur"; val aggDir = s"$root/agg"
    val o = T(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    val tape = Seq(
      o.withColumn("del", lit(false)),
      o.filter(col("k") % 5 === 0)
        .withColumn("cents", col("cents") * 2)
        .withColumn("del", lit(false)),
      o.filter(col("k") % 7 === 0).withColumn("del", lit(true)))
    tape.zipWithIndex.foreach { case (ops0, i) =>
      val ops = ops0.localCheckpoint(true)
      val plus = ops.filter(!col("del"))
        .select(col("st"), lit(1L).as("dn"), col("cents").as("dc"))
      val delta = (if (i == 0) plus
        else TxLake.readSnapshot(s, cur)
          .join(ops.select(col("k")), Seq("k"), "left_semi")
          .select(col("st"), lit(-1L).as("dn"), (-col("cents")).as("dc"))
          .unionByName(plus))
        .groupBy(col("st"))
        .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
      val merged = (if (i == 0)
          delta.select(col("st"), col("dn").as("n"), col("dc").as("cents"))
        else s.read.parquet(aggDir).localCheckpoint(true)
          .join(delta, Seq("st"), "full")
          .select(col("st"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"),
            (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
              .as("cents")))
        .localCheckpoint(true)
      merged.coalesce(1).write.mode("overwrite").parquet(aggDir)
      if (i == 0) TxLake.commit(s, cur, ops.drop("del"))
      else TxLake.mergeCdc(s, cur, ops, "k", "del")
    }
    s.read.parquet(aggDir).filter(col("n") =!= 0L)
      .orderBy(col("st"))
  }

  // retractions replay declaratively: last surviving value per key
  query("q342_ivm_retract", q342)(Sql(
    """WITH f AS (SELECT o_orderstatus AS st, CASE WHEN o_orderkey % 5 = 0 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 2 ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END AS cents FROM orders WHERE o_orderkey % 7 <> 0) SELECT st, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents FROM f GROUP BY 1 ORDER BY 1"""))

  /** SCHEMA-COMPATIBILITY audit
    * ([[graft.operators.Reconcile.schemaCompat]]): the data-contract
    * gate run BEFORE a producer deploy — per-field verdicts under the
    * standard evolution rules (widening ok, drops/narrowing/new-required
    * break), exercised over a schema pair covering every verdict class.
    * Pure metadata; the oracle is the hand-derived verdict table.
    */
  private def q347(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val oldS = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("c", StringType), StructField("d", DoubleType),
      StructField("e", DecimalType(10, 2)), StructField("f", StringType),
      StructField("i", StringType, nullable = true),
      StructField("j", LongType, nullable = false)))
    val newS = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType),
      StructField("d", StringType), StructField("e", DecimalType(12, 2)),
      StructField("f", StringType),
      StructField("g", StringType, nullable = true),
      StructField("h", LongType, nullable = false),
      StructField("i", StringType, nullable = false),
      StructField("j", LongType, nullable = true)))
    graft.operators.Reconcile.schemaCompat(s, oldS, newS)
      .orderBy(col("field"))
  }

  // the hand-derived verdict table over every evolution-rule class
  query("q347_schema_compat", q347)(Sql(
    """SELECT * FROM (VALUES ('a', 'ok_widened', 'int -> bigint'), ('b', 'ok', 'bigint'), ('c', 'break_dropped', 'string -> absent'), ('d', 'break_type', 'double -> string'), ('e', 'ok_widened', 'decimal(10,2) -> decimal(12,2)'), ('f', 'ok', 'string'), ('g', 'ok_added', 'absent -> string'), ('h', 'break_added_required', 'absent -> bigint NOT NULL'), ('i', 'break_now_required', 'string, now NOT NULL'), ('j', 'ok_relaxed', 'bigint, now nullable')) AS t(field, verdict, detail) ORDER BY field"""))

  /** ORDER-INDEPENDENT table fingerprints
    * ([[graft.operators.Reconcile.fingerprint]]): (count, XOR of 52-bit
    * row hashes) per table — the cross-system "are these copies
    * content-identical" handshake that ships two longs instead of a
    * table; XOR commutes so partitioning/order/engine are invisible.
    */
  private def q348(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Reconcile
    def cents(c: Column): Column =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    def named(name: String, fp: DataFrame): DataFrame =
      fp.select(lit(name).as("table_name"), col("n_rows"), col("xor_fp"))
    named("customer", Reconcile.fingerprint(T(s, dir, "customer"),
        Seq(col("c_custkey"), col("c_name"), col("c_mktsegment"))))
      .unionByName(named("lineitem", Reconcile.fingerprint(T(s, dir, "lineitem"),
        Seq(col("l_orderkey"), col("l_partkey"), cents(col("l_extendedprice"))))))
      .unionByName(named("orders", Reconcile.fingerprint(T(s, dir, "orders"),
        Seq(col("o_orderkey"), col("o_orderstatus"), cents(col("o_totalprice"))))))
      .orderBy(col("table_name"))
  }

  // commuting XOR of row hashes: partitioning/order/engine invisible
  query("q348_table_fingerprint", q348)(Sql(
    """WITH o AS (SELECT CAST(concat('0x', substr(md5(concat_ws('|', coalesce(CAST(o_orderkey AS VARCHAR), chr(0)), coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)), coalesce(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), chr(0)))), 1, 13)) AS BIGINT) AS h FROM orders), c AS (SELECT CAST(concat('0x', substr(md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), chr(0)), coalesce(CAST(c_name AS VARCHAR), chr(0)), coalesce(CAST(c_mktsegment AS VARCHAR), chr(0)))), 1, 13)) AS BIGINT) AS h FROM customer), l AS (SELECT CAST(concat('0x', substr(md5(concat_ws('|', coalesce(CAST(l_orderkey AS VARCHAR), chr(0)), coalesce(CAST(l_partkey AS VARCHAR), chr(0)), coalesce(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), chr(0)))), 1, 13)) AS BIGINT) AS h FROM lineitem) SELECT * FROM (SELECT 'customer' AS table_name, COUNT(*) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS xor_fp FROM c UNION ALL SELECT 'lineitem', COUNT(*), CAST(bit_xor(h) AS BIGINT) FROM l UNION ALL SELECT 'orders', COUNT(*), CAST(bit_xor(h) AS BIGINT) FROM o) ORDER BY table_name"""))

  /** d=2 HILBERT-CURVE layout ([[graft.operators.Layout.hilbertWrite]] /
    * [[graft.plans.HilbertIndex2]]): orders clustered by the Hilbert index
    * of (custkey, order-day) — the locality-preserving sibling of q81's
    * Morton interleave. Every curve step is a unit grid move, so a file's
    * contiguous index segment is a near-square tile with tighter min/max
    * on BOTH keys than Morton's quadrant jumps allow; LayoutSpec measures
    * the files-opened comparison on the same probe. The oracle replays
    * the xy2d rotation loop bit-for-bit as a list_reduce fold.
    */
  private def q355(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "q355")
    val withDims = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long")
          .as("day_nr"))
    // bits=12: day_nr tops out under 4096 at every SF and the packed
    // oracle replay needs 4*bits <= 62; higher custkeys mask like zorder
    graft.operators.Layout.hilbertWrite(withDims, path, "o_custkey", "day_nr",
      bits = 12)
    PartitionedLake.read(s, path)
      .select(col("o_orderkey"), col("o_custkey"), col("day_nr"),
        graft.operators.Layout.hilbertValue(col("o_custkey"), col("day_nr"), 12)
          .as("hval"))
      .orderBy(col("o_orderkey"))
  }

  // the xy2d rotation loop replayed as a per-row list_reduce fold
  query("q355_hilbert_layout", q355)(Sql(
    s"""SELECT o_orderkey, o_custkey, day_nr, ${hilbertSql("o_custkey", "day_nr", 12)} AS hval FROM (SELECT o_orderkey, o_custkey, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_nr FROM orders) ORDER BY o_orderkey"""))

  /** Per-file SKETCH-STORE stats in the TxLake log
    * ([[graft.sources.TxLake.SketchSpec]] /
    * [[graft.sources.TxLake.sketchQuantiles]]): every commit persists a
    * bottom-256 (h, id, v) sample of `value` beside its min/max stats —
    * the schema-level "sketch column" a lakehouse stats system keeps —
    * and p50/p90/p99 then answer FROM THE LOG ALONE, zero data files
    * opened (TxLakeSpec deletes the data directory and still answers;
    * the q212 proof shape), carried intact through a checkpoint.
    * Bottom-k merges exactly, so the metadata answer is bit-identical
    * to q316's corpus sketch at the same k; oracle = the global
    * bottom-256 replay.
    */
  private def q356(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q356")
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events").select(col("event_id"), col("value"))
    (0 to 3).foreach(i => TxLake.commit(s, lake,
      ev.filter(pmod(col("event_id"), lit(4)) === i).coalesce(2),
      sketch = Some(TxLake.SketchSpec("event_id", "value", 256))))
    TxLake.checkpoint(lake)
    TxLake.sketchQuantiles(s, lake, "value", Seq(0.5, 0.9, 0.99))
  }

  // log-only percentiles must equal the global bottom-256 replay
  query("q356_sketch_store", q356)(Sql(
    """WITH e AS (SELECT event_id AS id, CAST(value AS DOUBLE) AS v, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), m AS (SELECT v FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY h, id) AS rn FROM e) WHERE rn <= 256), arr AS (SELECT list_sort(list(v)) AS vals, COUNT(*) AS kk FROM m), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM e), spine AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)) SELECT q AS quantile, vals[CAST(GREATEST(1, CEIL(q * kk)) AS INTEGER)] AS est, CAST(kk AS BIGINT) AS sample_k, n_total FROM spine, arr, tot ORDER BY quantile"""))

  /** OPTIMIZE + HILBERT through the log
    * ([[graft.sources.TxLake.optimizeHilbert]]): q184's atomic-rewrite
    * proof shape with the locality-preserving curve — four
    * hash-scattered commits become one Hilbert-clustered snapshot with
    * named stats on both keys, then a two-predicate pruned read + exact
    * filter answers the same aggregate. The curve value is layout-only
    * (dropped before write), so the oracle is the plain filtered
    * aggregate — identical to q184's, proving layout never changes
    * answers, only file-skip rates (LayoutSpec measures those).
    */
  private def q358(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q358")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderstatus"))
    (0 to 3).foreach(i => TxLake.commit(s, lake,
      o.filter(pmod(col("o_orderkey"), lit(4)) === i).coalesce(1),
      statsCols = Seq("o_custkey", "o_orderkey")))
    TxLake.optimizeHilbert(s, lake, "o_custkey", "o_orderkey", bits = 16)
    val r = o.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
    val (ct, ot) = (r.getLong(0) / 8, r.getLong(1) / 8)
    TxLake.readPrunedBy(s, lake,
      Seq(("o_custkey", 1L, ct), ("o_orderkey", 1L, ot)))
      .filter(col("o_custkey").between(1L, ct) &&
        col("o_orderkey").between(1L, ot))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  // layout never changes answers: same filtered aggregate as q184
  query("q358_optimize_hilbert", q358)(Sql(
    """WITH b AS (SELECT MAX(o_custkey) // 8 AS ct, MAX(o_orderkey) // 8 AS ot FROM orders) SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price FROM orders, b WHERE o_custkey BETWEEN 1 AND ct AND o_orderkey BETWEEN 1 AND ot GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Stable supplier→nation assignment
    * ([[graft.operators.Sharding.stableMatch]]): synchronized
    * Gale–Shapley deferred acceptance over md5-derived two-sided
    * preferences, capacity ⌈S/N⌉+1 per nation — the both-sides-have-
    * preferences allocation beside q378/q382's hash placement. The
    * oracle unrolls 10 proposal rounds (fixpoint at 3 at sf0.01;
    * post-fixpoint rounds are no-ops); Spark detects convergence by
    * the rejection count.
    */
  private def q427(s: SparkSession, dir: String): DataFrame = {
    val sup = T(s, dir, "supplier").select(col("s_suppkey").as("agent"))
    val nat = T(s, dir, "nation").select(col("n_nationkey").as("target"))
    val nS = sup.count()
    val nN = nat.count()
    val cap = ((nS + nN - 1) / nN + 1).toInt
    def h(salt: String): Column = conv(substring(md5(concat(lit(salt + ":"),
      col("agent").cast("string"), lit(":"), col("target").cast("string"))
      .cast("binary")), 1, 13), 16, 10).cast("long")
    val spine = sup.crossJoin(broadcast(nat))
      .withColumn("a_rank", row_number().over(
        Window.partitionBy(col("agent")).orderBy(h("gs1"), col("target")))
        .cast("long"))
      .withColumn("t_score", h("gs2"))
    graft.operators.Sharding.stableMatch(spine, cap)
      .select(col("agent").as("s_suppkey"),
        col("target").as("n_nationkey"), col("a_rank"))
      .orderBy(col("s_suppkey"))
  }

  // 10-round synchronized deferred-acceptance unroll
  query("q427_stable_match", q427)(Sql(stableMatchOracleSql))

  /** Orphan-file GC ([[graft.sources.TxLake.orphanFiles]] /
    * [[graft.sources.TxLake.gcOrphans]]): a crashed writer lands data
    * files but never fills its reservation — bytes no snapshot can
    * reach. The audit lists them (disk walk minus every entry's adds,
    * metadata-only), GC reclaims them, and the snapshot is provably
    * untouched. Readout: counts before/after + orphan row mass +
    * surviving snapshot rows.
    */
  private def q481(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    graft.sources.LocalFs.deleteRecursively(scratch(dir, "q481"))
    val lake = scratch(dir, "q481") + "/t"
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 2 === 0).repartition(3))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 2 === 1).repartition(3))
    // crashed writer: data landed under the next version dir, reservation
    // never filled — exactly the abandonPending residue
    val vNext = TxLake.latestVersion(lake) + 1
    o.filter(col("o_orderkey") % 97 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$lake/data/v$vNext")
    o.filter(col("o_orderkey") % 89 === 0).coalesce(1)
      .write.mode("append").parquet(s"$lake/data/v$vNext")
    val orphans = TxLake.orphanFiles(lake)
    val orphanRows =
      if (orphans.isEmpty) 0L else s.read.parquet(orphans: _*).count()
    val removed = TxLake.gcOrphans(lake)
    val after = TxLake.orphanFiles(lake).size
    val snapRows = TxLake.readSnapshot(s, lake).count()
    import s.implicits._
    Seq((orphans.size.toLong, orphanRows, removed.size.toLong,
      after.toLong, snapRows))
      .toDF("n_orphans", "orphan_rows", "n_removed", "n_after",
        "snapshot_rows")
  }

  // metadata-only: 2 injected crashed-writer files; orphan mass and
  // the untouched snapshot replay as plain counts
  query("q481_orphan_gc", q481)(Sql(
    """SELECT CAST(2 AS BIGINT) AS n_orphans, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 97 = 0) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 89 = 0) AS orphan_rows, CAST(2 AS BIGINT) AS n_removed, CAST(0 AS BIGINT) AS n_after, (SELECT COUNT(*) FROM orders) AS snapshot_rows"""))

  /** Clustering-depth audit ([[graft.operators.Layout.clusterDepthAudit]]):
    * the same orders laid out two ways — md5-hash-bucketed (unclustered)
    * vs key-range-bucketed (clustered) into 8 files each — then judged
    * from per-file [min,max] stats alone: overlapping file pairs and the
    * max overlap depth a point lookup pays. The range layout must read
    * 1 file where the hash layout reads all 8 — the measured argument
    * for q81/q164's layout writers.
    */
  private def q489(s: SparkSession, dir: String): DataFrame = {
    val k0 = T(s, dir, "orders").select(col("o_orderkey").cast("long").as("k"))
    val maxk = k0.agg(max(col("k"))).head().getLong(0) // one pinned scalar
    val width = maxk / 8 + 1
    val hashed = k0.select(lit("hash").as("layout"),
      (conv(substring(md5(col("k").cast("string")), 1, 13), 16, 10)
        .cast("long") % 8).as("file_id"), col("k"))
    val ranged = k0.select(lit("range").as("layout"),
      expr(s"(k - 1) div $width").as("file_id"), col("k"))
    val stats = hashed.unionByName(ranged)
      .groupBy(col("layout"), col("file_id"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    graft.operators.Layout.clusterDepthAudit(stats).orderBy(col("layout"))
  }

  // metadata-sized: per-file [min,max] from the portable md5-bucket /
  // range-bucket layouts; boundary sweep + interval self-join replay
  query("q489_cluster_depth", q489)(Sql(
    """WITH k0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders), mx AS (SELECT MAX(k) AS maxk FROM k0), f AS (SELECT 'hash' AS layout, CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 13)) AS BIGINT) % 8 AS fid, k FROM k0 UNION ALL SELECT 'range', (k - 1) // ((SELECT maxk FROM mx) // 8 + 1), k FROM k0), st AS (SELECT layout, fid, MIN(k) AS mn, MAX(k) AS mx2 FROM f GROUP BY 1, 2), ev AS (SELECT layout, mn AS pos, 1 AS delta FROM st UNION ALL SELECT layout, mx2 + 1, -1 FROM st), dep AS (SELECT layout, CAST(MAX(open) AS BIGINT) AS max_depth FROM (SELECT layout, SUM(delta) OVER (PARTITION BY layout ORDER BY pos, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open FROM ev) GROUP BY 1), pr AS (SELECT a.layout, COUNT(*) AS overlap_pairs FROM st a JOIN st b ON a.layout = b.layout AND a.fid < b.fid AND a.mn <= b.mx2 AND b.mn <= a.mx2 GROUP BY 1), nf AS (SELECT layout, COUNT(*) AS n_files FROM st GROUP BY 1) SELECT nf.layout, nf.n_files, COALESCE(pr.overlap_pairs, CAST(0 AS BIGINT)) AS overlap_pairs, dep.max_depth FROM nf LEFT JOIN pr ON nf.layout = pr.layout JOIN dep ON nf.layout = dep.layout ORDER BY nf.layout"""))

  /** Snapshot expiry ([[graft.sources.TxLake.expireSnapshots]]): trim
    * table history to the last 3 versions — a checkpoint lands AT the
    * cutoff, data files removed below it are vacuumed (before the log
    * trim erases their removes records), older entries drop; surviving
    * versions replay bit-identically, pre-cutoff time travel is gone by
    * design. Readout proves the reclaim AND the untouched snapshots.
    */
  private def q503(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    graft.sources.LocalFs.deleteRecursively(scratch(dir, "q503"))
    val lake = scratch(dir, "q503") + "/t"
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 2 === 1)) // v1
    // v2 overwrites: v1's files become removed-at-2 — reclaimable once
    // the cutoff moves past version 2
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 4 === 0),
      overwrite = true)
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 4 === 2)) // v3
    TxLake.commit(s, lake,
      o.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0)) // v4
    TxLake.commit(s, lake,
      o.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 1)) // v5
    val beforeLatest = TxLake.readSnapshot(s, lake).count()
    val beforeCutoff = TxLake.readSnapshot(s, lake, version = 3L).count()
    val (cutoff, dropped, reclaimed) = TxLake.expireSnapshots(lake, keepLast = 3)
    val afterLatest = TxLake.readSnapshot(s, lake).count()
    val afterCutoff = TxLake.readSnapshot(s, lake, version = 3L).count()
    val preCutoffRows = scala.util.Try(
      TxLake.readSnapshot(s, lake, version = 2L).count()).getOrElse(0L)
    import s.implicits._
    // reclaimed FILE count tracks the writer's partitioning — report the
    // boolean fact (v1's removed files were reclaimed), not the count
    Seq((cutoff, dropped, reclaimed > 0L,
      beforeLatest, afterLatest, beforeCutoff, afterCutoff, preCutoffRows))
      .toDF("cutoff", "n_dropped", "reclaimed", "rows_latest_before",
        "rows_latest_after", "rows_cutoff_before", "rows_cutoff_after",
        "rows_below_cutoff")
  }

  // declarative replay: cutoff/dropped are construction facts, row
  // masses derive from the same orderkey predicates, below-cutoff = 0
  query("q503_expire_snapshots", q503)(Sql(
    """SELECT CAST(3 AS BIGINT) AS cutoff, CAST(2 AS BIGINT) AS n_dropped, TRUE AS reclaimed, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 1) AS rows_latest_before, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 1) AS rows_latest_after, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS rows_cutoff_before, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS rows_cutoff_after, CAST(0 AS BIGINT) AS rows_below_cutoff"""))

  /** Lake log-health report: the observability surface an operator
    * watches before a 100 TB table's open cost degrades — latest
    * version, raw entry/checkpoint counts, [[TxLake.replayCount]] at
    * latest (entries a read parses after the newest checkpoint), orphan
    * count, snapshot mass. Built against a staged lake with a known
    * history (6 commits, checkpoint, 2 more, 1 injected orphan) so every
    * number is a construction fact.
    */
  private def q513(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    graft.sources.LocalFs.deleteRecursively(scratch(dir, "q513"))
    val lake = scratch(dir, "q513") + "/t"
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    (0 until 6).foreach(i =>
      TxLake.commit(s, lake, o.filter(col("o_orderkey") % 6 === i)))
    TxLake.checkpoint(lake) // summarizes v6
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 11 === 0))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 11 === 1))
    // crashed-writer residue: one parquet file no reservation ever saw
    val vNext = TxLake.latestVersion(lake) + 1
    o.filter(col("o_orderkey") % 97 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$lake/data/v$vNext")
    val logFiles = new java.io.File(s"$lake/_log").listFiles().map(_.getName)
    import s.implicits._
    Seq((TxLake.latestVersion(lake),
      logFiles.count(_.endsWith(".json")).toLong,
      logFiles.count(_.endsWith(".ckpt")).toLong,
      logFiles.filter(_.endsWith(".ckpt"))
        .map(_.stripPrefix("checkpoint-").stripSuffix(".ckpt").toLong).max,
      TxLake.replayCount(lake).toLong,
      TxLake.orphanFiles(lake).size.toLong,
      TxLake.readSnapshot(s, lake).count()))
      .toDF("latest_version", "n_log_entries", "n_checkpoints",
        "ckpt_version", "replay_at_latest", "n_orphans", "snapshot_rows")
  }

  // every number is a construction fact of the staged 8-version lake
  query("q513_log_health", q513)(Sql(
    """SELECT CAST(8 AS BIGINT) AS latest_version, CAST(8 AS BIGINT) AS n_log_entries, CAST(1 AS BIGINT) AS n_checkpoints, CAST(6 AS BIGINT) AS ckpt_version, CAST(2 AS BIGINT) AS replay_at_latest, CAST(1 AS BIGINT) AS n_orphans, (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 11 = 0) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 11 = 1) AS snapshot_rows"""))

  /** Iceberg-layout interop ([[graft.sources.IcebergLite]]): a TxLake
    * table (two append commits over orders) exports ZERO-COPY as an
    * Iceberg-shaped metadata chain — version hint → metadata json → avro
    * manifest list → avro manifests → data files referenced in place —
    * and the readout aggregates what came back from WALKING THE FOREIGN
    * CHAIN, never TxLake's log (the reference README's "Apache Iceberg
    * table format" noun, read-only scope). The query self-checks the
    * manifest accounting (chain row total == scanned rows) before
    * returning; snapshot_id is a construction fact (2 commits).
    */
  private def q528(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q528")
    graft.sources.LocalFs.deleteRecursively(root)
    val lake = s"$root/lake"
    val ice = s"$root/ice"
    val orders = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
    graft.sources.TxLake.commit(s, lake,
      orders.filter(col("o_orderkey") % 2 === 0))
    graft.sources.TxLake.commit(s, lake,
      orders.filter(col("o_orderkey") % 2 === 1))
    val snapId = graft.sources.IcebergLite.export(s, lake, ice)
    val back = graft.sources.IcebergLite.read(s, ice).localCheckpoint(true)
    val info = graft.sources.IcebergLite.snapshotInfo(s, ice)
    require(info._1 == snapId && info._4 == back.count(),
      "manifest chain accounting diverges from the scanned snapshot")
    back.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .withColumn("snapshot_id", lit(snapId))
      .orderBy(col("o_orderpriority"))
  }

  // what the foreign-layout chain walk must reproduce: the plain
  // aggregate over the exported rows; snapshot_id is a construction
  // fact (2 commits)
  query("q528_iceberg_export", q528)(Sql(
    """SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents, CAST(2 AS BIGINT) AS snapshot_id FROM (SELECT o_orderpriority, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders) GROUP BY 1 ORDER BY 1"""))

  /** Mixture quotas ([[graft.operators.Sharding.largestRemainder]]):
    * a 10,000-doc sampling budget apportioned across sources at corpus
    * proportions, Σquota = budget exactly — the data-mixture
    * arithmetic in front of corpus sampling.
    */
  private def q631(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sharding.largestRemainder(
      T(s, dir, "documents").select(col("source")), "source", 10000L)

  // integer Hamilton apportionment: floor quotas, leftover to the
  // largest remainders, one pinned share division
  query("q631_mixture_quota", q631)(Sql(
    """WITH cen AS (SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY 1), t AS (SELECT g, c, CAST(SUM(c) OVER () AS BIGINT) AS nt FROM cen), q AS (SELECT g, c, nt, CAST(10000 AS HUGEINT) * c AS num FROM t), q2 AS (SELECT g, c, nt, num % nt AS rem, CAST(num // nt AS BIGINT) AS base FROM q), q3 AS (SELECT *, 10000 - CAST(SUM(base) OVER () AS BIGINT) AS lft, CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, g) AS BIGINT) AS rk FROM q2) SELECT g, c AS n, round(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS share, base, base + CASE WHEN rk <= lft THEN 1 ELSE 0 END AS quota FROM q3 ORDER BY g"""))

  /** Iceberg-layout TIME TRAVEL ([[graft.sources.IcebergLite.readAt]]):
    * two exports of an advancing TxLake table leave both metadata chains
    * on disk; each snapshot reads back through its OWN foreign chain,
    * and the per-priority diff of the two reads is a construction fact
    * of the staged commits.
    */
  private def q554(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q554")
    graft.sources.LocalFs.deleteRecursively(root)
    val lake = s"$root/lake"
    val ice = s"$root/ice"
    val orders = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority"))
    graft.sources.TxLake.commit(s, lake,
      orders.filter(col("o_orderkey") % 2 === 0))
    val snap1 = graft.sources.IcebergLite.export(s, lake, ice)
    graft.sources.TxLake.commit(s, lake,
      orders.filter(col("o_orderkey") % 2 === 1))
    val snap2 = graft.sources.IcebergLite.export(s, lake, ice)
    val v1 = graft.sources.IcebergLite.readAt(s, ice, snap1)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_v1"))
    val v2 = graft.sources.IcebergLite.readAt(s, ice, snap2)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_v2"))
    v1.join(v2, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_v1"), col("n_v2"),
        (col("n_v2") - col("n_v1")).as("added"))
      .orderBy(col("o_orderpriority"))
  }

  // both foreign chains survive the re-export: per-priority counts of
  // the even-key commit vs the full table
  query("q554_iceberg_time_travel", q554)(Sql(
    """WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders), v1 AS (SELECT o_orderpriority, COUNT(*) AS n_v1 FROM o WHERE o_orderkey % 2 = 0 GROUP BY 1), v2 AS (SELECT o_orderpriority, COUNT(*) AS n_v2 FROM o GROUP BY 1) SELECT v1.o_orderpriority, v1.n_v1, v2.n_v2, v2.n_v2 - v1.n_v1 AS added FROM v1 JOIN v2 ON v1.o_orderpriority = v2.o_orderpriority ORDER BY 1"""))

  /** Merge-on-read MERGE ([[graft.sources.TxLake.upsertKeysDv]]) as a
    * batch surface: base customer table, an UPDATE wave (+11 cents on
    * every third key) and an INSERT wave (shadow keys for every seventh)
    * land as two atomic delta commits — appended rows + deletion-vector
    * masks in one entry each, NO data file rewritten (where q78's
    * copy-on-write MERGE rewrites every affected file) — then OPTIMIZE
    * materializes the masks into a clean snapshot. The readout
    * aggregates the post-OPTIMIZE table; the oracle computes the merged
    * state directly.
    */
  private def q529(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q529")
    graft.sources.LocalFs.deleteRecursively(root)
    val lake = s"$root/lake"
    val cust = T(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment"),
      (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
        .cast("long").as("cents"))
    graft.sources.TxLake.commit(s, lake, cust)
    graft.sources.TxLake.upsertKeysDv(s, lake,
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("cents", col("cents") + 11L), "c_custkey")
    graft.sources.TxLake.upsertKeysDv(s, lake,
      cust.filter(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          col("c_mktsegment"), (col("cents") - 5L).as("cents")),
      "c_custkey")
    require(graft.sources.TxLake.dvFiles(lake).nonEmpty,
      "the update wave must have landed deletion vectors")
    graft.sources.TxLake.optimize(s, lake, targetFiles = 4)
    graft.sources.TxLake.readSnapshot(s, lake)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy(col("c_mktsegment"))
  }

  // the merged state the two delta commits must produce: +11 cents on
  // every third key, shadow inserts for every seventh
  query("q529_merge_on_read", q529)(Sql(
    """WITH c AS (SELECT c_custkey, c_mktsegment, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM customer), merged AS (SELECT c_mktsegment, CASE WHEN c_custkey % 3 = 0 THEN cents + 11 ELSE cents END AS cents FROM c UNION ALL SELECT c_mktsegment, cents - 5 AS cents FROM c WHERE c_custkey % 7 = 0) SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents FROM merged GROUP BY 1 ORDER BY 1"""))

  /** Bland–Altman agreement ([[graft.operators.Reconcile.blandAltman]]):
    * order header price vs the order's summed line prices — bias and
    * 95% limits of agreement between the two "measurements" of the same
    * order, plus the outside-limits count; the calibrated follow-up to
    * q348's whether-they-differ fingerprints.
    */
  private def q450(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(expr(
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)")
        .as("li_cents"))
    val o = T(s, dir, "orders").select(col("o_orderkey"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("o_cents"))
    graft.operators.Reconcile.blandAltman(
      o.join(li, col("o_orderkey") === col("l_orderkey")),
      "o_cents", "li_cents")
  }

  // header-vs-detail bias and limits of agreement; exact diffs
  query("q450_bland_altman", q450)(Sql(
    """WITH li AS (SELECT l_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS lc FROM lineitem GROUP BY 1), o AS (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS oc FROM orders), d AS (SELECT oc - lc AS d FROM o JOIN li ON o_orderkey = l_orderkey), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(d AS DECIMAL(38,0))) AS s, SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))) AS ss FROM d), f AS (SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS bias, CASE WHEN n > 1 THEN sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS sd FROM m), f2 AS (SELECT *, bias - 1.959964 * sd AS lo, bias + 1.959964 * sd AS hi FROM f) SELECT f2.n, round(f2.bias, 6) AS bias, round(f2.sd, 6) AS sd_diff, round(f2.lo, 6) AS loa_lo, round(f2.hi, 6) AS loa_hi, CAST(SUM(CASE WHEN CAST(d.d AS DOUBLE) < f2.lo OR CAST(d.d AS DOUBLE) > f2.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outside FROM d, f2 GROUP BY 1, 2, 3, 4, 5"""))

  /** MERKLE-TREE table diff ([[graft.operators.Reconcile.merkleDiff]]):
    * orders vs a deterministically drifted copy (every 997th key's
    * price bumped one cent) — the anti-entropy reconciliation that
    * finds every differing leaf range at log descent cost; q348's XOR
    * fingerprint generalized to a range tree.
    */
  private def q401(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("cents"))
    val drifted = base.withColumn("cents",
      when(pmod(col("o_orderkey"), lit(997L)) === 0L, col("cents") + 1L)
        .otherwise(col("cents")))
    graft.operators.Reconcile.merkleDiff(base, drifted,
      Seq("o_orderkey", "o_orderstatus", "cents"), buckets = 1024,
      fanout = 32).orderBy(col("leaf"))
  }

  // content-addressed leaves; only differing ones survive the diff
  query("q401_merkle_diff", q401)(Sql(
    """WITH base AS (SELECT o_orderkey, o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders), drift AS (SELECT o_orderkey, o_orderstatus, CASE WHEN o_orderkey % 997 = 0 THEN cents + 1 ELSE cents END AS cents FROM base), ha AS (SELECT CAST(concat('0x', substr(md5(concat_ws('|', coalesce(CAST(o_orderkey AS VARCHAR), chr(0)), coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)), coalesce(CAST(cents AS VARCHAR), chr(0)))), 1, 13)) AS BIGINT) AS h FROM base), hb AS (SELECT CAST(concat('0x', substr(md5(concat_ws('|', coalesce(CAST(o_orderkey AS VARCHAR), chr(0)), coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)), coalesce(CAST(cents AS VARCHAR), chr(0)))), 1, 13)) AS BIGINT) AS h FROM drift), la AS (SELECT h % 1024 AS leaf, CAST(COUNT(*) AS BIGINT) AS n_a, CAST(bit_xor(h) AS BIGINT) AS fp_a FROM ha GROUP BY 1), lb AS (SELECT h % 1024 AS leaf, CAST(COUNT(*) AS BIGINT) AS n_b, CAST(bit_xor(h) AS BIGINT) AS fp_b FROM hb GROUP BY 1), j AS (SELECT COALESCE(la.leaf, lb.leaf) AS leaf, CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a, CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b, CAST(COALESCE(fp_a, 0) AS BIGINT) AS fp_a, CAST(COALESCE(fp_b, 0) AS BIGINT) AS fp_b FROM la FULL OUTER JOIN lb ON la.leaf = lb.leaf) SELECT leaf, CAST(leaf // 32 AS BIGINT) AS node, n_a, n_b, fp_a, fp_b FROM j WHERE fp_a <> fp_b OR n_a <> n_b ORDER BY leaf"""))

  /** Metadata-only retention ([[graft.sources.TxLake.dropWhereExpired]]):
    * day-aligned ingests carry logged per-file day stats; a TTL cut at
    * the first tertile boundary expires the oldest third via ONE log
    * entry with zero data I/O — expiry cuts ALONG files, deleteWhere cuts
    * through them. The read-back must equal the plain day-filtered
    * aggregate.
    */
  private def q265(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q265") + "/lake"
    graft.sources.LocalFs.deleteRecursively(lake)
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        expr("(ts div 1000000000) div 86400").as("day"))
    val b = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val (b1, b2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    Seq(col("day") <= b1, col("day") > b1 && col("day") <= b2, col("day") > b2)
      .foreach(c => TxLake.commit(s, lake, ev.filter(c), statsCols = Seq("day")))
    TxLake.dropWhereExpired(lake, "day", cutoff = b1 + 1)
    TxLake.readSnapshot(s, lake)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  // the metadata-only drop must equal the plain day filter; the tertile
  // boundary replays as the same integer arithmetic
  query("q265_retention_drop", q265)(Sql(
    s"""WITH d AS (SELECT event_type, value, epoch_ns(ts) // 1000000000 // 86400 AS day FROM events), b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d) SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM d, b WHERE day > lo + (hi - lo) // 3 GROUP BY 1 ORDER BY 1"""))

  /** Heterogeneous-source federation: the same logical table served from
    * three formats at once (parquet + CSV + Avro via
    * [[graft.sources.AvroIo]]), unioned under one explicit schema and
    * aggregated — the "read everything the lake has accumulated" path a
    * long-lived pipeline grows into. Catalyst prunes and pushes into each
    * source independently; the CSV leg round-trips doubles through text
    * losslessly (Spark writes shortest-round-trip representations).
    */
  private def q266(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.AvroIo
    val root = scratch(dir, "q266")
    graft.sources.LocalFs.deleteRecursively(root)
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$root/pq")
    ev.filter(col("event_id") % 3 === 1)
      .write.mode("overwrite").option("header", "true").csv(s"$root/csv")
    AvroIo.write(ev.filter(col("event_id") % 3 === 2), s"$root/avro")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema).parquet(s"$root/pq")
      .unionByName(s.read.schema(schema).option("header", "true").csv(s"$root/csv"))
      .unionByName(AvroIo.read(s, s"$root/avro", schema))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  // a three-format federation of disjoint thirds must equal the plain
  // aggregate: every leg is lossless for long/string/double
  query("q266_federated_union", q266)(Sql(
    s"""SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Zero-copy SHALLOW CLONE ([[graft.sources.TxLake.cloneTable]]): the
    * clone references the source's files by path in ONE metadata write,
    * then both tables evolve independently — an append and a DELETE land
    * only in the clone; a later source commit is invisible to the clone.
    * The dev/staging-sandbox idiom over a 100 TB production table.
    */
  private def q278(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val root = scratch(dir, "q278")
    graft.sources.LocalFs.deleteRecursively(root)
    val src = root + "/src"; val cl = root + "/clone"
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    TxLake.commit(s, src, o.filter(col("o_orderkey") % 3 === 0))
    TxLake.cloneTable(src, cl)
    TxLake.commit(s, cl, o.filter(col("o_orderkey") % 3 === 1))
    TxLake.deleteWhere(s, cl, col("o_orderstatus") === "F")
    TxLake.commit(s, src, o.filter(col("o_orderkey") % 3 === 2))
    def side(p: String, tag: String) = TxLake.readSnapshot(s, p)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
      .withColumn("side", lit(tag))
    side(src, "src").unionByName(side(cl, "clone"))
      .select(col("side"), col("o_orderstatus"), col("n"), col("total"))
      .orderBy(col("side"), col("o_orderstatus"))
  }

  // src = thirds 0∪2; clone = thirds 0∪1 minus status F — the two
  // divergent evolutions must both read back exactly
  query("q278_lake_clone", q278)(Sql(
    """WITH o AS (SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders) SELECT 'src' AS side, o_orderstatus, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total FROM o WHERE o_orderkey % 3 IN (0, 2) GROUP BY 2 UNION ALL SELECT 'clone', o_orderstatus, COUNT(*), CAST(SUM(price) AS DOUBLE) FROM o WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus <> 'F' GROUP BY 2 ORDER BY side, o_orderstatus"""))

  /** Predicate-scoped atomic overwrite ([[graft.sources.TxLake
    * .replaceWhere]]): recompute the middle day's events (values doubled)
    * and replace EXACTLY that day in one commit — the day-partition
    * backfill idiom, with the out-of-scope guard that keeps a stray row
    * from corrupting a neighboring day. Read-back equals the day-patched
    * aggregate.
    */
  private def q280(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q280") + "/lake"
    graft.sources.LocalFs.deleteRecursively(lake)
    val e = T(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value").cast(DecimalType(18, 2)).as("v"),
      expr("(ts div 1000000000) div 86400").as("day"))
    TxLake.commit(s, lake, e)
    val b = e.agg(min(col("day")), max(col("day"))).collect()(0)
    val d = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val corrected = e.filter(col("day") === d)
      .withColumn("v", (col("v") * 2).cast(DecimalType(18, 2)))
    TxLake.replaceWhere(s, lake, col("day") === d, corrected)
    TxLake.readSnapshot(s, lake)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("total"))
      .orderBy(col("event_type"))
  }

  // read-back equals the day-patched aggregate: middle day doubled,
  // every other day untouched — same integer day arithmetic
  query("q280_replace_where", q280)(Sql(
    """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v, epoch_ns(ts) // 1000000000 // 86400 AS day FROM events), b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e) SELECT event_type, COUNT(*) AS n, CAST(SUM(CASE WHEN day = lo + (hi - lo) // 2 THEN CAST(v * 2 AS DECIMAL(18,2)) ELSE v END) AS DOUBLE) AS total FROM e, b GROUP BY 1 ORDER BY 1"""))

  /** Incremental secondary-index maintenance
    * ([[graft.sources.TxLake.refreshBloomIndex]]): build the bloom index
    * once, run a MERGE that rewrites some files and adds others, then
    * refresh the index at O(delta files) data cost — carried files keep
    * their blooms from the index itself, removed files' rows are dropped
    * (a stale candidate must never resurrect rewritten rows). Point
    * lookups through the refreshed index must see exactly the post-merge
    * truth.
    */
  private def q289(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.TxLake
    val root = scratch(dir, "q289")
    graft.sources.LocalFs.deleteRecursively(root)
    val lake = root + "/lake"; val idx = root + "/idx"
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    (0 until 3).foreach(t =>
      TxLake.commit(s, lake, o.filter(col("o_orderkey") % 3 === t)))
    TxLake.buildBloomIndex(s, lake, "o_orderkey", idx)
    // %150 keys are ≡ 0 (mod 3): the merge touches only commit-0's files,
    // so commits 1 and 2 must carry their blooms through the refresh.
    // Synthetic insert keys derive from max(o_orderkey) — a fixed literal
    // would collide again at a large enough scale factor (r6 lesson).
    val base = (o.agg(max(col("o_orderkey"))).head().getLong(0) /
      1000000L + 1L) * 1000000L
    val updates = o.filter(col("o_orderkey") % 150 === 0)
      .withColumn("price", (col("price") * 2).cast(DecimalType(18, 2)))
      .unionByName(s.range(base + 1L, base + 6L).select(col("id").as("o_orderkey"),
        lit(0L).as("o_custkey"), lit("N").as("o_orderstatus"),
        lit("1.00").cast(DecimalType(18, 2)).as("price")))
    TxLake.mergeByKey(s, lake, updates, "o_orderkey")
    val (nNew, _, nKept) = TxLake.refreshBloomIndex(s, lake, "o_orderkey", idx)
    require(nNew > 0, "merge must have produced unindexed files")
    require(nKept > 0, "untouched files must carry their blooms over")
    TxLake.readByKeysBloom(s, lake, idx,
        Seq(150L, 300L, 301L, base + 3L).toDF("k"))
      .filter(col("o_orderkey").isin(150L, 300L, 301L, base + 3L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"))
      .orderBy(col("o_orderkey"))
  }

  // point lookups through the refreshed index: doubled %50 prices plus
  // the merged-in synthetic key — derived directly, not replayed
  query("q289_bloom_refresh", q289)(Sql(
    """SELECT o_orderkey, o_custkey, o_orderstatus, CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS DOUBLE) AS price FROM orders WHERE o_orderkey IN (150, 300) UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) FROM orders WHERE o_orderkey = 301 UNION ALL SELECT CAST((MAX(o_orderkey) // 1000000 + 1) * 1000000 + 3 AS BIGINT), 0, 'N', 1.0 FROM orders ORDER BY o_orderkey"""))

  /** Three-replica golden-source election
    * ([[graft.operators.Reconcile.majorityVote]]): field-level majority
    * across replicas with injected divergences (a price drift, a status
    * corruption, a missing-key outage) — the quorum DECIDES where q130's
    * two-way diff could only flag. The oracle derives the expected
    * report independently from the divergence rules, not by replay.
    */
  private def q290(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    val r2 = o.withColumn("price",
      when(col("o_orderkey") % 31 === 0,
        (col("price") + 1).cast(DecimalType(18, 2))).otherwise(col("price")))
    val r3 = o.filter(col("o_orderkey") % 41 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 37 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
    graft.operators.Reconcile.majorityVote(o, r2, r3, "o_orderkey",
        Seq("o_orderstatus", "price"))
      .filter(col("n_conflict_fields") > 0 || col("n_present") < 3)
      .select(col("o_orderkey"), col("n_present"), col("o_orderstatus"),
        col("price").cast("double").as("price"),
        col("n_conflict_fields"), col("n_unresolved"))
      .orderBy(col("o_orderkey"))
  }

  // the expected conflict report derived independently from the
  // injected divergence rules: %31 price drift, %37 status corruption
  // (only where replica 3 exists), %41 outage
  query("q290_majority_reconcile", q290)(Sql(
    """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders) SELECT k AS o_orderkey, CAST(CASE WHEN k % 41 = 0 THEN 2 ELSE 3 END AS BIGINT) AS n_present, st AS o_orderstatus, CAST(price AS DOUBLE) AS price, CAST((CASE WHEN k % 31 = 0 THEN 1 ELSE 0 END) + (CASE WHEN k % 37 = 0 AND k % 41 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict_fields, CAST(0 AS BIGINT) AS n_unresolved FROM o WHERE k % 31 = 0 OR (k % 37 = 0 AND k % 41 <> 0) OR k % 41 = 0 ORDER BY k"""))

  /** SQL-text column lineage ([[graft.plans.Lineage.columnLineageSql]]):
    * the q298 walker anchored on VIEW NAMES instead of DataFrame objects
    * — the shape a catalog needs, since production queries arrive as SQL
    * text over registered tables, not as in-process frames. The boundary
    * is the `SubqueryAlias` the analyzer wraps around each resolved
    * view; the oracle is the independently hand-derived edge list.
    */
  private def q307(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "orders").createOrReplaceTempView("orders_v")
    T(s, dir, "customer").createOrReplaceTempView("customer_v")
    val q = s.sql("""
      SELECT c.c_mktsegment AS segment,
             count(*) AS n_orders,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             upper(c.c_mktsegment) AS segment_uc,
             'audited' AS tag
      FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment""")
    graft.plans.Lineage.columnLineageSql(q, Set("orders_v", "customer_v"))
      .orderBy(col("out_col"), col("src_table"), col("src_col"))
  }

  // the expected edge list derived by hand from the SQL text's shape;
  // view-name boundaries, literals/count(*) report (NULL, NULL)
  query("q307_lineage_sql", q307)(Sql(
    """SELECT * FROM (VALUES ('segment', 'customer_v', 'c_mktsegment'), ('n_orders', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)), ('revenue', 'orders_v', 'o_totalprice'), ('segment_uc', 'customer_v', 'c_mktsegment'), ('tag', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))) AS t(out_col, src_table, src_col) ORDER BY out_col, src_table, src_col"""))

  /** Write–Audit–Publish ([[graft.sources.TxLake.publishBranch]]): batch
    * 1 lands directly; batch 2 stages on a zero-copy branch, passes its
    * audit, and publishes as one atomic data-free log commit; batch 3
    * (deliberately poisoned with negative prices) stages on a second
    * branch, FAILS its audit, and is never published — the parent table
    * must show exactly batches 1 and 2.
    */
  private def q263(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLake
    val lake = scratch(dir, "q263") + "/lake"
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    TxLake.commit(s, lake, o.filter(col("o_orderkey") % 3 === 0))
    def stageAuditPublish(name: String, batch: DataFrame): Unit = {
      val br = TxLake.branch(lake, name)
      TxLake.commit(s, br, batch)
      // the audit runs against the STAGED snapshot (base + batch), the
      // exact bytes a publish would make visible
      val violations = TxLake.readSnapshot(s, br)
        .filter(col("price") <= 0 || col("o_orderstatus").isNull).count()
      if (violations == 0L) TxLake.publishBranch(lake, name, tag = name)
    }
    stageAuditPublish("wap_good", o.filter(col("o_orderkey") % 3 === 1))
    stageAuditPublish("wap_bad",
      o.filter(col("o_orderkey") % 3 === 2)
        .withColumn("price", negate(col("price"))))
    TxLake.readSnapshot(s, lake)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  // only the audited batches are visible: thirds 0 (direct) and 1
  // (published); the poisoned third 2 fails its audit and never lands
  query("q263_wap_publish", q263)(Sql(
    """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1 ORDER BY 1"""))

  /** Lake HISTORY metadata table — the `DESCRIBE HISTORY` surface: one row
    * per commit with its tag, rows added (logged at commit time), and the
    * table's total row count AS OF that version — all answered from the
    * transaction log and its per-file row accounting (q212), zero data
    * files opened. The driver-visible result is fully declarative because
    * the three tagged ingests partition the orders table by key thirds.
    */
  private def q246(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "q246")
    graft.sources.LocalFs.deleteRecursively(root)
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    (0 until 3).foreach { t =>
      TxLake.commit(s, root, o.filter(col("o_orderkey") % 3 === t),
        tag = s"ingest-$t")
    }
    val rows = TxLake.commitAddCounts(root).map { case (v, tag, added) =>
      (v, tag, added, TxLake.countRows(s, root, v).getOrElse(-1L))
    }
    s.createDataFrame(rows).toDF("version", "tag", "rows_added", "total_rows")
      .orderBy(col("version"))
  }

  // the three tagged ingests partition orders by key thirds, so the
  // log-derived history replays as plain counts + running totals
  query("q246_lake_history", q246)(Sql(
    """WITH t AS (SELECT CAST(COUNT(*) FILTER (o_orderkey % 3 = 0) AS BIGINT) AS c0, CAST(COUNT(*) FILTER (o_orderkey % 3 = 1) AS BIGINT) AS c1, CAST(COUNT(*) FILTER (o_orderkey % 3 = 2) AS BIGINT) AS c2 FROM orders) SELECT CAST(1 AS BIGINT) AS version, 'ingest-0' AS tag, c0 AS rows_added, c0 AS total_rows FROM t UNION ALL SELECT 2, 'ingest-1', c1, c0 + c1 FROM t UNION ALL SELECT 3, 'ingest-2', c2, c0 + c1 + c2 FROM t ORDER BY version"""))

  /** Incremental AGGREGATE-over-JOIN view maintenance
    * ([[graft.operators.Incremental.mergeAggJoinAppend]]): the monthly
    * revenue-per-nation rollup is initialized from one fact slice, then
    * maintained by two append deltas — each enriched against the
    * customer→nation dimension, aggregated to the view grain, and merged
    * into only the touched partitions. Read-back equals the full
    * recompute (the oracle): γ-merge(V, γ(ΔA ⋈ B)) = γ(A ⋈ B).
    */
  private def q201(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q201")
    graft.sources.LocalFs.deleteRecursively(lake)
    val dim = T(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      .join(T(s, dir, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name")),
        Seq("c_nationkey"))
      .select(col("o_custkey"), col("n_name"))
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      substring(col("o_orderdate").cast("string"), 1, 7).as("month_id"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    def slice(i: Int) = o.filter(pmod(col("o_orderkey"), lit(3)) === i)
    val init = slice(0).join(dim, Seq("o_custkey"))
      .groupBy(col("month_id"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), sum(col("price")).as("revenue"))
    PartitionedLake.writeAll(init, lake, Seq("month_id"))
    for (i <- 1 to 2)
      graft.operators.Incremental.mergeAggJoinAppend(s, lake, slice(i), dim,
        joinKey = "o_custkey", keyCols = Seq("n_name"), partCol = "month_id",
        measures = Seq("n_orders" -> count(lit(1)), "revenue" -> sum(col("price"))))
    PartitionedLake.read(s, lake)
      .select(col("month_id").cast("string").as("month_id"), col("n_name"),
        col("n_orders"), col("revenue").cast("double").as("revenue"))
      .orderBy(col("month_id"), col("n_name"))
  }

  query("q201_ivm_agg_join", q201)(Sql(
    """SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month_id, n_name, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Quarantine ingest flow ([[graft.operators.Quality.quarantineSplit]]):
    * a feed with injected bad rows (negative prices, null statuses) is
    * routed row-by-row — clean rows commit to the main table, failures to
    * a dead-letter table tagged with every failed check — instead of
    * q168's all-or-nothing rejection. Output = main-table aggregate ∪
    * quarantine triage counts, both read back from their lakes.
    */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val lakeM = scratch(dir, "q202_main")
    val lakeQ = scratch(dir, "q202_quar")
    graft.sources.LocalFs.deleteRecursively(lakeM)
    graft.sources.LocalFs.deleteRecursively(lakeQ)
    val o = T(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 103 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 101 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    val (clean, quarantined) = graft.operators.Quality.quarantineSplit(o, Seq(
      "price_positive" -> (col("o_totalprice") > 0),
      "status_present" -> col("o_orderstatus").isNotNull))
    TxLake.commit(s, lakeM, clean)
    TxLake.commit(s, lakeQ, quarantined)
    val main = TxLake.readSnapshot(s, lakeM)
      .groupBy(col("o_orderstatus").as("key"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total"))
      .withColumn("part", lit("main"))
    val quar = TxLake.readSnapshot(s, lakeQ)
      .groupBy(col("reasons").as("key"))
      .agg(count(lit(1)).as("n"),
        lit(null).cast("double").as("total"))
      .withColumn("part", lit("quarantine"))
    main.unionByName(quar).orderBy(col("part"), col("key"))
  }

  query("q202_quarantine", q202)(Sql(
    """WITH inj AS (SELECT o_orderkey, CASE WHEN o_orderkey % 103 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus, CASE WHEN o_orderkey % 101 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice FROM orders), split AS (SELECT *, coalesce(o_totalprice > 0, false) AND coalesce(o_orderstatus IS NOT NULL, false) AS ok, concat_ws(',', CASE WHEN NOT coalesce(o_totalprice > 0, false) THEN 'price_positive' END, CASE WHEN NOT coalesce(o_orderstatus IS NOT NULL, false) THEN 'status_present' END) AS reasons FROM inj) SELECT 'main' AS part, o_orderstatus AS key, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM split WHERE ok GROUP BY o_orderstatus UNION ALL SELECT 'quarantine' AS part, reasons AS key, COUNT(*) AS n, CAST(NULL AS DOUBLE) AS total FROM split WHERE NOT ok GROUP BY reasons ORDER BY part, key"""))

  /** Anti-entropy REPAIR ([[graft.operators.Reconcile.repair]]): q130's
    * drifted replica (bumped balances, dropped keys, one orphan) is
    * committed as a TxLake table, repaired from the source — orphans
    * removed by deletion vector, drift upserted by affected-file MERGE —
    * and proved converged in-gate (diffKeys re-run is empty). The oracle
    * is simply the SOURCE's aggregate: repair must make the replica
    * indistinguishable from it.
    */
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q198")
    graft.sources.LocalFs.deleteRecursively(lake)
    val a = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast(DecimalType(12, 2)).as("c_acctbal"),
        col("c_mktsegment"))
    val b = a.filter(col("c_custkey") % 89 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 97 === 0, col("c_acctbal") + 1)
          .otherwise(col("c_acctbal")))
      .unionByName(s.sql(
        """SELECT CAST(10000000 AS BIGINT) AS c_custkey, 'Customer#drift' AS c_name,
          |CAST(0 AS INT) AS c_nationkey, CAST(1.00 AS DECIMAL(12,2)) AS c_acctbal,
          |'BUILDING' AS c_mktsegment""".stripMargin))
    TxLake.commit(s, lake, b.repartition(4, col("c_custkey")))
    val (nDel, nUp) = graft.operators.Reconcile.repair(s, a, lake, "c_custkey", 64)
    require(nDel >= 1 && nUp >= 2, s"injected drift must be found ($nDel, $nUp)")
    val repaired = TxLake.readSnapshot(s, lake)
    require(graft.operators.Reconcile.diffKeys(a, repaired, "c_custkey", 64).isEmpty,
      "repair must converge to the source")
    repaired
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal")).cast("double").as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  query("q198_reconcile_repair", q198)(Sql(
    """SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Secondary key index over the lake ([[TxLake.buildKeyIndex]] /
    * [[TxLake.readByKeys]]): point lookups on a HASH-SCATTERED table,
    * where every file's [min, max] spans the whole key range and range
    * skipping (q125/q182) prunes nothing — the inverted key→file map
    * still opens only the files that contain probed keys (asserted
    * in-gate: fewer files than active).
    */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q196")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    // hash-scattered layout: 3 commits × 2 files, split by CUSTOMER hash,
    // so order keys spread across every file
    for (i <- 0 to 2)
      TxLake.commit(s, lake,
        o.filter(pmod(col("o_orderkey"), lit(3)) === i)
          .repartition(2, col("o_custkey")))
    TxLake.buildKeyIndex(s, lake, "o_orderkey", s"$lake/_idx")
    // a point lookup is a HANDFUL of keys by definition — the 3 smallest
    // order keys land in 3 different mod-3 commits, so at most 3 of the
    // 6 files can contain them
    val keys = o.orderBy(col("o_orderkey")).limit(3)
      .select(col("o_orderkey").as("key"))
    val keySet = keys.collect().map(_.getLong(0))
    val opened = TxLake.filesForKeys(s, lake, s"$lake/_idx", keys)
    require(opened.nonEmpty && opened.size < 6,
      s"index must prune the 6-file layout, opened ${opened.size}")
    TxLake.readByKeys(s, lake, s"$lake/_idx", keys)
      .filter(col("o_orderkey").isin(keySet.map(x => x: Any): _*))
      .orderBy(col("o_orderkey"))
  }

  query("q196_key_index", q196)(Sql(
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3) ORDER BY o_orderkey"""))

  /** CHECK-constrained commits ([[TxLake.commitChecked]]): the valid load
    * lands; a violating commit is rejected before any version is
    * reserved, and the table is provably untouched by it.
    */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val lake = scratch(dir, "q168")
    graft.sources.LocalFs.deleteRecursively(lake)
    val o = T(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderstatus"))
    TxLake.commitChecked(s, lake, o, Seq(
      "price_positive" -> (col("o_totalprice") > 0),
      "key_present" -> col("o_orderkey").isNotNull))
    val violating = o.withColumn("o_totalprice", -col("o_totalprice"))
    val rejected =
      try {
        TxLake.commitChecked(s, lake, violating,
          Seq("price_positive" -> (col("o_totalprice") > 0)))
        false
      } catch { case _: IllegalArgumentException => true }
    require(rejected, "violating commit must be rejected")
    require(TxLake.latestVersion(lake) == 1L,
      "a rejected commit must leave no version behind")
    TxLake.readSnapshot(s, lake)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumx(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  // the constrained table is just the valid load (the violating commit
  // must be invisible), so the aggregate replays plainly
  query("q168_checked_commit", q168)(Sql(
    """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM orders GROUP BY 1 ORDER BY o_orderstatus"""))

  /** q427 replay: the synchronized deferred-acceptance rounds as a
    * fixed unroll over the one-integer-per-agent state — live agents
    * occupy their rank-(ptr+1) target, each target keeps its cap best,
    * rejections advance ptr; rounds past the fixpoint are no-ops.
    */
  private val stableMatchOracleSql: String = {
    val rounds = 10
    val sb = new StringBuilder(
      "WITH ag AS (SELECT s_suppkey AS agent FROM supplier), " +
        "tg AS (SELECT n_nationkey AS target FROM nation), " +
        "sp AS MATERIALIZED (SELECT agent, target, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY agent ORDER BY CAST(concat('0x', substr(md5(concat('gs1:', CAST(agent AS VARCHAR), ':', CAST(target AS VARCHAR))), 1, 13)) AS BIGINT), target) AS BIGINT) AS a_rank, " +
        "CAST(concat('0x', substr(md5(concat('gs2:', CAST(agent AS VARCHAR), ':', CAST(target AS VARCHAR))), 1, 13)) AS BIGINT) AS t_score FROM ag, tg), " +
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tg), " +
        "cp AS (SELECT ((SELECT CAST(COUNT(*) AS BIGINT) FROM ag) + n - 1) // n + 1 AS cap FROM nt), " +
        "st0 AS (SELECT agent, CAST(0 AS BIGINT) AS ptr FROM ag)")
    for (t <- 1 to rounds) {
      sb.append(s", occ$t AS (SELECT st.agent, sp.target, sp.t_score FROM st${t - 1} st JOIN sp ON sp.agent = st.agent AND sp.a_rank = st.ptr + 1, nt WHERE st.ptr < nt.n)")
      sb.append(s", kp$t AS (SELECT agent FROM (SELECT agent, ROW_NUMBER() OVER (PARTITION BY target ORDER BY t_score, agent) AS rk FROM occ$t) WHERE rk <= (SELECT cap FROM cp))")
      sb.append(s", st$t AS MATERIALIZED (SELECT st.agent, st.ptr + CASE WHEN o.agent IS NOT NULL AND k.agent IS NULL THEN 1 ELSE 0 END AS ptr FROM st${t - 1} st LEFT JOIN (SELECT DISTINCT agent FROM occ$t) o ON o.agent = st.agent LEFT JOIN kp$t k ON k.agent = st.agent)")
    }
    sb.append(s" SELECT st.agent AS s_suppkey, sp.target AS n_nationkey, sp.a_rank FROM st$rounds st LEFT JOIN sp ON sp.agent = st.agent AND sp.a_rank = st.ptr + 1 ORDER BY s_suppkey")
    sb.toString
  }

  /** N-ary Morton bit-interleave replayed in SQL (mirrors
    * Layout.zorderValueN: bit i of key j → position k*i + j).
    */
  private def zorderSqlN(bits: Int, keys: Seq[String]): String = {
    val m = (1L << bits) - 1
    val k = keys.size
    (for { i <- 0 until bits; (c, j) <- keys.zipWithIndex }
      yield s"((((($c) & $m) >> $i) & 1) << ${k * i + j})")
      .mkString("(", " | ", ")")
  }

  private def zorderSql(x: String, y: String, bits: Int = 16): String =
    zorderSqlN(bits, Seq(x, y))

  /** DuckDB replay of [[graft.plans.HilbertIndex2]]'s xy2d walk: a
    * list_reduce fold over the bit levels (top bit first), flip with the
    * constant n−1 exactly like the engine's loop. The (x, y, d) state is
    * PACKED INTO ONE BIGINT (x·2^3b | y·2^2b | d, so 4·bits ≤ 62) and
    * every branch is arithmetic (rx·… + (1−rx)·…): DuckDB 1.0's
    * list_reduce evaluates struct_pack accumulator fields IN PLACE when
    * the lambda also references the element — a later field reading
    * `a['x']` sees the already-overwritten value — so a struct state or
    * a CASE over it silently computes the wrong walk (found while
    * gating q355; the scalar fold measured exact on 20k random points).
    */
  private def hilbertSql(x: String, y: String, bits: Int): String = {
    require(4 * bits <= 62, s"packed hilbert oracle needs 4*bits <= 62")
    val m = (1L << bits) - 1
    val dmask = (1L << (2 * bits)) - 1
    val ys = 2 * bits
    val xs = 3 * bits
    val ax = s"(a >> $xs)"
    val ay = s"((a >> $ys) & $m)"
    val rx = s"((($ax) // e) & 1)"
    val ry = s"((($ay) // e) & 1)"
    s"(list_reduce(list_prepend(" +
      s"CAST((($x) & $m) AS BIGINT) * ${1L << xs} + " +
      s"CAST((($y) & $m) AS BIGINT) * ${1L << ys}, " +
      s"list_transform(range(0, $bits), i -> " +
      s"(CAST(1 AS BIGINT) << (${bits - 1} - i)))), " +
      s"(a, e) -> " +
      s"($ry * $ax + (1 - $ry) * ($rx * ($m - $ay) + (1 - $rx) * $ay)) * ${1L << xs} + " +
      s"($ry * $ay + (1 - $ry) * ($rx * ($m - $ax) + (1 - $rx) * $ax)) * ${1L << ys} + " +
      s"(a & $dmask) + e * e * xor(3 * $rx, $ry)) & $dmask)"
  }
}
