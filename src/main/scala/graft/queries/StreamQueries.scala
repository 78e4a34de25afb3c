package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Oracle.{SameAs, Sql}
import Shared._
import TextQueries.q49

/** Queries that start (and drain) a real Structured Streaming query,
  * with the staging of their micro-batch inputs.
  */
private[queries] object StreamQueries extends Family {
  /** The flatMapGroupsWithState sessionizer inside the oracle gate:
    * sentinel-staged input advances the watermark past every real
    * session's timeout, so the drained append output hash-matches the
    * batch gap-split sessionization.
    */
  private def q107(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.customStateSessions(s, q92Events(s, dir))
      .select(col("user_id"), col("start_sec"), col("end_sec"),
        col("n_events").cast("long").as("n_events"))
      .orderBy(col("user_id"), col("start_sec"))

  // batch gap-split sessionization — what the streaming custom-state
  // operator must converge to once the sentinel flushes all state
  query("q107_stream_custom_state", q107, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), s AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), t AS (SELECT user_id, sec, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s) SELECT user_id, MIN(sec) AS start_sec, MAX(sec) AS end_sec, COUNT(*) AS n_events FROM t GROUP BY user_id, session_id ORDER BY user_id, start_sec"""))

  /** Exactly-once streaming sink: micro-batches commit into the
    * transaction-log lake keyed by batchId, a deliberate duplicate
    * delivery is absorbed by the tag, and the read-back aggregate
    * hash-matches the batch answer ([[graft.streaming.StreamVerify.exactlyOnceLake]]).
    */
  private def q121(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.exactlyOnceLake(s, eventsPath(dir), scratch(dir, "q121"))
      .groupBy(col("date_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("date_id"), col("event_type"))

  query("q121_exactly_once_sink", q121, streaming = true)(Sql(
    s"""SELECT strftime(ts, '%Y-%m-%d') AS date_id, event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY 1, 2 ORDER BY date_id, event_type"""))

  /** Streaming CDC apply ([[graft.streaming.StreamVerify.cdcApply]]): the
    * two-file staged stream merges batch-by-batch into TxLake via the
    * recency-conditional MERGE, converging on the global
    * latest-event-per-user no matter which batch carried it.
    */
  private def q165(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.cdcApply(
      s, q135Events(s, dir), scratch(dir, "q165"))
      .orderBy(col("user_id"))

  // the converged CDC table is the global latest event per user by
  // (sec, event_id) — batch-split must be invisible
  query("q165_stream_cdc_apply", q165, streaming = true)(Sql(
    """SELECT user_id, event_id, event_type, value, sec FROM (SELECT user_id, event_id, event_type, value, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY CAST(epoch_ns(ts) // 1000000000 AS BIGINT) DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 ORDER BY user_id"""))

  /** Checkpointed AvailableNow resume
    * ([[graft.streaming.StreamVerify.incrementalResume]]): two batch-cadence
    * runs over an arriving-file source, second run resumes the checkpoint
    * and must process ONLY the new file — re-reads or drops corrupt the
    * oracle hash by construction.
    */
  private def q180(s: SparkSession, dir: String): DataFrame = {
    val staged = q135Events(s, dir)
    graft.streaming.StreamVerify.incrementalResume(
      s, s"$staged/a_even.parquet", s"$staged/b_odd.parquet",
      scratch(dir, "q180"))
      .orderBy(col("date_id"))
  }

  // both halves land exactly once across the two checkpointed runs ⇒
  // the lake aggregate equals the batch answer over ALL events
  query("q180_stream_resume", q180, streaming = true)(Sql(
    s"""SELECT strftime(ts, '%Y-%m-%d') AS date_id, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY 1 ORDER BY date_id"""))

  /** Streaming sketch-store maintenance
    * ([[graft.streaming.StreamVerify.cmsMaintenance]]): micro-batches land
    * their Count-Min cell increments as exactly-once tagged lake commits;
    * the standing store is merge-on-read. Addition commutes, so the final
    * top-k probe is independent of batch boundaries and replays as the
    * whole-corpus sketch in the oracle.
    */
  private def q185(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.cmsMaintenance(
      s, q135Events(s, dir), scratch(dir, "q185"))

  // cells are additive, so the streamed, batch-boundary-split store
  // equals the whole-corpus sketch — replayed via the xstep macro on
  // the unsigned user id (the same mix the codegen XsMix computes)
  query("q185_stream_cms", q185, streaming = true)(Sql(
    s"""$HASH_MACROS; WITH uc AS (SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY 1), rb AS (SELECT user_id, true_n, i, CAST(xstep(tounsigned(user_id), CAST(i AS HUGEINT)) & 255 AS BIGINT) AS bucket FROM uc CROSS JOIN (SELECT unnest(range(4)) AS i) r), cells AS (SELECT i, bucket, CAST(SUM(true_n) AS BIGINT) AS cell_n FROM rb GROUP BY 1, 2), top AS (SELECT user_id, true_n FROM uc ORDER BY true_n DESC, user_id LIMIT 20) SELECT t.user_id, t.true_n, MIN(c.cell_n) AS cms_est FROM rb JOIN top t USING (user_id) JOIN cells c ON c.i = rb.i AND c.bucket = rb.bucket GROUP BY 1, 2 ORDER BY t.true_n DESC, t.user_id"""))

  /** Streaming sliding bitmap-store maintenance
    * ([[graft.streaming.StreamVerify.bitmapMaintenance]]): the stream is
    * split into micro-batches, each landing its hourly bitmap cells as
    * an exactly-once tagged commit; the merged store answers q189's
    * trailing-6h distinct dashboard — same oracle, fed by the stream.
    */
  private def q200(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.bitmapMaintenance(
      s, q135Events(s, dir), scratch(dir, "q200"))

  // the streamed bitmap store must equal the batch-built one (bit_or
  // commutes), so it shares q189's oracle
  query("q200_stream_bitmap", q200, streaming = true)(SameAs("q189_sliding_bitmap"))

  /** Streaming erasure via deletion vectors
    * ([[graft.streaming.StreamVerify.dvErasureStream]]): a delete-request
    * stream lands per-micro-batch DV commits against a standing table —
    * zero data-file writes (asserted in-gate), naturally idempotent
    * under redelivery.
    */
  private def q206(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.dvErasureStream(
      s, q135Events(s, dir), scratch(dir, "q206"),
      T(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment")))

  query("q206_stream_dv_erasure", q206, streaming = true)(Sql(
    """SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal FROM customer WHERE c_custkey NOT IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'error') GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** STREAMING incremental components
    * ([[graft.streaming.StreamVerify.componentsMaintenance]]): the
    * edit-distance pair graph arrives as 3 micro-batches; each folds into
    * the standing assignment through the contracted root graph and ONLY
    * the changed rows land, via a tagged exactly-once merge-on-read
    * upsert (delta appends + deletion-vector masks in one atomic entry —
    * per-batch commit cost O(batch + touched clusters), never O(state)).
    * Union-find merging commutes, so the batch-split result equals the
    * one-shot recompute — the oracle is q59's full recursive CTE, shared
    * verbatim (the q189/q200 proof pattern applied to graph maintenance).
    */
  private def q219(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.componentsMaintenance(
      s, q49(s, dir).select(col("w_a").as("id_a"), col("w_b").as("id_b")),
      scratch(dir, "q219"))
      .select(col("node").as("w"), col("cluster_rep"))
      .orderBy(col("w"))

  // ... and so must the STREAMING batch-split maintenance (union-find
  // merging commutes across micro-batch boundaries)
  query("q219_stream_components", q219, streaming = true)(Sql(wordClustersOracleSql))

  /** STREAMING top-k maintenance
    * ([[graft.streaming.StreamVerify.topkMaintenance]]): the events
    * arrive as 3 micro-batches; each batch's candidate top-5 per
    * event_type merges into the k×|groups|-row state table under
    * exactly-once tagged commits. Top-k is mergeable under the total
    * order (value DESC, event_id), so the maintained state equals the
    * one-shot ranking — the oracle.
    */
  private def q228(s: SparkSession, dir: String): DataFrame = {
    val state = graft.streaming.StreamVerify.topkMaintenance(
      s, T(s, dir, "events"), scratch(dir, "q228"), k = 5)
    state.withColumn("rnk",
      row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))).cast("long"))
      .select(col("event_type"), col("rnk"), col("event_id"), col("value"))
      .orderBy(col("event_type"), col("rnk"))
  }

  // the maintained k-per-group state equals the one-shot ranking:
  // top-k merging is associative under (value DESC, event_id)
  query("q228_stream_topk", q228, streaming = true)(Sql(
    """SELECT event_type, rnk, event_id, value FROM (SELECT event_type, event_id, value, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk FROM events) WHERE rnk <= 5 ORDER BY event_type, rnk"""))

  /** STREAMING completeness monitor ([[graft.streaming.StreamVerify
    * .hourSetMaintenance]]): micro-batches fold distinct (type, hour) pairs
    * into a standing exactly-once hour store (the O(active hours) state a
    * freshness monitor keeps — never the events), and the drained store
    * feeds the same gap-island computation as the batch audit. Union is
    * commutative + idempotent, so the result is independent of micro-batch
    * slicing — the gate proves it against q233's oracle verbatim.
    */
  private def q242(s: SparkSession, dir: String): DataFrame =
    gapIslands(graft.streaming.StreamVerify.hourSetMaintenance(
      s, T(s, dir, "events"), scratch(dir, "q242")))

  // the streaming hour store is union-folded (commutative, idempotent),
  // so the drained state feeds the exact batch-audit oracle
  query("q242_stream_gap_monitor", q242, streaming = true)(Sql(gapDetectOracleSql))

  /** Streaming three-clause CDC
    * ([[graft.streaming.StreamVerify.cdcApplyDeletes]]): per micro-batch,
    * the newest row per user upserts and a terminal 'error' tombstones
    * the user's row via [[graft.sources.TxLake.mergeCdc]]'s matched-
    * DELETE. Time-sliced source files make the sequential merges converge
    * to the global newest state, so the drained table is exactly "latest
    * event per user, minus users whose latest is the tombstone".
    */
  private def q259(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.cdcApplyDeletes(
        s, q259Events(s, dir), scratch(dir, "q259"), tombstone = "error")
      .orderBy(col("user_id"))

  // the converged CDC-with-deletes table = latest event per user minus
  // tombstoned users; batch slicing must be invisible
  query("q259_stream_cdc_deletes", q259, streaming = true)(Sql(
    """SELECT user_id, event_id, event_type, value, sec FROM (SELECT user_id, event_id, event_type, value, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY CAST(epoch_ns(ts) // 1000000000 AS BIGINT) DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"""))

  /** Streaming QUANTILE-SKETCH maintenance
    * ([[graft.streaming.StreamVerify.quantileSketchMaintenance]]): q316's
    * mergeable bottom-k sample kept current per micro-batch as
    * exactly-once TxLake delta commits (O(batch + k) each); because the
    * merge IS the global bottom-k, the standing store must answer
    * p50/p90/p99 exactly as the one-shot batch sketch — however the
    * stream sliced the data.
    */
  private def q326(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.quantileSketchMaintenance(
      s, q259Events(s, dir), scratch(dir, "q326"), 256, Seq(0.5, 0.9, 0.99))

  // the standing bottom-k store must equal the one-shot global bottom-k
  query("q326_stream_quantile_sketch", q326, streaming = true)(Sql(
    """WITH e AS (SELECT event_id AS id, CAST(value AS DOUBLE) AS v, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), m AS (SELECT v FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY h, id) AS rn FROM e) WHERE rn <= 256), arr AS (SELECT list_sort(list(v)) AS vals, COUNT(*) AS kk FROM m), tot AS (SELECT COUNT(*) AS n_total FROM e), spine AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)) SELECT q AS quantile, vals[CAST(GREATEST(1, CEIL(q * kk)) AS INTEGER)] AS est, kk AS sample_k, n_total FROM spine, arr, tot ORDER BY quantile"""))

  /** Streaming SKETCH-STORE maintenance
    * ([[graft.streaming.StreamVerify.sketchStoreMaintenance]]): q356's
    * log-resident sketches fed by the stream — each micro-batch lands
    * its raw rows as an exactly-once commit CARRYING the SketchSpec, so
    * the stats surface maintains itself as a side effect of ingestion
    * and p50/p90/p99 read only the log. Bottom-k merges exactly across
    * batch boundaries → same oracle as q356 (the whole-corpus replay).
    */
  private def q359(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.sketchStoreMaintenance(
      s, q135Events(s, dir), scratch(dir, "q359"), 256, Seq(0.5, 0.9, 0.99))

  // the stream-fed sketch store must equal the whole-corpus replay
  query("q359_stream_sketch_store", q359, streaming = true)(Sql(
    """WITH e AS (SELECT event_id AS id, CAST(value AS DOUBLE) AS v, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h FROM events), m AS (SELECT v FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY h, id) AS rn FROM e) WHERE rn <= 256), arr AS (SELECT list_sort(list(v)) AS vals, COUNT(*) AS kk FROM m), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM e), spine AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)) SELECT q AS quantile, vals[CAST(GREATEST(1, CEIL(q * kk)) AS INTEGER)] AS est, CAST(kk AS BIGINT) AS sample_k, n_total FROM spine, arr, tot ORDER BY quantile"""))

  /** DYNAMIC-GAP streaming sessionization
    * ([[graft.streaming.StreamVerify.dynamicSessionsStream]]): built-in
    * `session_window` with a PER-EVENT gap column (purchases hold 60
    * minutes, others 30) — the last cell of the session-mode matrix;
    * must equal the variable-end interval-union sweep.
    */
  private def q345(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.dynamicSessionsStream(s, eventsPath(dir))
      .orderBy(col("user_id"), col("start_sec"))

  // dynamic-gap sessions = variable-end interval-union sweep
  query("q345_stream_dynamic_sessions", q345, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s, CAST(epoch_ns(ts) // 1000000000 + CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS BIGINT) AS en FROM events), m AS (SELECT user_id, s, en, CASE WHEN MAX(en) OVER w IS NULL OR s > MAX(en) OVER w THEN 1 ELSE 0 END AS nw FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, en ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), g AS (SELECT user_id, s, en, SUM(nw) OVER (PARTITION BY user_id ORDER BY s, en ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span FROM m) SELECT user_id, MIN(s) AS start_sec, MAX(en) AS end_sec, COUNT(*) AS n_events FROM g GROUP BY user_id, span ORDER BY user_id, start_sec"""))

  /** Streaming INTERVAL-UNION maintenance
    * ([[graft.streaming.StreamVerify.intervalUnionMaintenance]]): q334's
    * activity spans kept current per micro-batch as exactly-once TxLake
    * delta commits of already-merged spans (weights carry the source
    * counts); union associativity makes the re-swept store equal the
    * one-shot batch union row for row.
    */
  private def q349(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.intervalUnionMaintenance(
        s, q259Events(s, dir), scratch(dir, "q349"), 600L)
      .orderBy(col("user_id"), col("span_start"))

  // the maintained span store must equal the one-shot sweep (q334)
  query("q349_stream_interval_union", q349, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s, CAST(epoch_ns(ts) // 1000000000 + 600 AS BIGINT) AS e FROM events), m AS (SELECT user_id, s, e, CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w THEN 1 ELSE 0 END AS nw FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), g AS (SELECT user_id, s, e, CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span FROM m) SELECT user_id, MIN(s) AS span_start, MAX(e) AS span_end, COUNT(*) AS n_merged FROM g GROUP BY user_id, span ORDER BY user_id, span_start"""))

  /** STREAMING SLO burn alerting
    * ([[graft.streaming.StreamVerify.sloBurnStream]]): q346's
    * multiwindow page rule on FINALIZED hours only — each hour's error
    * share emits exactly once at watermark passage (append mode,
    * sentinel-staged input); the trailing-6h baseline runs over the
    * emitted stream. Must equal the batch burn table row for row.
    */
  private def q351(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.sloBurnStream(s, q92Events(s, dir))
      .orderBy(col("hid"))

  // finalized-hour burn rates must equal the batch burn table (q346)
  query("q351_stream_slo_burn", q351, streaming = true)(Sql(
    """WITH h AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS hid, COUNT(*) AS total, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs FROM events GROUP BY 1), w AS (SELECT hid, total, errs, CAST(SUM(errs) OVER (ORDER BY hid ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS errs6, CAST(SUM(total) OVER (ORDER BY hid ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS total6 FROM h) SELECT hid, total, errs, round(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE) / 0.01, 6) AS burn_1h, round(CAST(errs6 AS DOUBLE) / CAST(total6 AS DOUBLE) / 0.01, 6) AS burn_6h, CAST(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE) / 0.01 > 14.4 AND CAST(errs6 AS DOUBLE) / CAST(total6 AS DOUBLE) / 0.01 > 6.0 AS INTEGER) AS page FROM w ORDER BY hid"""))

  /** STREAMING HyperLogLog maintenance
    * ([[graft.streaming.StreamVerify.hllMaintenance]]): micro-batches
    * land their register MAXes as exactly-once lake commits; MAX
    * commutes and is idempotent, so the merged store equals the
    * whole-corpus sketch and q379's oracle replays it — batch
    * boundaries must be invisible.
    */
  private def q381(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.hllMaintenance(
      s, q135Events(s, dir), scratch(dir, "q381"))

  // the streaming register store must equal the whole-corpus sketch:
  // MAX-merge makes batch boundaries invisible, so the SAME oracle
  query("q381_stream_hll", q381, streaming = true)(Sql(hllOracleSql))

  /** STREAMING sliding-HLL maintenance
    * ([[graft.streaming.StreamVerify.slidingHllMaintenance]]): the
    * (bucket, ρ, max-ts) cell store maintained by exactly-once
    * commits — MAX over ts commutes so batching is invisible; the
    * drained store answers q399's two suffix windows on the
    * epoch-second axis.
    */
  private def q410(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.slidingHllMaintenance(
      s, q135Events(s, dir), scratch(dir, "q410"))

  // q399's two-window report on the epoch-second axis the stream uses
  query("q410_stream_sliding_hll", q410, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events), mm AS (SELECT MIN(t) AS tmin, (MIN(t) + MAX(t)) // 2 AS mid FROM e), h AS (SELECT user_id, t, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hh FROM e), cells AS (SELECT hh % 256 AS j, CASE WHEN hh // 256 = 0 THEN 45 ELSE 45 - length(bin(hh // 256)) END AS rho, MAX(t) AS max_ts FROM h GROUP BY 1, 2), wc AS (SELECT 'w_all' AS g, j, rho FROM cells, mm WHERE max_ts >= mm.tmin UNION ALL SELECT 'w_recent', j, rho FROM cells, mm WHERE max_ts >= mm.mid + 1), regs AS (SELECT g, j, MAX(rho) AS m FROM wc GROUP BY 1, 2), agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_regs, SUM(CAST(round(pow(2.0, -m), 18) AS DECIMAL(38,18))) AS sp FROM regs GROUP BY g), e2 AS (SELECT g, n_regs, 256 - n_regs AS v_empty, 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / CAST(sp + CAST(256 - n_regs AS DECIMAL(38,18)) AS DOUBLE) AS eraw FROM agg), ex AS (SELECT 'w_all' AS g, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM e, mm WHERE t >= mm.tmin UNION ALL SELECT 'w_recent', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e, mm WHERE t >= mm.mid + 1) SELECT e2.g, e2.n_regs, CAST(e2.v_empty AS BIGINT) AS v_empty, round(CASE WHEN eraw <= 640.0 AND v_empty > 0 THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE)) ELSE eraw END, 6) AS estimate, ex.n_exact, round((CASE WHEN eraw <= 640.0 AND v_empty > 0 THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE)) ELSE eraw END - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_error FROM e2 JOIN ex ON e2.g = ex.g ORDER BY e2.g"""))

  /** STREAMING SRM maintenance
    * ([[graft.streaming.StreamVerify.srmMaintenance]]): per-batch
    * distinct (arm, unit) assignments land as exactly-once lake
    * commits; distinct-union makes batch boundaries invisible, so the
    * drained store's χ² gate is bit-equal to q390's batch readout —
    * the experimentation stack's first self-maintaining stats surface.
    */
  private def q417(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.srmMaintenance(
      s, q135Events(s, dir), scratch(dir, "q417"))

  // the drained distinct-assignment store equals the batch gate
  query("q417_stream_srm", q417, streaming = true)(Sql(
    """WITH u AS (SELECT DISTINCT user_id FROM events), a AS (SELECT CASE WHEN b < 2 THEN 'control' WHEN b < 3 THEN 't1' ELSE 't2' END AS arm FROM (SELECT CAST(concat('0x', substr(md5(concat('exp42:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 4 AS b FROM u)), c0 AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_observed FROM a GROUP BY arm), wt AS (SELECT unnest(['control', 't1', 't2']) AS arm, unnest([2, 1, 1]) AS wgt), c AS (SELECT wt.arm, CAST(COALESCE(c0.n_observed, 0) AS BIGINT) AS n_observed, CAST(wt.wgt AS BIGINT) AS wgt FROM wt LEFT JOIN c0 ON wt.arm = c0.arm), t AS (SELECT CAST(SUM(n_observed) AS BIGINT) AS n FROM c), g AS (SELECT arm, n_observed, wgt, t.n, CAST(round(CAST(CAST(n_observed AS DECIMAL(38,0)) * 4 - CAST(t.n AS DECIMAL(38,0)) * CAST(wgt AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(n_observed AS DECIMAL(38,0)) * 4 - CAST(t.n AS DECIMAL(38,0)) * CAST(wgt AS DECIMAL(38,0)) AS DOUBLE) / (CAST(t.n AS DOUBLE) * CAST(wgt AS DOUBLE) * 4.0), 9) AS DECIMAL(18,9)) AS term FROM c, t), s AS (SELECT SUM(term) AS ts FROM g) SELECT arm, n_observed, round(CAST(n AS DOUBLE) * CAST(wgt AS DOUBLE) / 4.0, 6) AS expected, round(CAST(s.ts AS DOUBLE), 6) AS chi2, CAST(s.ts AS DOUBLE) > 9.21034 AS srm FROM g, s ORDER BY arm"""))

  /** STREAMING CONFORMAL maintenance
    * ([[graft.streaming.StreamVerify.conformalMaintenance]]):
    * micro-batches land partial (group, split, value) censuses as
    * exactly-once commits; counts add, so the drained
    * split-conformal report equals batch q397 bit for bit — calibrated
    * uncertainty as a self-maintaining ingestion surface.
    */
  private def q422(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.conformalMaintenance(
      s, q135Events(s, dir), scratch(dir, "q422"))

  // the drained census store equals the batch split-conformal report
  query("q422_stream_conformal", q422, streaming = true)(Sql(
    """WITH e AS (SELECT event_type AS g, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y, CAST(concat('0x', substr(md5(concat('conf:', CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS train FROM events), p AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_train, CAST(round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS pred FROM e WHERE train GROUP BY g), rs AS (SELECT e.g, p.n_train, p.pred, abs(CAST(e.y AS DECIMAL(18,6)) - p.pred) AS r, CAST(COUNT(*) AS BIGINT) AS t FROM e JOIN p ON e.g = p.g WHERE NOT train GROUP BY 1, 2, 3, 4), rk AS (SELECT *, CAST(SUM(t) OVER (PARTITION BY g ORDER BY r ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c, CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n_cal FROM rs), rr AS (SELECT *, least(n_cal, ((n_cal + 1) * 9000 + 9999) // 10000) AS rkk FROM rk) SELECT g, MAX(n_train) AS n_train, MAX(n_cal) AS n_cal, CAST(MAX(pred) AS DOUBLE) AS pred, CAST(MIN(CASE WHEN c >= rkk THEN r END) AS DOUBLE) AS qhat, CAST(MAX(pred) - MIN(CASE WHEN c >= rkk THEN r END) AS DOUBLE) AS lo, CAST(MAX(pred) + MIN(CASE WHEN c >= rkk THEN r END) AS DOUBLE) AS hi, round(CAST(MIN(CASE WHEN c >= rkk THEN c END) AS DOUBLE) / CAST(MAX(n_cal) AS DOUBLE), 6) AS coverage FROM rr GROUP BY g ORDER BY g"""))

  /** Streaming Welch-t maintenance
    * ([[graft.streaming.StreamVerify.welchMaintenance]]): q362's
    * two-sample test kept current as an ingestion side effect — per-batch
    * (isa, n, Σx, Σx²) moment partials land as exactly-once lake
    * commits; moments ADD, so the drained readout is bit-equal to the
    * batch test and shares its oracle verbatim. Third self-maintaining
    * experimentation surface beside q417 (SRM) and q422 (conformal).
    */
  private def q433(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.welchMaintenance(
      s, q135Events(s, dir), scratch(dir, "q433"))

  // the streamed moment store must equal the batch test bit-for-bit
  query("q433_stream_welch", q433, streaming = true)(Sql(welchSql))

  /** Streaming PSI maintenance
    * ([[graft.streaming.StreamVerify.psiMaintenance]]): q109's
    * population-stability report as an ingestion side effect — bin
    * edges pinned from the reference scan, per-batch (bin, n_act,
    * n_ref) censuses land exactly-once, counts add, the drained store
    * reads through psiFromCensus and shares q109's oracle verbatim.
    * Seventh self-maintaining surface.
    */
  private def q480(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.psiMaintenance(
      s, q135Events(s, dir), scratch(dir, "q480"))

  // the streaming PSI store's batch-split censuses ADD, so the drained
  // readout replays the one-pass q109 oracle verbatim
  query("q480_stream_psi", q480, streaming = true)(Sql(psiDriftOracleSql))

  /** Streaming Benford maintenance
    * ([[graft.streaming.StreamVerify.benfordMaintenance]]): q291's
    * leading-digit forensic as an ingestion side effect — each
    * micro-batch commits its ≤9-row (digit, n) census exactly-once,
    * counts add, the drained store reads through benfordFromCensus and
    * replays the batch oracle shape over events.value. Eighth
    * self-maintaining surface.
    */
  private def q486(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.benfordMaintenance(
      s, q135Events(s, dir), scratch(dir, "q486"))

  // digit censuses add across batches, so the drained store replays
  // the one-pass q291 shape over events.value verbatim
  query("q486_stream_benford", q486, streaming = true)(Sql(
    """WITH obs AS (SELECT CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit, COUNT(*) AS n FROM events WHERE value >= 1 GROUP BY 1), sp AS (SELECT * FROM (VALUES (1, 0.301029995664), (2, 0.176091259056), (3, 0.124938736608), (4, 0.096910013008), (5, 0.079181246048), (6, 0.066946789631), (7, 0.057991946978), (8, 0.051152522447), (9, 0.045757490561)) AS t(digit, expected_p)), j AS (SELECT sp.digit, COALESCE(obs.n, 0) AS n, sp.expected_p FROM sp LEFT JOIN obs USING (digit)), t2 AS (SELECT digit, n, expected_p, expected_p * CAST(SUM(n) OVER () AS DOUBLE) AS expected_n FROM j), d AS (SELECT digit, n, expected_p, expected_n, CAST(round((CAST(n AS DOUBLE) - expected_n) * (CAST(n AS DOUBLE) - expected_n) / expected_n, 6) AS DECIMAL(18,6)) AS chi2_term FROM t2) SELECT digit, n, expected_p, round(expected_n, 6) AS expected_n, CAST(chi2_term AS DOUBLE) AS chi2_term, CAST(SUM(chi2_term) OVER () AS DOUBLE) AS chi2_total FROM d ORDER BY digit"""))

  /** Streaming top-movers maintenance
    * ([[graft.streaming.StreamVerify.topMoversMaintenance]]): q491's
    * heavy-changers monitor as an ingestion side effect — pinned period
    * cutoff, per-batch (key, n_prev, n_curr) censuses land exactly-once,
    * counts add, the drained store reads through topMoversFromCensus
    * and shares q491's oracle verbatim. Ninth self-maintaining surface.
    */
  private def q497(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.topMoversMaintenance(
      s, q135Events(s, dir), scratch(dir, "q497"))

  // censuses add across batches: the drained store IS batch q491
  query("q497_stream_top_movers", q497, streaming = true)(Sql(topMoversOracleSql))

  /** Streaming seasonal-band maintenance
    * ([[graft.streaming.StreamVerify.seasonalBandMaintenance]]): q504's
    * per-slot envelope monitor as an ingestion side effect — per-batch
    * (type, day, slot, partial-sum) censuses land exactly-once, decimal
    * sums add, the drained store re-aggregates the exact slot table and
    * reads through seasonalBandPerKey, sharing q504's oracle verbatim.
    * Tenth self-maintaining surface.
    */
  private def q506(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.seasonalBandMaintenance(
      s, q135Events(s, dir), scratch(dir, "q506"))

  // per-batch slot partial-sums add: the drained store IS batch q504
  query("q506_stream_seasonal_band", q506, streaming = true)(Sql(seasonalBandOracleSql))

  /** Streaming ESS maintenance
    * ([[graft.streaming.StreamVerify.essMaintenance]]): q508's Kish
    * diagnostic as an ingestion side effect — per-batch (g, n, Σw, Σw²)
    * moment partials land exactly-once, moments add, the drained store
    * reads through essFromMoments bit-identically to the batch path.
    * Eleventh self-maintaining surface.
    */
  private def q511(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.essMaintenance(
      s, q135Events(s, dir), scratch(dir, "q511"))

  // per-batch weight moments add: the drained store IS the batch ESS
  // over events cents by type
  query("q511_stream_ess", q511, streaming = true)(Sql(
    """WITH b AS (SELECT CAST(event_type AS VARCHAR) AS g, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS w FROM events) SELECT g, COUNT(*) AS n, round(CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) * CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) / CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS DOUBLE), 6) AS ess, round(CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) * CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) / CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS ess_ratio FROM b GROUP BY 1 ORDER BY 1"""))

  /** Streaming funnel maintenance
    * ([[graft.streaming.StreamVerify.funnelMaintenance]]): q509's
    * Wilson funnel as an ingestion side effect — per-batch per-user
    * step-flag partials land exactly-once; boolean OR is associative,
    * commutative and idempotent, so the drained readout is bit-equal to
    * batch q509 and shares its oracle verbatim. Twelfth self-maintaining
    * surface.
    */
  private def q514(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.funnelMaintenance(
      s, q135Events(s, dir), scratch(dir, "q514"))

  // OR-mergeable per-user flags: the drained store IS batch q509
  query("q514_stream_funnel", q514, streaming = true)(Sql(wilsonFunnelOracleSql))

  /** Streaming vocab-coverage maintenance
    * ([[graft.streaming.StreamVerify.vocabCoverageMaintenance]]):
    * q510's coverage curve as an ingestion side effect — per-batch
    * (token, n) censuses land exactly-once, counts add, the drained
    * store reads through vocabCoverageFromCensus and shares q510's
    * oracle verbatim. Thirteenth self-maintaining surface.
    */
  private def q517(s: SparkSession, dir: String): DataFrame = {
    // stage documents as TWO files so the drain really merges batches.
    // Restaged UNCONDITIONALLY (the copy is corpus-partition cheap): an
    // existence-gated cache would silently reuse stale halves if the
    // source table changed under a persisted scratch dir, diverging from
    // the oracle's live read.
    val src = stageDocHalves(dir, "q517", T(s, dir, "documents"))
    graft.streaming.StreamVerify.vocabCoverageMaintenance(
      s, src, scratch(dir, "q517"), Seq(256, 1024, 4096))
  }

  // token censuses add: the drained store IS the batch curve
  query("q517_stream_vocab_coverage", q517, streaming = true)(Sql(vocabCoverageOracleSql))

  /** Streaming QTE maintenance
    * ([[graft.streaming.StreamVerify.qteMaintenance]]): q523's
    * quantile-treatment-effect table as an ingestion side effect —
    * per-batch (arm, value) censuses land exactly-once, counts add,
    * the drained store reads through qteFromCensus and shares q523's
    * oracle verbatim. Fourteenth self-maintaining surface.
    */
  private def q526(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.qteMaintenance(
      s, q135Events(s, dir), scratch(dir, "q526"))

  // per-arm value censuses add: the drained store IS batch q523
  query("q526_stream_qte", q526, streaming = true)(Sql(qteOracleSql))

  /** STREAMING k-anonymity maintenance
    * ([[graft.streaming.StreamVerify.kanonMaintenance]]): per-batch
    * QI-class count partials add (ingestion only grows classes); the
    * drained sweep equals batch q557 verbatim (shared oracle).
    * Twenty-fourth self-maintaining surface — the privacy posture
    * monitored at ingest cadence.
    */
  private def q562(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val staged = stageHalves(s, dir, "q562", base, "c_custkey")
    graft.streaming.StreamVerify.kanonMaintenance(s, staged,
      scratch(dir, "q562"), Seq("c_nationkey", "c_mktsegment"),
      Seq(2, 5, 10, 25))
  }

  // QI-class counts add: the drained sweep IS batch q557
  query("q562_stream_kanon", q562, streaming = true)(SameAs("q557_kanon_sweep"))

  /** Streaming 2×2 effect-size store
    * ([[graft.streaming.StreamVerify.propEffectsMaintenance]]): per
    * batch the four exact cells add; drained readout ≡ batch q563
    * (oracle verbatim) — effect sizes + CIs at ingest cadence.
    */
  private def q572(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events").select(col("event_id"),
      pmod(conv(substring(md5(concat(lit("pe:"),
        col("event_id").cast("string"))), 1, 13), 16, 10).cast("long"),
        lit(2)).as("arm"),
      (col("event_type") === "error").cast("long").as("conv"))
    graft.streaming.StreamVerify.propEffectsMaintenance(
      s, stageHalves(s, dir, "q572", base, "event_id"),
      scratch(dir, "q572"))
  }

  // 2×2 cells add: the drained effect sizes ARE batch q563
  query("q572_stream_prop_effects", q572, streaming = true)(SameAs("q563_prop_effects"))

  /** Streaming extreme-value store
    * ([[graft.streaming.StreamVerify.gumbelMaintenance]]):
    * hour-partitioned batches commit block-maxima partials (MAX
    * merges); drained Gumbel fit ≡ batch q589 (oracle verbatim).
    */
  private def q595(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events").select(col("event_id"),
      col("event_type").as("g"),
      expr("ts div 1000000000 div 3600").as("hour_id"))
      .withColumn("par", col("hour_id") % 2)
    graft.streaming.StreamVerify.gumbelMaintenance(
      s, stageHalves(s, dir, "q595", base.drop("event_id"), "par"),
      scratch(dir, "q595"))
      .orderBy(col("event_type"))
  }

  // hour-partitioned batches: block maxima MAX-merge, the drained
  // Gumbel fit IS batch q589
  query("q595_stream_gumbel", q595, streaming = true)(SameAs("q589_gumbel_maxima"))

  /** Streaming equivalence gate
    * ([[graft.streaming.StreamVerify.tostMaintenance]]): 2×2 cell
    * partials add; drained TOST verdict ≡ batch q600 (oracle
    * verbatim).
    */
  private def q603(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events").select(col("event_id"),
      pmod(conv(substring(md5(concat(lit("eq:"),
        col("event_id").cast("string"))), 1, 13), 16, 10).cast("long"),
        lit(2)).as("arm"),
      (col("event_type") === "error").cast("long").as("conv"))
    graft.streaming.StreamVerify.tostMaintenance(
      s, stageHalves(s, dir, "q603", base, "event_id"),
      scratch(dir, "q603"), delta = 0.005)
  }

  // 2×2 cells add: the drained equivalence verdict IS batch q600
  query("q603_stream_tost", q603, streaming = true)(SameAs("q600_tost_equivalence"))

  /** Streaming p-chart store
    * ([[graft.streaming.StreamVerify.pChartMaintenance]]): daily
    * subgroup partials add; drained chart ≡ batch q592 (oracle
    * verbatim).
    */
  private def q610(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events").select(col("event_id"),
      expr("ts div 1000000000 div 86400").as("b"),
      (col("event_type") === "error").cast("long").as("x"))
    graft.streaming.StreamVerify.pChartMaintenance(
      s, stageHalves(s, dir, "q610", base, "event_id"),
      scratch(dir, "q610"))
  }

  // daily subgroup partials add: the drained chart IS batch q592
  query("q610_stream_pchart", q610, streaming = true)(SameAs("q592_p_chart"))

  /** Streaming circular-rhythm store
    * ([[graft.streaming.StreamVerify.circularMaintenance]]): slot
    * censuses add; drained direction/Rayleigh ≡ batch q602 (oracle
    * verbatim).
    */
  private def q612(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events").select(col("event_id"),
      col("event_type").as("k"),
      expr("ts div 1000000000 div 3600 % 24").as("s"))
    graft.streaming.StreamVerify.circularMaintenance(
      s, stageHalves(s, dir, "q612", base, "event_id"),
      scratch(dir, "q612"))
      .orderBy(col("key"))
  }

  // slot censuses add: the drained rhythm readout IS batch q602
  query("q612_stream_circular", q612, streaming = true)(SameAs("q602_circular_stats"))

  /** Streaming leaderboard-concordance store
    * ([[graft.streaming.StreamVerify.kendallWMaintenance]]): (day,
    * type) score partials add; drained W ≡ batch q618 (oracle
    * verbatim).
    */
  private def q620(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events").select(col("event_id"),
      expr("ts div 1000000000 div 86400").as("r"),
      col("event_type").as("it"))
    graft.streaming.StreamVerify.kendallWMaintenance(
      s, stageHalves(s, dir, "q620", base, "event_id"),
      scratch(dir, "q620"))
  }

  // (rater, item) score partials add: the drained W IS batch q618
  query("q620_stream_kendall_w", q620, streaming = true)(SameAs("q618_kendall_w"))

  /** Streaming disproportionality store
    * ([[graft.streaming.StreamVerify.disproMaintenance]]): (source,
    * lang) cell partials add; drained PRR/ROR screen ≡ batch q621
    * (oracle verbatim).
    */
  private def q623(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents").select(col("doc_id"),
      col("source").as("seg"), col("lang").as("out"))
    graft.streaming.StreamVerify.disproMaintenance(
      s, stageHalves(s, dir, "q623", base, "doc_id"),
      scratch(dir, "q623"))
  }

  // (segment, outcome) cells add: the drained screen IS batch q621
  query("q623_stream_dispro", q623, streaming = true)(SameAs("q621_disproportionality"))

  /** Streaming concurrency store
    * ([[graft.streaming.StreamVerify.concurrencyMaintenance]]):
    * interval totals and boundary deltas add; drained sweep ≡ batch
    * q635 (oracle verbatim).
    */
  private def q636(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000000").as("sec"))
      .groupBy(col("user_id"))
      .agg(min(col("sec")).as("s"), (max(col("sec")) + 1L).as("e"))
    graft.streaming.StreamVerify.concurrencyMaintenance(
      s, stageHalves(s, dir, "q636", base, "user_id"),
      scratch(dir, "q636"))
  }

  // interval totals and boundary deltas add: the drained sweep IS
  // batch q635
  query("q636_stream_concurrency", q636, streaming = true)(SameAs("q635_concurrency"))

  /** Streaming LTV store
    * ([[graft.streaming.StreamVerify.ltvMaintenance]]):
    * entity-partitioned batches' cohort censuses add; drained curves ≡
    * batch q642 (oracle verbatim).
    */
  private def q644(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders").select(
      col("o_custkey").as("u"), col("o_orderdate").as("d"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("v"))
      .withColumn("par", col("u") % 2)
    graft.streaming.StreamVerify.ltvMaintenance(
      s, stageHalves(s, dir, "q644", base, "par"),
      scratch(dir, "q644"))
  }

  // entity-partitioned batches: cohort censuses add, the drained
  // curves ARE batch q642
  query("q644_stream_ltv", q644, streaming = true)(SameAs("q642_ltv_curve"))

  /** Streaming MCF store
    * ([[graft.streaming.StreamVerify.mcfMaintenance]]):
    * entity-partitioned batches' age/lifespan censuses add; drained
    * curve ≡ batch q646 (oracle verbatim).
    */
  private def q647(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events")
      .select(col("user_id").as("u"), expr("ts div 1000000000").as("sec"))
      .withColumn("par", col("u") % 2)
    graft.streaming.StreamVerify.mcfMaintenance(
      s, stageHalves(s, dir, "q647", base, "par"),
      scratch(dir, "q647"))
  }

  // entity-partitioned batches: age/lifespan censuses add, the
  // drained curve IS batch q646
  query("q647_stream_mcf", q647, streaming = true)(SameAs("q646_mcf"))

  /** Streaming IV store
    * ([[graft.streaming.StreamVerify.ivMaintenance]]): (z, x) cell
    * censuses add; drained Wald ≡ batch q650 (oracle verbatim).
    */
  private def q653(s: SparkSession, dir: String): DataFrame = {
    val base = ivFrame(s, dir).withColumn("par", col("user_id") % 2)
      .drop("user_id")
    graft.streaming.StreamVerify.ivMaintenance(
      s, stageHalves(s, dir, "q653", base, "par"),
      scratch(dir, "q653"))
  }

  // unit rows: (z, x) cells add under any batching, the drained
  // Wald IS batch q650
  query("q653_stream_iv", q653, streaming = true)(SameAs("q650_iv_wald"))

  /** Streaming AR-model maintenance
    * ([[graft.streaming.StreamVerify.yuleWalkerMaintenance]]): hourly
    * censuses add across micro-batches; the drained dense-spine AR(2)
    * fit ≡ batch q657 (oracle verbatim).
    */
  private def q662(s: SparkSession, dir: String): DataFrame = {
    val src = stageEventSlices(s, dir, "q662")
    graft.streaming.StreamVerify.yuleWalkerMaintenance(
      s, src, scratch(dir, "q662"))
      .orderBy(col("event_type"))
  }

  // hourly censuses add; the drained dense-spine AR(2) IS batch q657
  query("q662_stream_yule_walker", q662, streaming = true)(SameAs("q657_yule_walker"))

  /** Streaming MA-model maintenance
    * ([[graft.streaming.StreamVerify.ma1Maintenance]]): hourly censuses
    * add across micro-batches; the drained dense-spine MA(1) fit ≡
    * batch q671 (oracle verbatim).
    */
  private def q676(s: SparkSession, dir: String): DataFrame = {
    val src = stageEventSlices(s, dir, "q676")
    graft.streaming.StreamVerify.ma1Maintenance(
      s, src, scratch(dir, "q676"))
      .orderBy(col("event_type"))
  }

  // same drained census; the dense-spine MA(1) IS batch q671
  query("q676_stream_ma1", q676, streaming = true)(SameAs("q671_ma1_fit"))

  /** Streaming staffing maintenance
    * ([[graft.streaming.StreamVerify.erlangMaintenance]]): hourly
    * arrival censuses add across micro-batches; the drained Erlang-C
    * staffing table ≡ batch q682 (oracle verbatim).
    */
  private def q684(s: SparkSession, dir: String): DataFrame = {
    val src = stageEventSlices(s, dir, "q684")
    graft.streaming.StreamVerify.erlangMaintenance(
      s, src, scratch(dir, "q684"))
      .orderBy(col("event_type"))
  }

  // same drained census; the staffing table IS batch q682
  query("q684_stream_erlang", q684, streaming = true)(SameAs("q682_erlang_staffing"))

  /** Streaming Lorenz store
    * ([[graft.streaming.StreamVerify.lorenzMaintenance]]): (group,
    * value) census partials add; drained decile table ≡ batch q626
    * (oracle verbatim).
    */
  private def q633(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority").as("g"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("x"))
    graft.streaming.StreamVerify.lorenzMaintenance(
      s, stageHalves(s, dir, "q633", base, "o_orderkey"),
      scratch(dir, "q633"))
  }

  // (group, value) censuses add: the drained deciles ARE batch q626
  query("q633_stream_lorenz", q633, streaming = true)(SameAs("q626_lorenz_curve"))

  /** Streaming paired-flow store
    * ([[graft.streaming.StreamVerify.bowkerMaintenance]]):
    * entity-partitioned batches each fold their own users' first/last
    * pairs; drained symmetry test ≡ batch q580 (oracle verbatim).
    */
  private def q585(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("par", col("user_id") % 2)
    graft.streaming.StreamVerify.bowkerMaintenance(
      s, stageHalves(s, dir, "q585", base, "par"), scratch(dir, "q585"))
  }

  // entity-partitioned batches: per-batch paired censuses add, the
  // drained symmetry test IS batch q580
  query("q585_stream_bowker", q585, streaming = true)(SameAs("q580_bowker"))

  /** Streaming diversity store
    * ([[graft.streaming.StreamVerify.hillMaintenance]]): per-batch
    * (type, user) censuses add; drained Hill profile ≡ batch q568
    * (oracle verbatim).
    */
  private def q579(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "events").select(col("event_id"),
      col("event_type").as("g"), col("user_id").as("u"))
    graft.streaming.StreamVerify.hillMaintenance(
      s, stageHalves(s, dir, "q579", base, "event_id"),
      scratch(dir, "q579"), "event_type")
      .orderBy(col("event_type"))
  }

  // (group, unit) censuses add: the drained Hill profile IS batch q568
  query("q579_stream_hill", q579, streaming = true)(SameAs("q568_hill_numbers"))

  /** Streaming ordinal-association store
    * ([[graft.streaming.StreamVerify.gkGammaMaintenance]]): per-batch
    * (x, y) censuses add; drained gamma/Somers' D ≡ batch q566
    * (oracle verbatim).
    */
  private def q573(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders").select(col("o_orderkey"),
      substring(col("o_orderpriority"), 1, 1).cast("long").as("x"),
      when(col("o_totalprice") < 50000, 0L)
        .when(col("o_totalprice") < 150000, 1L)
        .when(col("o_totalprice") < 300000, 2L).otherwise(3L).as("y"))
    graft.streaming.StreamVerify.gkGammaMaintenance(
      s, stageHalves(s, dir, "q573", base, "o_orderkey"),
      scratch(dir, "q573"))
  }

  // (x, y) censuses add: the drained gamma/Somers' D IS batch q566
  query("q573_stream_gk_gamma", q573, streaming = true)(SameAs("q566_gk_gamma"))

  /** STREAMING trend maintenance
    * ([[graft.streaming.StreamVerify.trendOlsMaintenance]]): per-batch
    * (type, hour) census partials add; the drained per-key OLS slopes
    * equal batch q147 verbatim (shared oracle). Twenty-third
    * self-maintaining surface.
    */
  private def q555(s: SparkSession, dir: String): DataFrame = {
    val src = stageEventSlices(s, dir, "q555")
    graft.streaming.StreamVerify.trendOlsMaintenance(
      s, src, scratch(dir, "q555"))
      .orderBy(col("event_type"))
  }

  // hourly censuses add: the drained per-key slopes ARE batch q147
  query("q555_stream_trend_ols", q555, streaming = true)(SameAs("q147_trend_ols"))

  /** STREAMING stratified-ATT maintenance
    * ([[graft.streaming.StreamVerify.strataAttMaintenance]]): per-batch
    * per-stratum moment partials add; the drained causal readout equals
    * batch q551 verbatim (shared oracle). Twenty-second self-maintaining
    * surface — the experimentation stack's causal estimate joins its
    * SRM/CUPED/Welch/QTE siblings at ingest cadence.
    */
  private def q553(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority").as("s"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"),
      (pmod(conv(substring(md5(concat(lit("att:"),
        col("o_orderkey").cast("string"))), 1, 13), 16, 10).cast("long"),
        lit(2L)) === 0L).as("isa"))
    val staged = stageHalves(s, dir, "q553", base, "o_orderkey")
    graft.streaming.StreamVerify.strataAttMaintenance(
      s, staged, scratch(dir, "q553"))
  }

  // per-stratum moments add: the drained causal readout IS batch q551
  query("q553_stream_strata_att", q553, streaming = true)(SameAs("q551_strata_att"))

  /** STREAMING Hodges–Lehmann maintenance
    * ([[graft.streaming.StreamVerify.hlMaintenance]]): per-batch value
    * censuses add; the drained shift estimate equals batch q548 verbatim
    * (shared oracle). Twentieth self-maintaining surface.
    */
  private def q549(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("v"),
        (col("o_orderpriority") === "1-URGENT").as("isa"))
    val staged = stageHalves(s, dir, "q549", base, "o_orderkey")
    graft.streaming.StreamVerify.hlMaintenance(s, staged, scratch(dir, "q549"))
  }

  // value censuses add: the drained shift IS batch q548
  query("q549_stream_hodges_lehmann", q549, streaming = true)(SameAs("q548_hodges_lehmann"))

  /** STREAMING CUPED maintenance
    * ([[graft.streaming.StreamVerify.cupedMaintenance]]): per-user
    * (pre, post) totals fold into a standing store via the merge-on-read
    * upsert (addition is NOT replay-idempotent — the exactly-once tag is
    * load-bearing); the drained CUPED readout equals batch q395 verbatim
    * (shared oracle). Twenty-first self-maintaining surface.
    */
  private def q550(s: SparkSession, dir: String): DataFrame = {
    val src = stageEventSlices(s, dir, "q550")
    graft.streaming.StreamVerify.cupedMaintenance(s, src, scratch(dir, "q550"))
      .orderBy(col("arm"))
  }

  // per-user totals add under the exactly-once tag: the drained CUPED
  // IS q395
  query("q550_stream_cuped", q550, streaming = true)(SameAs("q395_cuped"))

  /** STREAMING Theil's-U maintenance
    * ([[graft.streaming.StreamVerify.theilsUMaintenance]]): per-batch
    * joint censuses add, both marginals derive from the joint, drained
    * association equals batch q544 verbatim (shared oracle). Nineteenth
    * self-maintaining surface.
    */
  private def q545(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("x"),
        col("o_orderstatus").as("y"))
    val staged = stageHalves(s, dir, "q545", base, "o_orderkey")
    graft.streaming.StreamVerify.theilsUMaintenance(
      s, staged, scratch(dir, "q545"))
  }

  // joint censuses add and marginals derive from the joint: the
  // drained association IS batch q544
  query("q545_stream_theils_u", q545, streaming = true)(SameAs("q544_theils_u"))

  /** STREAMING James–Stein maintenance
    * ([[graft.streaming.StreamVerify.jamesSteinMaintenance]]): per-batch
    * group moment partials land exactly-once, moments add, drained
    * shrinkage equals batch q538 verbatim (shared oracle). Seventeenth
    * self-maintaining surface.
    */
  private def q540(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "customer")
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("g"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("cents"))
    val staged = stageHalves(s, dir, "q540", base, "c_custkey")
    graft.streaming.StreamVerify.jamesSteinMaintenance(
      s, staged, scratch(dir, "q540"))
  }

  // group moments add: the drained shrinkage IS batch q538
  query("q540_stream_james_stein", q540, streaming = true)(SameAs("q538_james_stein"))

  /** STREAMING Wasserstein-1 maintenance
    * ([[graft.streaming.StreamVerify.w1Maintenance]]): per-batch value
    * censuses add; drained transport distance equals batch q541 verbatim
    * (shared oracle). Eighteenth self-maintaining surface.
    */
  private def q542(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("v"),
        (col("o_orderpriority") === "1-URGENT").as("isa"))
    val staged = stageHalves(s, dir, "q542", base, "o_orderkey")
    graft.streaming.StreamVerify.w1Maintenance(s, staged, scratch(dir, "q542"))
  }

  // value censuses add: the drained transport distance IS batch q541
  query("q542_stream_wasserstein", q542, streaming = true)(SameAs("q541_wasserstein"))

  /** STREAMING shingle-index maintenance
    * ([[graft.streaming.StreamVerify.repeatedSpansMaintenance]]):
    * documents arrive as two micro-batches, each appending its
    * (doc, pos, shingle) rows to a standing index exactly-once; the
    * drained census + island merge equals batch q527 verbatim (shared
    * oracle) — substring dedup at ingest cadence. Fourteenth
    * self-maintaining surface.
    */
  private def q530(s: SparkSession, dir: String): DataFrame = {
    val src = stageDocHalves(dir, "q530",
      T(s, dir, "documents").select(col("doc_id"), col("text")))
    graft.streaming.StreamVerify.repeatedSpansMaintenance(
      s, src, scratch(dir, "q530"), k = 8, minOcc = 2)
      .orderBy(col("doc_id"), col("start_tok"))
  }

  // the shingle index is a pure function of the docs: the drained
  // census+islands IS batch q527
  query("q530_stream_repeated_spans", q530, streaming = true)(SameAs("q527_repeated_spans"))

  /** STREAMING survival maintenance
    * ([[graft.streaming.StreamVerify.survivalMaintenance]]): per-user
    * lifetime bounds fold into a standing store via the merge-on-read
    * upsert (min/max merging commutes — batch split invisible), and the
    * drained log-rank equals batch q520 verbatim (shared oracle).
    * Fifteenth self-maintaining surface; first streaming consumer of
    * the atomic delta-MERGE beside q219's components.
    */
  private def q531(s: SparkSession, dir: String): DataFrame = {
    val src = stageEventSlices(s, dir, "q531")
    graft.streaming.StreamVerify.survivalMaintenance(
      s, src, scratch(dir, "q531"))
  }

  // min/max lifetime merging commutes: the drained log-rank IS batch
  // q520
  query("q531_stream_logrank", q531, streaming = true)(SameAs("q520_logrank"))

  /** Streaming JSD maintenance
    * ([[graft.streaming.StreamVerify.jsdMaintenance]]): q455's pairwise
    * distribution matrix as an ingestion side effect — per-batch
    * (type, hour-of-day, n) census partials land exactly-once; counts
    * add, the drained matrix reads through jsdMatrixFromCensus and
    * shares q455's oracle verbatim. Sixth self-maintaining surface.
    */
  private def q471(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.jsdMaintenance(
      s, q135Events(s, dir), scratch(dir, "q471"))

  // the streamed hour-profile census store must equal the batch matrix
  query("q471_stream_jsd", q471, streaming = true)(Sql(jsdSql))

  /** Streaming XmR maintenance
    * ([[graft.streaming.StreamVerify.xmrMaintenance]]): q446's control
    * chart kept current as an ingestion side effect — per-batch hourly
    * cents-census partials land exactly-once; sums add, the drained
    * chart shares q446's oracle verbatim. Fifth self-maintaining
    * surface; the moving-range pass runs only at read time over the
    * hour-domain store.
    */
  private def q454(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.xmrMaintenance(
      s, q135Events(s, dir), scratch(dir, "q454"))

  // the streamed hourly-census store must equal the batch chart
  query("q454_stream_xmr", q454, streaming = true)(Sql(xmrSql))

  /** Streaming Mann–Kendall maintenance
    * ([[graft.streaming.StreamVerify.mannKendallMaintenance]]): q421's
    * trend screen kept current as an ingestion side effect — per-batch
    * (type, day, cnt) daily-census partials land exactly-once; counts
    * add, the drained test shares q421's oracle verbatim. Fourth
    * self-maintaining surface; the quadratic pair census runs only at
    * READ time over the day-domain store.
    */
  private def q440(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.mannKendallMaintenance(
      s, q135Events(s, dir), scratch(dir, "q440"))

  // the streamed daily-census store must equal the batch trend test
  query("q440_stream_mk", q440, streaming = true)(Sql(mkSql))

  /** STREAMING MERKLE maintenance
    * ([[graft.streaming.StreamVerify.merkleMaintenance]]): micro-batches
    * land partial leaf censuses as exactly-once commits; XOR and count
    * both merge, so the store equals the whole-corpus census no matter
    * how ingestion was batched — q401's reconciliation surface
    * maintained as a side effect of ingestion.
    */
  private def q402(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.merkleMaintenance(
      s, q135Events(s, dir), scratch(dir, "q402"))

  // the streamed store must equal the whole-corpus leaf census
  query("q402_stream_merkle", q402, streaming = true)(Sql(
    """WITH h AS (SELECT CAST(concat('0x', substr(md5(concat_ws('|', coalesce(CAST(event_id AS VARCHAR), chr(0)), coalesce(CAST(user_id AS VARCHAR), chr(0)), coalesce(CAST(event_type AS VARCHAR), chr(0)), coalesce(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), chr(0)))), 1, 13)) AS BIGINT) AS h FROM events) SELECT h % 1024 AS leaf, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(bit_xor(h) AS BIGINT) AS fp FROM h GROUP BY 1 ORDER BY leaf"""))

  /** Streaming ingest + TTL expiry
    * ([[graft.streaming.StreamVerify.ingestWithRetention]]): micro-batch
    * commits with logged sec stats over the time-sliced q259 staging,
    * then a metadata-only [[graft.sources.TxLake.dropWhereExpired]] at
    * the first tertile boundary — the retained table equals the plain
    * sec-filtered aggregate.
    */
  private def q267(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    val secE = expr("unix_micros(cast(ts as timestamp)) div 1000000")
    val b = raw.agg(min(secE).as("lo"), max(secE).as("hi")).collect()(0)
    val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 3 + 1
    graft.streaming.StreamVerify.ingestWithRetention(
        s, q259Events(s, dir), scratch(dir, "q267"), cutoff)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumx(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  // per-cell MI terms quantized to DECIMAL(18,9) before the
  // order-independent total; ln over exact integer operands both sides
  // stream-committed then TTL-expired = the plain sec-filtered
  // aggregate; the tertile cutoff replays as integer arithmetic
  query("q267_stream_retention", q267, streaming = true)(Sql(
    s"""WITH e AS (SELECT event_type, value, epoch_ns(ts) // 1000000000 AS sec FROM events), b AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e) SELECT event_type, COUNT(*) AS n, $SUMV AS total_value FROM e, b WHERE sec > lo + (hi - lo) // 3 GROUP BY 1 ORDER BY 1"""))

  /** Streaming debounce ([[graft.streaming.EventsStream.debounce]] via
    * [[graft.streaming.StreamVerify.debounceStream]]): one long of state
    * per key, update-mode final emissions, REAL cross-batch suppression
    * over the time-sliced staging — must equal the batch greedy fold
    * (q282's shape at a 900 s gap) row for row.
    */
  private def q284(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify
      .debounceStream(s, q259Events(s, dir), gapSec = 900)
      .orderBy(col("user_id"), col("event_type"), col("kept_sec"))

  // the drained update-mode emissions must equal the batch greedy fold
  // at the 900 s gap — cross-batch state carry included
  query("q284_stream_debounce", q284, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events), g AS (SELECT user_id, event_type, list_sort(list(sec)) AS ss FROM e GROUP BY 1, 2), k AS (SELECT user_id, event_type, list_reduce(list_transform(ss, x -> [x]), (a, x) -> CASE WHEN x[1] >= a[-1] + 900 THEN list_append(a, x[1]) ELSE a END) AS kept FROM g) SELECT user_id, event_type, unnest(kept) AS kept_sec FROM k ORDER BY user_id, event_type, kept_sec"""))

  /** Streaming running z-score monitor ([[graft.streaming.EventsStream
    * .zscoreAlerts]] via [[graft.streaming.StreamVerify.zscoreStream]]):
    * three longs of state per event type, exact-BigInt alert test, REAL
    * cross-batch baseline carry over the time-sliced staging — must equal
    * the batch exclusive-prefix-window replay row for row.
    */
  private def q300(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify
      .zscoreStream(s, q259Events(s, dir), minN = 30, z = 3)
      .orderBy(col("event_type"), col("sec"), col("event_id"))

  // the exclusive-prefix replay of the streaming state: same cents
  // grid, same int128 alert inequality, same (sec, event_id) fold order
  query("q300_stream_zscore", q300, streaming = true)(Sql(
    """WITH e AS (SELECT event_type, event_id, epoch_ns(ts) // 1000000000 AS sec, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events), w AS (SELECT event_type, sec, event_id, c, COUNT(*) OVER pre AS n, COALESCE(SUM(c) OVER pre, 0) AS s, COALESCE(SUM(c * c) OVER pre, 0) AS sq FROM e WINDOW pre AS (PARTITION BY event_type ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) SELECT event_type, sec, event_id, c AS value_cents, CAST(n AS BIGINT) AS n_prior FROM w WHERE n >= 30 AND (CAST(n AS HUGEINT) * c - CAST(s AS HUGEINT)) * (CAST(n AS HUGEINT) * c - CAST(s AS HUGEINT)) > 9 * (CAST(n AS HUGEINT) * CAST(sq AS HUGEINT) - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) ORDER BY event_type, sec, event_id"""))

  /** Arbitrary-state v2 profile ([[graft.streaming.EventsStream
    * .twsProfile]] via [[graft.streaming.StreamVerify.twsProfileStream]]):
    * per-user lifetime (events, sessions) counters in TWO named value
    * states on `transformWithState` + RocksDB — Spark 4's successor API
    * to flatMapGroupsWithState, exercised under the same oracle gate as
    * the rest of the streaming surface. Must equal the batch
    * sessionization count row for row.
    */
  private def q308(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify
      .twsProfileStream(s, q259Events(s, dir), gapSec = 1800)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("n_sessions")).as("n_sessions"))
      .orderBy(col("user_id"))

  // the v2-state profile must equal plain batch sessionization: first
  // event or gap > 1800 s opens a session, counters are lifetime totals
  query("q308_tws_profile", q308, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec FROM events), g AS (SELECT user_id, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS ns FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)) SELECT user_id, COUNT(*) AS n_events, CAST(SUM(ns) AS BIGINT) AS n_sessions FROM g GROUP BY 1 ORDER BY 1"""))

  /** Event-time TIMERS on the arbitrary-state v2 API
    * ([[graft.streaming.EventsStream.twsSessionTimers]]): sessions are
    * finalized by `registerTimer`/`handleExpiredTimer` when the watermark
    * passes (last + gap) — the transformWithState family member a
    * production session pipeline migrating off
    * flatMapGroupsWithState's event-time timeout actually needs.
    * Time-sliced + sentinel-staged input (see q312Events); append-mode
    * emissions are final and must equal batch q15 sessionization.
    */
  private def q312(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify
      .twsSessionTimersStream(s, q312Events(s, dir), gapSec = 1800)
      .select(col("user_id"), col("start_sec"), col("end_sec"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_sec"))

  // timer-finalized sessions must equal batch gap sessionization
  query("q312_tws_timers", q312, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), s AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), t AS (SELECT user_id, sec, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM s) SELECT user_id, MIN(sec) AS start_sec, MAX(sec) AS end_sec, COUNT(*) AS n_events FROM t GROUP BY user_id, sid ORDER BY user_id, start_sec"""))

  /** TTL'd state on the arbitrary-state v2 API
    * ([[graft.streaming.EventsStream.twsFirstSeenTtl]]): the first-seen
    * marker per (user, event_type) lives in value state created with a
    * REAL `TTLConfig` duration, so the key space self-evicts at
    * production scale. The gate's TTL (1h) exceeds the drain wall-clock:
    * nothing expires mid-run, cross-batch suppression is real, and the
    * drained union equals exact batch first-per-key. Expiry itself is
    * proven in StreamingSpec across checkpoint-resumed runs.
    */
  private def q313(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify
      .twsFirstSeenTtlStream(s, q259Events(s, dir),
        java.time.Duration.ofHours(1))
      .orderBy(col("user_id"), col("event_type"))

  // TTL'd first-seen: exact first event per (user, event_type)
  query("q313_tws_ttl", q313, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_type, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), r AS (SELECT user_id, event_type, sec, event_id, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY sec, event_id) AS rn FROM e) SELECT user_id, event_type, sec AS first_sec, event_id AS first_event_id FROM r WHERE rn = 1 ORDER BY user_id, event_type"""))

  /** `StatefulProcessorWithInitialState`
    * ([[graft.streaming.EventsStream.twsProfileSeeded]]): per-user
    * lifetime totals seeded from a batch aggregate over the first time
    * tertile; only later events stream. The drained totals (unioned with
    * seeded users the stream never touched) must equal the FULL-history
    * aggregate — which holds only if `handleInitialState` installed every
    * seed. The migration shape for moving a standing aggregate onto a new
    * streaming job without replaying history.
    */
  private def q314(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    val secE = expr("unix_micros(cast(ts as timestamp)) div 1000000")
    val b = raw.agg(min(secE).as("lo"), max(secE).as("hi")).collect()(0)
    val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 3
    val initial = raw.filter(secE <= cutoff)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast(DecimalType(18, 2))) * 100)
          .cast("long").as("sum_cents"))
    val drained = graft.streaming.StreamVerify
      .twsProfileSeededStream(s, q259Events(s, dir), initial, cutoff)
    // cumulative update-mode emissions: per key the row with max n wins;
    // users whose every event predates the cutoff never stream — their
    // answer IS their seed
    val reduced = drained.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("sum_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.sum_cents").as("sum_cents"))
    reduced
      .unionByName(initial.join(reduced, Seq("user_id"), "left_anti"))
      .orderBy(col("user_id"))
  }

  // seeded profile must reconstruct the FULL-history aggregate
  query("q314_tws_initial", q314, streaming = true)(Sql(
    """SELECT user_id, COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_cents FROM events GROUP BY 1 ORDER BY 1"""))

  /** Streaming tumbling-window aggregation (Trigger.AvailableNow → memory
    * sink), hash-compared against the batch SQL — the streaming engine runs
    * inside the correctness gate, not just in ScalaTest.
    */
  private def q53(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.hourly(s, eventsPath(dir))
      .orderBy(col("hour"), col("event_type"))

  query("q53_stream_hourly", q53, streaming = true)(Sql(
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  /** Streaming gap sessionization via built-in session_window. */
  private def q54(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.sessions(s, eventsPath(dir))
      .orderBy(col("user_id"), col("start_sec"))

  // session_window merge is INCLUSIVE at the gap boundary (an interval
  // touching the previous session's end extends it — verified empirically
  // at sf0.1, where one exactly-1800s gap exists), so the oracle uses the
  // same > gap test as batch q15
  query("q54_stream_sessions", q54, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), s AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), t AS (SELECT user_id, sec, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s) SELECT user_id, MIN(sec) AS start_sec, MAX(sec) AS end_sec, COUNT(*) AS n_events FROM t GROUP BY user_id, session_id ORDER BY user_id, start_sec"""))

  /** Streaming exact dedup (dropDuplicatesWithinWatermark). */
  private def q55(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.dedupPairs(s, eventsPath(dir))
      .orderBy(col("user_id"), col("event_type"))

  query("q55_stream_dedup", q55, streaming = true)(Sql(
    """SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"""))

  /** Streaming bronze → partitioned lake → read-back aggregation. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.lakeRoundTrip(s, eventsPath(dir), scratch(dir, "q56"))
      .orderBy(col("date_id"))

  query("q56_stream_lake", q56, streaming = true)(Sql(
    s"""SELECT strftime(ts, '%Y-%m-%d') AS date_id, COUNT(*) AS n, $SUMV AS total_value FROM events GROUP BY 1 ORDER BY date_id"""))

  /** Stream-stream interval join: purchases ⋈ same-user clicks within the
    * preceding hour, both sides watermarked.
    */
  private def q77(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.streamStreamJoin(s, eventsPath(dir))
      .orderBy(col("p_id"), col("c_id"))

  query("q77_stream_stream_join", q77, streaming = true)(Sql(
    """WITH p AS (SELECT event_id AS p_id, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS c_id, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'click') SELECT p.p_id, c.c_id FROM p JOIN c ON p.user_id = c.user_id AND c.sec >= p.sec - 3600 AND c.sec <= p.sec ORDER BY p_id, c_id"""))

  /** q92's stream input: the events file plus ONE far-future sentinel row
    * per join side (ts = max real ts + 1 day), staged next to the symlink.
    * The outer join emits its unmatched rows only when the watermark passes
    * their join window (see StreamVerify.streamStreamOuterJoin); the
    * sentinels push the watermark past every real row so the drain is
    * batch-equivalent. The two sentinels carry DISTINCT out-of-band user
    * ids (-1, -2) so they cannot join each other, and are never emitted
    * because the watermark never reaches their own timestamps. Written
    * with the raw NTZ storage schema so it reads uniformly with the real
    * file.
    */
  private def q92Events(s: SparkSession, dir: String): String = {
    val staged = eventsPath(dir, "q92_events")
    val sentinel = new java.io.File(s"$staged/zz_sentinel.parquet")
    if (!sentinel.exists()) {
      val maxNanos = T(s, dir, "events").agg(max(col("ts"))).head().getLong(0)
      val ts = graft.streaming.EventsStream.ntzOfEpochSec(
        maxNanos / 1000000000L + 86400L)
      val rows = Seq(
        org.apache.spark.sql.Row(-1L, ts, -1L, "purchase", 0.0, null),
        org.apache.spark.sql.Row(-2L, ts, -2L, "click", 0.0, null))
      stageFile(s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        graft.streaming.EventsStream.rawEventsSchema),
        scratch(dir, "q92_sentinel"), sentinel.toPath, None)
    }
    staged
  }

  /** Stream-stream LEFT OUTER interval join: purchases with no same-user
    * click in the preceding hour emit with a NULL click id, driven by
    * watermark passage (sentinel-staged input, see q92Events).
    */
  private def q92(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.streamStreamOuterJoin(s, q92Events(s, dir))
      .orderBy(col("p_id"), col("c_id"))

  query("q92_stream_outer_join", q92, streaming = true)(Sql(
    """WITH p AS (SELECT event_id AS p_id, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS c_id, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'click') SELECT p.p_id, c.c_id FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.sec >= p.sec - 3600 AND c.sec <= p.sec ORDER BY p_id, c_id"""))

  /** Stream-stream FULL OUTER interval join
    * ([[graft.streaming.StreamVerify.streamStreamFullOuterJoin]]):
    * completes the streaming join matrix (inner q77 / left q92 / full
    * here) on the same sentinel-staged input.
    */
  private def q171(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.streamStreamFullOuterJoin(s, q92Events(s, dir))
      .orderBy(col("p_id"), col("c_id"))

  query("q171_stream_full_outer", q171, streaming = true)(Sql(
    """WITH p AS (SELECT event_id AS p_id, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS c_id, user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events WHERE event_type = 'click') SELECT p.p_id, c.c_id FROM p FULL JOIN c ON p.user_id = c.user_id AND c.sec >= p.sec - 3600 AND c.sec <= p.sec ORDER BY p_id, c_id"""))

  /** q135's stream input: the events table split into TWO staged files by
    * event_id parity (raw NTZ storage schema, so it reads uniformly).
    * Each user's sessions therefore span both files, and with
    * maxFilesPerTrigger=1 the update-mode drain genuinely re-emits grown
    * sessions across micro-batches — the semantics under test. File
    * mtimes are pinned so the source's (mtime, path) processing order is
    * deterministic, though the supersede pruning is order-correct either
    * way.
    */
  private def q135Events(s: SparkSession, dir: String): String = {
    val staged = java.nio.file.Paths.get(scratch(dir, "q135_events"))
    java.nio.file.Files.createDirectories(staged)
    val halves = Seq("a_even.parquet" -> 0, "b_odd.parquet" -> 1)
    if (!halves.forall(h => staged.resolve(h._1).toFile.exists())) {
      parStage(halves.size) { i =>
        val (name, parity) = halves(i)
        stageFile(s.read.parquet(s"$dir/events.parquet")
          .filter(col("event_id") % 2 === parity),
          scratch(dir, s"q135_half$parity"), staged.resolve(name), Some(parity))
      }
    }
    staged.toString
  }

  /** Time-sliced staging for the deleting CDC stream (q259): three files,
    * each holding a strictly later floored-second range than the last,
    * mtimes forcing oldest-first processing. Slicing on the FLOORED
    * second (the engine's canonical ordering unit) keeps equal-second
    * rows in one slice, so the per-batch newest row is the global newest
    * wherever the tie-breaking event_id lands.
    */
  private def q259Events(s: SparkSession, dir: String): String = {
    val staged = java.nio.file.Paths.get(scratch(dir, "q259_events"))
    java.nio.file.Files.createDirectories(staged)
    val names = Seq("t0.parquet", "t1.parquet", "t2.parquet")
    if (!names.forall(n => staged.resolve(n).toFile.exists())) {
      val raw = s.read.parquet(s"$dir/events.parquet")
      val sec = expr("unix_micros(cast(ts as timestamp)) div 1000000")
      val b = raw.agg(min(sec).as("lo"), max(sec).as("hi")).collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (b1, b2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val slices = Seq(sec <= b1, sec > b1 && sec <= b2, sec > b2)
      names.zip(slices).zipWithIndex.foreach { case ((name, cond), i) =>
        stageFile(raw.filter(cond), scratch(dir, s"q259_slice$i"),
          staged.resolve(name), Some(i))
      }
    }
    staged.toString
  }

  /** q312's stream input: the q259 time slices PLUS a far-future sentinel
    * file (user -1, ts = max real ts + 1 day) with the LATEST mtime, so it
    * is processed last and pushes the watermark past every real session's
    * close — firing every registered event-time timer. The sentinel's own
    * session can never finalize (the watermark trails its event time).
    */
  private def q312Events(s: SparkSession, dir: String): String = {
    val staged = java.nio.file.Paths.get(scratch(dir, "q312_events"))
    java.nio.file.Files.createDirectories(staged)
    val src = java.nio.file.Paths.get(q259Events(s, dir))
    Seq("t0.parquet", "t1.parquet", "t2.parquet").zipWithIndex.foreach {
      case (name, i) =>
        val dest = staged.resolve(name)
        if (!dest.toFile.exists())
          java.nio.file.Files.copy(src.resolve(name), dest)
        pinMtime(dest, i)
    }
    val sentinel = staged.resolve("t3_sentinel.parquet")
    if (!sentinel.toFile.exists()) {
      val maxNanos = T(s, dir, "events").agg(max(col("ts"))).head().getLong(0)
      val ts = graft.streaming.EventsStream.ntzOfEpochSec(
        maxNanos / 1000000000L + 86400L)
      stageFile(s.createDataFrame(
        s.sparkContext.parallelize(
          Seq(org.apache.spark.sql.Row(-1L, ts, -1L, "noop", 0.0, null)), 1),
        graft.streaming.EventsStream.rawEventsSchema),
        scratch(dir, "q312_sentinel"), sentinel, None)
    }
    pinMtime(sentinel, 3)
    staged.toString
  }

  /** Session-window aggregation in UPDATE mode: grown sessions re-emitted
    * per micro-batch, superseded emissions pruned, final state
    * hash-equal to batch sessionization
    * ([[graft.streaming.StreamVerify.sessionsUpdateMode]]).
    */
  private def q135(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.sessionsUpdateMode(
      s, q135Events(s, dir), scratch(dir, "q135"))
      .orderBy(col("user_id"), col("start_sec"))

  // the pruned update-mode emissions must equal batch sessionization —
  // same gap-split replay as q54
  query("q135_stream_update_sessions", q135, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), s AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), t AS (SELECT user_id, sec, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s) SELECT user_id, MIN(sec) AS start_sec, MAX(sec) AS end_sec, COUNT(*) AS n_events FROM t GROUP BY user_id, session_id ORDER BY user_id, start_sec"""))

  /** Built-in session_window in APPEND mode: each session emitted exactly
    * once at watermark passage (sentinel-staged input, see q92Events) —
    * completes the session-mode matrix (q54 complete, q135 update)
    * ([[graft.streaming.StreamVerify.sessionsAppendMode]]).
    */
  private def q142(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.sessionsAppendMode(s, q92Events(s, dir))
      .orderBy(col("user_id"), col("start_sec"))

  // append emission at watermark passage must equal batch
  // sessionization — same gap-split replay as q54
  query("q142_stream_append_sessions", q142, streaming = true)(Sql(
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec FROM events), s AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), t AS (SELECT user_id, sec, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s) SELECT user_id, MIN(sec) AS start_sec, MAX(sec) AS end_sec, COUNT(*) AS n_events FROM t GROUP BY user_id, session_id ORDER BY user_id, start_sec"""))

  /** Per-key stream alerting against a trailing baseline: append-mode
    * hourly windows finalized by watermark passage (sentinel-staged input,
    * see q92Events), each compared to the mean of its key's previous 24
    * closed hours ([[graft.streaming.StreamVerify.hourlyAlerts]]).
    */
  private def q136(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.hourlyAlerts(s, q92Events(s, dir))
      .orderBy(col("event_type"), col("hour"))

  // the append-mode drain must emit every CLOSED hourly window exactly
  // once, so the stream result replays as the plain batch hourly counts
  // plus a per-key trailing-24-row window; sums of small ints are exact
  // in double, so avg and the 2x comparison are deterministic both sides
  query("q136_stream_alerts", q136, streaming = true)(Sql(
    """WITH hourly AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2), b AS (SELECT hour, event_type, n, CAST(COUNT(n) OVER w AS BIGINT) AS n_prior, AVG(n) OVER w AS baseline FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) SELECT hour, event_type, n, n_prior, round(baseline, 6) AS baseline, CAST(CASE WHEN n_prior >= 3 AND CAST(n AS DOUBLE) > 2.0 * baseline THEN 1 ELSE 0 END AS INT) AS alert FROM b ORDER BY event_type, hour"""))

  /** Stream-static join: event stream enriched against the static customer
    * dimension, aggregated per market segment.
    */
  private def q69(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamVerify.staticJoin(
      s, eventsPath(dir), T(s, dir, "customer"), "c_custkey")
      .orderBy(col("c_mktsegment"))

  query("q69_stream_static_join", q69, streaming = true)(Sql(
    s"""SELECT c_mktsegment, COUNT(*) AS n, $SUMV AS total_value FROM events JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"""))
}
