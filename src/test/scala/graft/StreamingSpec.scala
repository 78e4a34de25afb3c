package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.streaming.EventsStream

class StreamingSpec extends SparkSuite {

  /** Stage the REAL events parquet (NTZ-micros timestamps) into a stream
    * dir — readEvents must consume the engine's own lake format directly.
    */
  private def stageSource(copies: Int = 1): String = {
    val dir = Files.createTempDirectory("graft_stream_src")
    (1 to copies).foreach { i =>
      Files.copy(Paths.get(s"$sf/events.parquet"),
        dir.resolve(s"events_$i.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  test("streaming hourly counts over the raw lake match the batch total") {
    val q = EventsStream.hourlyCounts(
      EventsStream.readEvents(spark, stageSource()))
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("hourly_out").agg(sum("n")).head().getLong(0) == 1000L)
    } finally q.stop()
  }

  test("streaming lake sink isolates micro-batches and replays idempotently") {
    val lake = Files.createTempDirectory("graft_stream_lake").toString
    val src = stageSource()
    val q = EventsStream.toLake(EventsStream.readEvents(spark, src), lake).start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(lake).count() == 1000L)
    } finally q.stop()
    // fresh query (fresh checkpoint) replays as batch 0 again: its own
    // batch partition is overwritten, rows are not duplicated
    val q2 = EventsStream.toLake(EventsStream.readEvents(spark, src), lake).start()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(lake).count() == 1000L)
    } finally q2.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch of a backlogged directory") {
    val src = stageSource(copies = 3)
    val q = EventsStream.readEvents(spark, src, maxFilesPerTrigger = Some(1))
      .select("event_id")
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 3,
        s"3 staged files at 1 file/trigger must drain in 3 data batches, got $dataBatches")
      assert(spark.table("rate_out").count() == 3000L)
    } finally spark.catalog.dropTempView("rate_out")
  }

  test("stream-stream LEFT OUTER join equals the batch left join, nulls included") {
    val got = SparkEntry.queries("q92_stream_outer_join")(spark, sf).collect()
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("sec", expr("ts div 1000000000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("sec").as("p_sec"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("sec").as("c_sec"))
    val exp = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_sec") >= col("p_sec") - 3600 && col("c_sec") <= col("p_sec"),
      "left_outer")
      .select(col("p_id"), col("c_id"))
      .orderBy(col("p_id"), col("c_id"))
      .collect()
    assert(got.toSeq == exp.toSeq)
    // the watermark-driven null path must actually be exercised
    assert(got.exists(_.isNullAt(1)),
      "expected at least one unmatched purchase emitted with a NULL click id")
  }

  test("streaming dedup suppresses duplicate deliveries (keyed, not ts-keyed)") {
    val q = EventsStream.dedupedStream(
      EventsStream.readEvents(spark, stageSource(copies = 2)), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 1000L)
    } finally q.stop()
  }

  test("AvailableNow resume processes only the new file on the second run") {
    val halves = Files.createTempDirectory("graft_resume_halves")
    Seq(0, 1).foreach { parity =>
      val side = Files.createTempDirectory("graft_resume_side").toString
      spark.read.parquet(s"$sf/events.parquet")
        .filter(col("event_id") % 2 === parity)
        .coalesce(1).write.mode("overwrite").parquet(side)
      val part = new java.io.File(side).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, halves.resolve(s"h$parity.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val scratch = Files.createTempDirectory("graft_resume").toString + "/run"
    val out = graft.streaming.StreamVerify.incrementalResume(spark,
      halves.resolve("h0.parquet").toString,
      halves.resolve("h1.parquet").toString, scratch)
    assert(out.agg(sum("n")).head().getLong(0) == 1000L,
      "both halves present exactly once — a re-read would double, a skip would drop")
    // each AvailableNow run committed exactly one micro-batch: batch 1
    // existing proves run 2 RESUMED the checkpoint instead of restarting
    val commits = new java.io.File(s"$scratch/chk/commits").listFiles()
      .map(_.getName).filter(_.matches("[0-9]+")).toSet
    assert(commits == Set("0", "1"),
      s"expected exactly batches 0 and 1, got $commits")
  }

  test("update-mode sessionization re-emits exactly the changed sessions per batch") {
    import org.apache.spark.sql.{Row => R}
    val dir = Files.createTempDirectory("graft_upd_src")
    def writeFile(name: String, mtime: Long, rows: Seq[(Long, Long, Long)]): Unit = {
      val side = Files.createTempDirectory("graft_upd_side").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (id, sec, u) =>
            R(id, EventsStream.ntzOfEpochSec(sec), u, "click", 0.0, null) }, 1),
        EventsStream.rawEventsSchema)
        .write.mode("overwrite").parquet(side)
      val part = new java.io.File(side).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(mtime)
    }
    // batch A: u1 two events 1000s apart (one session), u2 singleton
    writeFile("a.parquet", 1600000000000L,
      Seq((1L, 1000L, 1L), (2L, 2000L, 1L), (3L, 5000L, 2L)))
    // batch B: u1 extends its session (2500 - 2000 <= gap), u3 appears
    writeFile("b.parquet", 1600000010000L,
      Seq((4L, 2500L, 1L), (5L, 9000L, 3L)))
    var emissions = Map.empty[Long, Set[(Long, Long, Long, Int)]]
    val q = EventsStream.sessionizeUpdates(spark,
        EventsStream.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.SessionOut], id: Long) =>
        val rows = batch.collect()
          .map(o => (o.user_id, o.start_sec, o.end_sec, o.n_events)).toSet
        if (rows.nonEmpty) emissions = emissions + (id -> rows)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(emissions(0L) == Set((1L, 1000L, 2000L, 2), (2L, 5000L, 5000L, 1)))
    // u1's grown session re-emitted; u2 silent (unchanged); u3 new
    assert(emissions(1L) == Set((1L, 1000L, 2500L, 3), (3L, 9000L, 9000L, 1)))
    assert(emissions.keySet == Set(0L, 1L))
  }

  test("stateful sessionization emits valid sessions; finals flush via event-time timeout") {
    val q = EventsStream.sessionize(spark,
      EventsStream.readEvents(spark, stageSource()))
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("sessions_out")
      val batchTotal = SparkEntry.queries("q15_sessionize")(spark, sf).count()
      val users = spark.read.parquet(s"$sf/events.parquet")
        .select("user_id").distinct().count()
      // closed-by-successor sessions are always out; watermark-timeout may
      // flush up to all remaining open sessions
      assert(sessions.count() >= batchTotal - users)
      assert(sessions.count() <= batchTotal)
      assert(sessions.filter(col("end_sec") < col("start_sec")).count() == 0)
    } finally q.stop()
  }

  test("streaming debounce carries last-kept state across micro-batches") {
    import org.apache.spark.sql.{Row => R}
    val dir = Files.createTempDirectory("graft_deb_src")
    def writeFile(name: String, mtime: Long, rows: Seq[(Long, Long)]): Unit = {
      val side = Files.createTempDirectory("graft_deb_side").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (id, sec) =>
            R(id, EventsStream.ntzOfEpochSec(sec), 1L, "click", 0.0, null) }, 1),
        EventsStream.rawEventsSchema)
        .write.mode("overwrite").parquet(side)
      val part = new java.io.File(side).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(mtime)
    }
    // batch A: 1000 kept, 1300 suppressed, 1700 kept (gap 600)
    writeFile("a.parquet", 1600000000000L, Seq((1L, 1000L), (2L, 1300L), (3L, 1700L)))
    // batch B: 2200 is only 500s after the batch-A kept 1700 → MUST be
    // suppressed by carried state; 2400 kept
    writeFile("b.parquet", 1600000010000L, Seq((4L, 2200L), (5L, 2400L)))
    val kept = scala.collection.mutable.Set.empty[Long]
    val q = EventsStream.debounce(spark,
        EventsStream.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)),
        gapSec = 600)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => kept += r.getLong(2)); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(kept.toSet == Set(1000L, 1700L, 2400L))
  }

  test("streaming zscore carries (n, Σ, Σ²) baseline across micro-batches") {
    import org.apache.spark.sql.{Row => R}
    val dir = Files.createTempDirectory("graft_z_src")
    def writeFile(name: String, mtime: Long, rows: Seq[(Long, Long, Double)]): Unit = {
      val side = Files.createTempDirectory("graft_z_side").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (id, sec, v) =>
            R(id, EventsStream.ntzOfEpochSec(sec), 1L, "click", v, null) }, 1),
        EventsStream.rawEventsSchema)
        .write.mode("overwrite").parquet(side)
      val part = new java.io.File(side).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(mtime)
    }
    // batch A: six identical points — zero variance, no alert possible
    writeFile("a.parquet", 1600000000000L,
      (1L to 6L).map(i => (i, i * 100L, 10.0)))
    // batch B: another on-mean point (no alert: |v−mean| = 0), then an
    // outlier that must alert AGAINST THE CARRIED BASELINE with n_prior=7
    writeFile("b.parquet", 1600000010000L,
      Seq((7L, 700L, 10.0), (8L, 800L, 100.0)))
    val alerts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = EventsStream.zscoreAlerts(spark,
        EventsStream.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)),
        minN = 5, z = 3)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => alerts += ((r.getLong(2), r.getLong(4)))); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(alerts.toList == List((8L, 7L)),
      s"only the outlier should alert, with the cross-batch n_prior; got $alerts")
  }

  test("transformWithState profile carries both value states across batches") {
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.functions.{col, max}
    val dir = Files.createTempDirectory("graft_tws_src")
    def writeFile(name: String, mtime: Long, rows: Seq[(Long, Long)]): Unit = {
      val side = Files.createTempDirectory("graft_tws_side").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (id, sec) =>
            R(id, EventsStream.ntzOfEpochSec(sec), 7L, "click", 0.0, null) }, 1),
        EventsStream.rawEventsSchema)
        .write.mode("overwrite").parquet(side)
      val part = new java.io.File(side).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = dir.resolve(name)
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(mtime)
    }
    // batch A: one session (gap 200 ≤ 1800)
    writeFile("a.parquet", 1600000000000L, Seq((1L, 1000L), (2L, 1200L)))
    // batch B: 2000 continues the carried session (gap 800); 10000 opens
    // a second one — both value states must have survived the batch edge
    writeFile("b.parquet", 1600000010000L, Seq((3L, 2000L), (4L, 10000L)))
    val out = graft.streaming.StreamVerify
      .twsProfileStream(spark, dir.toString, gapSec = 1800)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("ne"), max(col("n_sessions")).as("ns"))
      .collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2)) ==
      ((7L, 4L, 2L)))
  }

  /** Shared writer for the transformWithState-family tests: one parquet
    * file per micro-batch, mtimes forcing oldest-first processing.
    */
  private def writeEventFile(dir: java.nio.file.Path, name: String,
      mtime: Long, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
    import org.apache.spark.sql.{Row => R}
    val side = Files.createTempDirectory("graft_twsf_side").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, sec, user, typ, v) =>
          R(id, EventsStream.ntzOfEpochSec(sec), user, typ, v, null) }, 1),
      EventsStream.rawEventsSchema)
      .write.mode("overwrite").parquet(side)
    val part = new java.io.File(side).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = dir.resolve(name)
    Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toFile.setLastModified(mtime)
  }

  test("transformWithState timers finalize the last open session at watermark passage") {
    val dir = Files.createTempDirectory("graft_twst_src")
    // batch A: one session for user 7 (gap 600): events at 1000, 1200
    writeEventFile(dir, "a.parquet", 1600000000000L,
      Seq((1L, 1000L, 7L, "click", 0.0), (2L, 1200L, 7L, "click", 0.0)))
    // batch B: 2000 is 800 > 600 after 1200 → closes session 1 in-data,
    // opens session 2 — which only a TIMER can ever close
    writeEventFile(dir, "b.parquet", 1600000010000L,
      Seq((3L, 2000L, 7L, "click", 0.0)))
    // batch C: far-future sentinel pushes the watermark (2h delay) past
    // 2000 + 600, firing user 7's registered timer
    writeEventFile(dir, "c.parquet", 1600000020000L,
      Seq((99L, 200000L, -1L, "noop", 0.0)))
    val out = graft.streaming.StreamVerify
      .twsSessionTimersStream(spark, dir.toString, gapSec = 600)
      .orderBy(col("start_sec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toList == List((7L, 1000L, 1200L, 2L), (7L, 2000L, 2000L, 1L)),
      s"expected the gap-closed AND the timer-closed session; got ${out.toList}")
  }

  test("TTL'd first-seen state expires and re-admits a key across resumed runs") {
    val dir = Files.createTempDirectory("graft_twsttl_src")
    val chk = Files.createTempDirectory("graft_twsttl_chk").toString
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def runOnce(expectedEmissions: Int): Unit = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        // ProcessingTime mode can't drain via AvailableNow OR
        // processAllAvailable (wall-clock always advances →
        // shouldRunAnotherBatch never false, the "no new data" state is
        // never reached): poll the sink for the expected emissions, then
        // stop — the same completion contract as
        // StreamVerify.drainProcessingTime
        val q = EventsStream.twsFirstSeenTtl(spark,
            EventsStream.readEvents(spark, dir.toString),
            java.time.Duration.ofSeconds(1))
          .writeStream.outputMode("update")
          .option("checkpointLocation", chk)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach(r =>
              emitted += ((r.getLong(0), r.getLong(3)))); ()
          }
          .start()
        try {
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          // stop only once the emitting batch has committed (its progress
          // is posted after the commit-log write): a stop between the sink
          // call and the commit makes the resumed run replay that file
          def committed = q.recentProgress.exists(_.numInputRows > 0)
          while ((emitted.size < expectedEmissions || !committed) &&
              System.nanoTime() < deadline) Thread.sleep(100L)
        } finally q.stop()
        q.awaitTermination()
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
    writeEventFile(dir, "a.parquet", 1600000000000L,
      Seq((1L, 1000L, 1L, "click", 0.0)))
    runOnce(1)
    assert(emitted.toList == List((1L, 1L)))
    // let the 1s TTL lapse, then redeliver the SAME key in a resumed run:
    // the expired marker must re-admit it as first-seen
    Thread.sleep(4000L)
    writeEventFile(dir, "b.parquet", 1600000010000L,
      Seq((2L, 2000L, 1L, "click", 0.0)))
    runOnce(2)
    assert(emitted.toList == List((1L, 1L), (1L, 2L)),
      s"expired key must re-emit with the new first event id; got $emitted")
  }

  test("initial state seeds the processor before the first input batch") {
    val dir = Files.createTempDirectory("graft_twsi_src")
    // user 7 streams two 1.00-value events on top of a (5, 1000) seed;
    // user 9 exists ONLY in the seed and must never emit
    writeEventFile(dir, "a.parquet", 1600000000000L,
      Seq((1L, 1000L, 7L, "click", 1.0), (2L, 1200L, 7L, "click", 1.0)))
    import spark.implicits._
    val initial = Seq((7L, 5L, 1000L), (9L, 3L, 700L))
      .toDF("user_id", "n_events", "sum_cents")
    val out = graft.streaming.StreamVerify
      .twsProfileSeededStream(spark, dir.toString, initial, cutoffSec = 0L)
      .groupBy(col("user_id"))
      .agg(max(org.apache.spark.sql.functions.struct(
        col("n_events"), col("sum_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events"), col("m.sum_cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toList == List((7L, 7L, 1200L)),
      s"seed (5,1000) + two 100-cent events = (7,1200), no user 9; got ${out.toList}")
  }
}
