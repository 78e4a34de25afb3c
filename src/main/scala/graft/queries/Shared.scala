package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.GraftLakeBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.sources.Tables

/** What the query families share: the table loader, exact-sum and
  * event-time columns, the one scratch-path function, the streaming
  * staging helpers and the oracle SQL fragments several families use.
  */
private[queries] object Shared {
  def T(s: SparkSession, dir: String, n: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.load(s, dir, n)
  }

  /** Exact decimal sum surfaced as double (deterministic at any parallelism). */
  def sumx(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  def ntz(ts: String): Column = expr(s"TIMESTAMP_NTZ '$ts'")

  /** events.ts (nanos long) floored to epoch seconds. */
  val evSec: Column = expr("ts div 1000000000")

  def evTs: Column = timestamp_seconds(evSec).cast("timestamp_ntz")

  def evDateId: Column = date_format(evTs, "yyyy-MM-dd")

  def scratch(dir: String, q: String): String =
    s"/root/repo/target/scratch/${q}_${math.abs(dir.hashCode)}"

  /** Gap islands over a distinct (event_type, h) hour set — shared by the
    * batch audit (q233) and the streaming hour-store monitor (q242).
    */
  def gapIslands(hrs: DataFrame): DataFrame = {
    val spine = hrs.groupBy(col("event_type"))
      .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    spine.join(hrs, Seq("event_type", "h"), "left_anti")
      .withColumn("brk",
        when(col("h") - lag(col("h"), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("gap_idx", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("event_type"), col("gap_idx"))
      .agg(
        timestamp_seconds(min(col("h")) * 3600).cast("timestamp_ntz").as("gap_start"),
        timestamp_seconds(max(col("h")) * 3600).cast("timestamp_ntz").as("gap_end"),
        count(lit(1)).as("n_missing"))
      .orderBy(col("event_type"), col("gap_idx"))
  }

  /** Run `n` independent staging writes CONCURRENTLY (guide §2.6 —
    * overlap independent jobs): each staged side is a coalesce(1)
    * single-task scan+write, so a sequential loop serializes on one core
    * while the rest of the pool idles. Threads only overlap separate
    * Spark actions (job descriptions/groups are thread-local; the FIFO
    * scheduler back-fills) — each side's plan, bytes and file name are
    * exactly what the sequential loop produced. Failures propagate.
    */
  def parStage(n: Int)(body: Int => Unit): Unit = {
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => {
        try body(i)
        catch { case e: Throwable => errs.compareAndSet(null, e) }
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    if (errs.get() != null) throw errs.get()
  }

  /** Pin a staged batch file's mtime to the ascending stamp of batch
    * `idx`: FileStreamSource orders micro-batches by file modification
    * time, and concurrent [[parStage]] threads would otherwise race the
    * clock.
    */
  def pinMtime(file: java.nio.file.Path, idx: Int): Unit =
    file.toFile.setLastModified(1600000000000L + idx * 10000L)

  /** Write `df` as a single parquet file and lift it to `dest`. The
    * writer's output directory `side` holds one `part-` file; the
    * file-stream source lists only direct children of the staged dir, so
    * that file is copied into the batch directory. With `pin`, the
    * copy's mtime is pinned to that batch's stamp ([[pinMtime]]).
    */
  def stageFile(df: DataFrame, side: String,
      dest: java.nio.file.Path, pin: Option[Int]): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(side)
    val part = new java.io.File(side).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"staging write to $side produced no part file"))
    java.nio.file.Files.copy(part.toPath, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    pin.foreach(pinMtime(dest, _))
  }

  /** Stage `base` (keyed by `splitCol` parity) as two single-file
    * parquet batches under `name`, returning the staged dir — the
    * two-micro-batch harness every census-store query drains through.
    */
  def stageHalves(
      s: SparkSession, dir: String, name: String,
      base: DataFrame, splitCol: String): String = {
    val staged = scratch(dir, s"${name}_src")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staged))
    parStage(2) { par =>
      stageFile(base.filter(col(splitCol) % 2 === par).drop(splitCol),
        scratch(dir, s"${name}_half$par"),
        java.nio.file.Paths.get(s"$staged/half$par.parquet"), Some(par))
    }
    staged
  }

  /** Stage the raw events file as three single-file batches
    * (`event_id % 3`) under `<name>_src`, returning that dir.
    */
  def stageEventSlices(
      s: SparkSession, dir: String, name: String): String = {
    val staged = scratch(dir, s"${name}_events")
    val src = scratch(dir, s"${name}_src")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    parStage(3) { par =>
      stageFile(s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") % 3 === par),
        s"$staged/_slice$par",
        java.nio.file.Paths.get(s"$src/slice$par.parquet"), Some(par))
    }
    src
  }

  /** Stage `docs` as two single-file batches (`doc_id` parity) under
    * `<name>_src`, returning that dir.
    */
  def stageDocHalves(
      dir: String, name: String, docs: DataFrame): String = {
    val staged = scratch(dir, s"${name}_docs")
    val src = scratch(dir, s"${name}_src")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    parStage(2) { par =>
      stageFile(docs.filter(col("doc_id") % 2 === par),
        s"$staged/_half$par",
        java.nio.file.Paths.get(s"$src/half$par.parquet"), Some(par))
    }
    src
  }

  /** Dense zero-filled (event_type, hour_id, n) spine — the gap-free
    * series the centered-window family (q634 decomposition, q637
    * Newey–West) requires; hourlyVolumes alone would silently skip
    * empty hours and bend every centered window. */
  def hourlySpineDense(s: SparkSession, dir: String): DataFrame = {
    val h = T(s, dir, "events")
      .select(expr("ts div 1000000000 div 3600").as("hour_id"),
        col("event_type"))
    val hours = h.agg(min(col("hour_id")).as("lo"),
        max(col("hour_id")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hour_id"))
    val types = h.select(col("event_type")).distinct()
    val cen = h.groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))
    types.crossJoin(hours)
      .join(cen, Seq("event_type", "hour_id"), "left")
      .select(col("event_type"), col("hour_id"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** The per-user encouragement frame q650 (IV) and q653 (its
    * streaming store) share: hash-assigned encouragement z, exposure
    * x = encouraged AND clicked, outcome y = ever errored. */
  def ivFrame(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max((col("event_type") === "click").cast("long")).as("hc"),
        max((col("event_type") === "error").cast("long")).as("y"))
      .select(col("user_id"),
        (pmod(conv(substring(md5(concat(lit("iv:"),
          col("user_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(2)) === 1L).as("z"), col("hc"), col("y"))
      .select(col("user_id"), col("z"),
        when(col("z") && col("hc") === 1L, 1L).otherwise(0L).as("x"),
        col("y"))

  def weeklyDemand(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_partkey"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01') AS BIGINT) div 7")
          .as("week"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))

  /** The file-stream source requires a DIRECTORY to monitor; the testdata
    * keeps each table as a single parquet file. Stage a scratch directory
    * holding a symlink to the events file (no data copy). An events table
    * written by Spark (a `ScaleUp` replica) is a directory: the scratch
    * directory then links each of its part files, since the source does
    * not descend into a linked directory, and handing out the table's own
    * directory would let a caller that stages extra files next to the
    * links (q92's sentinel) write into the table. A missing events table
    * fails as a batch read of it does (a dangling link would stream
    * nothing and drain an empty answer).
    */
  def eventsPath(dir: String, name: String = "stream_events"): String = {
    import java.nio.file.{Files, LinkOption, Path, Paths}
    import scala.jdk.CollectionConverters._
    val target = Paths.get(s"$dir/events.parquet").toAbsolutePath
    if (!Files.exists(target))
      throw GraftLakeBridge.pathNotFound(new org.apache.hadoop.fs.Path(target.toString))
    val wanted: Map[Path, Path] =
      if (!Files.isDirectory(target)) Map(Paths.get("events.parquet") -> target)
      else {
        val parts = Files.list(target)
        try parts.iterator().asScala.map(_.getFileName)
          .filterNot(n => n.toString.startsWith("_") || n.toString.startsWith("."))
          .map(n => n -> target.resolve(n)).toMap
        finally parts.close()
      }
    val staged = Paths.get(scratch(dir, name))
    Files.createDirectories(staged)
    // drop links that no longer point where they should (a re-staged
    // replica renames its parts); files staged next to them are kept
    val listing = Files.list(staged)
    val links = try listing.iterator().asScala.toList finally listing.close()
    links.filter(Files.isSymbolicLink(_)).foreach { link =>
      if (!wanted.get(link.getFileName).contains(Files.readSymbolicLink(link)))
        Files.delete(link)
    }
    // NOFOLLOW: a dangling link must be detected as present — Files.exists
    // follows the link and would report false
    wanted.foreach { case (n, t) =>
      val link = staged.resolve(n)
      if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) && !Files.isSymbolicLink(link))
        Files.delete(link)
      if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, t)
    }
    staged.toString
  }

  val SUMV = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"

  // JSD: shared by the batch matrix (q455) and the streaming
  // hour-profile census store (q471) - counts add, batching invisible
  val jsdSql: String =
    """WITH e AS (SELECT event_type AS k, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS b FROM events), c AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), t AS (SELECT k, CAST(SUM(n) AS BIGINT) AS t FROM c GROUP BY k), sp AS (SELECT a.k AS ka, b.k AS kb, a.t AS ta, b.t AS tb FROM t a JOIN t b ON a.k < b.k), asd AS (SELECT sp.ka, sp.kb, c.b, c.n AS na FROM sp JOIN c ON c.k = sp.ka), bsd AS (SELECT sp.ka, sp.kb, c.b, c.n AS nb FROM sp JOIN c ON c.k = sp.kb), j AS (SELECT COALESCE(asd.ka, bsd.ka) AS ka, COALESCE(asd.kb, bsd.kb) AS kb, COALESCE(asd.b, bsd.b) AS b, COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb FROM asd FULL OUTER JOIN bsd ON asd.ka = bsd.ka AND asd.kb = bsd.kb AND asd.b = bsd.b), j2 AS (SELECT j.*, sp.ta, sp.tb FROM j JOIN sp ON j.ka = sp.ka AND j.kb = sp.kb), tm AS (SELECT ka, kb, CASE WHEN na > 0 THEN CAST(round(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE) * ln(2.0 * CAST(CAST(na AS DECIMAL(38,0)) * tb AS DOUBLE) / CAST(CAST(na AS DECIMAL(38,0)) * tb + CAST(nb AS DECIMAL(38,0)) * ta AS DOUBLE)), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END AS pa, CASE WHEN nb > 0 THEN CAST(round(CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE) * ln(2.0 * CAST(CAST(nb AS DECIMAL(38,0)) * ta AS DOUBLE) / CAST(CAST(nb AS DECIMAL(38,0)) * ta + CAST(na AS DECIMAL(38,0)) * tb AS DOUBLE)), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END AS pb FROM j2) SELECT ka, kb, round((CAST(SUM(pa) AS DOUBLE) + CAST(SUM(pb) AS DOUBLE)) / 2.0, 6) AS jsd_nats FROM tm GROUP BY 1, 2 ORDER BY ka, kb"""

  // XmR: shared by the batch chart (q446) and the streaming hourly
  // census store (q454) - cents sums add, batching is invisible
  val xmrSql: String =
    """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hid, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v FROM events GROUP BY 1, 2), mr AS (SELECT event_type, hid, v, abs(v - LAG(v) OVER (PARTITION BY event_type ORDER BY hid)) AS mr FROM h), st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(mr) AS BIGINT) AS smr, CAST(COUNT(mr) AS BIGINT) AS nmr FROM mr GROUP BY 1), lim AS (SELECT event_type, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS xbar, CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE) AS mrbar FROM st WHERE nmr >= 1), l2 AS (SELECT *, xbar + 2.66 * mrbar AS ucl, xbar - 2.66 * mrbar AS lcl FROM lim), j AS (SELECT h.event_type AS k, h.hid, CAST(h.v AS DOUBLE) AS vd, l2.n, l2.xbar, l2.mrbar, l2.ucl, l2.lcl FROM h JOIN l2 ON h.event_type = l2.event_type) SELECT k AS event_type, MAX(n) AS n, round(MAX(xbar), 6) AS xbar, round(MAX(mrbar), 6) AS mr_bar, round(MAX(ucl), 6) AS ucl, round(MAX(lcl), 6) AS lcl, CAST(SUM(CASE WHEN vd > ucl OR vd < lcl THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, MIN(CASE WHEN vd > ucl OR vd < lcl THEN hid END) AS first_violation FROM j GROUP BY k ORDER BY event_type"""

  // Mann-Kendall: shared by the batch screen (q421) and the streaming
  // daily-census store (q440) - counts add, batching is invisible
  val mkSql: String =
    """WITH b AS (SELECT event_type, (epoch_ns(ts) // 1000000000) // 86400 AS day FROM events), c AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2), p AS (SELECT a.event_type, CAST(SUM(CASE WHEN b2.cnt > a.cnt THEN 1 WHEN b2.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s FROM c a JOIN c b2 ON a.event_type = b2.event_type AND a.day < b2.day GROUP BY 1), n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY 1), tt AS (SELECT event_type, CAST(SUM(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT) AS tsum FROM (SELECT event_type, cnt, CAST(COUNT(*) AS BIGINT) AS tj FROM c GROUP BY 1, 2) GROUP BY 1), v AS (SELECT p.event_type, n.n, p.s, (CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0) * (2.0 * CAST(n.n AS DOUBLE) + 5.0) - CAST(tt.tsum AS DOUBLE)) / 18.0 AS vs FROM p JOIN n USING (event_type) JOIN tt USING (event_type) WHERE n.n >= 3) SELECT event_type, n, s, round(vs, 6) AS var_s, round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(vs) WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(vs) ELSE 0.0 END, 6) AS z FROM v ORDER BY event_type"""

  // Welch t: shared by the batch test (q362) and the streaming moment
  // store (q433) - the store replays the identical sufficient statistic
  val welchSql: String =
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, event_type = 'view' AS isa FROM events WHERE event_type IN ('view', 'click')), s AS (SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na, CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS nb, SUM(CASE WHEN isa THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS sa, SUM(CASE WHEN NOT isa THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS sb, SUM(CASE WHEN isa THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS saa, SUM(CASE WHEN NOT isa THEN CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS sbb FROM e), w AS (SELECT na, nb, CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma, CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb, ((CAST(na AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE) AS sea, ((CAST(nb AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE) AS seb FROM s) SELECT na AS n_a, nb AS n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, round((ma - mb) / sqrt(sea + seb), 6) AS t_stat, round((sea + seb) * (sea + seb) / (sea * sea / (CAST(na AS DOUBLE) - 1.0) + seb * seb / (CAST(nb AS DOUBLE) - 1.0)), 6) AS df_welch FROM w"""

  val VEC_MACROS =
    "CREATE OR REPLACE MACRO pdot(v, w) AS list_reduce(list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * w[i]), (a, b) -> a + b); " +
      "CREATE OR REPLACE MACRO pcos(a, b) AS pdot(a, b) / (sqrt(pdot(a, a)) * sqrt(pdot(b, b)))"

  // --- portable-hash dedup parity: the XsHash/XsMix xorshift family is
  // replayed in HUGEINT mod-2^64 arithmetic (validated bit-for-bit against
  // the reference implementation in tools/proto_dedup_oracle.py). Chained
  // mix steps go through list_reduce because DuckDB macro expansion is
  // textual — nesting xstep calls would duplicate the accumulator
  // expression 8^depth times.

  def uns(l: Long): String = java.lang.Long.toUnsignedString(l)

  val HASH_MACROS = Seq(
    s"CREATE OR REPLACE MACRO u64(x) AS x & CAST('${uns(-1L)}' AS HUGEINT)",
    "CREATE OR REPLACE MACRO xsa(h) AS xor(h, u64(h << 13))",
    "CREATE OR REPLACE MACRO xsb(h) AS xor(h, h >> 7)",
    "CREATE OR REPLACE MACRO xsc(h) AS xor(h, u64(h << 17))",
    "CREATE OR REPLACE MACRO xstep(h, b) AS xsc(xsb(xsa(xor(h, b))))",
    "CREATE OR REPLACE MACRO wbytes(w) AS list_transform(range(CAST(octet_length(encode(w)) AS INTEGER)), i -> CAST(strpos('123456789ABCDEF', substr(hex(encode(w)), 2*i+1, 1))*16 + strpos('123456789ABCDEF', substr(hex(encode(w)), 2*i+2, 1)) AS HUGEINT))",
    s"CREATE OR REPLACE MACRO xshash(w) AS list_reduce(list_prepend(CAST('${uns(graft.operators.Dedup.MixSeed)}' AS HUGEINT), wbytes(w)), (a, b) -> xstep(a, b))",
    s"CREATE OR REPLACE MACRO tosigned(v) AS CAST(CASE WHEN v >= CAST('${uns(Long.MinValue)}' AS HUGEINT) THEN v - CAST('18446744073709551616' AS HUGEINT) ELSE v END AS BIGINT)",
    "CREATE OR REPLACE MACRO tounsigned(v) AS u64(CAST(v AS HUGEINT))",
    "CREATE OR REPLACE MACRO rotl8(x) AS u64(x << 8) | (x >> 56)",
    "CREATE OR REPLACE MACRO shmix(acc, h) AS xor(rotl8(acc), h)",
    """CREATE OR REPLACE MACRO docwords(t) AS string_split(regexp_replace(lower(trim(t)), '\s+', ' ', 'g'), ' ')""")
    .mkString("; ")

  /** q109 AND q480 (the streaming PSI store shares it verbatim): global
    * min/max bins, Laplace-smoothed shares, per-bin PSI terms.
    */
  val psiDriftOracleSql: String =
    """WITH ev AS (SELECT value, strftime(ts, '%Y-%m-%d') AS date_id FROM events), mxd AS (SELECT MAX(date_id) AS d FROM ev), b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev), c AS (SELECT CAST(least(floor((value - mn) * 10.0 / (mx - mn)), 9) AS BIGINT) AS bin, CAST(SUM(CASE WHEN date_id = (SELECT d FROM mxd) THEN 1 ELSE 0 END) AS BIGINT) AS n_act, CAST(SUM(CASE WHEN date_id = (SELECT d FROM mxd) THEN 0 ELSE 1 END) AS BIGINT) AS n_ref FROM ev, b GROUP BY 1), t AS (SELECT CAST(SUM(n_act) AS BIGINT) AS t_act, CAST(SUM(n_ref) AS BIGINT) AS t_ref FROM c), p AS (SELECT bin, n_ref, n_act, (CAST(n_ref AS DOUBLE) + 1.0) / CAST(t_ref + 10 AS DOUBLE) AS p_r, (CAST(n_act AS DOUBLE) + 1.0) / CAST(t_act + 10 AS DOUBLE) AS p_a FROM c, t) SELECT bin, n_ref, n_act, round(p_r, 6) AS p_reference, round(p_a, 6) AS p_actual, round((p_a - p_r) * ln(p_a / p_r), 6) AS psi_term FROM p ORDER BY bin"""

  /** q491 AND q497 (the streaming top-movers store shares it verbatim):
    * pinned midpoint cutoff, per-key period census, (|Δ| desc, key asc)
    * rank filter.
    */
  val topMoversOracleSql: String =
    """WITH ev AS (SELECT user_id, epoch_ns(ts)//1000000000 AS sec FROM events), cut AS (SELECT (MIN(sec) + MAX(sec)) // 2 AS c FROM ev), cen AS (SELECT user_id AS key, CAST(SUM(CASE WHEN sec >= (SELECT c FROM cut) THEN 0 ELSE 1 END) AS BIGINT) AS n_prev, CAST(SUM(CASE WHEN sec >= (SELECT c FROM cut) THEN 1 ELSE 0 END) AS BIGINT) AS n_curr FROM ev GROUP BY 1), d AS (SELECT key, n_prev, n_curr, n_curr - n_prev AS delta FROM cen), r AS (SELECT key, n_prev, n_curr, delta, CAST(ROW_NUMBER() OVER (ORDER BY abs(delta) DESC, key) AS BIGINT) AS rank FROM d) SELECT rank, key, n_prev, n_curr, delta FROM r WHERE rank <= 10 ORDER BY rank"""

  /** q510 AND q517 (the streaming vocab store shares it verbatim):
    * token census + distributed top-K cut, per-K coverage.
    */
  val vocabCoverageOracleSql: String =
    """WITH w0 AS (SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w FROM documents), wf AS (SELECT w, COUNT(*) AS n FROM w0 WHERE w <> '' GROUP BY 1), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM wf), r AS (SELECT w, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rk FROM wf), c AS (SELECT rk, CAST(SUM(n) OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumn FROM r), u AS (SELECT CAST(256 AS BIGINT) AS k UNION ALL SELECT 1024 UNION ALL SELECT 4096) SELECT u.k, MAX(c.rk) AS vocab_used, MAX(c.cumn) AS top_tokens, t.total_tokens, round(CAST(MAX(c.cumn) AS DOUBLE) / CAST(t.total_tokens AS DOUBLE), 6) AS coverage FROM u JOIN c ON c.rk <= u.k CROSS JOIN t GROUP BY u.k, t.total_tokens ORDER BY u.k"""

  /** q523 AND q526 (the streaming QTE store shares it verbatim):
    * per-arm ceiling-rank order stats from the value census.
    */
  val qteOracleSql: String =
    """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, CAST(concat('0x', substr(md5(concat('qte1:', CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 = 0 AS isa FROM events), cen AS (SELECT isa, v, COUNT(*) AS t FROM e GROUP BY 1, 2), cc AS (SELECT isa, v, SUM(t) OVER (PARTITION BY isa ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c, SUM(t) OVER (PARTITION BY isa) AS n FROM cen), pa AS (SELECT isa, CAST(MAX(n) AS BIGINT) AS n, MIN(CASE WHEN c >= (25 * n + 99) // 100 THEN v END) AS p25, MIN(CASE WHEN c >= (50 * n + 99) // 100 THEN v END) AS p50, MIN(CASE WHEN c >= (75 * n + 99) // 100 THEN v END) AS p75, MIN(CASE WHEN c >= (90 * n + 99) // 100 THEN v END) AS p90 FROM cc GROUP BY 1), u AS (SELECT unnest([25, 50, 75, 90]) AS pct) SELECT CAST(u.pct AS BIGINT) AS pct, a.n AS n_a, b.n AS n_b, CASE u.pct WHEN 25 THEN a.p25 WHEN 50 THEN a.p50 WHEN 75 THEN a.p75 ELSE a.p90 END AS q_a, CASE u.pct WHEN 25 THEN b.p25 WHEN 50 THEN b.p50 WHEN 75 THEN b.p75 ELSE b.p90 END AS q_b, (CASE u.pct WHEN 25 THEN a.p25 WHEN 50 THEN a.p50 WHEN 75 THEN a.p75 ELSE a.p90 END) - (CASE u.pct WHEN 25 THEN b.p25 WHEN 50 THEN b.p50 WHEN 75 THEN b.p75 ELSE b.p90 END) AS qte FROM u, (SELECT * FROM pa WHERE isa) a, (SELECT * FROM pa WHERE NOT isa) b ORDER BY pct"""

  /** q509 AND q514 (the streaming funnel store shares it verbatim):
    * monotone prefix counts + runtime Wilson terms, z pinned 1.96.
    */
  val wilsonFunnelOracleSql: String =
    """WITH f AS (SELECT user_id, BOOL_OR(event_type = 'view') AS v, BOOL_OR(event_type = 'click') AS c, BOOL_OR(event_type = 'purchase') AS p FROM events GROUP BY 1), g AS (SELECT CAST(SUM(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT) AS c1, CAST(SUM(CASE WHEN v AND c THEN 1 ELSE 0 END) AS BIGINT) AS c2, CAST(SUM(CASE WHEN v AND c AND p THEN 1 ELSE 0 END) AS BIGINT) AS c3 FROM f), s AS (SELECT 'view->click' AS step, c1 AS trials, c2 AS successes FROM g UNION ALL SELECT 'click->purchase', c2, c3 FROM g), w AS (SELECT step, trials, successes, CAST(trials AS DOUBLE) AS n, CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE) AS p FROM s) SELECT step, trials, successes, CASE WHEN trials > 0 THEN round(p, 6) END AS rate, CASE WHEN trials > 0 THEN round((p + 1.96 * 1.96 / (2.0 * n)) / (1.0 + 1.96 * 1.96 / n) - 1.96 * sqrt(p * (1.0 - p) / n + 1.96 * 1.96 / (4.0 * n * n)) / (1.0 + 1.96 * 1.96 / n), 6) END AS lo, CASE WHEN trials > 0 THEN round((p + 1.96 * 1.96 / (2.0 * n)) / (1.0 + 1.96 * 1.96 / n) + 1.96 * sqrt(p * (1.0 - p) / n + 1.96 * 1.96 / (4.0 * n * n)) / (1.0 + 1.96 * 1.96 / n), 6) END AS hi FROM w ORDER BY step"""

  /** q504 AND q506 (the streaming seasonal-band store shares it
    * verbatim): slot-value census order stats with ceiling ranks, pinned
    * newest-day probe.
    */
  val seasonalBandOracleSql: String =
    """WITH sl AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, (epoch_ns(ts)//1000000000//3600) % 24 AS hod, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents FROM events GROUP BY 1, 2, 3), mx AS (SELECT MAX(d) AS dmax FROM sl), cen AS (SELECT event_type AS k, hod AS slot, cents AS v, COUNT(*) AS t FROM sl GROUP BY 1, 2, 3), cc AS (SELECT k, slot, v, SUM(t) OVER (PARTITION BY k, slot ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c, SUM(t) OVER (PARTITION BY k, slot) AS n FROM cen), bd AS (SELECT k, slot, CAST(MAX(n) AS BIGINT) AS n_days, MIN(CASE WHEN c >= (1 * n + 9) // 10 THEN v END) AS p10, MIN(CASE WHEN c >= (5 * n + 9) // 10 THEN v END) AS p50, MIN(CASE WHEN c >= (9 * n + 9) // 10 THEN v END) AS p90 FROM cc GROUP BY 1, 2), lv AS (SELECT event_type AS k, hod AS slot, cents AS latest_v FROM sl, mx WHERE d = mx.dmax) SELECT bd.k, bd.slot, bd.n_days, bd.p10, bd.p50, bd.p90, lv.latest_v, CASE WHEN lv.latest_v IS NOT NULL THEN lv.latest_v < bd.p10 OR lv.latest_v > bd.p90 END AS breach FROM bd LEFT JOIN lv ON bd.k = lv.k AND bd.slot = lv.slot ORDER BY bd.k, bd.slot"""

  /** Register-for-register HLL replay (q379 AND q381: the streaming
    * store's MAX-merge makes batch boundaries invisible, so both gate
    * against the identical whole-corpus sketch).
    */
  val hllOracleSql: String =
    """WITH h AS (SELECT event_type AS g, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hh FROM events), b AS (SELECT g, hh % 256 AS j, CASE WHEN hh // 256 = 0 THEN 45 ELSE 45 - length(bin(hh // 256)) END AS rho FROM h), regs0 AS (SELECT g, j, MAX(rho) AS m FROM b GROUP BY 1, 2), regs AS (SELECT * FROM regs0 UNION ALL SELECT '(all)' AS g, j, MAX(m) AS m FROM regs0 GROUP BY j), agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_regs, SUM(CAST(round(pow(2.0, -m), 18) AS DECIMAL(38,18))) AS sp FROM regs GROUP BY g), e2 AS (SELECT g, n_regs, 256 - n_regs AS v_empty, 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / CAST(sp + CAST(256 - n_regs AS DECIMAL(38,18)) AS DOUBLE) AS eraw FROM agg), ex AS (SELECT event_type AS g, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events GROUP BY 1 UNION ALL SELECT '(all)', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) SELECT e2.g, e2.n_regs, CAST(e2.v_empty AS BIGINT) AS v_empty, round(CASE WHEN eraw <= 640.0 AND v_empty > 0 THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE)) ELSE eraw END, 6) AS estimate, ex.n_exact, round((CASE WHEN eraw <= 640.0 AND v_empty > 0 THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE)) ELSE eraw END - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_error FROM e2 JOIN ex ON e2.g = ex.g ORDER BY e2.g"""

  val wordClustersOracleSql: String =
    """WITH RECURSIVE v AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents), p AS (SELECT a.w AS wa, b.w AS wb FROM v a JOIN v b ON length(b.w) BETWEEN length(a.w) - 1 AND length(a.w) + 1 AND a.w < b.w WHERE levenshtein(a.w, b.w) <= 2), ed AS (SELECT wa AS src, wb AS dst FROM p UNION ALL SELECT wb AS src, wa AS dst FROM p), nodes AS (SELECT DISTINCT src AS node FROM ed), reach(node, label) AS (SELECT node, node FROM nodes UNION SELECT ed.dst, r.label FROM reach r JOIN ed ON ed.src = r.node) SELECT node AS w, MIN(label) AS cluster_rep FROM reach GROUP BY node ORDER BY w"""

  /** Shared by q233 (batch) and q242 (streaming hour-store monitor). */
  val gapDetectOracleSql =
    """WITH hrs AS (SELECT DISTINCT event_type, CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS h FROM events), b AS (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM hrs GROUP BY 1), sp AS (SELECT event_type, unnest(range(mn, mx + 1)) AS h FROM b), m AS (SELECT sp.event_type, sp.h FROM sp LEFT JOIN hrs ON sp.event_type = hrs.event_type AND sp.h = hrs.h WHERE hrs.h IS NULL), g AS (SELECT event_type, h, CASE WHEN h - lag(h) OVER (PARTITION BY event_type ORDER BY h) = 1 THEN 0 ELSE 1 END AS brk FROM m), i AS (SELECT event_type, h, CAST(SUM(brk) OVER (PARTITION BY event_type ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gap_idx FROM g) SELECT event_type, gap_idx, CAST(TIMESTAMP '1970-01-01' + MIN(h) * INTERVAL 1 HOUR AS TIMESTAMP) AS gap_start, CAST(TIMESTAMP '1970-01-01' + MAX(h) * INTERVAL 1 HOUR AS TIMESTAMP) AS gap_end, COUNT(*) AS n_missing FROM i GROUP BY 1, 2 ORDER BY event_type, gap_idx"""

  /** TF.qualityScore replayed in SQL (same expression as the q29 oracle). */
  val QUALITY_SQL =
    """(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 0.5 + (((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ' '))) / 4 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ' '))) / 2 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ' '))) / 4 + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ' '))) / 3) / CAST(array_length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS DOUBLE)) * 0.5"""
}
