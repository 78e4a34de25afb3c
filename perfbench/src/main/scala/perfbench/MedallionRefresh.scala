package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Medallion
import graft.sources.{ApiIngest, FetchResult, JdbcSink, PartitionedLake}

/** The reference's own job, one day per unit: OpenWeather-shaped payloads
  * go to a bronze lake, US and CA rows to two silver lakes, and their union
  * into a gold table in an in-memory Derby database. A seeded share of the
  * units re-refreshes an earlier day with corrected payloads. Set-up loads
  * a history of days first, in one pass through the same steps.
  */
final class MedallionRefresh(spark: SparkSession, seed: Long, root: String, cores: Int,
    tracer: Tracer) {
  import MedallionRefresh._

  private val bronze = s"$root/bronze/weather"
  private val silver = Map("US" -> s"$root/silver/us_weather", "CA" -> s"$root/silver/ca_weather")
  private val url = s"jdbc:derby:memory:perfbench_$seed;create=true"
  private val props = new java.util.Properties()
  private val plan = new scala.util.Random(seed)
  private var newDays = 0
  /** Latest revision planned, and latest refreshed, for each day. */
  private val planned = mutable.Map[Int, Int]()
  private val revision = mutable.Map[Int, Int]()
  /** Digest of each day's lake partitions right after its last refresh. */
  private val digests = mutable.Map[Int, String]()
  private var payloadBytes = Map[Int, Long]()

  withConnection(_.createStatement().executeUpdate(
    s"CREATE TABLE $GoldSchema.$GoldTable (" + GoldColumns.map { case (c, t) => s""""$c" $t""" }
      .mkString(", ") + ")"))
  backfill()

  /** Loads days 0 until HistoryDays at revision 0 with one write per lake
    * and one gold load, whose key matches no row yet. */
  private def backfill(): Unit = {
    val days = 0 until HistoryDays
    val batches = days.map(d => d -> payloads(seed, d, 0))
    run(batches.flatMap(_._2), date_format(to_date(from_unixtime(col("dt"))), "yyyy-MM-dd"), None,
      "backfill")
    batches.foreach { case (d, batch) =>
      planned(d) = 0
      revision(d) = 0
      payloadBytes += d -> batch.map(_.payload.length.toLong).sum
      digests(d) = digest(d)
    }
    newDays = HistoryDays
  }

  /** The units of the next pass of the seeded refresh plan: `n` refreshes,
    * of which a fixed share re-refresh an earlier day, at seeded places in
    * the pass and on seeded days. The first unit of a pass always takes a
    * new day. */
  def nextPass(n: Int): Seq[Main.Work] = {
    val again = plan.shuffle((1 until n).toList).take(math.round(n * ReRefreshShare).toInt).toSet
    (0 until n).map(i => next(again(i)))
  }

  private def next(rerefresh: Boolean): Main.Work = {
    val (day, rev, name) =
      if (rerefresh) {
        val d = plan.nextInt(newDays)
        (d, planned(d) + 1, "rerefresh")
      } else {
        newDays += 1
        (newDays - 1, 0, "refresh")
      }
    planned(day) = rev
    val batch = payloads(seed, day, rev)
    Main.Work(name, () => refresh(day, batch), () => {
      revision(day) = rev
      payloadBytes += day -> batch.map(_.payload.length.toLong).sum
      digests(day) = digest(day)
    })
  }

  private def refresh(day: Int, batch: Seq[FetchResult]): Unit =
    run(batch, lit(dayId(day)), Some(dayId(day)), dayId(day))

  /** Bronze, silver and gold for the payloads of `batch`, whose rows take
    * their date from `dateOf`. With `only`, silver and gold read just that
    * day's partition; the gold load replaces the rows keyed `goldKey`. */
  private def run(batch: Seq[FetchResult], dateOf: Column, only: Option[String],
      goldKey: String): Unit = {
    def day(df: DataFrame): DataFrame = only.fold(df)(d => df.filter(col("date_id") === d))
    tracer.span("sources.bronze") {
      val fetched = tracer.span("ApiIngest.fromFetchedBatches")(ApiIngest.fromFetchedBatches(spark, batch))
      val flat = tracer.span("ApiIngest.flattenPayloads")(ApiIngest.flattenPayloads(fetched, PayloadSchema))
        .select(col("request_id"), col("name").as("city"), col("sys.country").as("country"),
          col("main.temp").as("temp_c"), col("main.humidity").as("humidity"),
          col("wind.speed").as("wind_speed"), col("dt").as("observed_at"), dateOf.as("date_id"))
      val typed = tracer.span("Medallion.enforceSchema")(Medallion.enforceSchema(flat, BronzeSchema))
      tracer.span("PartitionedLake.deleteInsert")(PartitionedLake.deleteInsert(typed, bronze, Seq("date_id")))
    }
    tracer.span("sources.silver") {
      val today = day(tracer.span("PartitionedLake.read")(PartitionedLake.read(spark, bronze)))
      silver.foreach { case (country, path) =>
        val rows = today.filter(col("country") === country).select(
          col("city"), col("country"), col("temp_c"), col("humidity"), col("wind_speed"),
          tracer.span("Medallion.bucketize")(Medallion.bucketize(col("temp_c"), Ladder, "Warm"))
            .as("temperature_category"),
          col("date_id").cast("string").as("date_id"))
        tracer.span("PartitionedLake.deleteInsert")(PartitionedLake.deleteInsert(rows, path, Seq("date_id")))
      }
    }
    tracer.span("sources.gold") {
      val branches = silver.toSeq.map { case (country, path) =>
        day(tracer.span("PartitionedLake.read")(PartitionedLake.read(spark, path)))
          .withColumn("date_id", col("date_id").cast("string")) -> country
      }
      val gold = tracer.span("Medallion.unionBranches")(Medallion.unionBranches(branches, "region"))
      tracer.span("JdbcSink.load")(JdbcSink.load(gold, url, GoldSchema, GoldTable, "date_id", goldKey,
        props, numPartitions = cores))
    }
  }

  /** Bytes of the live payloads: the latest revision of every day refreshed. */
  def inputBytes: Long = payloadBytes.values.sum

  /** Bytes on disk in the bronze and silver lakes. */
  def lakeBytes: Long = Main.treeBytes(Paths.get(root))

  /** Compares the lakes and the gold table with a plain-Scala reference
    * built from the same payloads. Returns one message per mismatch. */
  def check(): Seq[String] = {
    val errors = mutable.ArrayBuffer[String]()
    val expected = revision.toSeq.sortBy(_._1).flatMap { case (day, rev) =>
      reference(seed, day, rev)
    }
    val gold = withConnection { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT " + GoldColumns.map(col => s""""${col._1}"""").mkString(", ") +
          s" FROM $GoldSchema.$GoldTable")
      val out = mutable.ArrayBuffer[String]()
      while (rs.next()) {
        val t = rs.getDouble("temp_c")
        val temp = if (rs.wasNull()) "null" else t.toString
        out += Seq(rs.getString("city"), rs.getString("country"), temp, rs.getInt("humidity").toString,
          rs.getDouble("wind_speed").toString, String.valueOf(rs.getString("temperature_category")),
          rs.getString("date_id"), rs.getString("region")).mkString("|")
      }
      out.toSeq
    }
    val goldWant = expected.map(_.gold)
    if (gold.sorted != goldWant.sorted)
      errors += s"gold table differs from the reference (${gold.size} rows vs ${goldWant.size}; " +
        s"first unexpected ${gold.diff(goldWant).headOption}, first missing ${goldWant.diff(gold).headOption})"
    silver.foreach { case (country, path) =>
      val got = spark.read.parquet(path)
        .select(col("city"), col("country"), col("temp_c"), col("humidity"), col("wind_speed"),
          col("temperature_category"), col("date_id").cast("string"))
        .collect().map(r => (0 until 7).map(i => if (r.isNullAt(i)) "null" else r.get(i).toString)
          .mkString("|")).toSeq
      val want = expected.filter(_.country == country).map(_.silver)
      if (got.sorted != want.sorted)
        errors += s"silver $country differs from the reference (${got.size} rows vs ${want.size}; " +
          s"first unexpected ${got.diff(want).headOption}, first missing ${want.diff(got).headOption})"
    }
    val bronzeRows = spark.read.parquet(bronze).groupBy(col("date_id").cast("string"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    revision.foreach { case (day, rev) =>
      val want = observations(seed, day, rev).count(_.status == 200).toLong
      if (!bronzeRows.get(dayId(day)).contains(want))
        errors += s"bronze ${dayId(day)} has ${bronzeRows.get(dayId(day))} rows, expected $want"
      if (digest(day) != digests(day))
        errors += s"partitions of ${dayId(day)} changed after its last refresh"
    }
    errors.toSeq
  }

  private def digest(day: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (bronze +: silver.values.toSeq).foreach { table =>
      val dir = Paths.get(table, s"date_id=${dayId(day)}")
      if (Files.isDirectory(dir)) {
        val files = Files.walk(dir)
        try files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
          .foreach { f: Path =>
            md.update(dir.relativize(f).toString.getBytes("UTF-8"))
            md.update(Files.readAllBytes(f))
          }
        finally files.close()
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def withConnection[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }
}

object MedallionRefresh {
  val Cities = 240
  /** Days in the lakes before the first timed refresh: more partitions than
    * Spark lists on the driver (32 by default), as in a daily job's lake
    * after a month, so every timed refresh lists the lake the same way. */
  val HistoryDays = 40
  val ReRefreshShare = 0.2
  val GoldSchema = "APP"
  val GoldTable = "gold_weather"
  val GoldColumns = Seq("city" -> "VARCHAR(32)", "country" -> "VARCHAR(8)", "temp_c" -> "DOUBLE",
    "humidity" -> "INT", "wind_speed" -> "DOUBLE", "temperature_category" -> "VARCHAR(16)",
    "date_id" -> "VARCHAR(10)", "region" -> "VARCHAR(8)")
  val Ladder = Seq(0.0 -> "Freezing", 10.0 -> "Cold", 20.0 -> "Mild")
  private val Others = IndexedSeq("GB", "DE", "MX", "JP", "BR", "IN", "FR")

  val PayloadSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("sys", StructType(Seq(StructField("country", StringType)))),
    StructField("main", StructType(Seq(
      StructField("temp", DoubleType), StructField("humidity", LongType)))),
    StructField("wind", StructType(Seq(StructField("speed", DoubleType)))),
    StructField("dt", LongType)))

  val BronzeSchema: Seq[(String, DataType)] = Seq(
    "request_id" -> LongType, "city" -> StringType, "country" -> StringType,
    "temp_c" -> DoubleType, "humidity" -> IntegerType, "wind_speed" -> DoubleType,
    "observed_at" -> LongType, "date_id" -> StringType)

  final case class Obs(city: String, country: String, status: Int, temp: Option[Double],
      humidity: Int, wind: Double)

  final case class Expected(country: String, silver: String, gold: String)

  def dayId(day: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString

  private def country(i: Int): String = i % 20 match {
    case k if k < 8 => "US"
    case k if k < 13 => "CA"
    case k => Others(k - 13)
  }

  /** One observation per city for `day` at revision `rev`: about 8 % non-200
    * responses, 5 % missing temperatures, and temperatures in all four
    * buckets of the ladder. */
  def observations(seed: Long, day: Int, rev: Int): IndexedSeq[Obs] = (0 until Cities).map { i =>
    val r = new SplittableRandom(
      scala.util.hashing.MurmurHash3.productHash((seed, day, rev, i)).toLong)
    val status = if (r.nextInt(100) < 8) Seq(404, 429, 500)(r.nextInt(3)) else 200
    val temp = if (r.nextInt(100) < 5) None else Some(math.round(r.nextDouble() * 630 - 250) / 10.0)
    Obs(f"City$i%03d", country(i), status, temp, 10 + r.nextInt(91),
      math.round(r.nextDouble() * 2000) / 100.0)
  }

  def payloads(seed: Long, day: Int, rev: Int): Seq[FetchResult] =
    observations(seed, day, rev).zipWithIndex.map { case (o, i) =>
      val body =
        if (o.status != 200) s"""{"cod":"${o.status}","message":"request failed"}"""
        else
          s"""{"name":"${o.city}","sys":{"country":"${o.country}"},"main":{""" +
            o.temp.map(t => s""""temp":$t,""").getOrElse("") +
            s""""humidity":${o.humidity}},"wind":{"speed":${o.wind}},"dt":${1704067200L + day * 86400L + i}}"""
      FetchResult(day * 1000000L + rev * 1000L + i,
        s"https://api.openweathermap.org/data/2.5/weather?q=${o.city}", o.status, body)
    }

  private def category(t: Option[Double]): String =
    t.map(v => Ladder.find(v < _._1).map(_._2).getOrElse("Warm")).getOrElse("null")

  /** The silver and gold rows a day's final revision must produce. */
  def reference(seed: Long, day: Int, rev: Int): Seq[Expected] =
    observations(seed, day, rev).filter(o => o.status == 200 && Set("US", "CA")(o.country)).map { o =>
      val s = Seq(o.city, o.country, o.temp.map(_.toString).getOrElse("null"), o.humidity.toString,
        o.wind.toString, category(o.temp), dayId(day)).mkString("|")
      Expected(o.country, s, s + "|" + o.country)
    }
}
