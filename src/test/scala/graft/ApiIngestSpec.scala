package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{ApiIngest, FetchRequest, FetchResult}

class ApiIngestSpec extends SparkSuite {
  import spark.implicits._

  private def reqs(n: Int) =
    (0L until n.toLong).map(k =>
      FetchRequest(k, s"https://api.example.test/weather?key=$k&q=N$k")).toDS()

  test("distributed fetch keeps failures as data rows, never exceptions") {
    val rows = ApiIngest.fetchAll(reqs(20), ApiIngest.DeterministicStub,
      maxPartitions = 2, perPartitionRequestsPerSec = 1e6).collect()
    assert(rows.length == 20)
    assert(rows.filter(_.status == 404).map(_.request_id).toSeq == Seq(7L))
    assert(rows.filter(_.status == 200).forall(_.payload.startsWith("{\"name\"")))
  }

  test("bounded retry recovers transient failures; hard failures still quarantine") {
    // keys ≡ 3 (mod 5) fail ONCE then succeed; key 7 is a permanent 404.
    // maxPartitions=1 keeps one JVM-local stub instance per run shape.
    val flaky = new ApiIngest.TransientStub
    val without = ApiIngest.fetchAll(reqs(20), new ApiIngest.TransientStub,
      maxPartitions = 1, perPartitionRequestsPerSec = 1e6).collect()
    assert(without.count(_.status == 503) == 4,
      "without retries the transient 503s surface as data rows (3,8,13,18)")
    val withRetry = ApiIngest.fetchAll(reqs(20), flaky,
      maxPartitions = 1, perPartitionRequestsPerSec = 1e6,
      maxAttempts = 3).collect()
    assert(withRetry.count(_.status == 503) == 0,
      "one retry absorbs every transient failure")
    assert(withRetry.filter(_.status == 404).map(_.request_id).toSeq == Seq(7L),
      "the deterministic 404 is NOT retried away — it quarantines as before")
    assert(withRetry.count(_.status == 200) == 19)
  }

  test("explicit-schema flatten yields typed rows for the 200s only") {
    val fetched = ApiIngest.fetchAll(reqs(10), ApiIngest.DeterministicStub,
      maxPartitions = 2, perPartitionRequestsPerSec = 1e6)
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("main", StructType(Seq(
        StructField("temp", DoubleType), StructField("humidity", LongType))))))
    val flat = ApiIngest.flattenPayloads(fetched.toDF(), schema)
      .select(col("request_id"), col("name"), col("main.temp"), col("main.humidity"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    assert(flat.length == 9) // key 7 quarantined
    assert(flat(3) == ((3L, "N3", -5.5, 21L)))
  }

  test("per-partition token bucket actually paces the request rate") {
    val t0 = System.nanoTime()
    ApiIngest.fetchAll(reqs(6), ApiIngest.DeterministicStub,
      maxPartitions = 1, perPartitionRequestsPerSec = 50.0).collect()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    // 6 requests through one 50 req/s bucket: at least 5 × 20 ms of pacing
    assert(elapsedMs >= 100.0, s"expected >= 100 ms of pacing, got $elapsedMs ms")
  }

  test("fromFetchedBatches lifts driver-fetched payloads into a DataFrame") {
    val df = ApiIngest.fromFetchedBatches(spark, Seq(
      FetchResult(1L, "u1", 200, """{"name":"A"}"""),
      FetchResult(2L, "u2", 503, "")))
    assert(df.filter(col("status") === 200).count() == 1)
    assert(df.columns.toSeq == Seq("request_id", "url", "status", "payload"))
  }

  /** `n` fetched 200s, each with a 25-char URL and a 100-char payload. */
  private def batch(n: Int): Seq[FetchResult] = (0 until n).map { i =>
    val url = f"https://api.test/?q=$i%05d"
    val head = f"""{"name":"City$i%05d","main":{"temp":1.5,"humidity":3},"pad":""""
    FetchResult(i.toLong, url, 200, head + "x" * (100 - head.length - 2) + "\"}")
  }

  private def slices(df: DataFrame): Int = df.queryExecution.toRdd.getNumPartitions

  /** `df` holds the rows `createDataFrame(batches)` does, as a multiset. */
  private def assertSameRows(df: DataFrame, batches: Seq[FetchResult]): Unit = {
    def rows(d: DataFrame) = d.collect().map(_.toString).toSeq.sorted
    assert(rows(df) == rows(spark.createDataFrame(batches)))
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fromFetchedBatches lifts a one-day batch as one slice") {
    val day = batch(240)
    assert(day.forall(b => b.url.length == 25 && b.payload.length == 100))
    val df = ApiIngest.fromFetchedBatches(spark, day)
    assert(spark.sparkContext.defaultParallelism > 1)
    assert(slices(df) == 1)
    assertSameRows(df, day)
  }

  test("fromFetchedBatches sizes slices as Spark sizes file splits") {
    // 24 rows of 125 bytes: 3000 bytes, 750 per core at local[4]
    val b = batch(24)
    val parallelism = spark.sparkContext.defaultParallelism
    def sliced(maxBytes: Long, openCost: Long): Int =
      withConfs("spark.sql.files.maxPartitionBytes" -> maxBytes.toString,
          "spark.sql.files.openCostInBytes" -> openCost.toString) {
        val df = ApiIngest.fromFetchedBatches(spark, b)
        assertSameRows(df, b)
        slices(df)
      }
    // split = min(maxBytes, max(openCost, 750)); slices = ceil(3000 / split)
    assert(sliced(4000, 1500) == 2)
    assert(sliced(4000, 1200) == 3)
    assert(sliced(1 << 20, 1 << 20) == 1)
    // ceil(3000 / 100) = 30, clamped to the createDataFrame slice count
    assert(sliced(100, 10) == math.min(30, parallelism))
    withConfs("spark.sql.files.maxPartitionBytes" -> "100", "spark.sql.files.openCostInBytes" -> "10") {
      assert(slices(ApiIngest.fromFetchedBatches(spark, b.take(2))) == 2)
      assert(ApiIngest.fromFetchedBatches(spark, Seq.empty).isEmpty)
    }
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") != "100")
  }

  test("flatten excludes 200s whose body does not parse into the schema") {
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("main", StructType(Seq(
        StructField("temp", DoubleType), StructField("humidity", LongType))))))
    val fetched = ApiIngest.fromFetchedBatches(spark, Seq(
      FetchResult(1L, "u1", 200, """{"name":"A","main":{"temp":1.5,"humidity":3}}"""),
      FetchResult(2L, "u2", 200, "<html><body>502 Bad Gateway</body></html>"),
      FetchResult(3L, "u3", 200, ""),
      FetchResult(4L, "u4", 200, """{"name":"B","main":{"temp":"hot","humidity":3}}"""),
      FetchResult(5L, "u5", 200, """{"name":"C"}"""),
      FetchResult(6L, "u6", 404, """{"cod":"404"}""")))
    val flat = ApiIngest.flattenPayloads(fetched, schema)
    assert(flat.columns.toSeq == Seq("request_id", "name", "main"))
    val rows = flat.select(col("request_id"), col("name"), col("main.temp"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).sortBy(_._1).toSeq
    // a missing field stays null; non-JSON, empty and mistyped bodies are out
    assert(rows == Seq((1L, "A", Some(1.5)), (5L, "C", None)))
  }

  test("flatten excludes a 200 whose JSON value is followed by more text") {
    val schema = StructType(Seq(StructField("name", StringType)))
    val fetched = ApiIngest.fromFetchedBatches(spark, Seq(
      FetchResult(1L, "u1", 200, """{"name":"E"} trailing"""),
      FetchResult(2L, "u2", 200, """{"name":"F"}{"name":"G"}"""),
      FetchResult(3L, "u3", 200, """{"name":"H"}]"""),
      FetchResult(4L, "u4", 200, "{\"name\":\"I\"}  \n\t"),
      FetchResult(5L, "u5", 200, """{"name":"J"}""")))
    val rows = ApiIngest.flattenPayloads(fetched, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // trailing whitespace is still one whole value
    assert(rows == Seq((4L, "I"), (5L, "J")))
  }
}
