package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

/** One row of the request table driving a distributed API ingest. */
case class FetchRequest(request_id: Long, url: String)

/** One fetched payload: HTTP status + raw body, keyed back to the request.
  * Failures are DATA (status != 200), not exceptions — at a million
  * requests some always fail, and a thrown task error would kill the whole
  * ingest instead of quarantining the bad rows (same philosophy as the
  * PERMISSIVE corrupt-record ingestion, q90).
  */
case class FetchResult(request_id: Long, url: String, status: Int, payload: String)

/** The actual HTTP call, isolated behind a Serializable trait: production
  * plugs a real client (e.g. java.net.http.HttpClient, one instance per
  * partition); air-gapped environments (like this build sandbox — zero
  * egress) plug a deterministic stub. Everything Spark-side — request
  * partitioning, per-partition rate limiting, error-row capture, JSON
  * flatten, lake load — is identical and tested either way.
  */
trait HttpFetcher extends Serializable {
  /** Returns (status, body). Implementations should map transport errors
    * to a synthetic status (e.g. 599) rather than throw.
    */
  def fetch(url: String): (Int, String)
}

/** API-ingestion source — the reference's bronze step is an HTTP API
  * client looping city requests against a weather API and landing the
  * JSON payloads
  * (/root/reference/src/bronze/api_data/analytics__world_weather.py:40–95
  * `WeatherAPIClient.get_weather_data`/`get_batch_weather_data`, then
  * lines 135–180 extract + delete-insert by date_id).
  *
  * Spark-first: the request list is a Dataset, the fetch is a
  * `mapPartitions` fan-out (each partition = one client + one token-bucket
  * rate limiter), and the flatten is `from_json` with an EXPLICIT schema —
  * no driver-side fetch loop, no schema inference. At scale the global
  * request rate is `partitions × perPartitionRequestsPerSec`, the knob the
  * API's terms dictate; partitions stay small so a lost executor retries
  * a bounded slice.
  */
object ApiIngest {

  /** Statuses worth a retry: throttling, transient server errors, and the
    * synthetic transport-error status. 4xx (other than 429) are
    * deterministic rejections — retrying them only burns rate budget.
    */
  val RetryableStatuses: Set[Int] = Set(429, 500, 502, 503, 504, 599)

  /** Distributed, rate-limited fetch of every request.
    *
    * `maxPartitions` bounds concurrent clients (connections), and
    * `perPartitionRequestsPerSec` token-buckets each partition, so the
    * global rate is capped at `maxPartitions × perPartitionRequestsPerSec`
    * regardless of cluster size.
    */
  def fetchAll(
      requests: Dataset[FetchRequest],
      fetcher: HttpFetcher,
      maxPartitions: Int = 8,
      perPartitionRequestsPerSec: Double = 5.0,
      maxAttempts: Int = 1,
      retryStatuses: Set[Int] = RetryableStatuses): Dataset[FetchResult] = {
    require(maxPartitions >= 1 && perPartitionRequestsPerSec > 0 && maxAttempts >= 1)
    val spark = requests.sparkSession
    import spark.implicits._
    val minIntervalNanos = (1e9 / perPartitionRequestsPerSec).toLong
    requests.repartition(maxPartitions).mapPartitions { it =>
      // one rate-limiter (and, in a real fetcher, one client) per partition
      var nextAllowed = 0L
      def awaitSlot(delayNanos: Long): Unit = {
        val now = System.nanoTime()
        val due = math.max(now, nextAllowed) + delayNanos
        if (due > now) {
          val waitNs = due - now
          Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        }
        nextAllowed = due + minIntervalNanos
      }
      it.map { r =>
        // bounded exponential backoff ON TOP of the token bucket: attempt
        // k waits an extra (2^k - 1) base intervals, so retries always
        // consume MORE rate budget than first tries, never less — a
        // failing upstream sees the request rate fall, not spike (the
        // reference client's requests-with-retries posture)
        var attempt = 0
        var res: (Int, String) = null
        var done = false
        while (!done) {
          awaitSlot(if (attempt == 0) 0L
            else ((1L << attempt) - 1L) * minIntervalNanos)
          res = fetcher.fetch(r.url)
          attempt += 1
          done = attempt >= maxAttempts || !retryStatuses.contains(res._1)
        }
        FetchResult(r.request_id, r.url, res._1, res._2)
      }
    }
  }

  /** Payload rows fetched OUTSIDE Spark (a driver-side batch loop, an
    * upstream queue, a replayed capture) lifted into a DataFrame — the
    * entry point when the fetch cannot run on executors at all.
    *
    * Slices are sized by the bytes the driver holds (payload plus URL
    * lengths), the way Spark sizes file splits: `split =
    * min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism))`
    * from `spark.sql.files.*`, and `ceil(bytes / split)` slices, at least
    * 1 and at most the `createDataFrame` slice count. A day of payloads
    * (tens of KB) is one slice, so each lake it lands in gets one task and
    * one file per partition; 100 MB on 4 cores is still 4 slices. The
    * slices are a narrow `coalesce` of the local relation, no shuffle.
    */
  def fromFetchedBatches(spark: SparkSession, batches: Seq[FetchResult]): DataFrame = {
    val conf = spark.sessionState.conf
    // the slice count `createDataFrame`'s local scan would use
    val parallelism = conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(spark.sparkContext.defaultParallelism)
    def len(s: String): Long = if (s == null) 0L else s.length
    val bytes = batches.iterator.map(b => len(b.payload) + len(b.url)).sum
    val split = math.max(1L, math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, bytes / parallelism)))
    val slices = math.max(1L, math.min((bytes + split - 1) / split,
      math.min(batches.size, parallelism).toLong)).toInt
    spark.createDataFrame(batches).coalesce(slices)
  }

  /** Successful payloads parsed with an explicit schema and flattened to
    * one typed row per payload, keyed by request_id. Rows that fetched
    * with a non-200 status are excluded here — read them from the fetch
    * result directly to quarantine/retry (they carry the raw body). So are
    * 200s whose body does not parse into `schema`: not JSON, empty, or a
    * value of the wrong type (`"temp":"hot"`). A field the body lacks
    * stays null.
    */
  def flattenPayloads(fetched: DataFrame, schema: StructType): DataFrame = {
    val corrupt = "_corrupt_record"
    require(!schema.fieldNames.contains(corrupt), s"payload schema must not declare $corrupt")
    fetched.filter(col("status") === 200)
      .withColumn("__p", from_json(col("payload"), schema.add(corrupt, StringType),
        Map("columnNameOfCorruptRecord" -> corrupt)))
      .filter(col("__p").isNotNull && col(s"__p.$corrupt").isNull &&
        graft.plans.JsonExpressions.jsonWhole(col("payload")))
      .select(col("request_id") +: schema.fieldNames.map(f => col(s"__p.$f")): _*)
  }

  /** Deterministic stand-in for a weather-API server, keyed entirely off
    * the request URL (`...?key=<k>&q=<name>`): metrics are exact-in-double
    * functions of `k`, and every key ≡ 7 (mod 13) fails with a 404 to
    * exercise the quarantine path. This is the sandbox `HttpFetcher` —
    * clearly a STUB (no network egress here); the real client drops in
    * behind the same trait.
    */
  object DeterministicStub extends HttpFetcher {
    private val Pat = """.*\?key=(\d+)&q=(.*)""".r
    def fetch(url: String): (Int, String) = url match {
      case Pat(k, name) =>
        val key = k.toLong
        if (key % 13 == 7) {
          (404, s"""{"cod":"404","message":"city not found"}""")
        } else {
          val temp = key * 1.5 - 10.0 // exact in double
          val humidity = (key * 7) % 100
          val wind = key * 0.25 // exact in double
          (200,
            s"""{"name":"$name","sys":{"country":"$name"},""" +
              s""""main":{"temp":$temp,"humidity":$humidity},""" +
              s""""wind":{"speed":$wind}}""")
        }
      case _ => (599, "")
    }
  }

  /** Stub modelling a FLAKY upstream for retry tests: every key ≡ 3
    * (mod 5) returns 503 on its first call in this JVM and succeeds (via
    * [[DeterministicStub]]) on the next — the shape a transient
    * throttle/blip presents. Per-JVM call counts make it deterministic
    * within a run; executors each see their own map, which is exactly the
    * retry locality a real cluster has (the retry happens on the same
    * partition that saw the failure).
    */
  class TransientStub extends HttpFetcher {
    private val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val Pat = """.*\?key=(\d+)&q=.*""".r
    def fetch(url: String): (Int, String) = {
      val n = seen.merge(url, 1, (a, b) => a + b)
      url match {
        case Pat(k) if k.toLong % 5 == 3 && n == 1 =>
          (503, s"""{"cod":"503","message":"try again"}""")
        case _ => DeterministicStub.fetch(url)
      }
    }
  }
}
