package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelationWithTable}
import org.apache.spark.sql.functions._

import graft.sources.{ApiIngest, FetchResult, JdbcSink, PartitionedLake}

class LakeSpec extends SparkSuite {
  import spark.implicits._

  /** `PartitionedLake.read` must resolve what `spark.read.parquet` does:
    * the same schema, and the same rows read from the same files, with no
    * filter and under each of `filters`. */
  private def assertReadParity(dir: String, filters: Column*): Unit = {
    val ours = PartitionedLake.read(spark, dir)
    val reference = spark.read.parquet(dir)
    assert(ours.schema == reference.schema)
    (lit(true) +: filters).foreach { f =>
      def rows(df: DataFrame): Seq[String] =
        df.filter(f).select(col("*"), col("_metadata.file_path").as("file_path"))
          .collect().map(_.toString).toSeq.sorted
      assert(rows(ours) == rows(reference), s"under $f")
    }
  }

  test("deleteInsert replaces only the partitions present in the refresh") {
    val dir = Files.createTempDirectory("graft_lake_spec").toString
    val initial = Seq(
      ("2024-01-01", "a", 1L), ("2024-01-01", "b", 2L),
      ("2024-01-02", "a", 3L), ("2024-01-03", "a", 4L))
      .toDF("date_id", "k", "v")
    PartitionedLake.writeAll(initial, dir, Seq("date_id"))
    // refresh one day with different content (fewer rows, new values)
    val refresh = Seq(("2024-01-02", "z", 99L)).toDF("date_id", "k", "v")
    PartitionedLake.deleteInsert(refresh, dir, Seq("date_id"))
    val back = PartitionedLake.read(spark, dir)
      .select(col("date_id").cast("string"), col("k"), col("v"))
      .as[(String, String, Long)].collect().toSet
    assert(back == Set(
      ("2024-01-01", "a", 1L), ("2024-01-01", "b", 2L),
      ("2024-01-02", "z", 99L), ("2024-01-03", "a", 4L)))
  }

  test("mergeUpsert updates matched keys, inserts new keys, leaves other partitions' files alone") {
    val dir = Files.createTempDirectory("graft_lake_merge").toString
    val initial = Seq(
      ("2024-01-01", "a", 1L), ("2024-01-01", "b", 2L),
      ("2024-01-02", "a", 3L))
      .toDF("date_id", "k", "v")
    PartitionedLake.writeAll(initial, dir, Seq("date_id"))
    val untouched = new java.io.File(s"$dir/date_id=2024-01-01")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    // update (2024-01-02, a) and insert (2024-01-02, c)
    val updates = Seq(("2024-01-02", "a", 30L), ("2024-01-02", "c", 5L))
      .toDF("date_id", "k", "v")
    PartitionedLake.mergeUpsert(spark, dir, updates,
      keyCols = Seq("date_id", "k"), partCols = Seq("date_id"))
    val back = PartitionedLake.read(spark, dir)
      .select(col("date_id").cast("string"), col("k"), col("v"))
      .as[(String, String, Long)].collect().toSet
    assert(back == Set(
      ("2024-01-01", "a", 1L), ("2024-01-01", "b", 2L),
      ("2024-01-02", "a", 30L), ("2024-01-02", "c", 5L)))
    // the unaffected partition's files were not rewritten
    val after = new java.io.File(s"$dir/date_id=2024-01-01")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == untouched)
  }

  test("deleteInsert is idempotent") {
    val dir = Files.createTempDirectory("graft_lake_spec2").toString
    val df = Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("date_id", "v")
    PartitionedLake.writeAll(df, dir, Seq("date_id"))
    PartitionedLake.deleteInsert(df.filter(col("date_id") === "2024-01-02"),
      dir, Seq("date_id"))
    PartitionedLake.deleteInsert(df.filter(col("date_id") === "2024-01-02"),
      dir, Seq("date_id"))
    assert(PartitionedLake.read(spark, dir).count() == 2)
  }

  test("registerTable + recoverPartitions resolves the lake by name with pruning") {
    val dir = Files.createTempDirectory("graft_lake_cat").toString
    val df = Seq(("2024-01-01", 1L), ("2024-01-01", 2L), ("2024-01-02", 3L))
      .toDF("date_id", "v")
    PartitionedLake.writeAll(df, dir, Seq("date_id"))
    PartitionedLake.registerTable(spark, "graft_cat_events", dir,
      "v BIGINT, date_id STRING", Seq("date_id"))
    val day1 = spark.table("graft_cat_events")
      .filter(col("date_id") === "2024-01-01")
    assert(day1.count() == 2)
    // partition metadata really is in the catalog (Glue-partition analogue)
    assert(spark.sql("SHOW PARTITIONS graft_cat_events").count() == 2)
  }

  test("compact rewrites a partition's many small files into one") {
    val dir = Files.createTempDirectory("graft_lake_compact").toString
    val df = spark.range(1000)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN '2024-01-01' ELSE '2024-01-02' END AS date_id")
      .repartition(8)
    PartitionedLake.writeAll(df, dir, Seq("date_id"))
    def files(day: String) =
      new java.io.File(s"$dir/date_id=$day").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(files("2024-01-01") > 1)
    PartitionedLake.compact(spark, dir, "date_id", Seq("2024-01-01"))
    assert(files("2024-01-01") == 1)
    assert(files("2024-01-02") > 1) // untouched partition keeps its files
    assert(PartitionedLake.read(spark, dir).count() == 1000)
    // filesPerPartition actually controls the output file count
    PartitionedLake.compact(spark, dir, "date_id", Seq("2024-01-02"),
      filesPerPartition = 3)
    assert(files("2024-01-02") == 3)
    assert(PartitionedLake.read(spark, dir).count() == 1000)
  }

  test("overBudgetPartitions flags only fragmented partitions") {
    val dir = Files.createTempDirectory("graft_lake_budget").toString
    val frag = spark.range(100)
      .selectExpr("id", "'2024-02-01' AS date_id").repartition(4)
    val tidy = spark.range(100)
      .selectExpr("id", "'2024-02-02' AS date_id").coalesce(1)
    PartitionedLake.writeAll(frag.unionByName(tidy).repartition(4, col("date_id"), col("id") % 4), dir, Seq("date_id"))
    // both days now hold up to 4 files; rewrite day 2 down to one
    PartitionedLake.compact(spark, dir, "date_id", Seq("2024-02-02"))
    val over = PartitionedLake.overBudgetPartitions(spark, dir, "date_id", maxFiles = 1)
    assert(over == Seq("2024-02-01"),
      s"only the fragmented day must be flagged, got $over")
  }

  test("partition evolution: per-generation pruning, nothing rewritten") {
    val root = Files.createTempDirectory("graft_lake_evolve").toString + "/t"
    val gen1 = spark.range(100).selectExpr("id",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS kind",
      "'2024-01-01' AS date_id")
    val gen2 = spark.range(100, 200).selectExpr("id",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS kind",
      "'2024-01-02' AS date_id")
    PartitionedLake.writeSegment(gen1, root, "gen1", Seq("date_id"))
    PartitionedLake.writeSegment(gen2, root, "gen2", Seq("date_id", "kind"))
    val all = PartitionedLake.readSegments(spark, root)
    assert(all.count() == 200, "generations union without loss or overlap")
    // a filter on the EVOLVED column prunes directories only where that
    // generation partitions by it: gen2 opens kind=a files only, gen1
    // (kind is a data column there) necessarily opens its day's files
    val pruned = all.filter(col("kind") === "a")
    assert(pruned.count() == 100)
    // _metadata does not resolve through a union; input_file_name is
    // evaluated at each leaf scan and survives it
    val opened = pruned.select(input_file_name())
      .distinct().collect().map(_.getString(0))
    assert(opened.exists(_.contains("/gen1/")), "gen1 must still be read")
    assert(opened.filter(_.contains("/gen2/")).forall(_.contains("/kind=a/")),
      "the finer generation must prune the kind=b directories")
    // the old generation was never rewritten into the new spec
    assert(!new java.io.File(s"$root/gen1/date_id=2024-01-01")
      .listFiles().exists(_.getName.startsWith("kind=")))
    // a drifted manifest (hand-copied segment, wrong spec) must fail the
    // read loudly, not silently union under the wrong layout
    Files.write(java.nio.file.Paths.get(s"$root/gen2/_layout"),
      "date_id".getBytes("UTF-8"))
    val drift = intercept[IllegalArgumentException] {
      PartitionedLake.readSegments(spark, root).count()
    }
    assert(drift.getMessage.contains("layout drift"))
  }

  test("jdbc delete statement is keyed and parameterized") {
    assert(JdbcSink.deleteStatement("dashboard", "north_america_weather", "date_id") ==
      """DELETE FROM dashboard.north_america_weather WHERE "date_id" = ?""")
  }

  test("jdbc stage identifier stays within the DB bound with the key tag intact") {
    val tag = "0123456789abcdef0123456789abcdef" // 32-hex md5 key tag
    // short table: untruncated
    assert(JdbcSink.stageName("gold", tag) == s"gold__stage_$tag")
    // long table: bounded at 63, full key tag preserved at the end —
    // Postgres truncates at 63 bytes silently, which would chop the tag
    val long = "a_very_long_serving_table_name_that_overflows_identifiers"
    val s = JdbcSink.stageName(long, tag)
    assert(s.length <= 63 && s.endsWith(s"__stage_$tag"))
    // two long tables sharing a 60-char prefix still stage separately
    val s2 = JdbcSink.stageName(long + "_v2", tag)
    assert(s2 != s && s2.length <= 63)
  }

  test("jdbc sink delete-by-key + append against embedded Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = new java.util.Properties()
    // day 1 (to be refreshed) + day 2 (must survive)
    val seed = Seq(
      ("2024-01-01", "old_a", 1.0), ("2024-01-01", "old_b", 2.0),
      ("2024-01-02", "keep", 3.0)).toDF("date_id", "city", "temp")
    seed.write.mode("overwrite")
      .option("createTableColumnTypes", "date_id VARCHAR(10), city VARCHAR(50)")
      .jdbc(url, "dashboard.weather", props)
    val refresh = Seq(("2024-01-01", "new_a", 9.0)).toDF("date_id", "city", "temp")
    JdbcSink.load(refresh, url, "dashboard", "weather", "date_id", "2024-01-01",
      props, numPartitions = 1)
    val back = spark.read.jdbc(url, "dashboard.weather", props)
      .select("date_id", "city", "temp")
      .as[(String, String, Double)].collect().toSet
    assert(back == Set(
      ("2024-01-02", "keep", 3.0), ("2024-01-01", "new_a", 9.0)))
  }

  test("deletePartition removes a partition whose value the writer escaped") {
    val dir = Files.createTempDirectory("graft_lake_escape").toString
    val df = Seq(("2024-01-01 00:00:00", 1L), ("a:b c", 2L), ("plain", 3L)).toDF("p", "v")
    PartitionedLake.writeAll(df, dir, Seq("p"))
    PartitionedLake.deletePartition(spark, dir, "p", "2024-01-01 00:00:00")
    PartitionedLake.deletePartition(spark, dir, "p", "a:b c")
    val back = PartitionedLake.read(spark, dir).select("p", "v").as[(String, Long)].collect().toSet
    assert(back == Set(("plain", 3L)))
  }

  test("read resolves the schema, rows and files spark.read.parquet does") {
    def lake(name: String) = Files.createTempDirectory(s"graft_lake_parity_$name").toString
    val days = Seq(("2024-01-01", 1, "apple", 1L), ("2024-01-02", 2, "banana", 2L),
      ("2024-01-02", 3, "banana", 3L), ("2024-01-03", 4, "cherry", 4L))
      .toDF("date_id", "n", "s", "v")

    // date-like, integer and string partition values
    Seq(("date_id", col("date_id") === "2024-01-02", col("date_id") >= "2024-01-02"),
        ("n", col("n") === 2, col("n") > 2),
        ("s", col("s") === "banana", col("s") > "b")).foreach { case (part, eq, range) =>
      val dir = lake(part)
      PartitionedLake.writeAll(days, dir, Seq(part))
      assertReadParity(dir, eq, range)
    }

    // escaped values (`:` and a space), as strings and as timestamps
    val escaped = lake("escaped")
    PartitionedLake.writeAll(Seq(("a:b c", 1L), ("x y", 2L)).toDF("s", "v"), escaped, Seq("s"))
    assertReadParity(escaped, col("s") === "a:b c", col("s") > "b")
    val stamps = lake("stamps")
    PartitionedLake.writeAll(Seq(("2024-01-01 00:00:00", 1L), ("2024-01-02 12:30:00", 2L))
      .toDF("ts", "v"), stamps, Seq("ts"))
    assertReadParity(stamps, col("ts") === "2024-01-01 00:00:00", col("ts") > "2024-01-01 12:00:00")

    // two levels, as EventsStream.toLake writes them
    val nested = lake("nested")
    PartitionedLake.writeAll(days.withColumn("batch_id", col("n") % 2), nested, Seq("date_id", "batch_id"))
    assertReadParity(nested, col("date_id") === "2024-01-02", col("batch_id") > 0)

    // an empty partition directory and leftover writer directories
    val debris = lake("debris")
    PartitionedLake.writeAll(days, debris, Seq("date_id"))
    Files.createDirectory(Paths.get(debris, "date_id=2024-01-09"))
    val day1 = new java.io.File(s"$debris/date_id=2024-01-01").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Seq(".spark-staging-0/date_id=2024-01-05", "_temporary/0/date_id=2024-01-06").foreach { d =>
      Files.createDirectories(Paths.get(debris, d))
      Files.copy(day1, Paths.get(debris, d, "part-00000.parquet"))
    }
    assertReadParity(debris, col("date_id") === "2024-01-09", col("date_id") > "2024-01-02")

    // the data schema comes from the smallest file path's footer, which is
    // not in the smallest directory: `s=a-b/part…` sorts before `s=a/part…`
    val drift = lake("drift")
    PartitionedLake.writeAll(Seq(("a", 1L)).toDF("s", "v"), drift, Seq("s"))
    PartitionedLake.deleteInsert(Seq(("a-b", 2L, 20L)).toDF("s", "v", "w"), drift, Seq("s"))
    assert(PartitionedLake.read(spark, drift).columns.toSeq == Seq("v", "w", "s"))
    assertReadParity(drift, col("s") === "a", col("s") > "a")

    // a TIMESTAMP(NANOS) column, read as a long under nanosAsLong
    val nanos = lake("nanos")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); required int64 v; }")
    Seq("2024-01-01" -> 1L, "2024-01-02" -> 2L).foreach { case (day, v) =>
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$nanos/date_id=$day/part-00000.parquet"))
        .withType(schema).build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup().append("ts", 1704067200000000000L + v).append("v", v))
      finally w.close()
    }
    assert(PartitionedLake.read(spark, nanos).schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assertReadParity(nanos, col("date_id") === "2024-01-02", col("date_id") < "2024-01-02")

    // a missing path, and a lake with no data file, fail as Spark's reader does
    val empty = lake("empty")
    Files.createDirectory(Paths.get(empty, "date_id=2024-01-01"))
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    Seq(s"$empty/missing", empty).foreach { dir =>
      val ours = intercept[AnalysisException](PartitionedLake.read(spark, dir))
      val reference = intercept[AnalysisException](spark.read.parquet(dir))
      assert(ours.getClass == reference.getClass && ours.getCondition == reference.getCondition)
    }
  }

  test("read lists only the partitions a filter keeps, under the lake root Spark reports") {
    val dir = Files.createTempDirectory("graft_lake_prune").toString
    // 40 days (above Spark's 32-path parallel-listing threshold), two files each
    PartitionedLake.writeAll(spark.range(400).selectExpr("id",
      "date_add(DATE'2024-01-01', CAST(id % 40 AS INT)) AS date_id").repartition(2), dir, Seq("date_id"))
    assert(new java.io.File(s"$dir/date_id=2024-01-05").listFiles()
      .count(_.getName.endsWith(".parquet")) == 2)

    // job descriptions in start order; a marker job's start is delivered
    // after the starts of every job submitted before it
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10000000000L
      while (!started.contains(name) && System.nanoTime() < deadline) Thread.sleep(10)
    }
    spark.sparkContext.addSparkListener(listener)
    val oneDay = try {
      val df = PartitionedLake.read(spark, dir).filter(col("date_id") === "2024-01-05")
      marker("read")
      assert(df.collect().length == 10)
      marker("action")
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    val jobs = started.asScala.toSeq
    // no job between read and the action, and no listing job in it
    assert(jobs.head == "read", s"jobs before the action: $jobs")
    assert(!jobs.exists(_.startsWith("Listing leaf files")), s"jobs: $jobs")

    // the executed scan opened exactly that partition's files
    val plan = oneDay.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.map(_.metrics("numFiles").value) == Seq(2L))

    // the relation's root is the qualified lake root Spark's own index
    // reports, the path any read-while-overwrite check compares against
    def roots(df: DataFrame) = df.queryExecution.analyzed.collect {
      case LogicalRelationWithTable(r: HadoopFsRelation, _) => r.location.rootPaths
    }
    assert(roots(PartitionedLake.read(spark, dir)) == roots(spark.read.parquet(dir)))
    // a refresh from a lazy read of the same lake still commits the day
    // after the scan has read it
    PartitionedLake.deleteInsert(PartitionedLake.read(spark, dir)
      .filter(col("date_id") === "2024-01-05"), dir, Seq("date_id"))
    assert(PartitionedLake.read(spark, dir).count() == 400)

    // refresh re-walks the lake: a day written after the read shows up in
    // a filtered scan, as it does for Spark's own index
    val ours = PartitionedLake.read(spark, dir)
    val reference = spark.read.parquet(dir)
    PartitionedLake.deleteInsert(spark.range(5).selectExpr("id", "DATE'2024-03-01' AS date_id"),
      dir, Seq("date_id"))
    Seq(ours, reference).foreach { df =>
      df.queryExecution.analyzed.foreach {
        case LogicalRelationWithTable(r: HadoopFsRelation, _) => r.location.refresh()
        case _ =>
      }
      assert(df.filter(col("date_id") === "2024-03-01").count() == 5)
    }
  }

  test("jdbc load that fails rethrows its error, keeps the target rows and drops the stage") {
    val url = "jdbc:derby:memory:graftdb_fail;create=true"
    val props = new java.util.Properties()
    val seed = Seq(("2024-01-01", "old", 1.0), ("2024-01-02", "keep", 3.0))
      .toDF("date_id", "city", "temp")
    seed.write.mode("overwrite")
      .option("createTableColumnTypes", "date_id VARCHAR(10), city VARCHAR(5)")
      .jdbc(url, "dashboard.weather", props)
    def target = spark.read.jdbc(url, "dashboard.weather", props)
      .select("date_id", "city", "temp").as[(String, String, Double)].collect().toSet
    def stages = {
      val c = java.sql.DriverManager.getConnection(url, props)
      try {
        val r = c.createStatement().executeQuery(
          "SELECT COUNT(*) FROM SYS.SYSTABLES WHERE UPPER(TABLENAME) LIKE '%STAGE%'")
        r.next(); r.getInt(1)
      } finally c.close()
    }
    // the insert from the stage fails after the keyed delete: a city longer
    // than the target column
    val tooLong = Seq(("2024-01-01", "much_too_long", 9.0)).toDF("date_id", "city", "temp")
    intercept[java.sql.SQLException] {
      JdbcSink.load(tooLong, url, "dashboard", "weather", "date_id", "2024-01-01", props, numPartitions = 1)
    }
    assert(target == seed.as[(String, String, Double)].collect().toSet)
    assert(stages == 0)
    // the distributed staging load itself fails
    val broken = Seq(("2024-01-01", "new", 9.0)).toDF("date_id", "city", "temp")
      .withColumn("temp", when(col("temp") > 0, raise_error(lit("stage load failed"))).otherwise(col("temp")))
    val e = intercept[Exception] {
      JdbcSink.load(broken, url, "dashboard", "weather", "date_id", "2024-01-01", props, numPartitions = 1)
    }
    assert(e.toString.contains("stage load failed") || Option(e.getCause).exists(_.toString.contains("stage load failed")))
    assert(target == seed.as[(String, String, Double)].collect().toSet)
    assert(stages == 0)
  }

  test("writeAll rejects a plan that reads its own output and keeps the lake") {
    val dir = Files.createTempDirectory("graft_lake_self").toString
    PartitionedLake.writeAll(Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("date_id", "v"),
      dir, Seq("date_id"))
    def files: Map[String, Seq[Byte]] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => Paths.get(dir).relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
      finally walk.close()
    }
    val before = files
    Seq(
      PartitionedLake.read(spark, dir).filter(col("date_id") === "2024-01-01"),
      spark.read.parquet(dir).filter(col("v") > 0),
      spark.read.parquet(s"$dir/date_id=2024-01-02").withColumn("date_id", lit("2024-01-03")),
      Seq("2024-01-01").toDF("date_id")
        .join(PartitionedLake.read(spark, dir), Seq("date_id"), "left_semi")
        .withColumn("v", lit(0L))
    ).foreach { df =>
      val e = intercept[AnalysisException](PartitionedLake.writeAll(df, dir, Seq("date_id")))
      assert(e.getCondition == "UNSUPPORTED_OVERWRITE.PATH")
      assert(files == before)
    }
    // a sibling whose name extends the lake's is not under it
    val sibling = dir + "_copy"
    PartitionedLake.writeAll(spark.read.parquet(dir), sibling, Seq("date_id"))
    PartitionedLake.writeAll(spark.read.parquet(sibling).filter(col("v") > 1), dir, Seq("date_id"))
    assert(PartitionedLake.read(spark, dir).select("v").as[Long].collect().toSeq == Seq(2L))
    // a materialized frame no longer reads the lake
    PartitionedLake.writeAll(PartitionedLake.read(spark, dir).withColumn("v", col("v") * 10)
      .localCheckpoint(true), dir, Seq("date_id"))
    assert(PartitionedLake.read(spark, dir).select("v").as[Long].collect().toSeq == Seq(20L))
  }

  test("a fetched day lands as one file per partition in bronze and in silver") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_lake_files").toString
    val (bronze, silver) = (s"$root/bronze", s"$root/silver")
    val schema = StructType(Seq(StructField("name", StringType), StructField("country", StringType),
      StructField("temp", DoubleType)))
    def land(day: String): Unit = {
      val batch = (0 until 240).map { i =>
        FetchResult(i.toLong, s"https://api.example.test/weather?q=City$i", 200,
          s"""{"name":"City$i","country":"${if (i % 2 == 0) "US" else "CA"}","temp":${i * 0.5}}""")
      }
      val flat = ApiIngest.flattenPayloads(ApiIngest.fromFetchedBatches(spark, batch), schema)
        .withColumn("date_id", lit(day))
      PartitionedLake.deleteInsert(flat, bronze, Seq("date_id"))
      PartitionedLake.deleteInsert(
        PartitionedLake.read(spark, bronze).filter(col("date_id") === day && col("country") === "US")
          .withColumn("date_id", col("date_id").cast("string")),
        silver, Seq("date_id"))
    }
    Seq("2024-01-01", "2024-01-02").foreach(land)
    def parquetFiles(lake: String, day: String) = new java.io.File(s"$lake/date_id=$day").listFiles()
      .count(_.getName.endsWith(".parquet"))
    for (lake <- Seq(bronze, silver); day <- Seq("2024-01-01", "2024-01-02"))
      assert(parquetFiles(lake, day) == 1, s"$lake date_id=$day")
    assert(PartitionedLake.read(spark, silver).count() == 240)
  }
}
