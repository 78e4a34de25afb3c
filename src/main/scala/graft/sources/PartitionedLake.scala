package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{GraftLakeBridge, HadoopFsRelation, LogicalRelationWithTable}

/** Partitioned parquet lake with the reference's delete-then-insert refresh.
  *
  * The reference deletes a partition's S3 objects + Glue partition entry and
  * rewrites it (/root/reference/utils/duckdb_utils.py
  * `duck_db_parquet_delete_and_insert`, `delete_partition_data`). Spark-first,
  * that pattern IS dynamic partition overwrite: `mode=overwrite` +
  * `partitionOverwriteMode=dynamic` replaces exactly the partitions present in
  * the incoming DataFrame and leaves every other partition untouched — one
  * atomic job commit instead of hand-rolled list/delete/copy, and it scales to
  * thousands of partitions because the commit protocol only touches the
  * partitions being written.
  */
object PartitionedLake {

  /** Full (re)materialization of a table, partitioned by `partCols`.
    *
    * File-count contract: the caller owns the task layout. A frame
    * whose tasks each hold rows of many partitions writes tasks ×
    * partitions files — pre-cluster with `repartition(partCols)` when
    * partitions are small and numerous (the [[HiddenPartitioning]]
    * grid does), keep multiple tasks per partition when partitions are
    * large, and use [[compact]] / [[overBudgetPartitions]] to repair
    * fragmentation after the fact. Payloads lifted by
    * [[ApiIngest.fromFetchedBatches]] arrive already sliced by their
    * bytes, so a small batch writes one file per partition.
    *
    * The overwrite deletes `path` before the plan runs, so a plan that
    * reads `path`, or a directory under it, is rejected with Spark's
    * `UNSUPPORTED_OVERWRITE.PATH` error before anything is deleted.
    * Materialize such a frame first (`localCheckpoint`), as [[compact]]
    * does. */
  def writeAll(df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    verifyNotReadPath(df, path)
    df.write
      .mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** Throws when `df`'s plan scans `path` or a path under it. Spark's own
    * check (`DDLUtils.verifyNotReadPath`) only catches a scan of `path`
    * itself, and only for SQL inserts. */
  private def verifyNotReadPath(df: DataFrame, path: String): Unit = {
    val raw = new Path(path)
    val out = raw.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).makeQualified(raw)
    val read = df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelationWithTable(fs: HadoopFsRelation, _) => fs.location.rootPaths
    }.flatten
    if (read.exists(p => Iterator.iterate(p)(_.getParent).takeWhile(_ != null).contains(out)))
      throw GraftLakeBridge.cannotOverwritePathBeingRead(out)
  }

  /** Idempotent per-partition refresh: replaces only the partitions present
    * in `df` (the reference's delete-insert), leaving the rest intact.
    */
  def deleteInsert(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Partition-pruned read: the relation `spark.read.parquet(path)` would
    * give (same schema, inferred partition types, rows and files), whose
    * file listing is pruned by the query's partition filters. The reference
    * gets the same effect by addressing one `date_id=D/data.parquet` path.
    *
    * Listed eagerly, on the driver and with no Spark job: the `k=v`
    * directory names (hidden `_`/`.` entries skipped) and the leaf
    * directories up to the first one holding a data file; the smallest
    * data file's footer gives the data schema. Listed lazily, when a query
    * plans its scan: the files of just the partitions its partition filters
    * keep. A scan with no partition filter, and anything that asks for the
    * relation's size (join planning), lists the whole lake once, as
    * `spark.read.parquet` does. A partition directory with no data file
    * still counts toward partition-type inference, where Spark's listing
    * would skip it.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.baseRelationToDataFrame(LakeFileIndex.relation(spark, path))

  /** MERGE (upsert) emulation over the parquet lake: rows in `updates`
    * replace same-key rows, new keys append — the Iceberg/Delta `MERGE
    * INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` pattern on a
    * format without row-level transactions.
    *
    * Only the partitions PRESENT in `updates` are rewritten: surviving
    * rows of those partitions (anti-join on the key) union the updates,
    * then dynamic partition overwrite commits them atomically; untouched
    * partitions are never read or written. At 100 TB the cost is
    * proportional to the affected partitions, not the table.
    *
    * Keys must not move between partitions (partition columns functionally
    * determined by the key), the usual lake-merge contract.
    */
  def mergeUpsert(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    // materialize once: the plan below references `updates` three times
    // (partition distinct, anti-join, union) — re-evaluating a
    // nondeterministic updates frame per reference could DELETE a key via
    // one evaluation and fail to re-INSERT it via another (silent loss)
    val u = updates.localCheckpoint(true)
    val affected = u.select(partCols.map(col): _*).distinct()
    val survivors = read(spark, path)
      .join(affected, partCols, "left_semi")   // only affected partitions
      .join(u, keyCols, "left_anti")           // drop rows being replaced
    // materialize the merged frame BEFORE the overwrite: the plan reads
    // `path` and dynamic-overwrite would delete the same partitions it is
    // lazily reading — Spark's SQL-insert guard forbids exactly this shape,
    // and a crash between partition deletion and staging rename would lose
    // survivor rows (which, unlike deleteInsert's input, are not
    // re-derivable). Checkpointing cuts the lineage to the lake files.
    val merged = survivors
      .unionByName(u.select(survivors.columns.map(col): _*))
      .localCheckpoint(true)
    deleteInsert(merged, path, partCols)
  }

  /** Explicitly drop one partition's directory — the reference's
    * `delete_partition_data` (/root/reference/utils/duckdb_utils.py:77).
    * Needed when a refresh legitimately produces ZERO rows for a
    * partition: dynamic partition overwrite only replaces partitions
    * present in the written frame, so an empty refresh would silently
    * leave the stale partition in place.
    */
  def deletePartition(
      spark: SparkSession,
      path: String,
      partCol: String,
      value: String): Unit = {
    // the writer escapes partition values (`a:b` is stored as `a%3Ab`)
    val dir = new Path(path,
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString(partCol, value))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Register the lake directory as a catalog table and discover its
    * partitions — the Spark analogue of the reference's Glue
    * `create_table` + `create_partition` registration
    * (/root/reference/utils/duckdb_utils.py lines 214–289):
    * `recoverPartitions` scans `partCol=value` directories into catalog
    * partition metadata (MSCK REPAIR TABLE), after which queries resolve
    * the table by name with partition pruning from the catalog.
    */
  def registerTable(
      spark: SparkSession,
      name: String,
      path: String,
      schemaDDL: String,
      partCols: Seq[String]): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name ($schemaDDL)
         |USING parquet
         |PARTITIONED BY (${partCols.mkString(", ")})
         |LOCATION '$path'""".stripMargin)
    spark.catalog.recoverPartitions(name)
  }

  /** Partitions whose file count exceeds `maxFiles` — the candidates a
    * maintenance pass should [[compact]]. Counted from the scan's own
    * `_metadata.file_path` (no filesystem walk), and the result is
    * partition NAMES, so the driver-side collect is metadata-sized no
    * matter how big the lake is.
    */
  def overBudgetPartitions(
      spark: SparkSession,
      path: String,
      partCol: String,
      maxFiles: Int): Seq[String] = {
    import org.apache.spark.sql.functions.{col, count_distinct}
    read(spark, path)
      .select(col(partCol).cast("string").as("p"), col("_metadata.file_path").as("f"))
      .groupBy(col("p"))
      .agg(count_distinct(col("f")).as("nf"))
      .filter(col("nf") > maxFiles)
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Small-file compaction for selected partitions: rewrites each listed
    * partition as `filesPerPartition` files via dynamic partition
    * overwrite. Daily micro-batch appends accumulate small files that
    * wreck 100 TB scan throughput (per-file open cost + tiny row groups);
    * periodic compaction is the standard lakehouse maintenance pass.
    */
  def compact(
      spark: SparkSession,
      path: String,
      partCol: String,
      partValues: Seq[String],
      filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, pmod, xxhash64}
    val src = read(spark, path)
      .filter(col(partCol).isin(partValues: _*))
    // salt the repartition key: hashing on partCol alone would collapse each
    // partition value into ONE task/file regardless of filesPerPartition
    val part = src
      .repartition(filesPerPartition * partValues.size,
        col(partCol),
        pmod(xxhash64(src.columns.map(col): _*), org.apache.spark.sql.functions.lit(filesPerPartition)))
      // materialize before the write: Spark refuses to overwrite a path
      // that the same plan is reading from
      .localCheckpoint(true)
    deleteInsert(part, path, Seq(partCol))
  }

  /** Partition-spec EVOLUTION (the Iceberg capability parquet lakes lack):
    * historical data keeps its original layout while new data lands under
    * a finer (or different) partitioning, each generation in its own
    * segment directory with its spec recorded in a `_layout` manifest.
    * Old segments are NEVER rewritten — at 100 TB, re-partitioning history
    * to change a spec is exactly the migration this avoids.
    */
  def writeSegment(
      df: DataFrame,
      root: String,
      segment: String,
      partCols: Seq[String]): Unit = {
    require(segment.matches("[A-Za-z0-9_=.-]+"), s"unsafe segment name $segment")
    val dir = s"$root/$segment"
    writeAll(df, dir, partCols)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_layout"),
      partCols.mkString(",").getBytes("UTF-8"))
  }

  /** Layout-aware read across every segment generation: each segment is
    * opened under ITS OWN partition spec (so a filter prunes directories
    * per-generation — on the columns that generation partitioned by) and
    * the generations union by name. Partition columns materialize as data
    * columns on read, so the union sees one uniform schema regardless of
    * spec drift.
    */
  def readSegments(spark: SparkSession, root: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val segs = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    val dirs = try segs.iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p)).map(_.toString)
      .toSeq.sorted
    finally segs.close()
    require(dirs.nonEmpty, s"no segments under $root")
    dirs.map { d =>
      // validate the on-disk directory chain against the segment's
      // declared spec — a hand-copied or drifted segment must fail loudly
      // here, not silently join the union under the wrong layout
      val manifest = java.nio.file.Paths.get(d, "_layout")
      if (java.nio.file.Files.exists(manifest)) {
        val declared = new String(
          java.nio.file.Files.readAllBytes(manifest), "UTF-8")
          .split(",").filter(_.nonEmpty).toSeq
        val seen = scala.collection.mutable.ArrayBuffer[String]()
        var cur = new java.io.File(d)
        var walking = true
        while (walking)
          // listFiles returns NULL (not empty) on an IO error/race —
          // treat it as end-of-chain, the manifest compare still decides
          Option(cur.listFiles()).getOrElse(Array.empty)
            .find(f => f.isDirectory && f.getName.contains("=")) match {
            case Some(sub) =>
              seen += sub.getName.takeWhile(_ != '='); cur = sub
            case None => walking = false
          }
        require(seen.toSeq == declared,
          s"segment $d layout drift: manifest declares $declared, " +
            s"directories show ${seen.toSeq}")
      }
      read(spark, d)
    }.reduce(_ unionByName _)
  }
}
