package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Versioned (time-travel) lake over plain parquet.
  *
  * Each write lands a CHANGE SET under `version=v`: rows carrying the key
  * columns, payload, and an `op` marker (`U` upsert, `D` delete) — the
  * Delta/Iceberg snapshot idea re-expressed with what parquet gives us.
  * `readAsOf(v)` reconstructs the table as of any version by keeping, per
  * key, the row from the LATEST version `<= v` and dropping keys whose
  * latest op is a delete. History is immutable: new versions only append
  * directories, old snapshots stay readable forever, and partition
  * pruning on `version` keeps an as-of read from touching later change
  * sets at all.
  *
  * Reconstruction is one window over (key, version) — at scale that is a
  * single shuffle of the change rows `<= v`, not of full snapshots.
  * Periodically compacting a reconstructed snapshot into a fresh base
  * version (op = U for every live key) bounds the change-chain length,
  * exactly like checkpointing a CDC log (compose with `writeVersion`).
  */
object VersionedLake {

  /** Append one change set as `version=v`. Versions must be written with
    * distinct, increasing ids; re-writing an id replaces that change set
    * (idempotent backfill), through [[PartitionedLake.deleteInsert]].
    */
  def writeVersion(changes: DataFrame, path: String, version: Long): Unit =
    PartitionedLake.deleteInsert(changes.withColumn("version", lit(version)), path, Seq("version"))

  /** Checkpoint the change chain: materialize the reconstruction as of
    * `version` into a fresh base change set at `newVersion` (`op = U` for
    * every live key). As-of reads at `newVersion` and later then scan one
    * change set instead of the whole history — the CDC-log checkpoint that
    * bounds reconstruction cost as versions accumulate. History below
    * `newVersion` is untouched, so every older snapshot stays readable.
    */
  def compact(
      spark: SparkSession,
      path: String,
      version: Long,
      keyCols: Seq[String],
      newVersion: Long): Unit = {
    require(newVersion > version, "compacted base must land above its source")
    // materialize before writing: the snapshot plan reads the same lake
    // root the writer commits into
    val snapshot = readAsOf(spark, path, version, keyCols)
      .drop("version")
      .withColumn("op", lit("U"))
      .localCheckpoint(true)
    writeVersion(snapshot, path, newVersion)
  }

  /** Change-data feed between two snapshots: every key that was inserted
    * (`I`), deleted (`D`), or whose payload changed (`U`) going from
    * `vFrom` to `vTo`, with both payload structs attached. One full outer
    * join of the two reconstructions on the key — the Delta
    * CHANGE-DATA-FEED idea, derived instead of logged, so it works
    * retroactively over any version pair. Unchanged keys are dropped
    * (null-safe column compare over the shared payload columns), so
    * downstream incremental consumers see exactly the delta.
    */
  def snapshotDiff(
      spark: SparkSession,
      path: String,
      vFrom: Long,
      vTo: Long,
      keyCols: Seq[String]): DataFrame = {
    def snap(v: Long) = readAsOf(spark, path, v, keyCols).drop("version")
    val a = snap(vFrom)
    val payload = a.columns.filterNot(keyCols.contains)
    val old = a.select(
      keyCols.map(col) :+ struct(payload.map(col): _*).as("old"): _*)
    val neu = snap(vTo).select(
      keyCols.map(col) :+ struct(payload.map(col): _*).as("new"): _*)
    old.join(neu, keyCols, "full_outer")
      .withColumn("change",
        when(col("old").isNull, lit("I"))
          .when(col("new").isNull, lit("D"))
          .when(!(col("old") <=> col("new")), lit("U")))
      .filter(col("change").isNotNull)
  }

  /** The table as of `version`: latest change per key wins, deletes drop
    * the key. Ties inside one version are broken deterministically by
    * `tieBreak` (a column, e.g. an ingest sequence) — callers that never
    * write a key twice per version can pass a constant.
    *
    * `floorVersion` is the newest [[compact]]ed base at or below
    * `version` (the metadata a catalog tracks): change sets below it are
    * partition-pruned away, bounding the scan to base + subsequent deltas
    * no matter how long the history has grown.
    */
  def readAsOf(
      spark: SparkSession,
      path: String,
      version: Long,
      keyCols: Seq[String],
      tieBreak: String = "version",
      floorVersion: Long = 0L,
      mergeSchema: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("version").desc, col(tieBreak).desc)
    // mergeSchema widens the read schema across change sets when a later
    // version added columns (schema evolution): pre-evolution rows surface
    // the new columns as null, exactly like unionByName-with-missing
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(path)
      // partition-pruned both ways: later change sets AND pre-compaction
      // history are never read
      .filter(col("version") <= version && col("version") >= floorVersion)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "D")
      .drop("__rn", "op")
  }
}
