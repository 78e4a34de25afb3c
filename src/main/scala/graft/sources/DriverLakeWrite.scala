package graft.sources

import java.io.IOException
import java.util.{Locale, UUID}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.GraftLakeBridge
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** The driver branch of [[PartitionedLake]]'s writes (op `lakeWrite`): a
  * frame already collected by input partition is written from the driver
  * with Spark's own parquet writer factory, and committed the way Spark's
  * `HadoopMapReduceCommitProtocol` commits, with no Spark job.
  *
  * What Spark's writer would leave, this leaves too: one file
  * `part-<input partition %05d>-<uuid>.c000.snappy.parquet` per (input
  * partition, partition value), in directories named by Spark's cast of
  * each value to a string under the session time zone, escaped, with null
  * and "" as `__HIVE_DEFAULT_PARTITION__`; the same footer schema and
  * Spark row metadata; and a re-cached view of any cached frame over the
  * lake.
  */
private[sources] object DriverLakeWrite {

  /** Can the driver branch write `df` partitioned by `partCols`? Anything
    * Spark's writer would reject or write differently (no partition
    * column, an ambiguous or complex one, a type parquet cannot hold, a
    * file-size cap, another commit protocol) stays on Spark's writer. */
  def eligible(df: DataFrame, partCols: Seq[String]): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    val out = df.queryExecution.analyzed.output
    val norm = (n: String) => if (conf.caseSensitiveAnalysis) n else n.toLowerCase(Locale.ROOT)
    val parts = partCols.flatMap(c => out.filter(a => conf.resolver(a.name, c)))
    val format = new ParquetFileFormat
    partCols.nonEmpty && parts.size == partCols.size && out.size > parts.size &&
      out.map(a => norm(a.name)).distinct.size == out.size &&
      parts.map(_.exprId).distinct.size == parts.size &&
      parts.forall(a => a.dataType match {
        case StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
        case _: NumericType => true
        case _ => false
      }) &&
      out.filterNot(parts.contains).forall(a => format.supportDataType(a.dataType)) &&
      conf.maxRecordsPerFile <= 0 &&
      conf.fileCommitProtocolClass ==
        "org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol"
  }

  /** Writes `parts` (the rows of `df` by input partition) to `path`.
    * Dynamic overwrite replaces the partitions written and keeps the rest;
    * static overwrite replaces everything under `path`. */
  def apply(df: DataFrame, parts: Array[Array[UnsafeRow]], path: String,
      partCols: Seq[String], dynamic: Boolean): Unit = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val raw = new Path(path)
    val fs = raw.getFileSystem(hadoopConf)
    val out = fs.makeQualified(raw)
    val attrs = df.queryExecution.executedPlan.output
    val partAttrs = partCols.map(c => attrs.find(a => conf.resolver(a.name, c)).get)
    val dataAttrs = attrs.filterNot(partAttrs.contains)
    val dataSchema = StructType(dataAttrs.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata)))

    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, out)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    val uuid = UUID.randomUUID().toString
    val jobId = new JobID(uuid, 0)
    val staging = new Path(out, s".spark-staging-$uuid")

    val toData = UnsafeProjection.create(dataAttrs, attrs)
    val tz = Some(conf.sessionLocalTimeZone)
    val toValues = UnsafeProjection.create(partAttrs.map(a => Cast(a, StringType, tz)), attrs)
    def dirOf(r: UnsafeRow): String = {
      val v = toValues(r)
      partAttrs.indices.map { i =>
        ExternalCatalogUtils.getPartitionPathString(partAttrs(i).name,
          if (v.isNullAt(i)) null else v.getUTF8String(i).toString)
      }.mkString(Path.SEPARATOR)
    }

    fs.mkdirs(out)
    val written = mutable.LinkedHashSet.empty[String]
    try {
      parts.zipWithIndex.foreach { case (rows, i) =>
        val groups = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[UnsafeRow]]
        rows.foreach(r => groups.getOrElseUpdate(dirOf(r), mutable.ArrayBuffer.empty) += r)
        groups.foreach { case (dir, rs) =>
          val ctx = new TaskAttemptContextImpl(job.getConfiguration,
            new TaskAttemptID(new TaskID(jobId, TaskType.MAP, i), 0))
          val file = new Path(new Path(staging, dir),
            f"part-$i%05d-$uuid.c000${factory.getFileExtension(ctx)}")
          val w = factory.newInstance(file.toString, dataSchema, ctx)
          try rs.foreach(r => w.write(toData(r))) finally w.close()
          written += dir
        }
      }
      if (!dynamic)
        fs.listStatus(out).map(_.getPath).filter(_.getName != staging.getName)
          .foreach(fs.delete(_, true))
      written.foreach { dir =>
        val target = new Path(out, dir)
        if (!fs.delete(target, true) && !fs.exists(target.getParent)) fs.mkdirs(target.getParent)
        val staged = new Path(staging, dir)
        if (!fs.rename(staged, target)) throw new IOException(s"Failed to rename $staged to $target")
      }
      fs.delete(staging, true)
      if (!dynamic && hadoopConf.getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true))
        fs.create(new Path(out, "_SUCCESS"), true).close()
    } catch {
      case NonFatal(e) =>
        try fs.delete(staging, true) catch { case NonFatal(d) => e.addSuppressed(d) }
        throw e
    }
    GraftLakeBridge.recacheByPath(spark, out, fs)
  }
}
