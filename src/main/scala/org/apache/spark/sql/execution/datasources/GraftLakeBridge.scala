package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge to the package-private pieces of Spark's parquet relation
  * resolution that `graft.sources.LakeFileIndex` reuses, so a lake read
  * infers exactly what `spark.read.parquet` infers and fails with the same
  * errors; `graft.sources.PartitionedLake` raises Spark's own overwrite
  * error through it too.
  */
object GraftLakeBridge {

  /** Partition columns and values of `leafDirs` under `root`, by the rules
    * and session confs `InMemoryFileIndex` applies; values are cast to the
    * types of `schema` when given, inferred otherwise. */
  def parsePartitions(
      spark: SparkSession,
      leafDirs: Seq[Path],
      root: Path,
      schema: Option[StructType]): PartitionSpec = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(root),
      userSpecifiedSchema = schema,
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths)
  }

  /** The data schema `spark.read.parquet` resolves: from the footer of
    * `first`, the file Spark's inference picks, read on the driver; or,
    * when the session merges parquet schemas, from every file in `all`. */
  def dataSchema(spark: SparkSession, first: FileStatus, all: => Seq[FileStatus]): StructType = {
    val conf = spark.sessionState.conf
    val inferred =
      if (conf.isParquetSchemaMergingEnabled) new ParquetFileFormat().inferSchema(spark, Map.empty, all)
      else try {
        val file = HadoopInputFile.fromStatus(first, spark.sessionState.newHadoopConf())
        val footer = new Footer(first.getPath, ParquetFooterReader.readFooter(file, SKIP_ROW_GROUPS))
        Some(ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf)))
      } catch {
        case e: RuntimeException =>
          if (conf.ignoreCorruptFiles) None
          else throw QueryExecutionErrors.cannotReadFooterForFileError(first.getPath, e)
      }
    inferred.getOrElse(throw unableToInferSchema()).asNullable
  }

  def pathNotFound(path: Path): Throwable = QueryCompilationErrors.dataPathNotExistError(path.toString)

  def unableToInferSchema(): Throwable = QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")

  def cannotOverwritePathBeingRead(path: Path): Throwable =
    QueryCompilationErrors.cannotOverwritePathBeingReadFromError(path.toString)
}
