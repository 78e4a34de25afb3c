package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, GraftLakeBridge, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** File index of a `k=v`-partitioned parquet lake that lists only the
  * partitions a query keeps.
  *
  * Opening it walks directory names on the driver and reads one footer; it
  * starts no Spark job. `listFiles` evaluates the scan's static partition
  * filters against the partition values found by that walk, then lists the
  * surviving directories through Spark's own `InMemoryFileIndex` (with
  * `basePath` and the fixed partition schema), so a large surviving set
  * still gets Spark's parallel listing. Spark's `PruneFileSourcePartitions`
  * only prunes catalog tables; for a path-based relation the filters reach
  * the index here, through `FileSourceScanExec`.
  *
  * Unfiltered listings, `sizeInBytes` and `inputFiles` use one full
  * `InMemoryFileIndex`, built on first use and kept until `refresh`, so
  * plans that need statistics (joins, dynamic partition pruning) list the
  * whole lake once, as `spark.read.parquet` does.
  *
  * `rootPaths` is the qualified lake root, the path Spark's own index
  * reports, so a check that compares a write's output path with the paths
  * a plan reads sees the lake.
  */
private[sources] final class LakeFileIndex(spark: SparkSession, root: Path, initial: PartitionSpec)
    extends FileIndex {

  override val rootPaths: Seq[Path] = Seq(root)

  override val partitionSchema: StructType = initial.partitionColumns

  private var spec = initial

  private var full: Option[InMemoryFileIndex] = None

  private def fullIndex: InMemoryFileIndex = synchronized {
    if (full.isEmpty) full = Some(new InMemoryFileIndex(spark, rootPaths, Map.empty, Some(partitionSchema)))
    full.get
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partitions = synchronized(spec.partitions)
    val kept = prune(partitions, partitionFilters)
    if (kept.size == partitions.size) fullIndex.listFiles(partitionFilters, dataFilters)
    else if (kept.isEmpty) Nil
    else new InMemoryFileIndex(spark, kept.map(_.path), Map("basePath" -> root.toString), Some(partitionSchema))
      .listFiles(partitionFilters, dataFilters)
  }

  /** The partitions `filters` keep, by the rule `InMemoryFileIndex` prunes
    * with: every filter that references partition columns only. */
  private def prune(partitions: Seq[PartitionPath], filters: Seq[Expression]): Seq[PartitionPath] = {
    val cols = partitionSchema
    val names = cols.map(_.name).toSet
    val usable = filters.filter(_.references.map(_.name).toSet.subsetOf(names))
    if (usable.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(usable.reduce(And).transform {
        case a: AttributeReference =>
          val i = cols.indexWhere(a.name == _.name)
          BoundReference(i, cols(i).dataType, nullable = true)
      })
      partitions.filter(p => keep.eval(p.values))
    }
  }

  override def inputFiles: Array[String] = fullIndex.inputFiles

  override def sizeInBytes: Long = fullIndex.sizeInBytes

  /** Walks the directory names again, keeping the partition types. */
  override def refresh(): Unit = {
    val leaves = LakeFileIndex.walk(spark, root)._1
    synchronized {
      full = None
      spec = GraftLakeBridge.parsePartitions(spark, leaves, root, Some(partitionSchema))
    }
  }
}

private[sources] object LakeFileIndex {

  /** Spark's listing filter: hidden `_`/`.` names (a `_` name holding `=`
    * is a partition directory, not hidden) and in-flight copies. */
  private def visible(name: String): Boolean =
    !(name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) || name.endsWith("._COPYING_"))

  /** Spark orders files by path string; every file of a leaf directory sorts
    * by its directory's path plus the separator. */
  private def sortKey(dir: Path): String = s"$dir/"

  /** The leaf partition directories under `root`, and the data file with
    * the smallest path, found from directory names: every directory above
    * the leaf level is listed, and leaf directories only until one holds a
    * data file. The lake has one partition layout (Spark rejects mixed
    * ones), so the first non-empty directory of a level tells whether the
    * level is the leaf level. */
  private def walk(spark: SparkSession, root: Path): (Seq[Path], Option[FileStatus]) = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val listed = scala.collection.mutable.Map[Path, Array[FileStatus]]()
    def list(dir: Path): Array[FileStatus] =
      listed.getOrElseUpdate(dir, fs.listStatus(dir).filter(s => visible(s.getPath.getName)))
    def partitionDirs(dir: Path): Seq[Path] =
      list(dir).toSeq.filter(s => s.isDirectory && s.getPath.getName.contains("=")).map(_.getPath)
    def dataFiles(dir: Path): Seq[FileStatus] = list(dir).toSeq.filter(_.isFile)

    var level = Seq(root)
    var descending = true
    while (descending) {
      level = level.sortBy(sortKey)
      val probe = level.find(d => partitionDirs(d).nonEmpty || dataFiles(d).nonEmpty)
      if (probe.exists(partitionDirs(_).nonEmpty)) level = level.flatMap(partitionDirs)
      else descending = false
    }
    val firstFile = level.iterator.map(d => dataFiles(d).sortBy(_.getPath.toString).headOption)
      .collectFirst { case Some(f) => f }
    (level, firstFile)
  }

  /** The relation `spark.read.parquet(path)` resolves, over a
    * [[LakeFileIndex]]. Throws Spark's own errors for a missing path and for
    * a lake with no data file. */
  def relation(spark: SparkSession, path: String): HadoopFsRelation = {
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(raw)
    if (!fs.exists(root)) throw GraftLakeBridge.pathNotFound(root)
    val (leaves, firstFile) = walk(spark, root)
    val spec = GraftLakeBridge.parsePartitions(spark, leaves, root, None)
    val index = new LakeFileIndex(spark, root, spec)
    val dataSchema = GraftLakeBridge.dataSchema(spark,
      firstFile.getOrElse(throw GraftLakeBridge.unableToInferSchema()), index.fullIndex.allFiles())
    HadoopFsRelation(index, spec.partitionColumns, dataSchema, None, new ParquetFileFormat, Map.empty)(spark)
  }
}
