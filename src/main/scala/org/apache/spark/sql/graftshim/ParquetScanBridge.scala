package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, VariantExtraction}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Bridge into Spark's `private[sql]` parquet scan machinery for the graft
 * DSv2 source (see `graft.sources.GraftDataSource`).
 *
 * Design choice, mirroring the reference: the reference's DSv2 read path
 * does its own PLANNING (replica selection, token-range splits, bloom/index
 * file skipping) but delegates the actual columnar DECODE to Cassandra's
 * battle-tested `CompactionIterator` (`CompactionStreamScanner.java:68-130`).
 * We do the same split: `GraftScan` owns planning — schema/role metadata,
 * partition-key filter → Murmur3 token file pruning, statistics — and this
 * bridge hands the pruned file list to Spark's own `ParquetScan` for
 * vectorized, codegen-friendly, row-group-pruning decode. Re-implementing a
 * parquet decoder would be strictly slower and less correct.
 *
 * Kept in the `org.apache.spark.sql` namespace so `private[sql]` access is
 * legal; this file and `GraftShims` are the only internal seams.
 */
object ParquetScanBridge {

  /**
   * A DSv2 [[Batch]] reading `files` (already pruned by the caller) with
   * `filters` pushed into parquet row-group/page skipping and `readSchema`
   * column pruning. File splitting (maxPartitionBytes / openCostInBytes)
   * and the vectorized reader factory come from ParquetScan.
   */
  def parquetBatch(
      spark: SparkSession,
      files: Seq[String],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter],
      known: Map[String, FileStatus] = Map.empty): Batch = {
    val index = new InMemoryFileIndex(
      spark,
      files.map(new Path(_)),
      Map.empty,
      Some(dataSchema),
      if (known.isEmpty) FileStatusCache.getOrCreate(spark)
      else new KnownFiles(spark, known.map { case (p, st) => p -> Array(st) }),
      None,
      None)
    ParquetScan(
      spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      index,
      dataSchema,
      readSchema,
      new StructType(), // no partition (directory) columns in the graft layout
      filters,
      CaseInsensitiveStringMap.empty(),
      None,
      Nil,
      Nil,
      Array.empty[VariantExtraction]).toBatch
  }

  /** `spark.read.schema(schema).parquet(dir)` over a directory whose
   *  visible data files the caller already listed: the relation takes
   *  `files` instead of listing `dir` (no existence probe either). */
  def parquetFrame(
      spark: SparkSession,
      dir: Path,
      files: Array[FileStatus],
      schema: StructType): org.apache.spark.sql.DataFrame = {
    val index = new InMemoryFileIndex(spark, Seq(dir), Map.empty, Some(schema),
      new KnownFiles(spark, Map(dir.toString -> files)), None, None)
    spark.baseRelationToDataFrame(org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, new StructType(), schema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(spark))
  }

  /** Leaf files the caller already listed (the graft listing walk), by
   *  the path the index would list: the index takes them instead of
   *  listing, with block locations attached the way Spark's own listing
   *  attaches them (`HadoopFSUtils.listLeafFiles`); any other path lists
   *  as usual. */
  private final class KnownFiles(spark: SparkSession, known: Map[String, Array[FileStatus]])
      extends FileStatusCache {
    private val conf = spark.sessionState.newHadoopConf()
    private val ignoreLocality = spark.sessionState.conf.ignoreDataLocality

    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      known.get(path.toString).map(_.map(located))

    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()

    override def invalidateAll(): Unit = ()

    private def located(f: FileStatus): FileStatus = f match {
      case l: LocatedFileStatus => l
      case _ if ignoreLocality => f
      case _ =>
        val locations = f.getPath.getFileSystem(conf).getFileBlockLocations(f, 0, f.getLen)
          .map { loc =>
            if (loc.getClass == classOf[BlockLocation]) loc
            else new BlockLocation(loc.getNames, loc.getHosts, loc.getOffset, loc.getLength)
          }
        // the long constructor: the short one reads permissions, which
        // spawns a process per file on the raw local filesystem
        val lfs = new LocatedFileStatus(f.getLen, f.isDirectory, f.getReplication,
          f.getBlockSize, f.getModificationTime, 0, null, null, null, null, f.getPath, locations)
        if (f.isSymlink) lfs.setSymlink(f.getSymlink)
        lfs
    }
  }
}
