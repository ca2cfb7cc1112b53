package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's file-source internals for a Parquet scan over a
  * KNOWN file list — the reader side of the persisted-index manifests
  * ([[graft.sources.IndexManifest]]). `spark.read.parquet` lists the
  * directory tree (a parallel-discovery job once it holds more than
  * 32 leaf dirs) and infers the schema from a footer (another job);
  * here the file index is pre-filled from the manifest and the schema
  * is given, so building the scan runs no job and touches no storage.
  * Partition columns still parse from the `col=value` dirs, so
  * partition filters prune exactly as on a listed table.
  */
object GraftManifestScan {

  /** `s` with every field, element and value nullable — the schema a
    * Parquet read of written data reports.
    */
  def nullable(s: StructType): StructType = s.asNullable

  /** `files` must be fully qualified and lie under `root`. */
  def parquet(
      spark: SparkSession, root: Path, files: Seq[FileStatus],
      dataSchema: StructType, partitionSchema: StructType
  ): DataFrame = {
    val index = new ManifestFileIndex(spark, root, files,
      StructType(dataSchema.fields ++ partitionSchema.fields))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The manifest's files served as the root's listing. Equality covers
    * the file list, not only the root (`InMemoryFileIndex.equals`), so
    * a scan cached at one manifest version never answers a read of the
    * next one.
    */
  private final class ManifestFileIndex(
      spark: SparkSession, root: Path, files: Seq[FileStatus], schema: StructType)
    extends InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema),
      ManifestFileIndex.cache(root, files)) {
    private val key = files.map(f => (f.getPath, f.getLen))
    override def equals(other: Any): Boolean = other match {
      case o: ManifestFileIndex => o.rootPaths == rootPaths && o.key == key
      case _ => false
    }
    override def hashCode(): Int = key.hashCode()
  }

  private object ManifestFileIndex {
    def cache(root: Path, files: Seq[FileStatus]): FileStatusCache = new FileStatusCache {
      private val leaves = files.toArray
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        if (path == root) Some(leaves) else None
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
  }
}
