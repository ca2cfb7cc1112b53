package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's file-source internals for a Parquet scan over a
  * KNOWN file list — the reader side of the persisted-index manifests
  * ([[graft.sources.IndexManifest]]). `spark.read.parquet` lists the
  * directory tree and infers the schema from a footer (a job); here
  * the file index is pre-filled from the manifest and the schema is
  * given, so building the scan runs no job and touches no storage.
  * The datasets are flat, and each file may carry the [min, max] range
  * of the dataset's key column: the file index drops the files whose
  * range misses an `IN`, `InSet` or `=` filter on the key, and Parquet
  * row-group statistics prune inside the files that remain.
  */
object GraftManifestScan {

  /** `s` with every field, element and value nullable — the schema a
    * Parquet read of written data reports.
    */
  def nullable(s: StructType): StructType = s.asNullable

  /** `files` must be fully qualified and lie under `root`; each carries
    * its range of `key` (None: never pruned).
    */
  def parquet(
      spark: SparkSession, root: Path, files: Seq[(FileStatus, Option[(Long, Long)])],
      dataSchema: StructType, key: Option[String]
  ): DataFrame = {
    val index = new ManifestFileIndex(spark, root, files, dataSchema, key)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The manifest's files served as the root's listing. Equality covers
    * the file list, not only the root (`InMemoryFileIndex.equals`), so
    * a scan cached at one manifest version never answers a read of the
    * next one.
    */
  private final class ManifestFileIndex(
      spark: SparkSession, root: Path, files: Seq[(FileStatus, Option[(Long, Long)])],
      schema: StructType, key: Option[String])
    extends InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema),
      ManifestFileIndex.cache(root, files.map(_._1))) {
    private val ident = files.map { case (f, _) => (f.getPath, f.getLen) }
    private val ranges = files.collect { case (f, Some(r)) => f.getPath -> r }.toMap

    override def listFiles(
        partitionFilters: Seq[Expression], dataFilters: Seq[Expression]
    ): Seq[PartitionDirectory] = {
      val listed = super.listFiles(partitionFilters, dataFilters)
      key.flatMap(ManifestFileIndex.keyValues(_, dataFilters)) match {
        case None => listed
        case Some(values) => listed.map(d => d.copy(files = d.files.filter(f =>
          ranges.get(f.getPath).forall { case (lo, hi) => values.exists(v => v >= lo && v <= hi) })))
      }
    }

    override def equals(other: Any): Boolean = other match {
      case o: ManifestFileIndex => o.rootPaths == rootPaths && o.ident == ident
      case _ => false
    }
    override def hashCode(): Int = ident.hashCode()
  }

  private object ManifestFileIndex {
    def cache(root: Path, files: Seq[FileStatus]): FileStatusCache = new FileStatusCache {
      private val leaves = files.toArray
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        if (path == root) Some(leaves) else None
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }

    /** The key values the conjunctive `filters` allow (None: they do not
      * pin `key` to a set of integral literals).
      */
    def keyValues(key: String, filters: Seq[Expression]): Option[Set[Long]] = {
      def longs(vs: Iterable[Any]): Option[Set[Long]] =
        Option.when(vs.forall(v => v == null || v.isInstanceOf[java.lang.Number]))(
          vs.collect { case n: java.lang.Number => n.longValue }.toSet)
      val sets = filters.flatMap {
        case In(a: Attribute, list) if a.name == key && list.forall(_.isInstanceOf[Literal]) =>
          longs(list.map(_.asInstanceOf[Literal].value))
        case InSet(a: Attribute, hset) if a.name == key => longs(hset)
        case EqualTo(a: Attribute, Literal(v, _)) if a.name == key => longs(Seq(v))
        case EqualTo(Literal(v, _), a: Attribute) if a.name == key => longs(Seq(v))
        case _ => None
      }
      sets.reduceOption(_ intersect _)
    }
  }
}
