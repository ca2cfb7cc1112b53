package graft.sources

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftManifestScan, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** The commit file of a persisted index (the MinHash, IVF-int8 and
  * IVF-PQ layouts): `meta.txt` under the index root holds the index
  * parameters, each dataset's schema and key column, and every
  * committed data file as a path RELATIVE to the root with its length
  * and the range of its key. Relative paths keep a copied index dir
  * self-contained.
  *
  * {{{
  * format=ivf_pq            parameter lines, key=value (format: minhash, ivf_int8, ivf_pq)
  * m=8
  * last_batch=7             the ingest fold's replay marker ([[IndexManifest.foldStep]])
  * dataset cells cell {"type":"struct",...}     name, key column ("-" for none), schema (key included)
  * file 1834 3 17 cells/part-00000-….snappy.parquet    length, key min and max ("- -": none), path
  * }}}
  *
  * Each dataset is a flat dir of Parquet files. A keyed dataset
  * (`cells/` by `cell`, `shingles/` by `shard`) is written sorted by
  * its key ([[IndexManifest.Stage.write]]), so each file holds one
  * contiguous key range, read from the file's Parquet footer when it
  * is staged. A scan drops the files whose range misses the probe's
  * `IN`/`=` filter on the key ([[GraftManifestScan]]); a file without
  * a range is never dropped. A dataset no probe filters on a key
  * (`bands/`, joined on (band, bucket); the side tables) is unkeyed,
  * and its files record no range.
  *
  * Writers ([[IndexManifest.commit]]) let Spark write every dataset
  * into one hidden `_staging-<uuid>` dir under the root (ignored by
  * every Parquet reader: `_`-prefixed) and list only that dir. Only
  * when every dataset is staged do the files move into the dataset
  * dirs, and a rename then replaces `meta.txt`: that rename is the
  * commit point. A failed write removes what it staged or moved. A file
  * outside the manifest — a crashed write's output, a stray copy — is
  * never read through it. After a replacing commit the old version's
  * files are deleted, so each dataset dir stays a plain Parquet table
  * holding exactly the committed files.
  *
  * Readers ([[IndexManifest.scan]]) build each dataset's scan from one
  * manifest version with its recorded schema: no listing, no schema
  * inference, and a scan never sees a later version's files. A manifest
  * of the older layout (partition dirs such as `cell=3/`, file lines
  * without ranges) is refused with a request to rebuild the index.
  */
private[graft] final case class IndexManifest(
    params: Seq[(String, String)],
    datasets: Seq[IndexManifest.Dataset],
    files: Seq[IndexManifest.Entry]) {
  import IndexManifest._

  def param(key: String): Option[String] = params.collectFirst { case (`key`, v) => v }

  def intParam(key: String): Int = param(key).getOrElse(
    throw new IllegalArgumentException(s"the index manifest lacks '$key'")).toInt

  def dataset(name: String): Dataset = datasets.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"the index manifest lists no '$name' dataset " +
      s"(datasets: ${datasets.map(_.name).mkString(", ")}) — rebuild the index"))

  def filesOf(name: String): Seq[Entry] = files.filter(_.dataset == name)

  /** Dataset `name` of the index at `root` as of this manifest version. */
  def scan(spark: SparkSession, root: String, name: String): DataFrame = {
    val ds = dataset(name)
    val rootPath = qualified(spark, root)
    GraftManifestScan.parquet(spark, new Path(rootPath, name),
      filesOf(name).map(e =>
        new FileStatus(e.len, false, 1, 0L, 0L, new Path(rootPath, e.path)) -> e.range),
      ds.schema, ds.key)
  }

  private def text: String = {
    val sb = new StringBuilder
    params.foreach { case (k, v) => sb ++= s"$k=$v\n" }
    datasets.foreach(d => sb ++= s"dataset ${d.name} ${d.key.getOrElse("-")} ${d.schema.json}\n")
    files.foreach { e =>
      val (lo, hi) = e.range.fold(("-", "-"))(r => (r._1.toString, r._2.toString))
      sb ++= s"file ${e.len} $lo $hi ${e.path}\n"
    }
    sb.toString
  }
}

private[graft] object IndexManifest {

  /** One dataset dir of the index: its schema, key column included. */
  final case class Dataset(name: String, schema: StructType, key: Option[String])

  /** A committed data file, `path` relative to the index root, with the
    * min and max of its dataset's key (None: unkeyed, or no footer
    * statistics).
    */
  final case class Entry(path: String, len: Long, range: Option[(Long, Long)]) {
    def dataset: String = path.takeWhile(_ != '/')
  }

  /** One dataset's newly written files, not yet committed. */
  final case class Written(dataset: Dataset, files: Seq[Entry])

  /** An index write mode, parsed once by [[base]]: writers branch on
    * this, never on the mode string.
    */
  sealed trait Base {
    /** The committed version the write builds on (None: a fresh index). */
    def onto: Option[IndexManifest]
  }

  /** `append`: extend `onto` (None: the root is vacant). */
  final case class Append(onto: Option[IndexManifest]) extends Base

  /** `overwrite`, or `error` on a vacant root: write a fresh index. */
  case object Replace extends Base {
    def onto: Option[IndexManifest] = None
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def qualified(spark: SparkSession, root: String): Path = {
    val p = new Path(root)
    fsOf(spark, p).makeQualified(p)
  }

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  def read(spark: SparkSession, root: String): Option[IndexManifest] = {
    val p = new Path(root, "meta.txt")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(parse(text, root))
    }
  }

  /** The manifest of the `format` index at `root`, failing loudly when
    * there is none or it belongs to another layout.
    */
  def load(spark: SparkSession, root: String, format: String): IndexManifest = {
    val m = read(spark, root).getOrElse(throw new IllegalArgumentException(
      s"no meta.txt under $root — not a written $format index"))
    require(m.param("format").contains(format),
      s"$root/meta.txt is not an $format index manifest (format=${m.param("format")})")
    m
  }

  private def parse(text: String, root: String): IndexManifest = {
    def older(what: String) = throw new IllegalArgumentException(s"$root/meta.txt $what: " +
      "the index predates per-file key ranges (partition dirs such as cell=) — rebuild the index")
    val params = Seq.newBuilder[(String, String)]
    val datasets = Seq.newBuilder[Dataset]
    val files = Seq.newBuilder[Entry]
    text.linesIterator.foreach { l =>
      if (l.startsWith("dataset ")) {
        val Array(_, name, key, schema) = l.split(" ", 4)
        val d = Dataset(name, DataType.fromJson(schema).asInstanceOf[StructType],
          Option(key).filter(_ != "-"))
        if (d.key.exists(k => !d.schema.fieldNames.contains(k)))
          older(s"keeps the key of '$name' out of its schema")
        datasets += d
      } else if (l.startsWith("file ")) {
        l.split(" ", 5) match {
          case Array(_, len, lo, hi, path) if !path.split('/').init.exists(_.contains('=')) =>
            files += Entry(path, len.toLong,
              if (lo == "-") None else Some(lo.toLong -> hi.toLong))
          case _ => older(s"lists '$l'")
        }
      } else if (l.contains('=')) {
        val Array(k, v) = l.split("=", 2)
        params += (k.trim -> v.trim)
      }
    }
    IndexManifest(params.result(), datasets.result(), files.result())
  }

  /** True when `root` does not exist or holds nothing but hidden
    * entries (a crashed write's staging dir is never read).
    */
  private def vacant(fs: FileSystem, root: Path): Boolean =
    !fs.exists(root) || fs.listStatus(root).forall(s => hidden(s.getPath.getName))

  /** The parsed `mode` of a write of the `format` index at `root`, case
    * insensitively. `append` extends the committed version — a root
    * that holds anything must then carry a manifest of this layout with
    * its dataset lines, or the append fails loudly (committing only the
    * increment would silently drop the unlisted corpus); `overwrite`
    * replaces it, and `error`/`errorifexists` refuse a non-empty root.
    */
  def base(spark: SparkSession, root: String, mode: String, format: String): Base = {
    val p = new Path(root)
    val fs = fsOf(spark, p)
    mode.toLowerCase(java.util.Locale.ROOT) match {
      case "append" if vacant(fs, p) => Append(None)
      case "append" =>
        val m = load(spark, root, format)
        require(m.datasets.nonEmpty,
          s"$root/meta.txt lists no datasets (written before index manifests) — rebuild the index")
        Append(Some(m))
      case "overwrite" => Replace
      case "error" | "errorifexists" | "default" =>
        require(vacant(fs, p), s"index path $root already exists and is not empty (mode=$mode)")
        Replace
      case other => throw new IllegalArgumentException(
        s"unsupported index write mode '$other' (append, overwrite or error)")
    }
  }

  /** The min and max of the integral column `key` over the Parquet file
    * at `path`, from its footer's row-group statistics — read on the
    * driver, no Spark job. None when a row group lacks them.
    */
  private def keyRange(conf: Configuration, path: Path, key: String): Option[(Long, Long)] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val stats =
      try reader.getFooter.getBlocks.asScala.toSeq.map(_.getColumns.asScala
        .find(_.getPath.toDotString == key).map(_.getStatistics))
      finally reader.close()
    val bounds = stats.map(_.filter(_.hasNonNullValue).map(s => (s.genericGetMin, s.genericGetMax))
      .collect { case (lo: java.lang.Number, hi: java.lang.Number) => (lo.longValue, hi.longValue) })
    if (bounds.isEmpty || bounds.contains(None)) None
    else Some(bounds.flatten.map(_._1).min -> bounds.flatten.map(_._2).max)
  }

  /** The hidden dir one index write stages its datasets in (ignored by
    * every Parquet reader: `_`-prefixed). Nothing staged is visible to
    * any reader — a manifest reader or a bare `spark.read.parquet` of a
    * dataset dir — until [[commit]] moves it.
    */
  final class Stage private[IndexManifest] (spark: SparkSession, fs: FileSystem, val dir: Path) {

    /** Write `df` as new files of dataset `name` into `dir/name`, and
      * list only that dir. A keyed dataset is written
      * `repartitionByRange(key)` and sorted by `key` within each file,
      * so its files hold contiguous, non-overlapping key ranges (AQE
      * coalesces a small append into one file) and each entry records
      * its file's range. The range partitioner's sample job evaluates
      * `df` in full before the shuffle evaluates it again, so a keyed
      * write computes its input twice: the fresh builds persist theirs
      * (an encode or kernel pass over the corpus), while a fold step's
      * small append and a compaction's Parquet scan are recomputed. An
      * unkeyed dataset is written one file per partition of `df` as it
      * comes.
      * Each entry's path under the stage is its path under the index
      * root.
      */
    def write(df: DataFrame, name: String, key: Option[String]): Written = {
      key.fold(df)(k => df.repartitionByRange(col(k)).sortWithinPartitions(col(k)))
        .write.parquet(new Path(dir, name).toString)
      val conf = spark.sessionState.newHadoopConf()
      val prefix = dir.toUri.getPath + "/"
      val out = new Path(dir, name)
      Written(Dataset(name, GraftManifestScan.nullable(df.schema), key),
        (if (fs.exists(out)) fs.listStatus(out).toSeq else Nil)
          .filterNot(f => hidden(f.getPath.getName))
          .map(f => Entry(f.getPath.toUri.getPath.stripPrefix(prefix), f.getLen,
            key.flatMap(keyRange(conf, f.getPath, _)))))
    }
  }

  /** Write one new version of the index at `root` on top of `base` (the
    * [[Base.onto]] of the write) with `params` as the index parameters:
    * `writes` stages the datasets' new files ([[Stage.write]], run
    * concurrently or not), then the files move into the dataset dirs
    * and a new `meta.txt`, written into the stage, is renamed over the
    * old one. Any failure before that rename deletes the stage and
    * every file already moved, so the dataset dirs keep exactly the
    * committed files. Without a base the commit replaces the index, and
    * only after the rename is everything else in its dataset dirs
    * deleted. Returns what `writes` staged.
    */
  def commit(
      spark: SparkSession, root: String, params: Seq[(String, String)],
      base: Option[IndexManifest]
  )(writes: Stage => Seq[Written]): Seq[Written] = {
    val rootPath = qualified(spark, root)
    val fs = fsOf(spark, rootPath)
    val stage = new Stage(spark, fs, new Path(rootPath, s"_staging-${UUID.randomUUID()}"))
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    var committed = false
    try {
      val written = writes(stage)
      base.foreach { b =>
        written.foreach { w =>
          require(b.dataset(w.dataset.name) == w.dataset,
            s"index at $root: appended ${w.dataset} does not match ${b.dataset(w.dataset.name)}")
        }
      }
      val old = base.map(_.datasets).getOrElse(Nil)
      val next = IndexManifest(params,
        old ++ written.map(_.dataset).filterNot(d => old.exists(_.name == d.name)),
        base.map(_.files).getOrElse(Nil) ++ written.flatMap(_.files))
      val tmp = new Path(stage.dir, "_meta")
      val out = fs.create(tmp, false)
      try out.write(next.text.getBytes("UTF-8")) finally out.close()
      written.foreach { w =>
        fs.mkdirs(new Path(rootPath, w.dataset.name))
        w.files.foreach { e =>
          val target = new Path(rootPath, e.path)
          if (!fs.rename(new Path(stage.dir, e.path), target))
            throw new java.io.IOException(s"could not move ${e.path} out of ${stage.dir}")
          moved += target
        }
      }
      FileContext.getFileContext(rootPath.toUri, spark.sessionState.newHadoopConf())
        .rename(tmp, new Path(rootPath, "meta.txt"), Options.Rename.OVERWRITE)
      committed = true
      if (base.isEmpty) {
        val keep = next.files.map(e => new Path(rootPath, e.path)).toSet
        next.datasets.map(d => new Path(rootPath, d.name)).filter(fs.exists).foreach { dir =>
          fs.listStatus(dir).map(_.getPath).filterNot(keep).foreach(fs.delete(_, true))
        }
      }
      written
    } catch {
      case e: Throwable =>
        if (!committed) moved.foreach(fs.delete(_, false))
        throw e
    } finally { fs.delete(stage.dir, true); () }
  }

  /** One step of a SEQUENTIAL ingest fold over the `format` index at
    * `root` — the one body of `Dedup.ingestDedupBatchTo`,
    * `Pq.ingestBatchTo` and `Ivf.ingestAnnBatchTo`. The manifest is
    * loaded once: `probe` builds the step's output frame from that
    * version, then `sink` (an eager ACTION over the frame — a
    * parquet/noop write that may not stash it) runs concurrently with
    * `append` ([[graft.operators.Actions.runConcurrently]]). `append`
    * must commit the batch on top of the version it is given, with
    * that version's parameter lines: they carry `last_batch=<batchId>`,
    * so one `meta.txt` rename commits the batch and its replay marker
    * together. Without a `batchId` the marker is carried unchanged.
    *
    * At-least-once replay: foreachBatch can re-deliver a micro-batch
    * after a failure between the append's commit and the stream's
    * checkpoint commit — a sink failure after the concurrent append
    * committed included. A `batchId` EQUAL to the manifest's
    * `last_batch` (only the last uncommitted batch can replay under
    * sequential micro-batching) skips the append and re-runs only the
    * probe, told `replay = true` because its version already holds the
    * batch, and the sink. Equality, not <=, so a fresh checkpoint
    * pointed at an existing index (ids restart at 0) never skips an
    * append; a replacing write starts with no marker. A crash before
    * the rename leaves neither the batch nor the marker, so the
    * re-delivery appends it. Idempotence of the sink's write stays the
    * caller's concern (key it by batchId).
    */
  def foldStep(spark: SparkSession, root: String, format: String, batchId: Option[Long])(
      probe: (IndexManifest, Boolean) => DataFrame)(
      append: IndexManifest => Unit)(
      sink: DataFrame => Unit): Unit = {
    val current = load(spark, root, format)
    val replay = batchId.exists(id => current.param("last_batch").contains(id.toString))
    val out = probe(current, replay)
    if (replay) sink(out)
    else graft.operators.Actions.runConcurrently(() => sink(out), () => append(
      batchId.fold(current)(id => current.copy(
        params = current.params.filterNot(_._1 == "last_batch") :+ ("last_batch" -> id.toString)))))
    ()
  }
}
