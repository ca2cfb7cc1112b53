package graft.sources

import java.util.UUID
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, GraftManifestScan, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** The commit file of a persisted index (the MinHash, IVF-int8 and
  * IVF-PQ layouts): `meta.txt` under the index root holds the index
  * parameters, each dataset's schema and partition column, and every
  * committed data file as a path RELATIVE to the root with its length.
  * Relative paths keep a copied index dir self-contained.
  *
  * {{{
  * format=ivf_pq            parameter lines, key=value (format: minhash, ivf_int8, ivf_pq)
  * m=8
  * last_batch=7             the ingest fold's replay marker ([[IndexManifest.foldStep]])
  * dataset cells cell {"type":"struct",...}     name, partition column ("-" for none), data schema
  * file 1834 cells/cell=3/part-00000-….snappy.parquet
  * }}}
  *
  * Writers ([[IndexManifest.commit]]) let Spark write every dataset
  * into one hidden `_staging-<uuid>` dir under the root (ignored by
  * every Parquet reader: `_`-prefixed, no `=`) and list only that dir.
  * Only when every dataset is staged do the files move into the
  * datasets' partition dirs, and a rename then replaces `meta.txt`:
  * that rename is the commit point. A failed write removes what it
  * staged or moved. A file outside the manifest — a crashed write's
  * output, a stray copy — is never read through it. After a replacing
  * commit the old version's files are deleted, so each dataset dir
  * stays a plain partitioned Parquet table holding exactly the
  * committed files.
  *
  * Readers ([[IndexManifest.scan]]) build each dataset's scan from one
  * manifest version with its recorded schema: no listing, no schema
  * inference, and a scan never sees a later version's files.
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
      filesOf(name).map(e => new FileStatus(e.len, false, 1, 0L, 0L, new Path(rootPath, e.path))),
      ds.schema, StructType(ds.partitionCol.toSeq.map(StructField(_, IntegerType))))
  }

  private def text: String = {
    val sb = new StringBuilder
    params.foreach { case (k, v) => sb ++= s"$k=$v\n" }
    datasets.foreach { d =>
      sb ++= s"dataset ${d.name} ${d.partitionCol.getOrElse("-")} ${d.schema.json}\n"
    }
    files.foreach(e => sb ++= s"file ${e.len} ${e.path}\n")
    sb.toString
  }
}

private[graft] object IndexManifest {

  /** One dataset dir of the index: its data columns (the partition
    * column, always an int, lives in the `col=value` dir names).
    */
  final case class Dataset(name: String, schema: StructType, partitionCol: Option[String])

  /** A committed data file, `path` relative to the index root. */
  final case class Entry(path: String, len: Long) {
    def dataset: String = path.takeWhile(_ != '/')
  }

  /** One dataset's newly written files, not yet committed. */
  final case class Written(dataset: Dataset, files: Seq[Entry])

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def qualified(spark: SparkSession, root: String): Path = {
    val p = new Path(root)
    fsOf(spark, p).makeQualified(p)
  }

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Every file under `dir`, recursively ([] when it does not exist). */
  private def listFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else {
      val out = Seq.newBuilder[FileStatus]
      val it = fs.listFiles(dir, true)
      while (it.hasNext) out += it.next()
      out.result()
    }

  def read(spark: SparkSession, root: String): Option[IndexManifest] = {
    val p = new Path(root, "meta.txt")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(parse(text))
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

  private def parse(text: String): IndexManifest = {
    val params = Seq.newBuilder[(String, String)]
    val datasets = Seq.newBuilder[Dataset]
    val files = Seq.newBuilder[Entry]
    text.linesIterator.foreach { l =>
      if (l.startsWith("dataset ")) {
        val Array(_, name, pc, schema) = l.split(" ", 4)
        datasets += Dataset(name, DataType.fromJson(schema).asInstanceOf[StructType],
          Option(pc).filter(_ != "-"))
      } else if (l.startsWith("file ")) {
        val Array(_, len, path) = l.split(" ", 3)
        files += Entry(path, len.toLong)
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

  /** The committed manifest of the `format` index a write in `mode`
    * builds on (None: the write starts a fresh index). `append` extends
    * the current version — a root that holds anything must then carry
    * a manifest of this layout with its dataset lines, or the append
    * fails loudly (committing only the increment would silently drop
    * the unlisted corpus); `overwrite` replaces it, and
    * `error`/`errorifexists` refuse a non-empty root.
    */
  def base(spark: SparkSession, root: String, mode: String, format: String): Option[IndexManifest] = {
    val p = new Path(root)
    val fs = fsOf(spark, p)
    mode.toLowerCase(java.util.Locale.ROOT) match {
      case "append" if vacant(fs, p) => None
      case "append" =>
        val m = load(spark, root, format)
        require(m.datasets.nonEmpty,
          s"$root/meta.txt lists no datasets (written before index manifests) — rebuild the index")
        Some(m)
      case "overwrite" => None
      case "error" | "errorifexists" | "default" =>
        require(vacant(fs, p), s"index path $root already exists and is not empty (mode=$mode)")
        None
      case other => throw new IllegalArgumentException(
        s"unsupported index write mode '$other' (append, overwrite or error)")
    }
  }

  /** The hidden dir one index write stages its datasets in (ignored by
    * every Parquet reader: `_`-prefixed, no `=`). Nothing staged is
    * visible to any reader — a manifest reader or a bare
    * `spark.read.parquet` of a dataset dir — until [[commit]] moves it.
    */
  final class Stage private[IndexManifest] (fs: FileSystem, val dir: Path) {

    /** Write `df` as new files of dataset `name`, partitioned by
      * `partitionCol`, into `dir/name`, and list only that dir. Each
      * entry's path under the stage is its path under the index root.
      */
    def write(df: DataFrame, name: String, partitionCol: Option[String]): Written = {
      val w = df.write
      partitionCol.fold(w)(w.partitionBy(_)).parquet(new Path(dir, name).toString)
      val prefix = dir.toUri.getPath + "/"
      Written(Dataset(name, GraftManifestScan.nullable(
        StructType(df.schema.filterNot(f => partitionCol.contains(f.name)))), partitionCol),
        listFiles(fs, new Path(dir, name)).filterNot(f => hidden(f.getPath.getName))
          .map(f => Entry(f.getPath.toUri.getPath.stripPrefix(prefix), f.getLen)))
    }
  }

  /** Write one new version of the index at `root` on top of `base` (the
    * [[base]] of the write) with `params` as the index parameters:
    * `writes` stages the datasets' new files ([[Stage.write]], run
    * concurrently or not), then the files move into the datasets'
    * partition dirs and a new `meta.txt`, written into the stage, is
    * renamed over the old one. Any failure before that rename deletes
    * the stage and every file already moved, so the dataset dirs keep
    * exactly the committed files. Without a base the commit replaces
    * the index, and only after the rename are the old version's files
    * deleted. Returns what `writes` staged.
    */
  def commit(
      spark: SparkSession, root: String, params: Seq[(String, String)],
      base: Option[IndexManifest]
  )(writes: Stage => Seq[Written]): Seq[Written] = {
    val rootPath = qualified(spark, root)
    val fs = fsOf(spark, rootPath)
    val stage = new Stage(fs, new Path(rootPath, s"_staging-${UUID.randomUUID()}"))
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
      written.flatMap(_.files).foreach { e =>
        val target = new Path(rootPath, e.path)
        fs.mkdirs(target.getParent)
        if (!fs.rename(new Path(stage.dir, e.path), target))
          throw new java.io.IOException(s"could not move ${e.path} out of ${stage.dir}")
        moved += target
      }
      FileContext.getFileContext(rootPath.toUri, spark.sessionState.newHadoopConf())
        .rename(tmp, new Path(rootPath, "meta.txt"), Options.Rename.OVERWRITE)
      committed = true
      if (base.isEmpty) {
        val keep = next.files.map(e => new Path(rootPath, e.path)).toSet
        next.datasets.map(d => new Path(rootPath, d.name)).filter(fs.exists).foreach { dir =>
          listFiles(fs, dir).map(_.getPath).filterNot(keep).foreach(fs.delete(_, false))
          fs.listStatus(dir).filter(s => s.isDirectory && fs.listStatus(s.getPath).isEmpty)
            .foreach(s => fs.delete(s.getPath, true))
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
