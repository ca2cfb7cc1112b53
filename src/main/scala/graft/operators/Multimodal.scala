package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus the partition-wise
  * decode/feature-extract pattern.
  *
  * Beyond-parity surface. The Spark-side shape is fully real — schema,
  * partitioning, batch iteration, feature struct — while the actual
  * codec step is STUBBED (this container ships no image/audio
  * libraries): [[decodeStub]] derives deterministic fake features from
  * the bytes. Swapping in a real decoder means replacing ONE function
  * body; nothing about the plan changes.
  *
  * Scale notes: payloads stay opaque binary end-to-end (never cast to
  * string, never collected); decode runs via `mapPartitions` so a real
  * codec could amortize per-partition init (model load, JNI handles);
  * repartition count is chosen by payload BYTES, not row count, so a
  * 100 TB media table fans out to memory-sized tasks.
  */
object Multimodal {

  /** Media row: opaque payload + source-side metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", LongType),
      StructField("content_hash", LongType),
      StructField("source", StringType)
    )))
  ))

  /** Wrap any table with an id + a (here: synthesized) binary payload
    * into the canonical media frame. With real data the payload column
    * comes straight from parquet/avro binary; here we derive bytes from
    * a text column so the full pipeline is exercisable on the testdata.
    */
  def toMediaFrame(df: DataFrame, idCol: String, payloadSource: String, kind: String): DataFrame =
    // rows whose id cannot cast to long are dropped (media_id is the
    // non-null identity of the frame; unboxing null to 0 would silently
    // collide distinct items)
    df.filter(col(idCol).cast(LongType).isNotNull).select(
      col(idCol).cast(LongType).as("media_id"),
      lit(kind).as("kind"),
      encode(col(payloadSource), "UTF-8").as("payload"),
      struct(
        octet_length(col(payloadSource)).cast(LongType).as("n_bytes"),
        xxhash64(col(payloadSource)).as("content_hash"),
        input_file_name().as("source")).as("meta"))

  /** Extracted features per media item. A real decoder fills width/
    * height/duration from the codec; the stub derives them
    * deterministically from the payload bytes.
    */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("checksum", LongType)
  ))

  /** STUB decoder — deterministic fake. Replace this body with a real
    * codec (e.g. javax.imageio / ffmpeg JNI) to productionize; the
    * signature (bytes in, scalar features out) is the real contract.
    */
  def decodeStub(kind: String, payload: Array[Byte]): (Int, Int, Long) = {
    if (payload == null || payload.isEmpty) (0, 0, 0L)
    else {
      val w = 64 + (payload(0) & 0x7f)
      val h = 64 + (payload(payload.length / 2) & 0x7f)
      val dur = if (kind == "image") 0L else payload.length.toLong * 10
      (w, h, dur)
    }
  }

  /** Partition-wise decode / feature extraction. `bytesPerPartition`
    * sizes tasks by payload volume (sum of n_bytes / target), mirroring
    * how a real media table must be split — row counts are meaningless
    * when one row can be a 2 GB video.
    */
  def extractFeatures(
      spark: SparkSession,
      media: DataFrame,
      bytesPerPartition: Long = 128L * 1024 * 1024
  ): DataFrame = {
    val totalBytes = media
      .agg(coalesce(sum(col("meta.n_bytes")), lit(0L))).collect()(0).getLong(0)
    val parts = math.max(1, math.min(10000, (totalBytes / bytesPerPartition) + 1).toInt)

    val repartitioned = media.repartition(parts, col("media_id"))
    val enc = Encoders.row(featureSchema)
    repartitioned.mapPartitions { rows =>
      // per-partition init happens HERE in a real decoder (load model,
      // open codec context) — amortized over the whole batch
      rows.map { r =>
        val id = r.getAs[Long]("media_id")
        val kind = r.getAs[String]("kind")
        val payload = r.getAs[Array[Byte]]("payload")
        val nBytes = if (payload == null) 0L else payload.length.toLong
        val (w, h, dur) = decodeStub(kind, payload)
        var checksum = 0L
        if (payload != null) {
          checksum = 1125899906842597L
          var i = 0
          while (i < payload.length) { checksum = checksum * 31 + payload(i); i += 1 }
        }
        Row(id, kind, nBytes, w, h, dur, checksum)
      }
    }(enc)
  }

  /** Frame-sampling shape for video-ish payloads: one row per sampled
    * offset, via a codegen'd sequence + explode (the decode of each
    * sampled frame would again be partition-wise).
    */
  def sampleOffsets(media: DataFrame, everyBytes: Int = 1024): DataFrame =
    media
      // an empty payload samples NOTHING — without this filter the
      // greatest(-1, 0) clamp would emit a bogus offset-0 row that a
      // real frame decoder would read out of bounds on
      .filter(col("meta.n_bytes") > 0)
      .select(
        col("media_id"),
        explode(
          sequence(lit(0L), col("meta.n_bytes") - 1,
            lit(everyBytes.toLong))).as("byte_offset"))
}
