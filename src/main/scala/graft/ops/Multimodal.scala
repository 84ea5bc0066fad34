package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._

import graft.functions.InvokeKernel

/** Multimodal column plumbing: image/audio/video as opaque `BINARY` columns
  * with typed metadata, plus decode / feature-extract / frame-sample stages.
  *
  * The Spark-side mechanics (schema, partition sizing, per-batch decode
  * shape) are real; the codec itself is STUBBED — this container has no
  * image/audio libraries, so `FakeDecode` derives deterministic pseudo
  * features from the bytes (clearly marked). Swapping in a real decoder
  * means replacing one expression; every plan around it is production
  * shape.
  *
  * Scale notes: media rows are wide (MBs) — `mediaPartitioned` re-buckets by
  * a byte-budget so a task never holds more than ~targetBytes of media,
  * the knob that keeps executors from OOMing at 100 TB.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("media", BinaryType, nullable = true), // opaque payload
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("declared_w", IntegerType),
      StructField("declared_h", IntegerType))), nullable = true)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /** Build a deterministic synthetic media table from the documents table
    * (text bytes play the payload), for plumbing tests/benchmarks.
    */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(typedlit(Map(0 -> "image", 1 -> "audio", 2 -> "video")),
        pmod(col("doc_id"), lit(3)).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("media"),
      struct(col("source").as("source"),
        lit(64).as("declared_w"), lit(64).as("declared_h")).as("meta"))

  /** Repartition so each task holds at most ~targetBytes of media payload.
    * `totalBytes` sizes the partition count; pass it when known (table
    * stats / manifest), or use [[mediaPartitionedAuto]] which measures it
    * with one cheap `sum(length(media))` aggregate first.
    */
  def mediaPartitioned(media: DataFrame, totalBytes: Long, targetBytes: Long): DataFrame = {
    val parts = math.max(1, (totalBytes / math.max(1L, targetBytes)).toInt)
    media.repartition(parts, col("doc_id"))
  }

  /** Byte-budget partitioning with a measured total: one aggregate over the
    * actual per-row payload lengths, then the hash repartition. The stats
    * pass does read the media column's data (`sum(length(media))` is a
    * columnar scan, not a metadata-only read) but aggregates it map-side to
    * one long per partition; with table-level size stats available (catalog
    * or parquet footer sums) prefer passing `totalBytes` to
    * [[mediaPartitioned]] and skipping the scan entirely.
    */
  def mediaPartitionedAuto(media: DataFrame, targetBytes: Long): DataFrame = {
    val total = media.agg(sum(coalesce(length(col("media")).cast("long"), lit(0L))))
      .collect().head.getLong(0)
    mediaPartitioned(media, total, targetBytes)
  }

  /** Decode + feature-extract stage. STUB decoder (see [[FakeDecode]]). */
  def decode(media: DataFrame, featureDim: Int = 8): DataFrame =
    media.withColumn("decoded", FakeDecode.of(col("media"), featureDim))

  /** Frame sampling: one row per sampled frame index (even stride). */
  def sampleFrames(decoded: DataFrame, maxFrames: Int): DataFrame =
    decoded.withColumn("frame_idx",
      explode(sequence(lit(0), least(col("decoded.n_frames") - 1, lit(maxFrames - 1)))))
}

/** ===== STUB ===== deterministic fake media decode: real decoders are not
  * installable in this offline container. Width/height/frames and features
  * are pure functions of the payload bytes so tests and benchmarks are
  * reproducible; the expression shape (binary -> struct, one pass, codegen)
  * is exactly what a real libjpeg/ffmpeg-backed kernel would use.
  */
object FakeDecodeKernel extends Serializable {
  def decode(bytes: Array[Byte], featureDim: Int): InternalRow = {
    if (bytes == null) return null
    var h = 1469598103934665603L // fnv-ish rolling state
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 1099511628211L; i += 1 }
    val width = 16 + math.floorMod(h, 1024L).toInt
    val height = 16 + math.floorMod(h >>> 10, 1024L).toInt
    val nFrames = 1 + math.floorMod(h >>> 20, 32L).toInt
    val feats = new Array[Any](featureDim)
    var f = 0
    var s = h
    while (f < featureDim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      feats(f) = java.lang.Float.valueOf(((s >>> 16) & 0xffff).toFloat / 65536.0f)
      f += 1
    }
    InternalRow(width, height, nFrames, new GenericArrayData(feats))
  }
}

case class FakeDecode(child: Expression, featureDim: Int)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = FakeDecodeKernel
  protected def method = "decode"
  override protected def arguments = Seq(child, Literal(featureDim))
  override def dataType: DataType = Multimodal.decodedSchema
  override protected def withNewChildInternal(newChild: Expression): FakeDecode =
    copy(child = newChild)
}

object FakeDecode {
  def of(c: Column, featureDim: Int): Column =
    ExpressionUtils.column(FakeDecode(ExpressionUtils.expression(c), featureDim))
}
