package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines (scale EXTENSION per
  * BASELINE.json's north star — no reference counterpart): media payloads travel as
  * opaque `binary` columns with typed metadata structs; decode / feature
  * extraction runs batched per partition.
  *
  * IMAGE decode is REAL — `javax.imageio` ships in the JDK (zero egress):
  * [[imageMeta]] parses actual PNG/JPEG headers and [[imageThumbnail]] does
  * a real bilinear downscale ([[graft.functions.ImageKernels]]). Audio/video
  * decoders have no JDK counterpart, so those payloads stay opaque binary
  * with honest byte-level ops ([[resize]]/[[frameSample]] stride and slice
  * real bytes; on a cluster a codec kernel replaces the per-byte lambda).
  *
  * Scale notes: binary payloads make rows wide — size
  * `spark.sql.files.maxPartitionBytes` so a partition of payloads fits in
  * executor memory, and never shuffle the binary column (extract features
  * first, then drop the payload before any join/agg).
  */
object Multimodal {

  import org.apache.spark.sql.graftbridge.ColumnBridge

  import graft.functions.ImageKernels

  val mediaMetaSchema: StructType = ImageKernels.imageMetaSchema

  /** Real header-only image metadata: binary -> struct(width, height,
    * format), null for bytes no ImageIO reader accepts. A static kernel
    * call — stays inside whole-stage codegen, no UDF seam.
    */
  def imageMeta(content: Column): Column =
    ColumnBridge.column(ImageKernels.imageMetaCall(ColumnBridge.expression(content)))

  /** Real 1/factor downscale re-encoded as PNG; null for non-image bytes. */
  def imageThumbnail(content: Column, factor: Int): Column =
    ColumnBridge.column(ImageKernels.thumbnailCall(ColumnBridge.expression(content), factor))

  /** Fixture encoder (test/oracle half, same convention as the SBE encoder
    * udfs): deterministic real PNG/JPEG bytes from (seed, w, h,
    * format).
    */
  val encodeImageUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((seed: Long, w: Int, h: Int, fmt: String) => ImageKernels.encodeImage(seed, w, h, fmt))

  /** Resize/downsample: keep every `stride`-th byte of the payload (the
    * thumbnail shape for OPAQUE payloads — audio/video codecs have no JDK
    * counterpart, so striding is the honest generic form; for images use
    * [[imageThumbnail]], a real bilinear downscale). Pure array ops inside
    * codegen; output length = ceil(len / stride).
    */
  def resize(content: Column, stride: Int): Column = {
    val n = ceil(length(content) / lit(stride.toDouble)).cast("int")
    // null payload -> null thumb (concat_ws would quietly turn it into "",
    // diverging from SQL null semantics and any oracle's NULL result)
    when(content.isNull, lit(null).cast("string"))
      .when(length(content) === 0, lit(""))
      .otherwise(
        concat_ws(
          "",
          transform(
            sequence(lit(0), n - 1),
            i => substring(content, (i * stride + 1).cast("int"), lit(1)).cast("string"))))
  }

  /** Frame sampling: split a payload into `n` equal byte slices (the video
    * "every k-th frame" shape; real byte slicing — no JDK video codec, so
    * frames stay opaque slices; a codec kernel would replace the slicer).
    */
  def frameSample(content: Column, n: Int): Column =
    transform(
      sequence(lit(0), lit(n - 1)),
      i => {
        val len = length(content)
        val step = (len / n).cast("int")
        substring(content, (i * step + 1).cast("int"), greatest(step, lit(1)))
      })

  /** Batched per-partition feature extraction — the `mapPartitions` plumbing
    * a real decoder plugs into. Batches `batchSize` payloads, runs the
    * byte-stats kernel per batch, emits (id, feature vector). The iterator
    * never materializes the whole partition.
    */
  def extractFeaturesBatched(
      media: DataFrame, // id: long, content: binary
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("feat_mean_byte", DoubleType),
      StructField("feat_len", LongType)))
    val rdd = media.select(col("id"), col("content")).rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // kernel boundary: a media decoder would hand `batch` to its
        // library in one call; here the kernel computes per-payload byte
        // stats (a real, if simple, feature).
        // null id/content rows emit null features instead of NPE-failing
        // the task — nullable binary is the norm for real media tables
        batch.iterator.map { r =>
          if (r.isNullAt(0)) Row(null, null, null)
          else {
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            if (bytes == null) Row(id, null, null)
            else {
              val mean =
                if (bytes.isEmpty) 0.0
                else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
              Row(id, mean, bytes.length.toLong)
            }
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
