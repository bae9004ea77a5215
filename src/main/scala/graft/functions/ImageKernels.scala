package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real image kernels over the JDK's built-in `javax.imageio` — no external
  * library, zero egress. Three pieces:
  *
  *   - [[encodeImage]]: deterministic tiny PNG/JPEG fixture encoder (pixel
  *     pattern derived from a seed) — the test/fixture half, used from a
  *     `udf()` like the SBE fixture encoders;
  *   - [[imageMeta]] / [[imageMetaCall]]: HEADER-ONLY metadata extraction —
  *     `ImageReader.getWidth/getHeight/getFormatName` off the stream without
  *     decoding pixel data, so cost is per-header, not per-pixel;
  *   - [[thumbnail]] / [[thumbnailCall]]: real downscale (Graphics2D
  *     bilinear `drawImage` to width/factor x height/factor, re-encoded as
  *     PNG) — the pixel-touching half.
  *
  * Scale notes: decode runs per row inside the task (no shuffle of the
  * payload); headers are O(bytes-read ~ tens) and thumbnails O(pixels). On
  * a real corpus the payload column stays out of every exchange — extract
  * metadata/thumbs first, drop the binary before any join/agg
  * (reference has no multimodal path; this is the training-pipeline
  * extension surface).
  */
object ImageKernels {

  // ImageIO's default stream cache spools a temp FILE in java.io.tmpdir per
  // read/write call — per-row disk I/O inside executor tasks, and a full or
  // unwritable tmpdir would surface as an IOException that the kernels'
  // corrupt-bytes handling silently maps to NULL output. Memory caching for
  // every ImageIO.read/write in this JVM (imageMeta already streams through
  // MemoryCacheImageInputStream explicitly).
  ImageIO.setUseCache(false)

  /** Deterministic w x h RGB image encoded as real `format` ("png"/"jpg")
    * bytes. Pixel (x, y) gets a seed-derived RGB so two different seeds
    * produce different payloads; ImageIO's encoders are deterministic for a
    * given JDK, but nothing downstream depends on the exact bytes — only on
    * the header metadata, which is exact by construction.
    */
  def encodeImage(seed: Long, width: Int, height: Int, format: String): Array[Byte] = {
    require(width > 0 && height > 0, s"bad image dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = seed * 31L + x * 7L + y * 13L
        img.setRGB(x, y, (v & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    val ok = ImageIO.write(img, format, bos)
    require(ok, s"no ImageIO writer for format '$format'")
    bos.toByteArray
  }

  /** Header-only metadata: (width, height, format) as an InternalRow, or
    * null when the bytes are not a readable image (corrupt payloads are
    * data, not task failures). Format is the reader's name lowercased
    * ("png", "jpeg"). `MemoryCacheImageInputStream` keeps ImageIO off the
    * disk-cache path (no tmp files inside executor tasks).
    */
  def imageMeta(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return null
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) null
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          new GenericInternalRow(Array[Any](
            r.getWidth(0), r.getHeight(0),
            UTF8String.fromString(r.getFormatName.toLowerCase(java.util.Locale.ROOT))))
        } finally r.dispose()
      }
    } catch {
      // NonFatal, not just IOException/IAE: ImageIO plugin readers throw
      // assorted unchecked exceptions on malformed headers (AIOOBE,
      // NegativeArraySizeException, CMMException on a broken ICC profile) —
      // the "corrupt payloads are data, not task failures" contract has to
      // hold for whatever a hostile byte stream provokes, while genuinely
      // fatal errors (OOM, ThreadDeath) still propagate.
      case scala.util.control.NonFatal(_) => null
    } finally in.close()
  }

  /** Full-decode ceiling: a header CLAIMING more pixels than this returns
    * null from [[thumbnail]] instead of reaching `ImageIO.read` — the
    * decoder allocates the claimed `w*h` buffer up front, so a ~100-byte
    * hostile payload declaring terapixel dims would raise an
    * `OutOfMemoryError` (an Error — deliberately NOT swallowed by the
    * NonFatal nets here) and kill the executor, not the row. 64M pixels =
    * a 256 MB ARGB buffer: far above any real fixture, bounded for a task.
    * [[imageMeta]] stays header-only and still REPORTS such dims — the
    * metadata pass is how a pipeline finds these rows to quarantine.
    */
  val MaxDecodePixels: Long = 64L * 1024 * 1024

  /** Real downscale by integer `factor` (>= 1): decode, bilinear-draw into
    * max(1, w/factor) x max(1, h/factor), re-encode as PNG. Null for
    * undecodable bytes and for headers claiming more than
    * [[MaxDecodePixels]] (screened BEFORE the decoder can allocate).
    */
  def thumbnail(bytes: Array[Byte], factor: Int): Array[Byte] = {
    if (bytes == null) return null
    val meta = imageMeta(bytes)
    if (meta == null) return null
    val (mw, mh) = (meta.getInt(0).toLong, meta.getInt(1).toLong)
    if (mw <= 0 || mh <= 0 || mw * mh > MaxDecodePixels) return null
    val img =
      // NonFatal for the same reason as imageMeta: plugin decoders throw
      // unchecked exceptions on malformed bodies, and corrupt bytes are
      // data, not task failures
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return null
    val tw = math.max(1, img.getWidth / factor)
    val th = math.max(1, img.getHeight / factor)
    val out = new java.awt.image.BufferedImage(
      tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, tw, th, null)
    } finally g.dispose()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  val imageMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("format", StringType)))

  /** binary -> struct(width, height, format) through `StaticInvoke`; null
    * for a null payload and for non-image bytes.
    */
  def imageMetaCall(content: Expression): Expression =
    StaticInvoke(getClass, imageMetaSchema, "imageMeta", Seq(content))

  /** binary -> binary PNG thumbnail at 1/factor scale; null for a null
    * payload and for non-image bytes.
    */
  def thumbnailCall(content: Expression, factor: Int): Expression = {
    require(factor >= 1, s"thumbnail factor must be >= 1, got $factor")
    StaticInvoke(getClass, BinaryType, "thumbnail", Seq(content, Literal(factor)))
  }
}
