package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column support for a training-data
  * pipeline at 100 TB: media travels as opaque `binary` columns with a
  * typed metadata struct; per-record work happens in `mapPartitions`-shaped
  * operators so one task amortizes codec setup over a whole partition.
  *
  * Two tiers:
  *  - Container/header-level operators (format sniffing, image dimensions,
  *    WAV audio properties) are REAL — pure-JVM byte parsing, no codecs.
  *  - Pixel/sample-level operators (resize, frame sampling, pixel hashing,
  *    feature extraction) are REAL for every format a stock JVM can
  *    decode: images via `javax.imageio` (PNG, BMP, GIF incl.
  *    multi-frame, JPEG, WBMP — [[ImageIoCodec]]), WAV/PCM audio samples
  *    via [[Audio]] (decode + curation features + gain-invariant
  *    fingerprint), and MJPEG-in-AVI video via [[AviMjpeg]] +
  *    [[AviAwareCodec]] (the default operator codec — real frame
  *    extraction/sampling/embedding/pixel-hash from the RIFF container).
  *    Formats with no JVM decoder (H.264/VP9 video, mp3/aac audio,
  *    exotic image codecs) and corrupt payloads fall back per-record to
  *    the deterministic [[StubCodec]] — the swappable `MediaCodec`
  *    boundary stays, now as the EXOTIC-format escape hatch rather than
  *    the whole implementation.
  */
object Multimodal {

  /** Typed metadata carried beside the opaque payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("size_bytes", LongType)))

  // ---- header-level parsing (real) ----------------------------------

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Magic-number format sniffing. */
  def sniffFormat(b: Array[Byte]): String =
    if (b == null || b.length < 12) "unknown"
    else if (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte) "jpeg"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ') "avi"
    else "unknown"

  /** Image dimensions from container headers (PNG IHDR, GIF logical screen,
    * BMP info header, JPEG SOF scan). Returns null-dims for non-images.
    */
  def imageDims(b: Array[Byte]): Option[(Int, Int)] = sniffFormat(b) match {
    case "png" if b.length >= 24 => Some((be32(b, 16), be32(b, 20)))
    case "gif" if b.length >= 10 => Some((le16(b, 6), le16(b, 8)))
    case "bmp" if b.length >= 26 => Some((le32(b, 18), le32(b, 22)))
    case "jpeg" =>
      // walk markers until a start-of-frame (0xC0-0xCF except C4/C8/CC)
      var i = 2
      while (i + 9 < b.length) {
        if ((b(i) & 0xff) != 0xFF) return None
        val marker = b(i + 1) & 0xff
        val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
          return Some(((
            (b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff),
            ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)))
        }
        i += 2 + len
      }
      None
    case _ => None
  }

  /** WAV fmt-chunk audio properties: (sampleRate, channels). */
  def wavProps(b: Array[Byte]): Option[(Int, Int)] =
    if (sniffFormat(b) != "wav") None
    else {
      var i = 12
      while (i + 8 <= b.length) {
        val id = new String(b.slice(i, i + 4), "US-ASCII")
        val len = le32(b, i + 4)
        if (id == "fmt " && i + 16 + 8 <= b.length)
          return Some((le32(b, i + 12), le16(b, i + 10)))
        i += 8 + len + (len & 1)
      }
      None
    }

  /** Typed metadata record (Spark maps Option[Int] → nullable int). */
  final case class MediaMeta(format: String, width: Option[Int],
      height: Option[Int], sample_rate: Option[Int], channels: Option[Int],
      size_bytes: Long)

  /** Column: extract the full metadata struct from a binary column. */
  def extractMeta(bin: Column): Column = {
    val u = udf { b: Array[Byte] =>
      val dims = imageDims(b)
      val audio = wavProps(b)
      MediaMeta(sniffFormat(b), dims.map(_._1), dims.map(_._2),
        audio.map(_._1), audio.map(_._2),
        if (b == null) 0L else b.length.toLong)
    }
    u(bin)
  }

  /** Annotate a media DataFrame with its metadata struct (column-pruned
    * parquet scans still skip the payload when only `meta` is selected
    * downstream — keep payload and meta in separate columns, never nested
    * together).
    */
  def withMediaMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("meta", extractMeta(col(binCol)))

  // ---- pixel/sample-level (codec-backed; stubbed) -------------------

  /** Pixel/sample codec boundary. [[ImageIoCodec]] is the real JVM-native
    * implementation; [[StubCodec]] covers formats no JVM codec exists for.
    */
  trait MediaCodec extends Serializable {
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]]
    def embed(bytes: Array[Byte], dim: Int): Array[Float]

    /** Content hash of the DECODED pixels (not the container bytes), so
      * the same image saved as PNG and as BMP — or recompressed — hashes
      * identically: the key for pixel-level exact dedup.
      */
    def pixelHash(bytes: Array[Byte]): Long
  }

  /** STUB codec for formats with no JVM decoder (video containers,
    * exotic image codecs): deterministic fakes so plumbing tests are
    * stable and fallback behavior is reproducible. resize → 16-byte tag
    * + content hash; sampleFrames → n deterministic sub-signatures;
    * embed → hash-seeded pseudo-embedding; pixelHash → byte-level hash
    * (container-sensitive — only the real codec can see pixels).
    */
  object StubCodec extends MediaCodec {
    import graft.functions.Hashing
    private def sig(bytes: Array[Byte], seed: Long): Long = {
      var h = seed
      var i = 0
      while (i < bytes.length) { h = Hashing.splitmix64(h ^ (bytes(i) & 0xffL)); i += 1 }
      h
    }
    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(16)
      out.putLong(sig(bytes, 0x5EED)).putInt(w).putInt(h)
      out.array()
    }
    override def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] =
      (0 until n).map { i =>
        java.nio.ByteBuffer.allocate(12).putLong(sig(bytes, i.toLong)).putInt(i).array()
      }
    override def embed(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        out(i) = ((Hashing.splitmix64(sig(bytes, 7L) + i) % 1000L) / 1000.0f)
        i += 1
      }
      out
    }
    override def pixelHash(bytes: Array[Byte]): Long =
      sig(bytes, 0x9167E1L)
  }

  /** REAL pixel-level codec on `javax.imageio` — present in every stock
    * JVM, no extra dependency. Per-record dispatch: payloads ImageIO
    * cannot decode (no reader for the format, or corrupt bytes) fall
    * back to [[StubCodec]] so the operators stay TOTAL over mixed-media
    * corpora — a crawl partition mixing PNGs and MP4s resizes the PNGs
    * for real and tags the MP4s deterministically, instead of failing
    * the task.
    *
    * Determinism notes (these matter for oracle-style comparisons):
    * resize uses an explicit nearest-neighbor pixel loop, NOT
    * Graphics2D, because AWT's scaler is free to vary across JVM
    * implementations while integer sampling is bit-stable everywhere;
    * re-encoding is PNG (lossless, no timestamp chunks); embed is mean
    * cell luminance — pure arithmetic on decoded ARGB. The ImageIO disk
    * cache is disabled once per JVM (executor) — media bytes never take
    * a temp-file detour.
    */
  object ImageIoCodec extends MediaCodec {
    import java.awt.image.BufferedImage

    javax.imageio.ImageIO.setUseCache(false)

    private def decode(bytes: Array[Byte]): Option[BufferedImage] =
      if (bytes == null) None
      else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }

    private def toPng(img: BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      decode(bytes) match {
        case None => StubCodec.resize(bytes, w, h)
        case Some(img) =>
          val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          val (sw, sh) = (img.getWidth, img.getHeight)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              out.setRGB(x, y, img.getRGB(x * sw / w, y * sh / h) & 0xffffff)
              x += 1
            }
            y += 1
          }
          toPng(out)
      }

    /** Real frame sampling for multi-image containers (animated GIF):
      * up to `n` evenly spaced frames, each re-encoded as PNG. A
      * single-frame image yields its one frame — honest, unlike the
      * stub's n synthetic signatures.
      */
    override def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (bytes == null) return StubCodec.sampleFrames(bytes, n)
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return StubCodec.sampleFrames(bytes, n)
        val r = readers.next()
        try {
          r.setInput(iis)
          val count = r.getNumImages(true)
          if (count <= 0 || n <= 0) StubCodec.sampleFrames(bytes, n)
          else {
            val picks =
              if (count <= n) 0 until count
              else if (n == 1) Seq(0)
              else (0 until n).map(i => i * (count - 1) / (n - 1))
            picks.map(i => toPng(r.read(i)))
          }
        } finally r.dispose()
      } catch {
        case scala.util.control.NonFatal(_) => StubCodec.sampleFrames(bytes, n)
      }
    }

    /** Mean luminance over a √dim-ish grid of cells — a tiny grayscale
      * thumbnail flattened row-major, each value in [0, 1].
      */
    override def embed(bytes: Array[Byte], dim: Int): Array[Float] =
      decode(bytes) match {
        case None => StubCodec.embed(bytes, dim)
        case Some(img) =>
          val rows = math.max(1, math.sqrt(dim.toDouble).toInt)
          val cols = (dim + rows - 1) / rows
          val (w, h) = (img.getWidth, img.getHeight)
          val out = new Array[Float](dim)
          var k = 0
          while (k < dim) {
            val (r0, c0) = (k / cols, k % cols)
            val x0 = c0 * w / cols; val x1 = math.max(x0 + 1, (c0 + 1) * w / cols)
            val y0 = r0 * h / rows; val y1 = math.max(y0 + 1, (r0 + 1) * h / rows)
            var sum = 0.0; var cnt = 0
            var y = math.min(y0, h - 1)
            while (y < math.min(y1, h)) {
              var x = math.min(x0, w - 1)
              while (x < math.min(x1, w)) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                cnt += 1
                x += 1
              }
              y += 1
            }
            out(k) = if (cnt == 0) 0f else (sum / cnt / 255.0).toFloat
            k += 1
          }
          out
      }

    /** Hash of decoded RGB pixels + dimensions — invariant across
      * container format and (lossless) re-encoding.
      */
    override def pixelHash(bytes: Array[Byte]): Long =
      decode(bytes) match {
        case None => StubCodec.pixelHash(bytes)
        case Some(img) =>
          import graft.functions.Hashing
          var h = Hashing.splitmix64(
            (img.getWidth.toLong << 32) | img.getHeight.toLong)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              h = Hashing.splitmix64(h ^ (img.getRGB(x, y) & 0xffffffL))
              x += 1
            }
            y += 1
          }
          h
      }
  }

  /** REAL video frame access for MJPEG-in-AVI — the one video container
    * a stock JVM can truly decode (AVI is a plain RIFF chunk list; MJPEG
    * frames are independent JPEGs ImageIO reads). Sample-level ops on
    * other video codecs (H.264/VP9/AV1) have no JVM decoder and keep the
    * stub fallback — but the CONTAINER walk below is real for every AVI.
    *
    * Frame extraction walks the RIFF tree to the 'movi' LIST and
    * collects compressed/uncompressed video chunks (ids `##dc`/`##db`)
    * that carry a JPEG SOI marker; no index ('idx1') is required, so
    * streaming-written AVIs parse too.
    */
  object AviMjpeg {
    private def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

    /** All MJPEG frame payloads, in stream order (empty for non-AVI or
      * non-MJPEG AVIs).
      */
    def extractJpegFrames(b: Array[Byte]): Seq[Array[Byte]] = {
      if (sniffFormat(b) != "avi") return Nil
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(from: Int, to: Int): Unit = {
        var i = from
        while (i + 8 <= to) {
          val id = new String(b, i, 4, "US-ASCII")
          val len = le32(b, i + 4)
          if (len < 0 || i + 8 + len > to) return
          if (id == "LIST" && len >= 4) walk(i + 12, i + 8 + len)
          else if (id.length == 4 && id(2) == 'd' && (id(3) == 'c' || id(3) == 'b') &&
            len >= 3 && b(i + 8) == 0xFF.toByte && b(i + 9) == 0xD8.toByte)
            out += java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
          i += 8 + len + (len & 1)
        }
      }
      walk(12, b.length)
      out.toSeq
    }
  }

  /** Default operator codec: routes AVI payloads through the real
    * [[AviMjpeg]] frame walk (frames then decode via [[ImageIoCodec]]),
    * everything else straight to [[ImageIoCodec]]. Frame sampling picks
    * n evenly spaced frames; a video's embedding is the mean of up to 3
    * sampled frame embeddings; its pixel hash chains the frame pixel
    * hashes (container-invariant like the image hash). Non-MJPEG AVIs
    * have no decodable frames and fall back to the stub, keeping the
    * operators total.
    */
  object AviAwareCodec extends MediaCodec {
    import graft.functions.Hashing

    private def pickEven(count: Int, n: Int): Seq[Int] =
      if (count <= n) 0 until count
      else if (n == 1) Seq(0)
      else (0 until n).map(i => i * (count - 1) / (n - 1))

    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      ImageIoCodec.resize(bytes, w, h)

    override def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] =
      if (sniffFormat(bytes) != "avi") ImageIoCodec.sampleFrames(bytes, n)
      else {
        val frames = AviMjpeg.extractJpegFrames(bytes)
        if (frames.isEmpty || n <= 0) StubCodec.sampleFrames(bytes, n)
        else pickEven(frames.length, n)
          // each frame is a standalone JPEG: decode + re-encode PNG so
          // downstream hashing is byte-stable (same policy as GIF frames)
          .map(i => ImageIoCodec.sampleFrames(frames(i), 1).head)
      }

    override def embed(bytes: Array[Byte], dim: Int): Array[Float] =
      if (sniffFormat(bytes) != "avi") ImageIoCodec.embed(bytes, dim)
      else {
        val frames = AviMjpeg.extractJpegFrames(bytes)
        if (frames.isEmpty) StubCodec.embed(bytes, dim)
        else {
          val picks = pickEven(frames.length, 3).map(frames)
          val out = new Array[Float](dim)
          picks.foreach { f =>
            val e = ImageIoCodec.embed(f, dim)
            var i = 0
            while (i < dim) { out(i) += e(i) / picks.length; i += 1 }
          }
          out
        }
      }

    override def pixelHash(bytes: Array[Byte]): Long =
      if (sniffFormat(bytes) != "avi") ImageIoCodec.pixelHash(bytes)
      else {
        val frames = AviMjpeg.extractJpegFrames(bytes)
        if (frames.isEmpty) StubCodec.pixelHash(bytes)
        else frames.foldLeft(0x9167E1L) { (h, f) =>
          Hashing.splitmix64(h ^ ImageIoCodec.pixelHash(f))
        }
      }
  }

  /** Resize every image payload. mapPartitions shape: the codec is
    * initialized once per partition; rows stream through without
    * collecting the partition (media rows are large — never materialize a
    * whole partition of payloads).
    */
  def resizeImages(df: DataFrame, binCol: String, w: Int, h: Int,
                   codec: MediaCodec = AviAwareCodec): DataFrame = {
    val u = udf { b: Array[Byte] => if (b == null) null else codec.resize(b, w, h) }
    df.withColumn(s"${binCol}_resized", u(col(binCol)))
  }

  /** Sample n frames per video payload → one row per frame (generator
    * shape: posexplode keeps the frame index).
    */
  def sampleFrames(df: DataFrame, binCol: String, n: Int,
                   codec: MediaCodec = AviAwareCodec): DataFrame = {
    val u = udf { b: Array[Byte] =>
      if (b == null) Seq.empty[Array[Byte]] else codec.sampleFrames(b, n) }
    df.withColumn("__frames", u(col(binCol)))
      .select(col("*"), posexplode(col("__frames")).as(Seq("frame_idx", "frame")))
      .drop("__frames", binCol)
  }

  /** Media → embedding column (feeds graft.operators.Similarity). */
  def embedMedia(df: DataFrame, binCol: String, dim: Int,
                 codec: MediaCodec = AviAwareCodec): DataFrame = {
    val u = udf { b: Array[Byte] => if (b == null) null else codec.embed(b, dim) }
    df.withColumn("embedding", u(col(binCol)))
  }

  /** Pixel-content hash column — the dedup key that survives container
    * changes: the same pixels as PNG, BMP, or a recompressed lossless
    * copy hash identically (only the real codec can provide this; the
    * stub falls back to byte-level hashing for undecodable payloads).
    * Feed to an exact-dedup groupBy exactly like Dedup.exactGroups.
    */
  def withPixelHash(df: DataFrame, binCol: String,
                    codec: MediaCodec = AviAwareCodec): DataFrame = {
    val u = udf { b: Array[Byte] =>
      if (b == null) null else java.lang.Long.valueOf(codec.pixelHash(b)) }
    df.withColumn("pixel_hash", u(col(binCol)))
  }
}
