package graft.multimodal

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns, plus per-partition decode and feature-extract stages.
  *
  * The Spark-side plumbing (schema, per-partition processing, output
  * shape) is real and tested. IMAGE decode is real too: three codecs —
  * 24-bit BMP and binary PPM parsed from their public byte layouts, plus
  * PNG/JPEG/GIF through the JDK's javax.imageio — feed both the metadata
  * queries ([[decodeMeta]]) and [[decodeFeatures]]. AUDIO decode is real too:
  * PCM WAV through javax.sound.sampled ([[decodeWav]]). Only payloads
  * with no JDK codec at all (video; the build ships no media
  * libraries) fall back to the clearly-marked deterministic
  * [[decodeStub]]; swapping it for a JNI/javacv decoder changes no
  * plumbing.
  */
object Multimodal {

  /** Typed media row: payload + metadata travel together. */
  final case class MediaRow(
      doc_id: String,
      media: Array[Byte],
      media_type: String,
      n_bytes: Long)

  final case class MediaFeatures(
      doc_id: String,
      media_type: String,
      feature: Array[Float],
      n_frames: Int)

  /** Derive a media table from a text corpus: the UTF-8 bytes stand in for
    * an opaque payload; media_type assigned deterministically. Real
    * pipelines read `binaryFile` sources into exactly this shape.
    */
  def fromDocuments(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(
      col(idCol).cast("string").as("doc_id"),
      encode(col(textCol), "UTF-8").as("media"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(crc32(encode(col(textCol), "UTF-8")), lit(3)) + 1).cast("int")).as("media_type"),
      octet_length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes"))

  /** Per-partition decode + feature extraction — the Scala analog of
    * `mapInPandas`: each row's payload goes through [[decodeAuto]] into a
    * `featureDim`-wide feature vector.
    */
  def decodeFeatures(
      spark: SparkSession,
      media: DataFrame,
      featureDim: Int = 8): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("doc_id", "media", "media_type", "n_bytes").as[MediaRow]
      .mapPartitions(_.map { row =>
        MediaFeatures(
          row.doc_id,
          row.media_type,
          decodeAuto(row.media, featureDim),
          n_frames = math.max(1, (row.n_bytes / 1024L).toInt))
      })
  }

  /** Deterministic media table from a frame's `doc_id` column: the payload
    * of doc `id` is `synthesize(id)` ([[synthesizeBmp]], [[synthesizePpm]],
    * [[synthesizePng]], [[synthesizeWav]]). The fixture generator of the
    * codec queries; a real pipeline reads `binaryFile` sources into this
    * `(doc_id, media)` shape.
    */
  def mediaTable(
      spark: SparkSession, ids: DataFrame, synthesize: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, synthesize(id))))
      .toDF("doc_id", "media")
  }

  /** Per-partition decode of a `(doc_id, media)` frame into typed metadata
    * rows through one real codec ([[decodeBmp]], [[decodePpm]],
    * [[decodeImage]] or [[decodeWav]]).
    */
  def decodeMeta[T <: Product : TypeTag](
      media: DataFrame, decode: (Long, Array[Byte]) => T): Dataset[T] =
    media.select(col("doc_id").cast("long"), col("media"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions(_.map { case (id, bytes) => decode(id, bytes) })(Encoders.product[T])

  /** Real-first decode: payloads carrying a JDK-decodable image magic
    * (PNG / JPEG / GIF / BMP) decode through javax.imageio and yield
    * pixel-derived features (dimensions + per-channel means); RIFF/WAVE
    * audio decodes through javax.sound ([[decodeWav]]) into rate/length/
    * amplitude features. Only payloads with no JDK codec at all — video
    * and the synthetic text stand-ins — fall back to [[decodeStub]].
    */
  private[graft] def decodeAuto(bytes: Array[Byte], dim: Int): Array[Float] = {
    def b(i: Int) = bytes(i) & 0xff
    val looksImage = bytes.length >= 4 &&
      ((b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff) ||
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
        (b(0) == 'B' && b(1) == 'M'))
    val looksWav = bytes.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'
    if (looksWav) {
      // same fall-through rule as images: a matching magic does not
      // guarantee a decodable body
      try {
        val m = decodeWav(-1L, bytes)
        val head = Array(
          m.sample_rate.toFloat / 48000f,
          m.n_samples.toFloat / 1e6f,
          if (m.n_samples == 0) 0f
          else m.sum_abs.toFloat / m.n_samples / 32768f,
          if (m.n_samples == 0) 0f
          else m.sum_signed.toFloat / m.n_samples / 32768f)
        return java.util.Arrays.copyOf(head, dim)
      } catch { case _: Exception => return decodeStub(bytes, dim) }
    }
    // a matching magic does NOT guarantee a decodable body (a text payload
    // can legitimately start with "BM" or "GIF8"): ImageIO signals garbage
    // bodies with exceptions, not just null — either way, fall back
    val img = if (looksImage)
      try readImage(bytes) catch { case _: Exception => null }
    else null
    if (img == null) decodeStub(bytes, dim) // magic lied / genuinely opaque
    else {
      val w = img.getWidth
      val h = img.getHeight
      val (r, g, bl) = rgbSums(img)
      val n = w.toLong * h
      val head = Array(
        w.toFloat / 4096f, h.toFloat / 4096f,
        r.toFloat / n / 256f, g.toFloat / n / 256f, bl.toFloat / n / 256f)
      java.util.Arrays.copyOf(head, dim) // pad with 0f / truncate to dim
    }
  }

  /** STUB decode: the fallback for payloads with no JDK codec (audio,
    * video, exotic image formats). Deterministic fake: FNV-1a over the
    * bytes re-seeded per dimension, mapped into [0, 1).
    */
  private[graft] def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val base = graft.expressions.FnvHash64.hash(bytes)
    Array.tabulate(dim) { i =>
      val mixed = java.lang.Long.rotateLeft(base, i * 7) * 0x9e3779b97f4a7c15L
      ((mixed >>> 40).toFloat / (1 << 24).toFloat)
    }
  }

  // ---- real codec: 24-bit BMP (public Windows-bitmap spec) -----------------
  //
  // One format decodable in pure JVM from its published byte layout — it
  // proves the per-partition decode interface holds under a REAL
  // byte layout (magic, little-endian header fields, stride padding,
  // bottom-up rows), not just the deterministic fake above.

  /** Decoded BMP facts: header fields + channel-byte sum over the true
    * pixels (row padding excluded — a stride bug shows up as a wrong sum).
    */
  final case class BmpMeta(
      doc_id: Long, width: Int, height: Int, bpp: Int, pixel_sum: Long)

  /** Deterministic 24-bit BMP payload for doc `id`: width `1 + id % 16`,
    * height `1 + (id * 3) % 16`, every channel byte of image row y equals
    * `(id + y) % 256`, padding bytes 0xAA (decoders must skip them).
    * Standard layout: 14-byte file header, 40-byte BITMAPINFOHEADER,
    * bottom-up BGR rows padded to 4 bytes.
    */
  def synthesizeBmp(id: Long): Array[Byte] = {
    val w = (1 + Math.floorMod(id, 16L)).toInt
    val h = (1 + Math.floorMod(id * 3, 16L)).toInt
    val stride = ((3 * w + 3) / 4) * 4
    val dataSize = stride * h
    val fileSize = 14 + 40 + dataSize
    val bb = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(fileSize)
    bb.putInt(0) // reserved
    bb.putInt(54) // pixel-data offset
    bb.putInt(40) // BITMAPINFOHEADER size
    bb.putInt(w)
    bb.putInt(h) // positive height = bottom-up row order
    bb.putShort(1) // color planes
    bb.putShort(24) // bits per pixel
    bb.putInt(0) // BI_RGB (uncompressed)
    bb.putInt(dataSize)
    bb.putInt(2835).putInt(2835) // 72 dpi
    bb.putInt(0).putInt(0) // palette (none)
    var r = 0
    while (r < h) {
      val y = h - 1 - r // bottom-up: file row r holds image row h-1-r
      val v = Math.floorMod(id + y, 256L).toByte
      var x = 0
      while (x < 3 * w) { bb.put(v); x += 1 }
      var p = 3 * w
      while (p < stride) { bb.put(0xAA.toByte); p += 1 }
      r += 1
    }
    bb.array()
  }

  /** Real decode of an uncompressed 24-bit BMP: magic check, little-endian
    * header reads (pixel offset @10, width @18, height @22, bpp @28,
    * compression @30), stride-aware pixel walk summing channel bytes.
    */
  def decodeBmp(id: Long, bytes: Array[Byte]): BmpMeta = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      s"not a BMP payload (doc $id)")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val off = bb.getInt(10)
    val w = bb.getInt(18)
    val h = bb.getInt(22)
    val bpp = bb.getShort(28).toInt
    require(bpp == 24 && bb.getInt(30) == 0,
      s"unsupported BMP variant (doc $id): bpp=$bpp compression=${bb.getInt(30)}")
    // adversarial headers must ERROR, never produce garbage metadata (the
    // decodePpm rule): a negative height is the top-down variant — rejected
    // as unsupported rather than silently yielding height<0/pixel_sum 0 —
    // and a negative/short pixel offset must not index before the header
    require(w > 0 && h > 0,
      s"unsupported BMP dimensions ${w}x$h (doc $id): " +
        "non-positive (top-down negative-height BMPs are an unsupported variant)")
    require(off >= 54 && off <= bytes.length,
      s"BMP pixel-data offset $off out of range (doc $id)")
    val stride = ((bpp / 8 * w + 3) / 4) * 4
    require(off.toLong + stride.toLong * h <= bytes.length,
      s"truncated BMP pixel data (doc $id)")
    var sum = 0L
    var r = 0
    while (r < h) {
      val rowStart = off + r * stride
      var x = 0
      while (x < 3 * w) { sum += bytes(rowStart + x) & 0xff; x += 1 }
      r += 1
    }
    BmpMeta(id, w, h, bpp, sum)
  }

  // ---- real codec #2: binary PPM / P6 (public netpbm spec) -----------------
  //
  // A second real byte layout, deliberately unlike BMP: ASCII header with
  // whitespace/comment tokenization instead of fixed little-endian offsets,
  // top-down unpadded RGB rows instead of bottom-up padded BGR.

  /** Deterministic P6 payload for doc `id`: width `1 + (id * 7) % 16`,
    * height `1 + (id * 5) % 16`, maxval 255, a `#` comment in the header
    * (decoders must skip comments — the spec allows them anywhere before
    * maxval), every channel byte of row y equals `(id * 11 + y) % 256`.
    */
  def synthesizePpm(id: Long): Array[Byte] = {
    val w = (1 + Math.floorMod(id * 7, 16L)).toInt
    val h = (1 + Math.floorMod(id * 5, 16L)).toInt
    val header = s"P6\n# doc $id\n$w $h\n255\n".getBytes("US-ASCII")
    val out = java.util.Arrays.copyOf(header, header.length + 3 * w * h)
    var y = 0
    var p = header.length
    while (y < h) {
      val v = Math.floorMod(id * 11 + y, 256L).toByte
      var x = 0
      while (x < 3 * w) { out(p) = v; p += 1; x += 1 }
      y += 1
    }
    out
  }

  /** Real decode of a binary PPM: magic check, whitespace/comment-tolerant
    * ASCII token scan for width/height/maxval, then the raw RGB walk. Reuses
    * [[BmpMeta]] (bpp = 24 — P6 with maxval ≤ 255 is 3 bytes/pixel).
    */
  def decodePpm(id: Long, bytes: Array[Byte]): BmpMeta = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      s"not a P6 payload (doc $id)")
    var i = 2
    // netpbm token scan: fields separated by whitespace; '#' starts a
    // comment running to end of line, legal before any header field
    def nextInt(): Int = {
      while (i < bytes.length &&
        (Character.isWhitespace(bytes(i)) || bytes(i) == '#')) {
        if (bytes(i) == '#') while (i < bytes.length && bytes(i) != '\n') i += 1
        else i += 1
      }
      var v = 0L // accumulate in long: an adversarial header must error,
      val start = i // never overflow Int into a garbage negative dimension
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        require(v <= Int.MaxValue, s"P6 header field overflows (doc $id)")
        i += 1
      }
      require(i > start, s"malformed P6 header (doc $id)")
      v.toInt
    }
    val w = nextInt()
    val h = nextInt()
    val maxval = nextInt()
    require(w > 0 && h > 0, s"non-positive P6 dimensions ${w}x$h (doc $id)")
    require(maxval == 255, s"unsupported P6 maxval $maxval (doc $id)")
    // exactly ONE whitespace byte after maxval precedes the raster (spec);
    // anything else (e.g. a comment) must not be summed as pixel data
    require(i < bytes.length && Character.isWhitespace(bytes(i)),
      s"P6 raster must follow maxval after one whitespace byte (doc $id)")
    i += 1
    require(i + 3L * w * h <= bytes.length, s"truncated P6 raster (doc $id)")
    var sum = 0L
    var p = i
    val end = i + 3 * w * h
    while (p < end) { sum += bytes(p) & 0xff; p += 1 }
    BmpMeta(id, w, h, 24, sum)
  }

  // ---- real codec #3: PNG via the JDK's javax.imageio ----------------------
  //
  // The format real corpora actually carry. Synthesis writes the public PNG
  // byte layout directly — signature, IHDR, zlib-deflated filter-0
  // scanlines, CRC-32 per chunk (java.util.zip provides Deflater and
  // CRC32) — while decode goes through javax.imageio (pure JDK, zero new
  // deps). Decoding with a codec we did NOT write is the point: the oracle
  // certifies our byte layout and the JDK's inflater/defilter agree on
  // every pixel.

  /** Deterministic RGB PNG for doc `id`: width `1 + (id*13) % 16`, height
    * `1 + (id*9) % 16`, every channel byte of row y equals `(id*7 + y) % 256`,
    * filter type 0 on every scanline.
    */
  def synthesizePng(id: Long): Array[Byte] = {
    val w = (1 + Math.floorMod(id * 13, 16L)).toInt
    val h = (1 + Math.floorMod(id * 9, 16L)).toInt
    // raw image stream: per scanline one filter byte (0 = None) + RGB triples
    val raw = new Array[Byte](h * (1 + 3 * w))
    var y = 0
    var p = 0
    while (y < h) {
      raw(p) = 0
      p += 1
      val v = Math.floorMod(id * 7 + y, 256L).toByte
      var x = 0
      while (x < 3 * w) { raw(p) = v; p += 1; x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      bos.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array(), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      bos.write(tb, 0, 4)
      bos.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb)
      crc.update(data)
      bos.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array(), 0, 4)
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte) // bit depth
      .put(2.toByte) // color type 2 = truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter set 0, no interlace
      .array())
    val defl = new java.util.zip.Deflater() // default = zlib-wrapped stream
    defl.setInput(raw)
    defl.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) idat.write(buf, 0, defl.deflate(buf))
    defl.end()
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    bos.toByteArray
  }

  /** One-time per-JVM: ImageIO's default use-cache wraps every read in a
    * FileCacheImageInputStream — a temp-file create/write/delete per image
    * on the hot per-row path, buffering bytes that are already in memory.
    */
  private lazy val imageIoMemoryOnly: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    imageIoMemoryOnly
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  /** Per-channel (R, G, B) sums over every pixel of `img`. */
  private def rgbSums(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    var r = 0L; var g = 0L; var b = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        x += 1
      }
      y += 1
    }
    (r, g, b)
  }

  /** Real decode of any JDK-decodable image payload (PNG, JPEG, BMP, GIF)
    * via javax.imageio; sums R+G+B over all pixels. Reuses [[BmpMeta]]
    * (bpp reported as 24 — the RGB channel model this pipeline extracts).
    */
  def decodeImage(id: Long, bytes: Array[Byte]): BmpMeta = {
    val img = readImage(bytes)
    require(img != null, s"payload is not a JDK-decodable image (doc $id)")
    val (r, g, b) = rgbSums(img)
    BmpMeta(id, img.getWidth, img.getHeight, 24, r + g + b)
  }

  /** Deterministic JPEG payload (JDK encoder): the lossy twin for
    * round-trip testing — dimensions are exact, pixels are codec-dependent,
    * so JPEG is test-verified (decode determinism + dims), not oracled.
    */
  def synthesizeJpeg(id: Long): Array[Byte] = {
    val w = (1 + Math.floorMod(id * 13, 16L)).toInt
    val h = (1 + Math.floorMod(id * 9, 16L)).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val v = Math.floorMod(id * 7 + y, 256L).toInt
      val rgb = (v << 16) | (v << 8) | v
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", bos),
      s"JDK JPEG writer unavailable (doc $id)")
    bos.toByteArray
  }

  // ---- real codec #4: WAV / PCM audio via the JDK's javax.sound ------------
  //
  // The audio closure (same zero-dep discipline as PNG/JPEG): synthesis
  // writes the public RIFF/WAVE byte layout directly; decode goes through
  // javax.sound.sampled — a codec we did NOT write — so the oracle
  // certifies our byte layout and the JDK's WAV reader agree on every
  // sample. With this, [[decodeStub]] covers VIDEO payloads only.

  /** Decoded WAV facts: format fields + exact integer sample sums (a
    * byte-order or sign bug shows up as a wrong sum; a header bug as a
    * wrong rate/count).
    */
  final case class WavMeta(
      doc_id: Long,
      sample_rate: Long,
      n_samples: Long,
      duration_us: Long,
      sum_abs: Long,
      sum_signed: Long)

  /** Deterministic 16-bit PCM mono WAV for doc `id`: sample rate
    * 8000/16000/22050 by `id % 3`, `16 + (id*5) % 241` samples, a square
    * wave of amplitude `1000 + (id*13) % 20000` flipping sign every
    * `1 + id % 9` samples — every decoded field and sample sum has a
    * closed form in `id`, so the DuckDB oracle reproduces them exactly.
    * Standard RIFF layout: 12-byte RIFF/WAVE header, 16-byte PCM `fmt `
    * chunk, `data` chunk with little-endian signed 16-bit samples.
    */
  def synthesizeWav(id: Long): Array[Byte] = {
    val rate = Array(8000, 16000, 22050)(Math.floorMod(id, 3L).toInt)
    val n = (16 + Math.floorMod(id * 5, 241L)).toInt
    val amp = (1000 + Math.floorMod(id * 13, 20000L)).toInt
    val hp = (1 + Math.floorMod(id, 9L)).toInt
    val dataLen = 2 * n
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
    bb.putInt(36 + dataLen) // bytes after this field
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16) // PCM fmt chunk size
    bb.putShort(1) // audio format 1 = linear PCM
    bb.putShort(1) // mono
    bb.putInt(rate)
    bb.putInt(rate * 2) // byte rate
    bb.putShort(2) // block align
    bb.putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII"))
    bb.putInt(dataLen)
    var s = 0
    while (s < n) {
      bb.putShort((if ((s / hp) % 2 == 0) amp else -amp).toShort)
      s += 1
    }
    bb.array()
  }

  /** Real decode of a PCM WAV through javax.sound.sampled: the JDK parses
    * the RIFF chunks and exposes format + frames; we walk the decoded
    * little-endian signed 16-bit samples for the exact integer sums.
    * Unsupported variants (non-PCM, non-16-bit, multi-channel) error
    * loudly — the decodePpm/decodeBmp rule: never produce garbage features.
    */
  def decodeWav(id: Long, bytes: Array[Byte]): WavMeta = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"unsupported WAV encoding ${fmt.getEncoding} (doc $id)")
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"unsupported WAV layout ${fmt.getSampleSizeInBits}-bit/" +
          s"${fmt.getChannels}ch (doc $id): this pipeline decodes 16-bit mono")
      require(!fmt.isBigEndian, s"big-endian WAV unsupported (doc $id)")
      val rate = math.round(fmt.getSampleRate).toLong
      val n = in.getFrameLength
      require(n >= 0, s"WAV frame length unknown (doc $id)")
      val data = in.readAllBytes()
      require(data.length == 2 * n, s"truncated WAV data (doc $id)")
      var sumAbs = 0L
      var sumSigned = 0L
      var i = 0
      while (i < data.length) {
        val v = ((data(i) & 0xff) | (data(i + 1) << 8)).toShort.toLong
        sumAbs += math.abs(v)
        sumSigned += v
        i += 2
      }
      WavMeta(id, rate, n, n * 1000000L / rate, sumAbs, sumSigned)
    } finally in.close()
  }
}
